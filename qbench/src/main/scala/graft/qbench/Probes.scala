package graft.qbench

import graft.log.{Codecs, FileTopicLog, SegmentCodec}
import graft.model.Payload

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Spark execution counters, summed over every task that ends. */
final class ExecListener extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var spill = 0L
  /** End time (epoch ms) of the latest task; the sink commit is measured
    * from here to `save()` returning.
    */
  @volatile var lastTaskEndMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobs += 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    lastTaskEndMs = math.max(lastTaskEndMs, e.taskInfo.finishTime)
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot: Map[String, Double] = synchronized(Map(
    "exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble,
    "exec.tasks" -> tasks.toDouble, "exec.task_cpu_s" -> cpuNs / 1e9,
    "exec.gc_s" -> gcMs / 1e3, "exec.shuffle_write_mb" -> shuffleWrite / 1e6,
    "exec.shuffle_read_mb" -> shuffleRead / 1e6, "exec.spill_mb" -> spill / 1e6))
}

object ExecListener {
  /** Counter deltas between two snapshots. */
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}

/** Every progress event of every streaming query, kept in arrival order. */
final class ProgressListener extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toSeq
}

/** Peak heap retained after garbage collection, tracked from the JVM's GC
  * notifications. Unlike peak RSS it does not depend on how far the
  * collector chose to grow the heap, so it repeats run to run and moves
  * only when the program keeps more data alive.
  */
final class HeapWatch {
  @volatile private var peak = 0L
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
          .map(_.getUsed).sum
        synchronized { peak = math.max(peak, after) }
      }
  }
  private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.collect { case e: javax.management.NotificationEmitter => e }
  beans.foreach(_.addNotificationListener(listener, null, null))

  /** Peak heap after GC plus the non-heap (metaspace, code cache) in use. */
  def peakMb(): Double = {
    beans.foreach(b => try b.removeNotificationListener(listener)
      catch { case _: javax.management.ListenerNotFoundException => () })
    val nonHeap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getNonHeapMemoryUsage.getUsed
    (peak + nonHeap) / 1e6
  }
}

object Probes {

  /** Peak resident set size of this process, in MB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def ms(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)

  /** Per-epoch streaming metrics over the epochs that read rows. */
  def epochMetrics(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val eps = ps.filter(_.numInputRows > 0)
    if (eps.isEmpty) return Map("epoch.count" -> 0.0)
    def p50(xs: Seq[Double]) = Stats.median(xs)
    val trig = eps.map(ms(_, "triggerExecution"))
    val st = Stats.summarize(trig)
    val states = eps.flatMap(_.stateOperators.toSeq)
    Map(
      "epoch.count" -> eps.size.toDouble,
      "epoch.rows.p50" -> p50(eps.map(_.numInputRows.toDouble)),
      "epoch.trigger_ms.p50" -> st.p50,
      s"epoch.trigger_ms.p${fmtPct(st.tailPct)}" -> st.tail,
      "epoch.add_batch_ms.p50" -> p50(eps.map(ms(_, "addBatch"))),
      "epoch.wal_commit_ms.p50" -> p50(eps.map(ms(_, "walCommit"))),
      "epoch.commit_offsets_ms.p50" -> p50(eps.map(ms(_, "commitOffsets"))),
      "source.latest_offset_ms.p50" -> p50(eps.map(ms(_, "latestOffset"))),
      "source.plan_ms.p50" -> p50(eps.map(ms(_, "queryPlanning")))
    ) ++ (if (states.isEmpty) Map.empty else Map(
      "state.commit_ms.p50" -> p50(states.map(_.commitTimeMs.toDouble)),
      "state.rows_total" -> states.last.numRowsTotal.toDouble,
      "state.memory_mb" -> states.last.memoryUsedBytes / 1e6))
  }

  def fmtPct(p: Double): String =
    if (p == math.rint(p)) p.toLong.toString else p.toString

  /** Cold metadata-plane and data-plane probes over a topic's end state.
    * A fresh log instance is used so no cache of the run is reused.
    */
  def logProbes(root: String, topic: String, workDir: java.nio.file.Path,
      tr: Tracer): Map[String, Double] = {
    val log = new FileTopicLog(root, new org.apache.hadoop.conf.Configuration())
    val tbs = log.buckets(topic)
    def timed[A](name: String)(f: => A): (A, Double) = {
      val t = System.nanoTime()
      val a = tr.span(name)(f)
      (a, (System.nanoTime() - t) / 1e6)
    }
    val (segs, segMs) = timed("log.segments")(tbs.map(log.segments))
    val (ends, endMs) = timed("log.end_offset")(tbs.map(log.endOffsetListed))
    val seekTs = tbs.zip(ends).map { case (tb, e) =>
      log.timestampAt(tb, e / 2).getOrElse(0L) }
    val (_, seekMs) = timed("log.seek")(tbs.zip(seekTs).foreach {
      case (tb, ts) => log.offsetForTimestamp(tb, ts) })
    val (recs, rangeMs) = timed("log.range")(tbs.zip(ends).flatMap {
      case (tb, e) => log.range(tb, 0, e) })
    val payloadBytes = recs.map(_.data.length.toLong).sum
    val fileBytes = segs.flatten.map { case (p, _, _) => log.fileLen(p) }.sum
    val codec = Codecs.id(graft.api.Ripple.topicConfig(root, topic)
      .compression.getOrElse("none"))
    val sample = recs.take(4000).map(r => (Payload(r.id, r.data), r.ts.getTime))
    val sampleBytes = sample.map(_._1.data.length.toLong).sum.toDouble
    val file = workDir.resolve("codec-probe.seg")
    // repeat the sample until ~200 ms of work so the rate is not one call
    def rate(body: => Unit): Double = {
      var n = 0
      val t = System.nanoTime()
      while (n < 3 || System.nanoTime() - t < 200000000L) { body; n += 1 }
      sampleBytes * n / 1e6 / ((System.nanoTime() - t) / 1e9)
    }
    val enc = tr.span("codec.encode")(rate(SegmentCodec.writeFrames(
      java.nio.file.Files.newOutputStream(file), sample, codec)))
    val dec = tr.span("codec.decode")(rate {
      val it = SegmentCodec.read(file)
      try while (it.hasNext) it.next() finally it.close()
    })
    Map(
      "log.segments_per_bucket" -> segs.map(_.size).sum.toDouble / tbs.size,
      "log.segments_ms" -> segMs, "log.end_offset_ms" -> endMs,
      "log.seek_ms" -> seekMs,
      "log.range_rows_s" -> recs.size / (rangeMs / 1e3),
      "log.bytes_per_payload_byte" -> fileBytes.toDouble / math.max(payloadBytes, 1L),
      "codec.encode_mb_s" -> enc, "codec.decode_mb_s" -> dec)
  }
}
