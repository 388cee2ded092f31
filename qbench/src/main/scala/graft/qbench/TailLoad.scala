package graft.qbench

import graft.api.Ripple
import graft.log.{FileTopicLog, LogFs}
import graft.model.{Payload, TopicBucket}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}

/** `tail`: one generator thread publishes on a fixed schedule with
  * `FileTopicLog.append`, round-robin over a 4-bucket uncompressed topic,
  * while one named `Ripple.readStream` consumer (default trigger,
  * `foreachBatch`) reads the records back. Every record carries its due
  * time, so delivery latency is measured from when the publish was due.
  *
  * Set-up is done [[SetupRounds]] times (topic, consumer start, warm-up
  * publishes until they are delivered) and the median is reported, so the
  * cold first epochs land in `setup_s` and not in the latency tail. Only
  * the last round goes on to the timed open loop.
  */
object TailLoad {
  val Buckets = 4
  val RatePerS = 20
  val Records = 50
  val RecordBytes = 200
  val WarmupPublishes = 20
  val SetupRounds = 3
  val DeliverTimeoutNs = 60L * 1000000000L

  /** Driver-side consumer: checks every delivered record as it arrives. */
  final class Consumer(buckets: IndexedSeq[String], maxPublishes: Int,
      report: Report) {
    val expectedCrc = new AtomicLongArray(maxPublishes * Records)
    val deliveredCount = new AtomicIntegerArray(maxPublishes * Records)
    val arrivalNs = new AtomicLongArray(maxPublishes)
    val published = new AtomicLong(0)
    val delivered = new AtomicLong(0)
    @volatile var maxLag = 0L
    private val nextOffset = scala.collection.mutable.Map.empty[String, Long]
    @volatile var errors = Vector.empty[String]

    def accept(df: DataFrame): Unit = {
      val rows = df.select("bucket", "offset", "data").collect()
        .sortBy(r => (r.getString(0), r.getLong(1)))
      val now = System.nanoTime()
      maxLag = math.max(maxLag, published.get() * Records - delivered.get())
      rows.foreach { r =>
        val bucket = r.getString(0)
        val off = r.getLong(1)
        val data = r.getAs[Array[Byte]](2)
        val h = Gen.tailHead(data)
        val k = h.seq * Records + h.idx
        val expected = nextOffset.getOrElse(bucket, 0L)
        if (off != expected)
          errors :+= s"bucket $bucket: offset $off, expected $expected"
        nextOffset(bucket) = off + 1
        if (bucket != buckets(h.seq % Buckets))
          errors :+= s"publish ${h.seq} read from $bucket"
        if (Gen.crc(data) != expectedCrc.get(k))
          errors :+= s"publish ${h.seq} record ${h.idx}: checksum mismatch"
        deliveredCount.incrementAndGet(k)
        arrivalNs.accumulateAndGet(h.seq, now, math.max)
      }
      delivered.addAndGet(rows.length)
    }

    /** Every record of publish `seq` delivered. */
    def complete(seq: Int): Boolean =
      (0 until Records).forall(i => deliveredCount.get(seq * Records + i) > 0)

    /** One check per publish: every record exactly once, plus the
      * consumer's order/checksum errors (each counted as one failure).
      */
    def verify(until: Int, failedPublishes: Set[Int]): Unit = {
      (0 until until).filterNot(failedPublishes).foreach { s =>
        val counts = (0 until Records).map(i => deliveredCount.get(s * Records + i))
        report.check(counts.forall(_ == 1),
          s"publish $s delivered ${counts.count(_ == 0)} missing, " +
            s"${counts.count(_ > 1)} duplicated records")
      }
      errors.foreach { e => report.attempted += 1; report.fail(e) }
    }
  }

  final class Round(c: Ctx, r: Int, maxPublishes: Int) {
    val root: String = c.work.resolve(s"tail-$r").toString
    val topic = "tail"
    val log: FileTopicLog = FileTopicLog.cached(root, LogFs.activeHadoopConf)
    /** Publish `seq` goes to bucket `seq % Buckets`. */
    val buckets: IndexedSeq[TopicBucket] = log.createTopic(topic, Buckets).toIndexedSeq
    val consumer = new Consumer(buckets.map(_.bucket), maxPublishes, c.report)
    var failedPublishes = Set.empty[Int]
    /** Duration of each publish's `append` call alone. */
    val appendNs = new AtomicLongArray(maxPublishes)
    val query: StreamingQuery =
      Ripple.readStream(c.spark, root, topic, consumerId = Some(s"qbench-$r"))
        .writeStream
        .option("checkpointLocation", c.work.resolve(s"tail-ck-$r").toString)
        .foreachBatch { (df: DataFrame, _: Long) =>
          c.tracer.span("stream.batch")(consumer.accept(df)) }
        .start()

    /** Publish `seq`, due at `dueNs`. */
    def publish(seq: Int, dueNs: Long): Unit = {
      val rows = (0 until Records).map { i =>
        val data = Gen.tailPayload(c.seed + r, seq, i, dueNs, RecordBytes)
        consumer.expectedCrc.set(seq * Records + i, Gen.crc(data))
        Payload(seq * Records + i, data)
      }
      val t = System.nanoTime()
      try {
        c.tracer.span("log.append")(log.append(buckets(seq % Buckets), rows))
        appendNs.set(seq, System.nanoTime() - t)
      } catch { case e: Exception =>
        c.report.attempted += 1
        c.report.fail(s"append of publish $seq threw: $e")
        failedPublishes += seq
      }
      consumer.published.incrementAndGet()
    }

    def openLoop(from: Int, n: Int): IndexedSeq[OpenLoop.Call] =
      OpenLoop.run(n, System.nanoTime() + 1000000000L / RatePerS,
        1000000000L / RatePerS)((i, due) => publish(from + i, due))

    def awaitDelivered(until: Int): Unit = {
      val deadline = System.nanoTime() + DeliverTimeoutNs
      def done = (0 until until).forall(s => failedPublishes(s) || consumer.complete(s))
      while (!done && System.nanoTime() < deadline && query.isActive)
        Thread.sleep(5)
      query.exception.foreach(e => c.report.fail(s"consumer query failed: $e"))
    }

    def finish(until: Int): Unit = {
      query.stop()
      consumer.verify(until, failedPublishes)
    }
  }

  def run(c: Ctx): Unit = {
    val measured = RatePerS * c.seconds
    val total = WarmupPublishes + measured
    val setups = c.phase("setup")((0 until SetupRounds).map { r =>
      val t0 = System.nanoTime()
      val round = new Round(c, r, total)
      round.openLoop(0, WarmupPublishes)
      round.awaitDelivered(WarmupPublishes)
      val s = (System.nanoTime() - t0) / 1e9
      if (r < SetupRounds - 1) round.finish(WarmupPublishes)
      (s, round)
    })
    c.setupS += Stats.median(setups.map(_._1))
    val round = setups.last._2

    val calls = c.phase("open_loop") {
      val k = round.openLoop(WarmupPublishes, measured)
      round.awaitDelivered(total)
      k
    }
    val progress = c.progress.of(round.query.id)
    round.finish(total)

    val ok = calls.filterNot(k => round.failedPublishes(WarmupPublishes + k.i))
    val deliverMs = ok.map(k =>
      (round.consumer.arrivalNs.get(WarmupPublishes + k.i) - k.dueNs) / 1e6)
      .filter(_ >= 0)
    val publishMs = ok.map(_.latencyNs / 1e6)
    val appendMs = ok.map(k => round.appendNs.get(WarmupPublishes + k.i) / 1e6)
    val lateMs = calls.map(_.lateNs / 1e6)
    if (deliverMs.isEmpty) { c.report.fail("no publish was delivered"); return }
    val d = Stats.summarize(deliverMs)
    val p = Stats.summarize(publishMs)
    val late = Stats.summarize(lateMs)
    val pct = Probes.fmtPct(d.tailPct)
    c.report.metric("op_p50_ms", d.p50, "ms")
    c.report.metric("rows_s", appendMs.size * Records / (appendMs.sum / 1e3), "1/s")
    c.report.detail ++= Seq(
      "op" -> "publish: due time to records seen in foreachBatch",
      "samples" -> d.n, "tail_pct" -> d.tailPct,
      "deliver_p50_ms" -> d.p50, s"deliver_p${pct}_ms" -> d.tail,
      "publish_p50_ms" -> p.p50, s"publish_p${Probes.fmtPct(p.tailPct)}_ms" -> p.tail,
      s"gen.late_ms.p${Probes.fmtPct(late.tailPct)}" -> late.tail,
      "gen.late_ms.max" -> lateMs.max,
      "rate_per_s" -> RatePerS, "records_per_publish" -> Records,
      "record_bytes" -> RecordBytes, "publishes" -> measured,
      "warmup_publishes" -> WarmupPublishes, "setup_rounds" -> SetupRounds,
      "setup_round_s" -> setups.map(_._1))

    if (c.tracer.enabled) {
      val a = Stats.summarize(appendMs)
      val tenth = math.max(1, appendMs.size / 10)
      val first = Stats.median(appendMs.take(tenth))
      val last = Stats.median(appendMs.takeRight(tenth))
      c.layer ++= Seq(
        "log.append_ms.p50" -> a.p50,
        s"log.append_ms.p${Probes.fmtPct(a.tailPct)}" -> a.tail,
        "log.append_growth" -> last / first,
        "log.append_growth.first_p50_ms" -> first,
        "log.append_growth.last_p50_ms" -> last,
        "source.lag_records.max" -> round.consumer.maxLag.toDouble)
      c.layer ++= Probes.epochMetrics(progress)
      c.layer ++= Probes.logProbes(round.root, round.topic, c.work, c.tracer)
    }
  }
}
