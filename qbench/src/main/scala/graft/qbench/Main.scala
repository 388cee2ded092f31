package graft.qbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Everything a workload needs: the session, its inputs' seed, the run
  * length, and the sinks its measurements go to.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Tracer, val report: Report, val work: Path,
    val progress: ProgressListener, val exec: Option[ExecListener]) {
  /** Set-up seconds, added to by the session start and each workload. */
  var setupS = 0.0
  /** Per-layer values of the traced run. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Spark execution counters per timed phase (traced run only). */
  val execByPhase = mutable.LinkedHashMap.empty[String, Map[String, Double]]
  /** Wall seconds per phase, summed over its repetitions. */
  val phaseS = mutable.LinkedHashMap.empty[String, Double]

  /** Run one phase: a span and its wall time, plus its Spark counters
    * when traced.
    */
  def phase[A](name: String)(body: => A): A = {
    val before = exec.map(_.snapshot)
    val t = System.nanoTime()
    val a = tracer.span("phase." + name)(body)
    phaseS(name) = phaseS.getOrElse(name, 0.0) + (System.nanoTime() - t) / 1e9
    for (l <- exec; b <- before) {
      val d = ExecListener.delta(b, l.snapshot)
      execByPhase(name) = execByPhase.get(name).fold(d)(p =>
        p.map { case (k, v) => k -> (v + d(k)) })
    }
    a
  }
}

/** One run of one workload. Prints a detail line (run metadata and the
  * workload's own named figures) and then, as the last line, the result:
  * `{"correct", "attempted", "failed", "metrics"}`. End-to-end metrics come
  * from untraced runs (`--trace 0`); a traced run (`--trace 1`) records
  * spans around the calls into the engine and reports per-layer metrics.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "tail" -> TailLoad.run, "backlog" -> BacklogLoad.run,
    "curate" -> CurateLoad.run)

  /** Per-layer metrics every workload reports in a traced run. */
  val CommonLayer: Seq[String] = Seq(
    "log.segments_per_bucket", "log.segments_ms", "log.end_offset_ms",
    "log.seek_ms", "log.range_rows_s", "log.bytes_per_payload_byte",
    "codec.encode_mb_s", "codec.decode_mb_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_s", "exec.gc_s",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "trace.spans", "trace.op_p50_ms", "trace.rows_s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload '$workload'; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val nproc = Runtime.getRuntime.availableProcessors()

    val heap = new HeapWatch
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"qbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val report = new Report
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val exec = if (traced) Some(new ExecListener) else None
    exec.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(traced, s"$workload-$seed-${System.currentTimeMillis()}")
    val ctx = new Ctx(spark, seed, seconds, tracer, report, work, progress, exec)
    ctx.setupS = sessionS
    try run(ctx)
    catch { case e: Throwable =>
      report.attempted += 1
      report.fail(s"$workload threw: $e")
      e.printStackTrace()
    }
    Thread.sleep(200) // let the listener bus deliver the last task ends
    report.metric("setup_s", ctx.setupS, "s")
    report.metric("mem_peak_mb", heap.peakMb(), "MB")

    report.detail ++= Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "nproc" -> nproc, "master" -> s"local[$nproc]",
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "spark_version" -> spark.version,
      "git_commit" -> opts.getOrElse("commit", "unknown"),
      "session_s" -> sessionS, "phase_s" -> ctx.phaseS,
      "rss_peak_mb" -> Probes.peakRssMb(),
      "failures" -> report.failures.take(20))

    val e2e = Seq("setup_s", "mem_peak_mb", "op_p50_ms", "rows_s")
    if (traced) {
      exec.foreach(l => ctx.layer ++= l.snapshot)
      ctx.layer("trace.spans") = tracer.all.size.toDouble
      for (k <- Seq("op_p50_ms", "rows_s"); v <- report.metrics.get(k))
        ctx.layer("trace." + k) = v._1
      report.detail("layer") = ctx.layer
      report.detail("exec_by_phase") = ctx.execByPhase
      report.detail("self_ms_by_span") = Trace.selfMsByName(tracer.all)
      opts.get("spans").foreach(p => tracer.writeTo(Paths.get(p)))
      val missing = CommonLayer.filterNot(ctx.layer.contains)
      if (missing.nonEmpty && report.failed == 0)
        report.fail(s"per-layer metrics not measured: ${missing.mkString(", ")}")
      report.metrics.clear()
      CommonLayer.flatMap(k => ctx.layer.get(k).map(k -> _))
        .foreach { case (k, v) => report.metric(k, v, unitOf(k)) }
    } else {
      val missing = e2e.filterNot(report.metrics.contains)
      if (missing.nonEmpty && report.failed == 0)
        report.fail(s"end-to-end metrics not measured: ${missing.mkString(", ")}")
      report.detail("e2e") = report.metrics.map { case (k, (v, _)) => k -> v }
    }
    println(Json.render(Map("qbench_detail" -> report.detail)))
    println(report.resultLine)
    spark.stop()
  }

  def unitOf(name: String): String = name match {
    case n if n.endsWith("_mb_s") => "MB/s"
    case n if n.endsWith("rows_s") => "1/s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_mb") => "MB"
    case "log.bytes_per_payload_byte" => "ratio"
    case _ => "count"
  }
}
