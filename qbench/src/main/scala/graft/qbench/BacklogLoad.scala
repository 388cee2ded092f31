package graft.qbench

import graft.api.Ripple
import graft.connector.TopicConfig
import graft.streaming.TopicStreams
import graft.streaming.TopicStreams.TableUpsert

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

/** `backlog`: a closed loop over a keyed event backlog. Each cycle
  * generates Zipf-keyed JSON events from the seed, publishes them with
  * `Ripple.write` into an 8-bucket zstd topic, then drains it three ways:
  * a fresh plain stream (`Trigger.AvailableNow`, 1/8 of the backlog per
  * epoch), a RocksDB table-view stream (`TopicStreams.tableViewStream`,
  * same cap) and batch SQL (`Ripple.readLifted` aggregate plus
  * `Ripple.readTable` count). Few, large segments: the codec, the DSv2
  * write, the partition reader, the state store and `lift` do the work.
  */
object BacklogLoad {
  val Buckets = 8
  val Rows = 40000
  val Keys = 8000
  val ZipfS = 1.1
  val Slices = 8
  val WarmupRows = 5000
  /** Warm-up epochs per drain: enough to compile and load every path. */
  val WarmupSlices = 1
  val DrainTimeoutMs = 120000L

  val payloadSchema: StructType = StructType(Seq(
    StructField("key", LongType), StructField("seq", LongType),
    StructField("amount", LongType), StructField("kind", StringType),
    StructField("note", StringType)))

  /** One cycle's generated inputs and the answers the engine must give. */
  final case class Inputs(root: String, topic: String, packed: DataFrame,
      rows: Long, keys: Long, count: Long, crcSum: Long,
      agg: Map[String, (Long, Long)])

  def prepare(c: Ctx, cycle: Int, rows: Int): Inputs = {
    import c.spark.implicits._
    val root = c.work.resolve(s"backlog-$cycle").toString
    val topic = "events"
    Ripple.createTopic(root, topic, Buckets, payloadSchema)
    Ripple.setTopicConfig(root, topic, TopicConfig(compression = Some("zstd")))
    val seed = c.seed * 1000003L + cycle
    val zipf = new Gen.Zipf(Keys, ZipfS)
    val events = c.spark.range(0, rows, 1, c.spark.sparkContext.defaultParallelism)
      .map(i => Gen.event(seed, zipf, i)).toDF().localCheckpoint()
    val packed = events.select(col("key").cast("int").as("id"),
      to_json(struct(events.columns.map(col).toIndexedSeq: _*)).cast("binary").as("data"))
      .localCheckpoint()
    val sums = packed.agg(count(lit(1)), sum(crc32(col("data")))).head()
    val keys = events.select("key").distinct().count()
    val agg = events.groupBy("kind").agg(count(lit(1)), sum("amount")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Inputs(root, topic, packed, rows, keys, sums.getLong(0), sums.getLong(1), agg)
  }

  def runQuery(c: Ctx, q: StreamingQuery, what: String): Seq[StreamingQueryProgress] = {
    if (!q.awaitTermination(DrainTimeoutMs)) {
      q.stop()
      c.report.fail(s"$what did not finish within ${DrainTimeoutMs / 1000} s")
    }
    q.exception.foreach(e => c.report.fail(s"$what failed: $e"))
    c.progress.of(q.id)
  }

  final case class CycleTimes(produce: Double, drain: Double, table: Double,
      query: Double, commitMs: Double, drainEpochs: Seq[StreamingQueryProgress],
      tableEpochs: Seq[StreamingQueryProgress])

  def cycle(c: Ctx, in: Inputs, n: Int, slices: Int): CycleTimes = {
    val spark = c.spark
    val cap = math.max(1L, in.rows / slices)
    def timed[A](name: String)(f: => A): (A, Double) = {
      val t = System.nanoTime()
      val a = c.phase(if (n < 0) s"warmup.$name" else name)(f)
      (a, (System.nanoTime() - t) / 1e9)
    }

    val (commitMs, produceS) = timed("produce") {
      c.tracer.span("sink.write")(Ripple.write(in.packed, in.root, in.topic, Buckets))
      c.exec.map(l => System.currentTimeMillis() - l.lastTaskEndMs).getOrElse(0L).toDouble
    }

    var drained = 0L
    var drainedCrc = 0L
    val (drainEpochs, drainS) = timed("drain") {
      val q = Ripple.readStream(spark, in.root, in.topic, maxOffsetsPerTrigger = cap)
        .writeStream
        .option("checkpointLocation", c.work.resolve(s"drain-ck-$n").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          val r = c.tracer.span("stream.batch")(
            df.agg(count(lit(1)), sum(crc32(col("data")))).head())
          drained += r.getLong(0)
          if (!r.isNullAt(1)) drainedCrc += r.getLong(1)
        }
        .start()
      runQuery(c, q, "plain drain")
    }
    c.report.check(drained == in.count && drainedCrc == in.crcSum,
      s"plain drain read $drained rows (crc sum $drainedCrc), produced " +
        s"${in.count} (crc sum ${in.crcSum})")

    val live = scala.collection.mutable.HashMap.empty[(String, Int), Boolean]
    val (tableEpochs, tableS) = timed("table") {
      val q = TopicStreams.tableViewStream(
          Ripple.readStream(spark, in.root, in.topic, maxOffsetsPerTrigger = cap))
        .writeStream
        .option("checkpointLocation", c.work.resolve(s"table-ck-$n").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (ds: Dataset[TableUpsert], _: Long) =>
          c.tracer.span("stream.batch")(
            ds.select("bucket", "id", "deleted").collect().foreach { r =>
              live((r.getString(0), r.getInt(1))) = !r.getBoolean(2) })
        }
        .start()
      runQuery(c, q, "table-view drain")
    }
    val liveKeys = live.count(_._2).toLong

    val ((agg, tableCount), queryS) = timed("query") {
      val agg = c.tracer.span("scan.lifted")(
        Ripple.readLifted(spark, in.root, in.topic)
          .groupBy("kind").agg(count(lit(1)), sum("amount")).collect())
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val n = c.tracer.span("scan.table")(Ripple.readTable(spark, in.root, in.topic).count())
      (agg, n)
    }
    c.report.check(liveKeys == in.keys && tableCount == in.keys,
      s"table view has $liveKeys live keys, readTable $tableCount, generator ${in.keys}")
    c.report.check(agg == in.agg,
      s"readLifted aggregate $agg differs from the generated frame's ${in.agg}")
    CycleTimes(produceS, drainS, tableS, queryS, commitMs, drainEpochs, tableEpochs)
  }

  def run(c: Ctx): Unit = {
    val w0 = System.nanoTime()
    cycle(c, c.phase("warmup.setup")(prepare(c, -1, WarmupRows)), -1, WarmupSlices)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val prepS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cycles = scala.collection.mutable.ArrayBuffer.empty[CycleTimes]
    val start = System.nanoTime()
    var last: Inputs = null
    while (cycles.isEmpty || System.nanoTime() - start < c.seconds * 1000000000L) {
      val t = System.nanoTime()
      last = c.phase("setup")(prepare(c, cycles.size, Rows))
      prepS += (System.nanoTime() - t) / 1e9
      cycles += cycle(c, last, cycles.size, Slices)
    }
    c.setupS += warmupS + Stats.median(prepS)

    val epochMs = cycles.flatMap(k => (k.drainEpochs ++ k.tableEpochs)
      .filter(_.numInputRows > 0).map(Probes.ms(_, "triggerExecution")))
    val e = Stats.summarize(epochMs)
    def med(f: CycleTimes => Double) = Stats.median(cycles.map(f))
    c.report.metric("op_p50_ms", e.p50, "ms")
    c.report.metric("rows_s", med(k => Rows / (k.produce + k.drain + k.table + k.query)), "1/s")
    c.report.detail ++= Seq(
      "op" -> "one streaming epoch of the plain or table-view drain",
      "samples" -> e.n,
      "produce_rows_s" -> med(Rows / _.produce),
      "drain_rows_s" -> med(Rows / _.drain),
      "table_rows_s" -> med(Rows / _.table),
      "query_s" -> med(_.query),
      "cycles" -> cycles.size, "rows" -> Rows, "keys" -> Keys,
      "zipf_s" -> ZipfS, "buckets" -> Buckets, "slices" -> Slices,
      "warmup_rows" -> WarmupRows, "warmup_slices" -> WarmupSlices,
      "warmup_s" -> warmupS,
      "prepare_s" -> prepS)

    if (c.tracer.enabled) {
      val k = cycles.last
      c.layer ++= Probes.epochMetrics(k.drainEpochs).map { case (n, v) => s"drain.$n" -> v }
      c.layer ++= Probes.epochMetrics(k.tableEpochs).map { case (n, v) => s"table.$n" -> v }
      c.layer("sink.commit_ms") = med(_.commitMs)
      c.layer("sink.task_s") = c.execByPhase.get("produce")
        .map(_("exec.task_cpu_s") / cycles.size).getOrElse(0.0)
      c.layer ++= scanProbes(c, last)
      c.layer ++= Probes.logProbes(last.root, last.topic, c.work, c.tracer)
    }
  }

  /** Scan-side probes on the final topic: plan time, input partitions,
    * raw envelope and lifted read rates.
    */
  def scanProbes(c: Ctx, in: Inputs): Map[String, Double] = {
    def secs(f: => Any): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    val lifted = Ripple.readLifted(c.spark, in.root, in.topic)
    val planS = secs(c.tracer.span("scan.plan")(lifted.queryExecution.executedPlan))
    val parts = lifted.rdd.getNumPartitions
    val rawS = secs(c.tracer.span("scan.raw")(Ripple.read(c.spark, in.root, in.topic)
      .agg(sum(length(col("data")))).collect()))
    val liftS = secs(c.tracer.span("scan.lift")(Ripple.readLifted(c.spark, in.root, in.topic)
      .agg(sum("amount")).collect()))
    Map("scan.plan_ms" -> planS * 1e3, "scan.partitions" -> parts.toDouble,
      "scan.raw_rows_s" -> in.rows / rawS, "scan.lifted_rows_s" -> in.rows / liftS)
  }
}
