package graft.qbench

import graft.api.Ripple
import graft.ops.{Curate, Dedup, Retrieval, Similarity}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `curate`: a seeded corpus with planted exact and near duplicates is
  * published to a topic during set-up. Each timed cycle runs
  * `Ripple.readLifted` -> `Curate.run` (quality, classifier, exact dedup,
  * MinHash near-dedup at 0.5, DSIR) and then the whole lifecycle of the
  * persisted MinHash, BM25 and IVF-PQ indexes: save, append, load, and
  * [[QueriesPerIndex]] query batches each. The operator library and Spark
  * shuffles do the work; the log does little. The timed operation is one
  * index family's lifecycle; the pipeline gives the throughput. There is
  * no warm-up: each run does the same first-time work in the same order,
  * which keeps it repeatable, and a warm-up cycle would double the run.
  */
object CurateLoad {
  val BaseDocs = 1000
  val ExactCopies = 50
  val Clusters = 50
  val PerCluster = 3
  val Vectors = 1000
  val Dim = 32
  val QueriesPerIndex = 1
  val QueryBatch = 16

  final case class Inputs(root: String, topic: String, docs: Seq[Gen.Doc],
      indexed: DataFrame, variants: DataFrame, vectors: DataFrame,
      vecQueries: DataFrame)

  def prepare(c: Ctx): Inputs = {
    import c.spark.implicits._
    val root = c.work.resolve("curate").toString
    val topic = "docs"
    val docs = Gen.corpus(c.seed, BaseDocs, ExactCopies, Clusters, PerCluster)
    val frame = docs.map(d => (d.docId, d.text, d.source)).toDF("doc_id", "text", "source")
    Ripple.writePacked(frame, root, topic, col("doc_id"))
    // indexes hold originals and exact copies; the near-dup variants are
    // the probe batch, so each must find its cluster's base document
    val variantIds = docs.filter(d => d.cluster >= 0 && d.docId >= BaseDocs).map(_.docId).toSet
    val indexed = frame.filter(!col("doc_id").isin(variantIds.toSeq: _*)).localCheckpoint()
    val variants = frame.filter(col("doc_id").isin(variantIds.toSeq: _*)).localCheckpoint()
    val vecs = Gen.vectors(c.seed, Vectors, Dim)
    val vectors = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding").localCheckpoint()
    val r = Gen.rng(c.seed, 7, 0)
    val vecQueries = (0 until QueryBatch * QueriesPerIndex).map { q =>
      val src = r.nextInt(Vectors)
      (1000000L + src, vecs(src).map(x => (x + 0.05 * Gen.gaussian(r)).toFloat))
    }.toDF("vec_id", "embedding").localCheckpoint()
    Inputs(root, topic, docs, indexed, variants, vectors, vecQueries)
  }

  final case class CycleOut(pipelineS: Double, indexS: Double,
      opMs: Seq[Double], rowsIn: Long, rowsOut: Long,
      stages: Seq[(String, Double)], steps: Map[String, Double])

  final case class PipelineOut(seconds: Double, rowsOut: Long,
      stages: Seq[(String, Double)])

  /** `Ripple.readLifted` -> `Curate.run` -> collect, checked. */
  def pipeline(c: Ctx, in: Inputs): PipelineOut = {
    val spark = c.spark
    val phases = mutable.ListBuffer.empty[(String, Double)]
    val t0 = System.nanoTime()
    val kept = c.phase("pipeline") {
      val docs = c.tracer.span("scan.lifted")(
        Ripple.readLifted(spark, in.root, in.topic).select("doc_id", "text", "source"))
      val res = c.tracer.span("curate.run")(Curate.run(docs, "doc_id", "text", "source",
        Curate.Config(normalizeUnicode = true, qualityFilter = true,
          classifierFilter = true, exactDedup = true,
          nearDupThreshold = Some(0.5),
          dsirTargetSources = Seq("src0", "src1", "src2")),
        phases = Some(phases)))
      c.tracer.span("curate.collect")(res.docs.select("doc_id", "text").collect())
    }
    val pipelineS = (System.nanoTime() - t0) / 1e9
    checkCurated(c, in, kept.map(r => (r.getLong(0), r.getString(1))))
    PipelineOut(pipelineS, kept.length.toLong, phases.toList)
  }

  /** Times each call of the index lifecycle, summed per call name. */
  final class Steps(c: Ctx) {
    val seconds = mutable.LinkedHashMap.empty[String, Double]
    def apply[A](name: String)(f: => A): A = {
      val t = System.nanoTime()
      val a = c.tracer.span(name)(f)
      seconds(name) = seconds.getOrElse(name, 0.0) + (System.nanoTime() - t) / 1e9
      a
    }
  }

  def cycle(c: Ctx, in: Inputs, n: Int): CycleOut = {
    val p = pipeline(c, in)
    val dir = c.work.resolve(s"idx-$n")
    val step = new Steps(c)
    // one op = one index family's whole lifecycle: a sum of four calls
    // repeats run to run far better than any single save or query does
    def family(body: => Unit): Double = {
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e6
    }
    val i0 = System.nanoTime()
    val opMs = c.phase("index")(Seq(
      family(minhash(c, in, dir.resolve("minhash").toString, step)),
      family(bm25(c, in, dir.resolve("bm25").toString, step, n)),
      family(ivfpq(c, in, dir.resolve("ivfpq").toString, step))))
    val indexS = (System.nanoTime() - i0) / 1e9
    CycleOut(p.seconds, indexS, opMs, in.docs.size.toLong, p.rowsOut,
      p.stages, step.seconds.toMap)
  }

  private val evenDoc = col("doc_id") % 2 === 0

  /** MinHash: near-dup variants must find their cluster's base document.
    * LSH recall is below 1 by design (a pair at Jaccard 0.8 is missed with
    * probability ~4e-4 at 16 bands of 4), so the check is a recall floor.
    */
  def minhash(c: Ctx, in: Inputs, path: String, step: Steps): Unit = {
    step("index.minhash.save_s")(Dedup.saveMinhashIndex(in.indexed.filter(evenDoc),
      "doc_id", "text", path, threshold = 0.5, numFiles = 4))
    step("index.minhash.append_s")(Dedup.appendToMinhashIndex(in.indexed.filter(!evenDoc),
      "doc_id", "text", path))
    val idx = step("index.minhash.load_s")(Dedup.loadMinhashIndex(c.spark, path))
    val clusters = in.docs.filter(_.cluster >= 0).groupBy(_.cluster).values
    val baseOf = clusters.flatMap { ds =>
      val base = ds.map(_.docId).min
      ds.map(_.docId -> base)
    }.toMap
    val variantIds = in.docs.filter(d => d.cluster >= 0 && d.docId >= BaseDocs).map(_.docId)
    val found = variantIds.grouped(math.ceil(variantIds.size.toDouble / QueriesPerIndex).toInt)
      .map { batch =>
        val pairs = step("index.minhash.query_s")(Dedup.minhashNearDupsIndexed(idx,
          in.variants.filter(col("doc_id").isin(batch: _*)), "doc_id", "text",
          threshold = 0.5).select("left_id", "right_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
        batch.count(v => pairs((baseOf(v), v)))
      }.sum
    c.report.check(found >= 0.9 * variantIds.size,
      s"MinHash index found $found of ${variantIds.size} planted pairs (floor 90%)")
  }

  /** BM25: a document's first 12 words must rank it in the top 5. */
  def bm25(c: Ctx, in: Inputs, path: String, step: Steps, n: Int): Unit = {
    step("index.bm25.save_s")(Retrieval.saveBm25Index(in.indexed.filter(evenDoc),
      "doc_id", "text", path, numFiles = 4))
    step("index.bm25.append_s")(Retrieval.appendToBm25Index(in.indexed.filter(!evenDoc),
      "doc_id", "text", path))
    val idx = step("index.bm25.load_s")(Retrieval.loadBm25Index(c.spark, path))
    val r = Gen.rng(c.seed, 8, n)
    // a query must have one right answer: no exact copies, no near-dups
    val exactBases = in.docs.filter(_.exactOf >= 0).map(_.exactOf).toSet
    val plain = in.docs.filter(d => d.docId < BaseDocs && d.cluster < 0 && !exactBases(d.docId))
    (0 until QueriesPerIndex).foreach { _ =>
      val qs = Seq.fill(QueryBatch)(plain(r.nextInt(plain.size)))
        .map(d => (d.docId, d.text.split(" ").take(12).mkString(" ")))
      val hits = step("index.bm25.query_s")(Retrieval.bm25TopKWithIndex(idx,
        c.spark.createDataFrame(qs).toDF("qid", "qtext"), "qid", "qtext", k = 5)
        .select("query_id", "doc_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet)
      qs.foreach { case (id, _) =>
        c.report.check(hits((id, id)), s"BM25 index query for doc $id missed it") }
    }
  }

  /** IVF-PQ: a perturbed copy of a stored vector must find it in the top
    * 5. PQ codes are lossy by design, so the check is a recall floor.
    */
  def ivfpq(c: Ctx, in: Inputs, path: String, step: Steps): Unit = {
    val even = col("vec_id") % 2 === 0
    step("index.ivfpq.save_s")(Similarity.saveIvfPqIndex(in.vectors.filter(even),
      "vec_id", "embedding", path, dim = Dim, numCentroids = 16, m = 8, ksub = 16,
      numFiles = 4))
    step("index.ivfpq.append_s")(Similarity.appendToIvfPqIndex(c.spark, path,
      in.vectors.filter(!even), "vec_id", "embedding"))
    val idx = step("index.ivfpq.load_s")(Similarity.loadIvfPqIndex(c.spark, path))
    var found = 0
    var asked = 0
    (0 until QueriesPerIndex).foreach { q =>
      val batch = in.vecQueries.orderBy("vec_id").offset(q * QueryBatch).limit(QueryBatch)
      val hits = step("index.ivfpq.query_s")(Similarity.ivfPqTopKWithIndex(idx,
        batch, "vec_id", "embedding", k = 5, nProbe = 4)
        .select("query_id", "vec_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet)
      batch.select("vec_id").collect().map(_.getLong(0)).foreach { qid =>
        asked += 1
        if (hits((qid, qid - 1000000L))) found += 1
      }
    }
    c.report.check(found >= 0.8 * asked,
      s"IVF-PQ index found $found of $asked planted neighbours (floor 80%)")
  }

  /** No exact-duplicate text survives; at most one member of each planted
    * near-duplicate cluster survives.
    */
  def checkCurated(c: Ctx, in: Inputs, kept: Seq[(Long, String)]): Unit = {
    val dupTexts = kept.groupBy(_._2).count(_._2.size > 1)
    c.report.check(dupTexts == 0, s"$dupTexts exact-duplicate texts survived curation")
    val clusterOf = in.docs.filter(_.cluster >= 0).map(d => d.docId -> d.cluster).toMap
    val over = kept.flatMap(k => clusterOf.get(k._1)).groupBy(identity).count(_._2.size > 1)
    c.report.check(over == 0, s"$over near-duplicate clusters kept more than one member")
  }

  def run(c: Ctx): Unit = {
    val s0 = System.nanoTime()
    val in = c.phase("setup")(prepare(c))
    c.setupS += (System.nanoTime() - s0) / 1e9

    val cycles = mutable.ArrayBuffer.empty[CycleOut]
    val start = System.nanoTime()
    while (cycles.isEmpty || System.nanoTime() - start < c.seconds * 1000000000L)
      cycles += cycle(c, in, cycles.size)

    val q = Stats.summarize(cycles.flatMap(_.opMs))
    def med(f: CycleOut => Double) = Stats.median(cycles.map(f))
    c.report.metric("op_p50_ms", q.p50, "ms")
    c.report.metric("rows_s", med(k => k.rowsIn / k.pipelineS), "1/s")
    c.report.detail ++= Seq(
      "op" -> "one index family's lifecycle: save, append, load and query of MinHash, BM25 or IVF-PQ",
      "samples" -> q.n,
      "pipeline_s" -> med(_.pipelineS), "index_s" -> med(_.indexS),
      "cycles" -> cycles.size, "docs" -> in.docs.size, "base_docs" -> BaseDocs,
      "exact_copies" -> ExactCopies, "clusters" -> Clusters,
      "per_cluster" -> PerCluster, "vectors" -> Vectors, "dim" -> Dim,
      "queries_per_index" -> QueriesPerIndex, "query_batch" -> QueryBatch)

    if (c.tracer.enabled) {
      val k = cycles.last
      c.layer("curate.keep_ratio") = k.rowsOut.toDouble / k.rowsIn
      c.layer("curate.rows_in") = k.rowsIn.toDouble
      c.layer("curate.rows_out") = k.rowsOut.toDouble
      k.stages.foreach { case (name, s) => c.layer(s"curate.stage.${name}_s") = s }
      k.steps.foreach { case (name, s) => c.layer(name) = s }
      c.layer ++= Probes.logProbes(in.root, in.topic, c.work, c.tracer)
    }
  }
}
