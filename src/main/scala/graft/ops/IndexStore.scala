package graft.ops

import Materialize.MaterializeOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** On-disk layout of the five persisted index families, and the one
  * implementation of each lifecycle step they share. An index is a
  * directory holding two kinds of part:
  *
  *   - '''row tables''' keyed by an id column, each range-clustered on its
  *     own columns so probes skip files. Append adds files; delete is an
  *     anti-join on the id, rewritten through [[Layout.rewriteClustered]];
  *   - '''trained parts''' (params, stats, centroids, codebooks): small
  *     tables a probe collects driver-side. Append and delete leave them
  *     alone, except BM25's stats, which track the postings exactly.
  *
  * {{{
  *   family   row tables: dir (id; clustered on)           trained parts
  *   MinHash  bands (id; band, bandHash), shingles (id; id) params
  *   BM25     postings (doc_id; token)                      stats
  *   IVF      assigned (vec_id; cid)                        centroids
  *   PQ       codes (vec_id; vec_id)                        codebooks
  *   IVF-PQ   codes (vec_id; cid)                           centroids, codebooks
  * }}}
  *
  * The families' public save/load/append/delete entry points in [[Dedup]],
  * [[Retrieval]] and [[Similarity]] keep their signatures and only encode
  * rows; where the rows go is decided here.
  */
private[graft] object IndexStore {

  /** One id-keyed row table: its directory under the index root, its id
    * column, and the columns it is range-clustered on. A table with
    * `clusterOnWrite = false` (MinHash shingles, PQ codes) is only ever
    * joined by id or scanned whole, so save and append write it in arrival
    * order; only delete's rewrite clusters it.
    */
  final case class Table(dir: String, id: String, cluster: Seq[String],
      clusterOnWrite: Boolean = true) {
    def at(root: String): String = s"$root/$dir"
  }

  val MinhashBands = Table("bands", "id", Seq("band", "bandHash"))
  val MinhashShingles = Table("shingles", "id", Seq("id"), clusterOnWrite = false)
  val Bm25Postings = Table("postings", "doc_id", Seq("token"))
  val IvfAssigned = Table("assigned", "vec_id", Seq("cid"))
  val PqCodes = Table("codes", "vec_id", Seq("vec_id"), clusterOnWrite = false)
  val IvfPqCodes = Table("codes", "vec_id", Seq("cid"))

  def read(spark: SparkSession, t: Table, root: String): DataFrame =
    spark.read.parquet(t.at(root))

  /** Write `rows` into `t` (`mode` "overwrite" on save, "append" on
    * append), range-clustered into `numFiles` files when the table is
    * clustered on write.
    */
  def write(t: Table, root: String, rows: DataFrame, numFiles: Int = 0,
      mode: String = "overwrite"): Unit =
    if (t.clusterOnWrite)
      Layout.writeClustered(rows, t.at(root), t.cluster.map(col), numFiles, mode)
    else rows.write.mode(mode).parquet(t.at(root))

  /** Delete `ids` from each of `tables` (with its file count), in the
    * order given: the distinct ids are pinned once, named as the tables'
    * id column, and each table is rewritten without them through the
    * atomic [[Layout.rewriteClustered]] swap, keeping its clustering — no
    * tombstones for probes to merge. `measure` sees the pinned ids before
    * any table changes (BM25 takes its stats delta there). Unknown ids
    * are no-ops, so a repeated delete is too.
    */
  def delete[A](ids: DataFrame, idCol: String, root: String,
      tables: (Table, Int)*)(measure: DataFrame => A): A = {
    val del = ids.select(col(idCol).as(tables.head._1.id)).distinct()
      .materialized()
    val measured = measure(del)
    for ((t, numFiles) <- tables)
      Layout.rewriteClustered(ids.sparkSession, t.at(root), t.cluster.map(col),
        numFiles)(_.join(del, Seq(t.id), "left_anti"))
    measured
  }

  /** Replace trained part `name` with `df`, staged then renamed so the
    * live part is never half-written: `df` lands in `<name>__staged`, the
    * live part is deleted, and one directory rename (atomic on local and
    * HDFS) moves the staged copy in. A crash between the delete and the
    * rename leaves only the staged copy, which [[part]] moves in.
    */
  def writePart(root: String, name: String, df: DataFrame): Unit = {
    val (live, staged, fs) = partPaths(df.sparkSession, root, name)
    df.write.mode("overwrite").parquet(staged.toString)
    if (fs.exists(live)) fs.delete(live, true)
    require(fs.rename(staged, live), s"rename $staged -> $live failed")
  }

  /** Trained part `name`, after finishing a swap [[writePart]] left
    * interrupted. Every reader of a trained part comes through here.
    */
  def part(spark: SparkSession, root: String, name: String): DataFrame = {
    val (live, staged, fs) = partPaths(spark, root, name)
    if (!fs.exists(live) && fs.exists(staged)) fs.rename(staged, live)
    spark.read.parquet(live.toString)
  }

  private def partPaths(spark: SparkSession, root: String, name: String) = {
    val live = new Path(s"$root/$name")
    (live, new Path(s"$root/${name}__staged"),
      live.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Centroid rows (cid, centroid) of an IVF or IVF-PQ index. */
  def writeCentroids(spark: SparkSession, root: String,
      cm: Array[Array[Double]], cids: Array[Long]): Unit =
    writePart(root, "centroids", spark.createDataFrame(
      cids.toSeq.zip(cm.map(_.toSeq))).toDF("cid", "centroid"))

  def centroids(spark: SparkSession,
      root: String): (Array[Array[Double]], Array[Long]) =
    Similarity.collectCents(part(spark, root, "centroids"))

  /** Codebook rows (j, code, centroid) — parquet rather than JSON text so
    * the doubles round-trip bit-exactly.
    */
  def writeCodebooks(spark: SparkSession, root: String,
      cb: Array[Array[Array[Double]]]): Unit =
    writePart(root, "codebooks", spark.createDataFrame(
      for (j <- cb.indices; c <- cb(j).indices) yield (j, c, cb(j)(c).toSeq))
      .toDF("j", "code", "centroid"))

  /** Codebooks [j][code][i] back from their rows, in (j, code) order. */
  def codebooks(spark: SparkSession,
      root: String): Array[Array[Array[Double]]] = {
    val rows = part(spark, root, "codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, s"no codebook rows at $root/codebooks")
    rows.groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
  }
}
