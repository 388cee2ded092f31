package graft.qbench

import java.nio.ByteBuffer
import java.util.SplittableRandom

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, index), so the same seed yields the same bytes no matter
  * how generation is split across threads or partitions.
  */
object Gen {

  /** Independent random stream `stream` at position `i` of run `seed`. */
  def rng(seed: Long, stream: Int, i: Long): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  private val letters = "abcdefghijklmnopqrstuvwxyz"

  def filler(r: SplittableRandom, n: Int): Array[Byte] =
    Array.fill(n)(letters.charAt(r.nextInt(letters.length)).toByte)

  // ---- tail: fixed-layout binary payloads ---------------------------------

  /** Bytes before the filler: publish seq (8), record index (4), due (8). */
  val TailHeader = 20

  /** Record `idx` of publish `seq`, carrying its due time (nanoTime). */
  def tailPayload(seed: Long, seq: Int, idx: Int, dueNs: Long,
      size: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(size)
    b.putLong(seq.toLong).putInt(idx).putLong(dueNs)
    b.put(filler(rng(seed, 1, seq.toLong << 20 | idx), size - TailHeader))
    b.array()
  }

  final case class TailHead(seq: Int, idx: Int, dueNs: Long)

  def tailHead(data: Array[Byte]): TailHead = {
    val b = ByteBuffer.wrap(data)
    TailHead(b.getLong().toInt, b.getInt(), b.getLong())
  }

  def crc(data: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32()
    c.update(data)
    c.getValue
  }

  // ---- backlog: keyed events with Zipf-skewed keys -------------------------

  /** Zipf(s) over keys 1..n by inverse CDF. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1) + 1
    }
  }

  val Kinds: IndexedSeq[String] =
    IndexedSeq("view", "click", "cart", "buy", "refund", "share", "rate", "quit")

  final case class Event(key: Long, seq: Long, amount: Long, kind: String,
      note: String)

  def event(seed: Long, zipf: Zipf, i: Long): Event = {
    val r = rng(seed, 2, i)
    val key = zipf.sample(r).toLong
    Event(key, i, r.nextInt(1000).toLong, Kinds(r.nextInt(Kinds.length)),
      new String(filler(r, 60 + r.nextInt(40)), "US-ASCII"))
  }

  // ---- curate: documents with planted duplicates ---------------------------

  /** `cluster` >= 0 marks a planted near-duplicate cluster; `exactOf` >= 0
    * names the document this one is a byte-identical copy of.
    */
  final case class Doc(docId: Long, text: String, source: String,
      cluster: Int, exactOf: Long)

  def vocabulary(seed: Long, n: Int): IndexedSeq[String] = {
    val r = rng(seed, 3, 0)
    (0 until n).map(_ => new String(filler(r, 3 + r.nextInt(7)), "US-ASCII"))
      .distinct
  }

  /** Each source draws from its own rotation of the vocabulary, so
    * sources differ in word distribution the way real crawl sources do
    * (DSIR selects on exactly that).
    */
  private def sentenceText(r: SplittableRandom, vocab: IndexedSeq[String],
      zipf: Zipf, words: Int, source: Int): Array[String] =
    Array.tabulate(words) { w =>
      val word = vocab((zipf.sample(r) - 1 + source * 997) % vocab.length)
      if (w % 12 == 11) word + "." else word
    }

  /** `base` documents, then `exact` byte-identical copies of distinct base
    * documents, then `clusters` near-duplicate clusters of `perCluster`
    * variants each (a base document with 3 of its words replaced).
    */
  def corpus(seed: Long, base: Int, exact: Int, clusters: Int,
      perCluster: Int, words: Int = 80): IndexedSeq[Doc] = {
    val vocab = vocabulary(seed, 6000)
    val zipf = new Zipf(vocab.length, 0.9)
    val sources = IndexedSeq("src0", "src1", "src2", "src3", "src4")
    val pick = rng(seed, 4, -1)
    // bases for planted copies are distinct and disjoint between kinds
    val bases = new scala.util.Random(pick.nextLong()).shuffle((0 until base).toVector)
    val exactBases = bases.take(exact).toSet
    val clusterBases = bases.slice(exact, exact + clusters)
    val clusterOf = clusterBases.zipWithIndex.toMap
    val texts = Array.tabulate(base)(i =>
      sentenceText(rng(seed, 4, i), vocab, zipf, words, i % sources.length))
    val originals = (0 until base).map { i =>
      Doc(i.toLong, texts(i).mkString(" "), sources(i % sources.length),
        clusterOf.getOrElse(i, -1), -1L)
    }
    val copies = exactBases.toSeq.sorted.zipWithIndex.map { case (b, j) =>
      originals(b).copy(docId = base.toLong + j, cluster = -1, exactOf = b)
    }
    val variants = for {
      (b, c) <- clusterBases.zipWithIndex
      v <- 1 until perCluster
    } yield {
      val r = rng(seed, 5, c.toLong * 1000 + v)
      val ws = texts(b).clone()
      (0 until 3).foreach(_ => ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.length)))
      Doc(base.toLong + exact + c * perCluster + v, ws.mkString(" "),
        sources(b % sources.length), c, -1L)
    }
    originals ++ copies ++ variants
  }

  /** `n` seeded Gaussian vectors of dimension `dim`. */
  def vectors(seed: Long, n: Int, dim: Int): IndexedSeq[Array[Float]] =
    (0 until n).map { i =>
      val r = rng(seed, 6, i)
      Array.fill(dim)(gaussian(r).toFloat)
    }

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; 1 - u keeps the log argument in (0, 1]
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
