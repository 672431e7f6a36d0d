package perfbench

import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded clustered vectors: every point is a cluster centre plus Gaussian
  * noise. Queries drawn from the corpus's own clusters are easy for the
  * forest; queries from clusters the corpus never saw are not, so a mix of
  * the two keeps recall off 1.0. */
final class VectorGen(seed: Long, val dim: Int, nClusters: Int, sigma: Double) {
  private val rng = new Random(seed)
  private def centre(): Array[Double] = Array.fill(dim)(rng.nextDouble() * 2 - 1)
  private val seen = Array.fill(nClusters)(centre())
  private val unseen = Array.fill(nClusters)(centre())

  private def around(c: Array[Double]): Array[Float] =
    Array.tabulate(dim)(i => (c(i) + rng.nextGaussian() * sigma).toFloat)

  def corpusPoint(): Array[Float] = around(seen(rng.nextInt(nClusters)))

  /** Half the queries from corpus clusters, half from unseen ones. */
  def queries(n: Int): Array[Array[Float]] =
    Array.tabulate(n)(i =>
      around(if (i % 2 == 0) seen(rng.nextInt(nClusters)) else unseen(rng.nextInt(nClusters))))

  def nextInt(n: Int): Int = rng.nextInt(n)
}

/** The live corpus as the benchmark knows it, for exact answers: a
  * brute-force scan over every live vector. */
final class Corpus {
  private val ids = ArrayBuffer.empty[String]
  private val vecs = ArrayBuffer.empty[Array[Float]]
  private val index = scala.collection.mutable.HashMap.empty[String, Int]
  private val dead = scala.collection.mutable.BitSet.empty

  def add(id: String, v: Array[Float]): Unit = {
    index(id) = ids.length; ids += id; vecs += v
  }
  def remove(id: String): Unit = index.get(id).foreach(dead += _)
  def live: Int = ids.length - dead.size
  def vector(id: String): Option[Array[Float]] =
    index.get(id).filterNot(dead.contains).map(vecs(_))
  def liveIds: IndexedSeq[String] = ids.indices.filterNot(dead.contains).map(ids(_))

  /** The exact top-k ids by squared L2 distance (ties by id). */
  def exactTopK(q: Array[Float], k: Int): Seq[String] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, String)]
    var i = 0
    while (i < ids.length) {
      if (!dead.contains(i)) {
        val d = Corpus.l2sq(q, vecs(i))
        if (heap.size < k) heap.enqueue((d, ids(i)))
        else if (d < heap.head._1 || d == heap.head._1 && ids(i) < heap.head._2) {
          heap.dequeue(); heap.enqueue((d, ids(i)))
        }
      }
      i += 1
    }
    heap.toSeq.sorted.map(_._2)
  }
}

object Corpus {
  /** Squared L2 in double over float inputs, as the engine computes it. */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** The engine's output quantization: round half up to 4 decimals. */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** A seeded, endless document feed in which every 7th document gets a
  * twin: the same text with one word appended. The twin arrives in the
  * same micro-batch as its original or in one of the next two. */
final class DocFeed(seed: Long, perEpoch: Int, wordsPerDoc: Int) {
  private val rng = new Random(seed)
  private val vocab = Array.fill(20000)(
    Iterator.fill(4 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString)
  private def text(): String =
    Iterator.fill(wordsPerDoc)(vocab(rng.nextInt(vocab.length))).mkString(" ")

  val twinOffset = 1000000000L
  private var nextId = 0L
  private var epoch = 0
  /** Twins not yet sent, by the epoch they are due in. */
  private val due = scala.collection.mutable.Map.empty[Int, ArrayBuffer[(Long, String)]]
  /** Texts of originals whose twin has not arrived yet. */
  private val open = scala.collection.mutable.Map.empty[Long, String]

  /** The next micro-batch, (doc_id, text) in arrival order, with the
    * planted (original, twin) pairs whose twin is in it and their texts. */
  def next(): (IndexedSeq[(Long, String)], Seq[((Long, Long), (String, String))]) = {
    val docs = ArrayBuffer.empty[(Long, String)]
    (0 until perEpoch).foreach { _ =>
      val id = nextId
      nextId += 1
      val t = text()
      docs += ((id, t))
      if (id % 7 == 0) {
        open(id) = t
        due.getOrElseUpdate(epoch + rng.nextInt(3), ArrayBuffer.empty) +=
          ((twinOffset + id, t + " " + vocab(rng.nextInt(vocab.length))))
      }
    }
    val twins = due.remove(epoch).getOrElse(ArrayBuffer.empty)
    docs ++= twins
    epoch += 1
    val planted = twins.toSeq.map { case (tid, tt) =>
      val orig = tid - twinOffset
      (orig, tid) -> (open.remove(orig).get, tt)
    }
    (docs.toIndexedSeq, planted)
  }
}

/** An independent re-derivation of the md5 MinHash signature the stream
  * operator uses (word 3-gram shingles, entry j = min over shingles of
  * md5("j|" + shingle)), to say which pairs it must emit. */
object MinhashCheck {
  def signature(text: String, nPerms: Int): Array[String] = {
    val w = text.toLowerCase.split(" ", -1)
    val shingles =
      if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet else Set(w.mkString(" "))
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(nPerms) { j =>
      val min = shingles.iterator
        .map(sh => md.digest(s"${j + 1}|$sh".getBytes("UTF-8")))
        .reduce((a, b) => if (java.util.Arrays.compareUnsigned(a, b) <= 0) a else b)
      min.map(b => f"${b & 0xff}%02x").mkString
    }
  }

  def agreement(a: Array[String], b: Array[String]): Int =
    a.indices.count(i => a(i) == b(i))

  /** Whether some band of `bandRows` entries agrees in full, which puts
    * the two documents in one bucket. */
  def shareBand(a: Array[String], b: Array[String], bandRows: Int): Boolean =
    a.indices.grouped(bandRows).exists(_.forall(i => a(i) == b(i)))
}
