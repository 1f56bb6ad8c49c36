package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shape of a seeded vector corpus: a Gaussian mixture whose cluster
  * sizes follow a Zipf law, plus a share of exact duplicates of earlier
  * rows (work for the fits' bit-exact dedup). Real embeddings cluster;
  * uniform vectors are the worst case for every tree backend. */
final case class MixtureSpec(
    rows: Int, dim: Int, clusters: Int, zipfS: Double, dupShare: Double,
    centerStd: Double = 1.0, clusterStd: Double = 0.25)

/** Shape of a seeded document stream. Tokens are drawn from a Zipf
  * vocabulary; a near-duplicate is an earlier document with a few tokens
  * replaced, so the MinHash admission gate should reject it. */
final case class DocSpec(
    vocab: Int, zipfS: Double, minLen: Int, maxLen: Int,
    nearDupShare: Double, nearDupEdits: Int,
    editShare: Double, deleteShare: Double)

/** One upsert: `text == null` is a delete marker (the engine's contract). */
final case class Upsert(id: Long, text: String, vec: Array[Float])

/** Input generation. Every stream has its own RNG derived from the
  * workload seed, so changing one input's size never shifts another. */
final class Inputs(seed: Long, mix: MixtureSpec) {
  private def rng(stream: Int) = new Random(seed * 1000003L + stream)

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _ / tot).tail
  }

  private def pick(cdf: Array[Double], r: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private val centers: Array[Array[Float]] = {
    val r = rng(1)
    Array.fill(mix.clusters)(Array.fill(mix.dim)((r.nextGaussian() * mix.centerStd).toFloat))
  }
  private val clusterCdf = zipfCdf(mix.clusters, mix.zipfS)

  /** One fresh draw from the mixture. */
  def draw(r: Random): Array[Float] = {
    val c = centers(pick(clusterCdf, r))
    Array.tabulate(mix.dim)(i => (c(i) + r.nextGaussian() * mix.clusterStd).toFloat)
  }

  /** The corpus: ids 0..rows-1; `dupShare` of rows repeat an earlier
    * row bit for bit under their own id. */
  lazy val corpus: Array[Array[Float]] = {
    val r = rng(2)
    val out = new Array[Array[Float]](mix.rows)
    for (i <- 0 until mix.rows)
      out(i) = if (i > 0 && r.nextDouble() < mix.dupShare) out(r.nextInt(i)) else draw(r)
    out
  }

  /** Queries held out of the corpus, from the same mixture. */
  def queries(n: Int): Array[Array[Float]] = {
    val r = rng(3)
    Array.fill(n)(draw(r))
  }
}

object Inputs {
  /** Vectors as an (idCol, vecCol) frame, id = position, cached and counted. */
  def cached(spark: SparkSession, vecs: Seq[Array[Float]], idCol: String, vecCol: String): DataFrame = {
    import spark.implicits._
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF(idCol, vecCol).cache()
    df.count()
    df
  }
}

/** A seeded document stream over a Zipf vocabulary, with a 64-dim
  * embedding per document drawn from the store's mixture. */
final class DocStream(seed: Long, spec: DocSpec, vectors: Inputs) {
  private val r = new Random(seed * 1000003L + 4)
  private val vr = new Random(seed * 1000003L + 5)
  private val vocabCdf = {
    val w = Array.tabulate(spec.vocab)(i => 1.0 / math.pow(i + 1, spec.zipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _ / tot).tail
  }
  private var nextId = 0L
  /** Every text ever generated, so near-duplicates can copy any of them. */
  private val history = mutable.ArrayBuffer.empty[Array[String]]

  private def word(): String = {
    val i = java.util.Arrays.binarySearch(vocabCdf, r.nextDouble())
    "w" + Integer.toString(math.min(if (i >= 0) i else -i - 1, spec.vocab - 1), 36)
  }

  private def fresh(): Array[String] =
    Array.fill(spec.minLen + r.nextInt(spec.maxLen - spec.minLen + 1))(word())

  private def nearDup(): Array[String] = {
    val t = history(r.nextInt(history.length)).clone()
    for (_ <- 0 until spec.nearDupEdits) t(r.nextInt(t.length)) = word()
    t
  }

  /** Query terms: three draws from the same vocabulary. */
  def queryTerms(): Seq[String] = Seq.fill(3)(word()).distinct

  /** `n` new documents; a `nearDupShare` of them near-duplicate earlier
    * ones (never in the first wave, which has no history yet). */
  def adds(n: Int): Seq[Upsert] = Seq.fill(n) {
    val t = if (history.nonEmpty && r.nextDouble() < spec.nearDupShare) nearDup() else fresh()
    history += t
    nextId += 1
    Upsert(nextId - 1, t.mkString(" "), vectors.draw(vr))
  }

  /** One churn wave over the live ids: `adds` new documents, then edits
    * (fresh text and embedding under a live id) and deletes of distinct
    * live ids, at the spec's shares of the live set. */
  def wave(adds: Int, live: Seq[Long]): Seq[Upsert] = {
    val shuffled = r.shuffle(live.sorted)
    val nEdit = math.round(live.size * spec.editShare).toInt
    val nDel = math.round(live.size * spec.deleteShare).toInt
    val edits = shuffled.take(nEdit).map { id =>
      val t = fresh(); history += t
      Upsert(id, t.mkString(" "), vectors.draw(vr))
    }
    val dels = shuffled.slice(nEdit, nEdit + nDel).map(id => Upsert(id, null, null))
    this.adds(adds) ++ edits ++ dels
  }
}
