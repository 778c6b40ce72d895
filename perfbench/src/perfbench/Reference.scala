package perfbench

import scala.collection.mutable

/**
 * Independent answers, in plain Scala with no Spark, for every output the
 * benchmark checks. They follow the operators' documented contracts
 * (graft.core.CosineAnalysis / MatrixModel, graft.ext.Dedup), not their
 * plans: per-pair cosine by direct summation, top-k by sorting, Jaccard by
 * set intersection, groups by union-find.
 */
object Reference {

  /** The repo's 1e-6 grid snap (floor(x·1e6 + 0.50001) / 1e6). */
  def snap(x: Double): Double = math.floor(x * 1e6 + 0.50001) / 1e6
}

/** Cosine over a max-normalized matrix; vector v has id Gen.vectorId(v), so
  * id order is index order and the canonical pair is (larger, smaller). */
final class CosineRef(m: Matrix) {
  val vectors: Int = m.vectors
  /** cell / its vector's max — the `normalize` contract */
  private val nv: Array[Array[Double]] = m.values.map { vs =>
    val mx = vs.max; vs.map(_ / mx)
  }
  private val fullNorm: Array[Double] = nv.map(a => math.sqrt(a.map(x => x * x).sum))
  /** postings per coordinate, ascending vector index */
  private val postings: Map[Int, Array[(Int, Double)]] = {
    val b = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Int, Double)]]
    for (v <- 0 until vectors; i <- m.coords(v).indices)
      b.getOrElseUpdate(m.coords(v)(i), mutable.ArrayBuffer.empty) += ((v, nv(v)(i)))
    b.view.mapValues(_.toArray).toMap
  }

  /** Σ over coordinates of C(df, 2): the aligned-pair table's row count. */
  val pairSurface: Long = postings.valuesIterator.map(p => p.length.toLong * (p.length - 1) / 2).sum
  val maxDf: Long = postings.valuesIterator.map(_.length.toLong).max

  /** Accumulates, for vector v against every u in `us`, the shared-support
    * dot product and both intersection-restricted squared norms. */
  private def accumulate(v: Int, keep: Int => Boolean,
      num: Array[Double], sq0: Array[Double], sq1: Array[Double],
      touched: mutable.ArrayBuffer[Int]): Unit =
    for (i <- m.coords(v).indices; (u, b) <- postings(m.coords(v)(i)) if u != v && keep(u)) {
      val a = nv(v)(i)
      if (sq0(u) == 0.0) touched += u
      num(u) += a * b; sq0(u) += a * a; sq1(u) += b * b
    }

  /** Sparse (intersection-restricted) cosine of every co-occurring pair,
    * keyed by pairKey(vector0, vector1) with vector0 > vector1. */
  def sparseAllPairs(): mutable.LongMap[Double] = {
    val out = mutable.LongMap.empty[Double]
    val num = new Array[Double](vectors); val sq0 = new Array[Double](vectors)
    val sq1 = new Array[Double](vectors)
    val touched = mutable.ArrayBuffer.empty[Int]
    for (v <- 0 until vectors) {
      touched.clear()
      accumulate(v, _ < v, num, sq0, sq1, touched)
      for (u <- touched) {
        out(pairKey(v, u)) = num(u) / (math.sqrt(sq0(u)) * math.sqrt(sq1(u)))
        num(u) = 0.0; sq0(u) = 0.0; sq1(u) = 0.0
      }
    }
    out
  }

  def pairKey(v0: Int, v1: Int): Long = v0.toLong * vectors + v1

  /** Dense (full-norm) cosine of one pair, by a merge over sorted coordinates. */
  def dense(a: Int, b: Int): Double = {
    val ca = m.coords(a); val cb = m.coords(b)
    var i = 0; var j = 0; var dot = 0.0
    while (i < ca.length && j < cb.length) {
      if (ca(i) == cb(j)) { dot += nv(a)(i) * nv(b)(j); i += 1; j += 1 }
      else if (ca(i) < cb(j)) i += 1 else j += 1
    }
    dot / (fullNorm(a) * fullNorm(b))
  }

  /** Every vector's dense cosine to every other vector, as exact values;
    * pairs with no shared coordinate have similarity 0. */
  def denseRow(v: Int): Array[Double] = {
    val num = new Array[Double](vectors); val sq0 = new Array[Double](vectors)
    val sq1 = new Array[Double](vectors)
    accumulate(v, _ => true, num, sq0, sq1, mutable.ArrayBuffer.empty)
    Array.tabulate(vectors)(u => if (u == v) Double.NaN else num(u) / (fullNorm(v) * fullNorm(u)))
  }
}

/** Jaccard over each document's distinct word-trigram shingle set, with the
  * shingle hash of the Dedup contract (graft.ext.TextHash: token value from
  * length and three probe characters, trigram folded mod 1e9+7). The sets
  * are the ones the kernel Dedup.autoDedupPairs routes to sees: under
  * prefix_dfcap, shingles in more than `cap` documents are dropped first. */
final class DedupRef(c: Corpus, val minJaccard: Double, cap: Long, budgetPerDoc: Long) {
  private val M = 1000000007L

  private def tokenValue(t: String): Long =
    t.length.toLong * 1000003L + t.charAt(0).toLong * 1009L +
      t.charAt(t.length - 1).toLong * 31L + t.charAt((t.length + 1) / 2 - 1).toLong

  /** distinct shingle hashes per document, ascending */
  private val raw: Array[Array[Long]] = c.texts.map { text =>
    val tv = text.split("\\s+").filter(_.nonEmpty).map(tokenValue)
    if (tv.length < 3) Array.emptyLongArray
    else (0 until tv.length - 2).map(i => (((tv(i) * 31 + tv(i + 1)) % M) * 31 + tv(i + 2)) % M)
      .distinct.sorted.toArray
  }

  private def dfOf(sets: Array[Array[Long]]): mutable.LongMap[Int] = {
    val d = mutable.LongMap.empty[Int]
    for (s <- sets; h <- s) d(h) = d.getOrElse(h, 0) + 1
    d
  }
  private val rawDf = dfOf(raw)
  val postings: Long = raw.iterator.map(_.length.toLong).sum
  val pairSurface: Long = rawDf.valuesIterator.map(n => n.toLong * (n - 1) / 2).sum
  val maxDf: Long = rawDf.valuesIterator.max.toLong

  /** The rule ladder of Dedup.autoRoute, from exact counts: exact if
    * Σ C(df, 2) fits the per-document budget, else prefix_dfcap if the
    * df-capped surface fits and keeps half the postings, else
    * minhash_banded. */
  val budget: Long = raw.count(_.nonEmpty).toLong * budgetPerDoc
  private val keptDf = rawDf.valuesIterator.filter(_ <= cap).map(_.toLong).toSeq
  val cappedSurface: Long = keptDf.map(n => n * (n - 1) / 2).sum
  val retainedPostings: Long = keptDf.sum
  val kernel: String =
    if (pairSurface <= budget) "exact"
    else if (cappedSurface <= budget && retainedPostings * 2 >= postings) "prefix_dfcap"
    else "minhash_banded"

  val shingles: Array[Array[Long]] =
    if (kernel == "prefix_dfcap") raw.map(_.filter(h => rawDf(h) <= cap)) else raw
  private val df = dfOf(shingles)

  /** Jaccard exactly as the engine computes it: i / (n0 + n1 - i) in double. */
  def jaccard(a: Int, b: Int): Double = {
    val x = shingles(a); val y = shingles(b)
    var i = 0; var j = 0; var inter = 0L
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1 else j += 1
    }
    inter.toDouble / (x.length + y.length - inter)
  }

  /** Every pair (doc0 < doc1) with Jaccard ≥ minJaccard. Exhaustive by the
    * prefix-filter lemma: such a pair shares a shingle among each side's
    * first |x| − ⌊t·|x|⌋ + 1 shingles in one global (rarest-first) order. */
  lazy val truePairs: Map[(Int, Int), Double] = {
    val index = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
    val found = mutable.HashMap.empty[(Int, Int), Double]
    for (d <- shingles.indices) {
      val s = shingles(d).sortBy(h => (df(h), h))
      val p = math.min(s.length, s.length - math.floor(minJaccard * s.length).toInt + 1)
      val cands = mutable.HashSet.empty[Int]
      for (k <- 0 until p) index.get(s(k)).foreach(cands ++= _)
      for (o <- cands) {
        val j = jaccard(o, d)
        if (j >= minJaccard) found((o, d)) = j
      }
      for (k <- 0 until p) index.getOrElseUpdate(s(k), mutable.ArrayBuffer.empty) += d
    }
    found.toMap
  }

  /** component minimum of every document under the given pair edges */
  def components(pairs: Iterable[(Int, Int)]): Array[Int] = {
    val parent = Array.range(0, c.docs)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); parent(x) = r; r }
    for ((a, b) <- pairs) {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    Array.tabulate(c.docs)(find)
  }

  /** Per group: the highest-quality member, ties to the smaller id. */
  def keptDocs(groups: Array[Int]): Map[Int, Int] =
    groups.indices.groupBy(groups(_)).map { case (rep, members) =>
      members.minBy(d => (-c.quality(d), d)) -> rep
    }
}
