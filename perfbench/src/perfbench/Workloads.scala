package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{CosineAnalysis, FactorMod, FactorNormalizedValue, MatrixElement, MatrixModel,
  NormalizedElement}
import graft.ext.Dedup
import graft.sources.Sources

/**
 * One benchmark workload. `op` is the timed unit (a batch job repetition or
 * one query); `check` compares what that op produced, read back from its
 * sink, with the plain-Scala reference and returns an error or None.
 */
trait Workload {
  /** generates the seeded inputs (cached per seed) and the reference answers */
  def prepare(): Unit
  /** exact input properties, reported as input.* per-layer metrics */
  def manifest: Map[String, Double]
  /** facts about the input that are not metrics (the router's predicted kernel) */
  def notes: Map[String, String] = Map.empty
  /** loads the inputs into a fresh session */
  def setup(spark: SparkSession): Unit
  /** Untimed, checked ops that warm the JIT and Spark's caches (and, to
    * serve, the model fit, traced when a tracer is given): at least two,
    * for at least `warmUpSeconds`. Op latency keeps falling for several
    * ops after the first; the first timed op ran 10-20% slow after only
    * two warm-up ops. */
  def warmUp(spark: SparkSession, tr: Option[Tracer]): Unit = {
    val start = System.nanoTime()
    var w = -1
    while (w >= -2 || (System.nanoTime() - start) / 1e9 < warmUpSeconds) {
      op(spark, w)
      check(spark, w).foreach(e => sys.error(s"warm-up output is wrong: $e"))
      w -= 1
    }
  }
  def warmUpSeconds: Double
  def op(spark: SparkSession, i: Int): Unit
  def tracedOp(spark: SparkSession, tr: Tracer, i: Int): Unit
  def check(spark: SparkSession, i: Int): Option[String]
  /** answer rows the last checked op got right, over the reference's */
  def lastRecall: Double
  /** input rows one op consumes (cells or documents) */
  def inputRows: Long
  def minOps: Int
}

object Workload {
  /** `dir` holds the per-seed input cache; `runDir` this run's outputs. */
  def apply(name: String, seed: Long, dir: File, runDir: File): Workload = name match {
    case "cosine_allpairs" => new CosineAllPairs(seed, dir, runDir)
    case "cosine_serve" => new CosineServe(seed, dir, runDir)
    case "dedup_corpus" => new DedupCorpus(seed, dir, runDir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Reads a whole input through the given reader and checks its row count
    * against the generator's. */
  def load(df: DataFrame, rows: Long): Unit = {
    val n = df.collect().length
    if (n != rows) sys.error(s"input has $n rows, generated $rows")
  }

  /** Span boundary: write the output with the repo's sink and read it back,
    * so downstream layers start from stored data with file statistics. */
  def materialize[T: Encoder](spark: SparkSession, ds: Dataset[T], dir: File): Dataset[T] = {
    Sources.writeParquet(ds.toDF(), dir.getPath)
    spark.read.parquet(dir.getPath).as[T]
  }

  def idOf(s: String): Int = s.substring(1).toInt
}

/** Input matrix shared by both cosine workloads. */
abstract class CosineWorkload(seed: Long, dir: File, runDir: File, shape: Gen.MatrixShape)
    extends Workload {
  protected var matrix: Matrix = _
  protected var ref: CosineRef = _
  protected val inputDir = new File(dir, s"matrix-${shape.productIterator.mkString("_")}-seed$seed")
  protected val outDir = new File(runDir, "out")

  def prepare(): Unit = {
    matrix = Gen.matrix(shape, seed)
    Gen.cached(inputDir)(d => Gen.writeMatrix(matrix, d))
    ref = new CosineRef(matrix)
  }
  def manifest: Map[String, Double] = Map(
    "input.cells" -> matrix.cells.toDouble,
    "input.docs" -> matrix.vectors.toDouble,
    "input.pair_surface" -> ref.pairSurface.toDouble,
    "input.max_df" -> ref.maxDf.toDouble,
    "input.planted_pairs" -> 0.0)
  def inputRows: Long = matrix.cells

  protected def readMatrix(spark: SparkSession): Dataset[MatrixElement] =
    Sources.readTriplesParquet(spark, inputDir.getPath)
}

/**
 * cosine_allpairs: the paper's headline batch computation. One op = sparse
 * all-pairs similarity plus dense top-k, both written with the repo's
 * parquet sink. Time goes to the Σ C(df, 2) alignment shuffle and the pair
 * aggregates.
 */
final class CosineAllPairs(seed: Long, dir: File, runDir: File)
    extends CosineWorkload(seed, dir, runDir, Gen.AllPairsShape) {
  val K = 10
  def warmUpSeconds: Double = 12
  private var sparseRef: mutable.LongMap[Double] = _
  private var denseRows: Array[Array[Double]] = _
  private var recall = 0.0
  def minOps: Int = 3
  def lastRecall: Double = recall

  override def prepare(): Unit = {
    super.prepare()
    sparseRef = ref.sparseAllPairs()
    denseRows = Array.tabulate(ref.vectors)(ref.denseRow)
  }

  private def sparseOut = new File(outDir, "similarity")
  private def topOut = new File(outDir, "topk")

  def setup(spark: SparkSession): Unit =
    Workload.load(readMatrix(spark).toDF(), matrix.cells)

  def op(spark: SparkSession, i: Int): Unit = {
    val m = readMatrix(spark)
    val ca = new CosineAnalysis(spark)
    Sources.writeParquet(ca.fit(m, isSparse = true).allSimilarityValue.toDF(), sparseOut.getPath)
    Sources.writeParquet(ca.fit(m, isSparse = false).topSimilar(K), topOut.getPath)
  }

  /** The same calls as `op`, with each layer's output materialized at its
    * span boundary. Sparse pair norms are not a separate step: the sparse
    * similarity computes them in its own aggregate, so only the dense chain
    * has a core.pairMods span. */
  def tracedOp(spark: SparkSession, tr: Tracer, i: Int): Unit = {
    import spark.implicits._
    val tmp = new File(outDir, "trace")
    def mat[T: Encoder](name: String, ds: Dataset[T]): Dataset[T] =
      Workload.materialize(spark, ds, new File(tmp, name))
    var matBack: Dataset[MatrixElement] = null
    tr.span("sources.read")(readMatrix(spark)) { m => matBack = mat("m", m); -1 }
    val ca = new CosineAnalysis(spark)
    for (isSparse <- Seq(true, false)) {
      var n: Dataset[NormalizedElement] = null
      tr.span("core.normalize")(ca.normalize(matBack)) { x => n = mat("n", x); -1 }
      var p: Dataset[FactorNormalizedValue] = null
      tr.span("core.alignedPairs")(ca.alignedPairs(n)) { x => p = mat("p", x); -1 }
      if (isSparse) {
        val model = new MatrixModel(spark, p, spark.emptyDataset[FactorMod], isSparse = true)
        tr.span("core.allSimilarityValue")(model.allSimilarityValue.toDF()) { df =>
          tr.span("sources.write")(df)(d => { Sources.writeParquet(d, sparseOut.getPath); -1 }); -1
        }
      } else {
        var mods: Dataset[FactorMod] = null
        tr.span("core.pairMods")(ca.pairModsDense(ca.vectorMods(n))) { x =>
          mods = mat("mods", x); -1
        }
        val model = new MatrixModel(spark, p, mods, isSparse = false)
        tr.span("core.topSimilar")(model.topSimilar(K)) { df =>
          tr.span("sources.write")(df)(d => { Sources.writeParquet(d, topOut.getPath); -1 }); -1
        }
      }
    }
  }

  def check(spark: SparkSession, i: Int): Option[String] = {
    recall = 0.0
    val sims = spark.read.parquet(sparseOut.getPath)
      .select("vector0", "vector1", "similarity_value").collect()
    val seen = mutable.LongMap.empty[Boolean]
    var good = 0L
    val errs = mutable.ArrayBuffer.empty[String]
    for (r <- sims) {
      val k = ref.pairKey(Workload.idOf(r.getString(0)), Workload.idOf(r.getString(1)))
      sparseRef.get(k) match {
        case Some(v) if math.abs(v - r.getDouble(2)) <= 1e-9 && !seen.contains(k) =>
          good += 1; seen(k) = true
        case other => if (errs.size < 3) errs += s"similarity row $r vs reference $other"
      }
    }
    if (sims.length != sparseRef.size)
      errs += s"similarity rows ${sims.length} != reference ${sparseRef.size}"
    val top = spark.read.parquet(topOut.getPath)
      .select("vector", "rank", "neighbor", "similarity_value").collect()
      .map(r => (Workload.idOf(r.getString(0)), r.getLong(1), Workload.idOf(r.getString(2)), r.getDouble(3)))
    val topErr = checkTopK(top)
    errs ++= topErr
    recall = good.toDouble / sparseRef.size * (if (topErr.isEmpty) 1.0 else 0.0)
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }

  /**
   * Dense top-k against the reference on the 1e-6 grid, with the repo's tie
   * order (similarity desc, neighbor asc). Two exact values that sit within
   * one grid step of a rounding midpoint may snap either way under a
   * different summation order, so values may differ by one grid step and
   * the membership test allows that slack at the k-th value; everything
   * else must match.
   */
  private def checkTopK(rows: Array[(Int, Long, Int, Double)]): Option[String] = {
    val tol = 1.5e-6
    val byV = rows.groupBy(_._1)
    val want = math.min(K, ref.vectors - 1)
    if (byV.size != ref.vectors) return Some(s"top-k covers ${byV.size} of ${ref.vectors} vectors")
    for (v <- 0 until ref.vectors) {
      val r = byV(v).sortBy(_._2)
      val exact = denseRows(v)
      if (r.map(_._2).toSeq != (1L to want.toLong)) return Some(s"vector $v ranks ${r.map(_._2).mkString(",")}")
      if (r.map(_._3).distinct.length != want || r.exists(x => x._3 == v))
        return Some(s"vector $v neighbors ${r.map(_._3).mkString(",")}")
      for (x <- r if math.abs(x._4 - Reference.snap(exact(x._3))) > tol)
        return Some(s"vector $v neighbor ${x._3} similarity ${x._4} vs ${exact(x._3)}")
      for (Seq(a, b) <- r.toSeq.sliding(2) if a._4 < b._4 || (a._4 == b._4 && a._3 > b._3))
        return Some(s"vector $v order ${a} before ${b}")
      val ranked = exact.indices.filter(_ != v).map(u => Reference.snap(exact(u))).sorted(Ordering[Double].reverse)
      val kth = ranked(want - 1)
      val got = r.map(_._3).toSet
      val missing = exact.indices.filter(u => u != v && Reference.snap(exact(u)) > kth + tol && !got(u))
      if (missing.nonEmpty) return Some(s"vector $v misses neighbors ${missing.take(3).mkString(",")}")
      if (r.exists(x => Reference.snap(exact(x._3)) < kth - tol))
        return Some(s"vector $v holds a neighbor below the k-th similarity $kth")
    }
    None
  }
}

/**
 * cosine_serve: the reference's interactive pattern. The dense model is
 * fitted, persisted and materialized once before the timed loop (fit_s,
 * untimed by op_p50_ms); one closed-loop client
 * then issues seed-drawn `similarity(ids)` queries and collects each
 * result. Subset sizes fall on both sides of MatrixModel.IsinMaxSize, so
 * both the IN-list and the broadcast semi-join filters run.
 */
final class CosineServe(seed: Long, dir: File, runDir: File)
    extends CosineWorkload(seed, dir, runDir, Gen.ServeShape) {
  /** share of queries above IsinMaxSize (the semi-join filter) */
  val LargeShare = 0.3
  private var model: MatrixModel = _
  private var result: Array[(Int, Int, Double)] = _
  private var recall = 0.0
  private val queryRnd = new Random(Gen.stream(seed, 7))
  private val queries = mutable.ArrayBuffer.empty[Seq[Int]]
  /** queries keep getting faster for seconds after the first few (JIT) */
  def warmUpSeconds: Double = 4
  var fitSeconds = 0.0
  def minOps: Int = 30
  def lastRecall: Double = recall

  /** The i-th query of the seeded sequence; warm-up queries (i < 0) come
    * from their own stream so the timed sequence is the same in every run. */
  private def query(i: Int): Seq[Int] =
    if (i < 0) draw(new Random(Gen.stream(seed, 1000 - i)))
    else {
      while (queries.size <= i) queries += draw(queryRnd)
      queries(i)
    }

  private def draw(rnd: Random): Seq[Int] = {
    val size =
      if (rnd.nextDouble() < LargeShare) 101 + rnd.nextInt(60)
      else 2 + rnd.nextInt(99)
    rnd.shuffle((0 until ref.vectors).toVector).take(size).sorted
  }

  def setup(spark: SparkSession): Unit =
    Workload.load(readMatrix(spark).toDF(), matrix.cells)

  /** Fits, persists and materializes the model (fit_s), then runs
    * warm-up queries for warmUpSeconds. */
  override def warmUp(spark: SparkSession, tr: Option[Tracer]): Unit = {
    import spark.implicits._
    val ca = new CosineAnalysis(spark)
    val t0 = System.nanoTime()
    model = tr match {
      case None =>
        val m = ca.fit(readMatrix(spark), isSparse = false).persist()
        m.factorNormalizedValue.count(); m.factorMod.count()
        m
      case Some(t) =>
        t.rep = -1
        var fitted: MatrixModel = null
        t.span("setup")(()) { _ =>
          var mat: Dataset[MatrixElement] = null
          t.span("sources.read")(readMatrix(spark)) { m =>
            mat = Workload.materialize(spark, m, new File(outDir, "trace/m")); -1
          }
          fitted = t.span("core.persist")(ca.fit(mat, isSparse = false).persist()) { m =>
            m.factorNormalizedValue.count() + m.factorMod.count()
          }
          -1
        }
        t.rep = 0
        fitted
    }
    fitSeconds = (System.nanoTime() - t0) / 1e9
    val start = System.nanoTime()
    var w = -1
    while (w >= -5 || (System.nanoTime() - start) / 1e9 < warmUpSeconds) {
      op(spark, w)
      check(spark, w).foreach(e => sys.error(s"warm-up query is wrong: $e"))
      w -= 1
    }
  }

  def op(spark: SparkSession, i: Int): Unit =
    result = model.similarity(query(i).map(Gen.vectorId)).collect()
      .map(s => (Workload.idOf(s.vector0), Workload.idOf(s.vector1), s.similarity_value))

  def tracedOp(spark: SparkSession, tr: Tracer, i: Int): Unit =
    tr.span("core.similarity")(model.similarity(query(i).map(Gen.vectorId))) { ds =>
      result = ds.collect()
        .map(s => (Workload.idOf(s.vector0), Workload.idOf(s.vector1), s.similarity_value))
      result.length.toLong
    }

  def check(spark: SparkSession, i: Int): Option[String] = {
    val ids = query(i)
    val expected = ids.length.toLong * (ids.length - 1) / 2
    val seen = mutable.HashSet.empty[(Int, Int)]
    var good = 0L
    var err: Option[String] = None
    for ((a, b, s) <- result) {
      val inSubset = ids.contains(a) && ids.contains(b)
      if (inSubset && a > b && seen.add((a, b)) && math.abs(ref.dense(a, b) - s) <= 1e-9) good += 1
      else if (err.isEmpty) err = Some(s"query $i row ($a, $b, $s) vs reference ${ref.dense(a, b)}")
    }
    if (result.length != expected && err.isEmpty)
      err = Some(s"query $i returned ${result.length} rows, expected $expected")
    recall = good.toDouble / expected
    err
  }
}

/**
 * dedup_corpus: the LLM-data path. One op = Dedup.autoDedupPairs (pairs
 * written), Dedup.dupGroupsStars over the written pairs, Dedup.keepBest by
 * the corpus's quality score, and the kept corpus written. Time goes to
 * construction-time jobs, many small star-round jobs and the router.
 */
final class DedupCorpus(seed: Long, dir: File, runDir: File) extends Workload {
  val MinJaccard = 0.3
  def warmUpSeconds: Double = 18
  private val shape = Gen.CorpusShapeFixed
  private val inputDir = new File(dir, s"corpus-${shape.productIterator.mkString("_")}-seed$seed")
  private val outDir = new File(runDir, "out")
  private var corpus: Corpus = _
  private var ref: DedupRef = _
  private var recall = 0.0
  def minOps: Int = 3
  def lastRecall: Double = recall
  def inputRows: Long = corpus.docs

  def prepare(): Unit = {
    corpus = Gen.corpus(shape, seed)
    Gen.cached(inputDir)(d => Gen.writeCorpus(corpus, d))
    ref = new DedupRef(corpus, MinJaccard, Dedup.AutoRouteMaxDf, Dedup.AutoRouteBudgetPerDoc)
    ref.truePairs
  }

  def manifest: Map[String, Double] = Map(
    "input.cells" -> ref.postings.toDouble,
    "input.docs" -> corpus.docs.toDouble,
    "input.pair_surface" -> ref.pairSurface.toDouble,
    "input.max_df" -> ref.maxDf.toDouble,
    "input.planted_pairs" -> corpus.clusterOf.groupBy(identity).values
      .map(g => g.length.toLong * (g.length - 1) / 2).sum.toDouble)

  override def notes: Map[String, String] = Map(
    "router_kernel" -> ref.kernel,
    "router_budget_pairs" -> ref.budget.toString,
    "router_capped_pairs" -> ref.cappedSurface.toString,
    "router_retained_postings" -> ref.retainedPostings.toString,
    "postings" -> ref.postings.toString,
    "true_pairs" -> ref.truePairs.size.toString)

  private def pairsOut = new File(outDir, "pairs")
  private def keptOut = new File(outDir, "kept")
  private def readDocs(spark: SparkSession): DataFrame = spark.read.parquet(inputDir.getPath)

  def setup(spark: SparkSession): Unit =
    Workload.load(readDocs(spark), corpus.docs)

  private def keptCorpus(groups: DataFrame, docs: DataFrame): DataFrame =
    Dedup.keepBest(groups, docs, "doc_id", "quality")
      .where(col("kept") === 1)
      .join(docs.select("doc_id", "text"), "doc_id")
      .select("doc_id", "group_rep", "text")

  def op(spark: SparkSession, i: Int): Unit = {
    val docs = readDocs(spark)
    Sources.writeParquet(Dedup.autoDedupPairs(docs, "doc_id", "text", MinJaccard), pairsOut.getPath)
    val groups = Dedup.dupGroupsStars(docs, spark.read.parquet(pairsOut.getPath), "doc_id")
    Sources.writeParquet(keptCorpus(groups, docs), keptOut.getPath)
  }

  def tracedOp(spark: SparkSession, tr: Tracer, i: Int): Unit = {
    val tmp = new File(outDir, "trace")
    var docs: DataFrame = null
    tr.span("sources.read")(readDocs(spark)) { d =>
      Sources.writeParquet(d, new File(tmp, "docs").getPath)
      docs = spark.read.parquet(new File(tmp, "docs").getPath); -1
    }
    tr.span("ext.Dedup.autoDedupPairs")(Dedup.autoDedupPairs(docs, "doc_id", "text", MinJaccard)) { p =>
      tr.span("sources.write")(p)(x => { Sources.writeParquet(x, pairsOut.getPath); -1 }); -1
    }
    var groups: DataFrame = null
    tr.span("ext.Dedup.dupGroupsStars")(
        Dedup.dupGroupsStars(docs, spark.read.parquet(pairsOut.getPath), "doc_id")) { g =>
      Sources.writeParquet(g, new File(tmp, "groups").getPath)
      groups = spark.read.parquet(new File(tmp, "groups").getPath); -1
    }
    tr.span("ext.Dedup.keepBest")(keptCorpus(groups, docs)) { k =>
      tr.span("sources.write")(k)(x => { Sources.writeParquet(x, keptOut.getPath); -1 }); -1
    }
  }

  def check(spark: SparkSession, i: Int): Option[String] = {
    recall = 0.0
    val pairs = spark.read.parquet(pairsOut.getPath).select("doc0", "doc1", "jaccard").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
    val seen = mutable.HashSet.empty[(Int, Int)]
    for ((a, b, j) <- pairs) {
      if (!(a < b) || !seen.add((a, b))) return Some(s"pair ($a, $b) not canonical or repeated")
      val want = ref.jaccard(a, b)
      if (j != want) return Some(s"pair ($a, $b) jaccard $j, reference $want")
      if (j < MinJaccard) return Some(s"pair ($a, $b) jaccard $j below $MinJaccard")
    }
    val groups = ref.components(seen)
    val wantKept = ref.keptDocs(groups)
    val kept = spark.read.parquet(keptOut.getPath).select("doc_id", "group_rep", "text").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getString(2)))
    if (kept.length != wantKept.size)
      return Some(s"kept ${kept.length} documents, reference keeps ${wantKept.size}")
    for ((d, g, t) <- kept) {
      if (!wantKept.get(d).contains(g)) return Some(s"kept document $d in group $g, reference ${wantKept.get(d)}")
      if (t != corpus.texts(d)) return Some(s"kept document $d text differs from the input")
    }
    recall = if (ref.truePairs.isEmpty) 1.0 else seen.count(ref.truePairs.contains).toDouble / ref.truePairs.size
    None
  }
}
