package perfbench

import java.io.{File, PrintWriter}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/** A COO matrix held per vector: `coords(v)` ascending, `values(v)` aligned. */
final case class Matrix(coords: Array[Array[Int]], values: Array[Array[Double]]) {
  def vectors: Int = coords.length
  def cells: Long = coords.iterator.map(_.length.toLong).sum
}

/** A corpus of whitespace-joined lowercase documents, ids 0 until n. */
final case class Corpus(texts: Array[String], quality: Array[Int], clusterOf: Array[Int]) {
  def docs: Int = texts.length
}

/**
 * Seeded input generators. Every shape parameter is a fixed constant; only
 * the seed varies, so a new seed reproduces the old seed's work counts
 * (and the dedup router's kernel choice) closely, while the concrete rows
 * differ. Generation is plain Scala and writes parquet without Spark, so
 * it never warms the Spark code paths that set-up time measures.
 */
object Gen {

  // ---- cosine matrix shape (cosine_allpairs, cosine_serve) ----
  final case class MatrixShape(vectors: Int, nnzPerVector: Int, coords: Int,
      zipf: Double, maxValue: Int)

  /** Doc-term-like: Zipf-skewed coordinate popularity, so Σ C(df, 2) is
    * dominated by a head of hot coordinates, as in real term matrices. */
  val AllPairsShape = MatrixShape(vectors = 500, nnzPerVector = 16, coords = 4000,
    zipf = 0.9, maxValue = 9)
  /** Smaller: the model is refitted in every set-up round, and query
    * latency is per-query planning and job launch, not matrix size. */
  val ServeShape = MatrixShape(vectors = 300, nnzPerVector = 16, coords = 4000,
    zipf = 0.9, maxValue = 9)

  // ---- dedup corpus shape (dedup_corpus) ----
  final case class CorpusShape(docs: Int, vocab: Int, zipf: Double, minLen: Int,
      maxLen: Int, templates: Int, templateLen: Int, boilerplateShare: Double,
      dupShare: Double, editRate: Double)

  val CorpusShapeFixed = CorpusShape(docs = 500, vocab = 8000, zipf = 1.05,
    minLen = 30, maxLen = 90, templates = 2, templateLen = 14,
    boilerplateShare = 0.5, dupShare = 0.15, editRate = 0.08)

  /** Seed of one generator's stream. SplittableRandom steps its state by a
    * fixed gamma, so seeds must not differ by small multiples of it, or two
    * seeds would give the same stream shifted by a few draws. */
  def stream(seed: Long, tag: Long): Long = seed * 1000003L + tag

  def vectorId(v: Int): String = f"v$v%05d"
  def coordId(c: Int): String = f"c$c%05d"

  /** Inverse-CDF Zipf sampler over ranks 0 until n (rank 0 hottest). */
  private final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(rnd: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def permutation(n: Int, rnd: SplittableRandom): Array[Int] = {
    val p = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }

  def matrix(shape: MatrixShape, seed: Long): Matrix = {
    val rnd = new SplittableRandom(stream(seed, 11))
    val zipf = new Zipf(shape.coords, shape.zipf)
    // which coordinate id is hot is itself seed-drawn
    val rankToCoord = permutation(shape.coords, rnd)
    val coords = new Array[Array[Int]](shape.vectors)
    val values = new Array[Array[Double]](shape.vectors)
    for (v <- 0 until shape.vectors) {
      val picked = mutable.TreeSet.empty[Int]
      while (picked.size < shape.nnzPerVector) picked += rankToCoord(zipf.sample(rnd))
      coords(v) = picked.toArray
      values(v) = Array.fill(picked.size)((1 + rnd.nextInt(shape.maxValue)).toDouble)
    }
    Matrix(coords, values)
  }

  def corpus(shape: CorpusShape, seed: Long): Corpus = {
    val rnd = new SplittableRandom(stream(seed, 23))
    val words = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < shape.vocab) {
        val len = 2 + rnd.nextInt(9)
        seen += Array.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    val zipf = new Zipf(shape.vocab, shape.zipf)
    def word(): String = words(zipf.sample(rnd))
    val templates = Array.fill(shape.templates)(Array.fill(shape.templateLen)(word()))
    val toks = new Array[Array[String]](shape.docs)
    val clusterOf = Array.range(0, shape.docs)
    val originals = mutable.ArrayBuffer.empty[Int]
    for (d <- 0 until shape.docs) {
      if (d >= 20 && rnd.nextDouble() < shape.dupShare) {
        // planted near-duplicate: an edited copy of an earlier original,
        // so each planted cluster is one original and its copies
        val src = originals(rnd.nextInt(originals.size))
        clusterOf(d) = src
        val out = mutable.ArrayBuffer.empty[String]
        for (t <- toks(src)) {
          val u = rnd.nextDouble()
          if (u < shape.editRate) out += word()                   // substitute
          else if (u < shape.editRate * 4 / 3) ()                 // delete
          else if (u < shape.editRate * 5 / 3) { out += t; out += word() } // insert
          else out += t
        }
        while (out.length < shape.minLen) out += word()
        toks(d) = out.toArray
      } else {
        val len = shape.minLen + rnd.nextInt(shape.maxLen - shape.minLen + 1)
        val body = Array.fill(len)(word())
        originals += d
        toks(d) =
          if (rnd.nextDouble() < shape.boilerplateShare)
            templates(rnd.nextInt(shape.templates)) ++ body
          else body
      }
    }
    val quality = Array.fill(shape.docs)(rnd.nextInt(1000))
    Corpus(toks.map(_.mkString(" ")), quality, clusterOf)
  }

  // ---- parquet writers (no Spark) ----

  private def writer(file: File, schema: String) = {
    val conf = new Configuration()
    conf.set("fs.file.impl.disable.cache", "true")
    val path = new Path(file.getAbsolutePath)
    ExampleParquetWriter.builder(path)
      .withConf(conf)
      .withType(MessageTypeParser.parseMessageType(schema))
      .build()
  }

  def writeMatrix(m: Matrix, dir: File): Unit = {
    dir.mkdirs()
    val schema = "message coo { required binary y (STRING); required binary x (STRING); required double value; }"
    val w = writer(new File(dir, "part-00000.parquet"), schema)
    val f = new SimpleGroupFactory(MessageTypeParser.parseMessageType(schema))
    try {
      for (v <- 0 until m.vectors; i <- m.coords(v).indices)
        w.write(f.newGroup().append("y", vectorId(v)).append("x", coordId(m.coords(v)(i)))
          .append("value", m.values(v)(i)))
    } finally w.close()
  }

  def writeCorpus(c: Corpus, dir: File): Unit = {
    dir.mkdirs()
    val schema = "message docs { required int64 doc_id; required binary text (STRING); required int32 quality; }"
    val w = writer(new File(dir, "part-00000.parquet"), schema)
    val f = new SimpleGroupFactory(MessageTypeParser.parseMessageType(schema))
    try {
      for (d <- 0 until c.docs)
        w.write(f.newGroup().append("doc_id", d.toLong).append("text", c.texts(d))
          .append("quality", c.quality(d)))
    } finally w.close()
  }

  /** Writes `dir` once per (seed, shape): a `_DONE` marker makes the cache
    * safe against a run killed mid-write. */
  def cached(dir: File)(write: File => Unit): Unit =
    if (!new File(dir, "_DONE").isFile) {
      val tmp = new File(dir.getPath + ".tmp")
      Files.deleteRecursively(tmp)
      write(tmp)
      Files.deleteRecursively(dir)
      if (!tmp.renameTo(dir)) sys.error(s"cannot move $tmp to $dir")
      new PrintWriter(new File(dir, "_DONE")).close()
    }
}

object Files {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
