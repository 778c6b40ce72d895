package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: one workload, one seed, one JVM.
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *                  --work-dir DIR --run-dir DIR --cores C --result FILE
 *
 * Untraced (--trace 0): SetupRounds set-ups, each a fresh Spark session,
 * the input load and a checked warm-up; then untraced ops for S seconds
 * (at least the workload's minimum count), each checked against the
 * reference. Traced (--trace 1): one set-up, then S/2 seconds untraced and
 * S/2 seconds traced, reporting per-layer metrics and the difference of the
 * two medians as the tracing overhead.
 *
 * The result file holds the contract line's fields plus every named metric;
 * the human-readable listing goes to stdout.
 */
object Main {
  val SetupRounds = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      workDir: File, runDir: File, cores: Int, result: File)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, trace,
      new File(need("work-dir")), new File(need("run-dir")), need("cores").toInt,
      new File(need("result")))
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.length - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def session(o: Opts): SparkSession =
    graft.SparkSessions.local(s"perfbench-${o.workload}", o.cores.toString)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(o.seconds > 0, "--seconds must be positive")
    val jvmStartS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val wl = Workload(o.workload, o.seed, new File(o.workDir, "inputs"), o.runDir)
    val tPrep = System.nanoTime()
    wl.prepare()
    val prepS = (System.nanoTime() - tPrep) / 1e9

    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def fail(what: String): Unit = {
      failed += 1
      if (errors.size < 10) errors += what
      System.err.println(s"perfbench: FAILED $what")
    }

    // set-up rounds: a fresh session and the input load each; the last
    // session is kept
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tracer: Option[Tracer] = None
    for (_ <- 1 to (if (o.trace) 1 else SetupRounds)) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(o)
      attempted += 1
      try wl.setup(spark)
      catch { case e: Throwable => fail(s"set-up: $e"); throw e }
      setupS += (System.nanoTime() - t0) / 1e9
    }
    if (o.trace) tracer = Some(new Tracer(spark))
    attempted += 1
    try wl.warmUp(spark, tracer)
    catch { case e: Throwable => fail(s"warm-up: $e"); throw e }

    /** Runs ops for `seconds` (and at least `minOps`), returning the
      * latencies of those that succeeded and checked out. */
    var next = 0
    val recalls = mutable.ArrayBuffer.empty[Double]
    val checkS = mutable.ArrayBuffer.empty[Double]
    def loop(seconds: Double, minOps: Int)(op: Int => Unit): Seq[Double] = {
      val lat = mutable.ArrayBuffer.empty[Double]
      val start = System.nanoTime()
      var n = 0
      while ((System.nanoTime() - start) / 1e9 < seconds || n < minOps) {
        val i = next; next += 1; n += 1
        attempted += 1
        val t0 = System.nanoTime()
        val ran = try { op(i); true } catch { case e: Throwable => fail(s"op $i: $e"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ran) {
          val c0 = System.nanoTime()
          val verdict = wl.check(spark, i)
          checkS += (System.nanoTime() - c0) / 1e9
          verdict match {
            case None => lat += dt; recalls += wl.lastRecall
            case Some(err) => fail(s"op $i: $err")
          }
        }
      }
      lat.toSeq
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val listing = mutable.LinkedHashMap.empty[String, (Double, String)]
    val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
    if (!o.trace) {
      val lat = loop(o.seconds, wl.minOps)(i => wl.op(spark, i))
      samples("op_s") = lat
      val p50 = percentile(lat, 0.5)
      val rss = peakRssMb()
      val recall = TraceReport.median(recalls.toSeq)
      metrics("setup_s") = (TraceReport.median(setupS.toSeq), "s")
      metrics("op_p50_ms") = (p50 * 1e3, "ms")
      metrics("peak_rss_mb") = (rss, "MB")
      metrics("answer_recall") = (recall, "ratio")
      // the same measurements under the names the workload's users know
      listing("setup_s") = metrics("setup_s")
      wl match {
        case s: CosineServe =>
          listing("fit_s") = (s.fitSeconds, "s")
          listing("query_p50_ms") = (p50 * 1e3, "ms")
          listing("query_p90_ms") = (percentile(lat, 0.9) * 1e3, "ms")
          listing("queries_per_s") = (lat.size / lat.sum, "1/s")
        case _ =>
          listing("job_s") = (p50, "s")
          listing("rows_per_s") = (wl.inputRows / p50, "1/s")
      }
      if (wl.isInstanceOf[DedupCorpus]) listing("pair_recall") = (recall, "ratio")
      listing("fail_frac") = (failed.toDouble / attempted, "ratio")
      listing("peak_rss_mb") = (rss, "MB")
      listing("samples") = (lat.size.toDouble, "count")
    } else {
      val tr = tracer.get
      val base = loop(o.seconds / 2, math.max(2, wl.minOps / 3))(i => wl.op(spark, i))
      val traced = loop(o.seconds / 2, math.max(2, wl.minOps / 3)) { i =>
        tr.rep = i
        tr.span("rep")(())(_ => { wl.tracedOp(spark, tr, i); -1 })
      }
      samples("op_s") = base
      samples("traced_op_s") = traced
      tr.drain()
      val (layer, violations) = TraceReport.build(tr)
      if (violations > 0) fail(s"$violations spans where gap_s and job-covered time do not add up to wall time")
      metrics ++= layer
      for ((k, v) <- wl.manifest.toSeq.sortBy(_._1)) metrics(k) = (v, "count")
      // the aligned-pair table has exactly input.pair_surface rows
      val surface = wl.manifest("input.pair_surface")
      def rows(span: String) = metrics(s"$span.rows")._1
      metrics("core.pair_yield") = (rows("core.allSimilarityValue") / surface, "ratio")
      metrics("ext.Dedup.pair_yield") = (rows("ext.Dedup.autoDedupPairs") / surface, "ratio")
      metrics("trace.overhead_s") =
        (TraceReport.median(traced) - TraceReport.median(base), "s")
      tr.stop()
      writeSpans(tr, new File(o.result.getPath.stripSuffix(".json") + "-spans.jsonl"))
    }
    spark.stop()

    samples("setup_s") = setupS.toSeq
    samples("check_s") = checkS.toSeq
    val info = Map("jvm_start_s" -> jvmStartS, "prepare_s" -> prepS) ++
      samples.map { case (k, v) => k -> v.map(x => f"$x%.4f").mkString("[", ",", "]") }
    writeResult(o, attempted, failed, errors.toSeq, metrics, listing, wl.notes, info)
    for ((k, (v, u)) <- listing ++ (if (o.trace) metrics else Nil))
      println(f"$k%-44s $v%.6g $u")
    sys.exit(if (failed == 0) 0 else 1)
  }

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def obj(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s"${json(k)}: {\"value\": ${num(v)}, \"unit\": ${json(u)}}" }
      .mkString("{", ", ", "}")

  private def writeResult(o: Opts, attempted: Int, failed: Int, errors: Seq[String],
      metrics: Iterable[(String, (Double, String))], listing: Iterable[(String, (Double, String))],
      notes: Map[String, String], info: Map[String, Any]): Unit = {
    val w = new PrintWriter(o.result)
    try {
      w.println("{")
      w.println(s"""  "correct": ${failed == 0}, "attempted": $attempted, "failed": $failed,""")
      w.println(s"""  "metrics": ${obj(metrics)},""")
      w.println(s"""  "named": ${obj(listing)},""")
      w.println(s"""  "errors": ${errors.map(json).mkString("[", ", ", "]")},""")
      w.println(s"""  "notes": ${notes.map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ", ", "}")},""")
      w.println(s"""  "run": ${info.map { case (k, v) => s"${json(k)}: ${json(v.toString)}" }.mkString("{", ", ", "}")}""")
      w.println("}")
    } finally w.close()
  }

  private def writeSpans(tr: Tracer, f: File): Unit = {
    val w = new PrintWriter(f)
    try for (s <- tr.spans)
      w.println(s"""{"id": ${s.id}, "name": ${json(s.name)}, "parent": ${s.parent}, "run": ${s.rep}, """ +
        s""""start_ms": ${num(s.start)}, "build_end_ms": ${num(s.buildEnd)}, "end_ms": ${num(s.end)}}""")
    finally w.close()
  }
}
