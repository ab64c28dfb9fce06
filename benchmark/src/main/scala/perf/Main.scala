package perf

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Benchmark entry points, one JVM per call (see `run.py`).
  *
  * {{{
  *   gen-er      --workload W --seed S --out DIR
  *   gen-library --seed S --sf X --out DIR
  *   run         --workload W --seconds N --trace 0|1 --data DIR --work DIR
  *               --queries FILE --out FILE
  *   record      --queries FILE --data DIR   print each query's fingerprint
  * }}}
  */
object Main {

  /** Workload sizes. A unit is one of each planted ER category (27 dblp
    * and 26 acm records in the year/venue filter).
    */
  val Specs: Map[String, AminerGen.Spec] = Map(
    "er_exhaustive" -> AminerGen.Spec(units = 48, fillerPerSide = 200))

  val ErSpans: Seq[String] = Seq("parse", "prepare", "match", "cluster", "emit", "write", "block")
  val LibSpans: Seq[String] = Seq("lib_cold", "lib_warm")

  /** Probe spans have no children, so their self time is their wall time
    * and is not reported twice.
    */
  val ProbeSpans: Set[String] = Set("parse", "block")

  /** Every per-layer metric name, in report order. */
  def perLayerNames(families: Seq[String]): Seq[String] = {
    val common = (ErSpans ++ LibSpans).flatMap { s =>
      Trace.Common.filterNot(m => ProbeSpans(s) && m == "self_s").map(m => s"$s.$m")
    }
    common ++ Seq(
      "parse.records_in", "parse.records_kept",
      "match.pairs_out", "match.candidate_pairs", "match.yield",
      "block.pairs_out", "block.candidate_pairs", "block.pre_distinct_rows", "block.refind_ratio", "block.recall",
      "cluster.components", "emit.entities", "write.bytes",
      "job.wall_s", "job.tracing_overhead_s",
      "lib_cold.cached_mb_held", "lib_warm.cached_mb_held", "lib_warm.query_p50_s", "lib_warm.query_p90_s") ++
      families.map(f => s"family.${f}_s")
  }

  /** Timed warm units per run, at least; they follow the cold unit (and,
    * for the library, the output-check pass).
    */
  val MinWarm = 3

  val EndToEndNames: Seq[String] = Seq("job_s", "cold_s", "precision", "recall", "peak_cached_mb")

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("gen-er") =>
        AminerGen.write(opts("seed").toLong, Specs(opts("workload")), new File(opts("out")))
      case Some("gen-library") =>
        val spark = GraftSession.get()
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        LibraryData.write(spark, opts("seed").toLong, opts("sf").toDouble, opts("out"))
        spark.stop()
      case Some("run") =>
        run(opts)
      case Some("record") =>
        val spark = GraftSession.get()
        LibraryMix.readNames(new File(opts("queries"))).foreach { q =>
          val fp =
            try Fingerprint.of(graft.SparkEntry.queries(q)(spark, opts("data"))).toString
            catch { case e: Throwable => "ERROR\t" + LibraryMix.firstLine(e) }
          graft.Caches.releaseAll()
          println(s"$q\t$fp")
        }
        spark.stop()
      case other =>
        System.err.println(s"unknown mode $other")
        sys.exit(2)
    }
  }

  /** Start the session the way the library does and run one trivial job;
    * print the moment it is ready, in epoch nanoseconds.
    */
  def ready(): SparkSession = {
    val spark = GraftSession.get()
    spark.range(1).count()
    val now = java.time.Instant.now()
    println(s"READY ${now.getEpochSecond * 1000000000L + now.getNano}")
    System.out.flush()
    spark
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  private def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def run(opts: Map[String, String]): Unit = {
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val queries = new File(opts("queries"))
    val families = LibraryMix.readNames(queries).map(LibraryMix.family).distinct.sorted
    val spark = ready()
    val rec = new Recorder(spark)
    rec.register()
    val cores = spark.sparkContext.defaultParallelism
    val record =
      try workload match {
        case "er_exhaustive" =>
          val wl = new ErWorkload(spark, rec, new File(opts("data")), work)
          if (traced) erTraced(wl, rec, cores, families) else erUntraced(wl, rec, seconds)
        case "library_mix" =>
          val lib = new LibraryMix(spark, rec, opts("data"), queries)
          libRun(lib, rec, cores, families, seconds, traced)
      } finally rec.unregister()
    Files.write(new File(opts("out")).toPath, Json(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def result(attempted: Int, failed: Int, correct: Boolean, metrics: Map[String, Double], detail: Any) =
    ListMap("attempted" -> attempted, "failed" -> failed, "correct" -> correct, "metrics" -> metrics, "detail" -> detail)

  // ------------------------------------------------------------------ ER

  /** Precision, recall, attempted, failed and the verdict over every
    * attempted job. A job that threw found nothing: it counts in recall's
    * denominator, sets precision to 0 and fails the verdict.
    */
  def erSummary(expectedPairs: Int, all: Seq[ErOutcome]): (Double, Double, Int, Int, Boolean) = {
    val precision =
      if (all.exists(_.error.isDefined)) 0.0 else ratio(all.map(_.foundTrue).sum, all.map(_.found).sum)
    val recall = ratio(all.map(_.foundMatchable).sum, all.size.toDouble * expectedPairs)
    (precision, recall, all.size, all.count(!_.ok), all.forall(_.ok))
  }

  private def erUntraced(wl: ErWorkload, rec: Recorder, seconds: Double) = {
    val cold = wl.job(traced = false)
    val warm = ArrayBuffer.empty[ErOutcome]
    val t0 = System.nanoTime()
    while (warm.size < MinWarm || (System.nanoTime() - t0) / 1e9 < seconds) warm += wl.job(traced = false)
    rec.drain()
    val all = cold +: warm.toSeq
    val (precision, recall, attempted, failed, correct) = erSummary(wl.truth.expectedExhaustive.size, all)
    val metrics = ListMap(
      "job_s" -> median(warm.map(_.wallS).toSeq),
      "cold_s" -> cold.wallS,
      "precision" -> precision,
      "recall" -> recall,
      "peak_cached_mb" -> rec.peakCachedBytes / 1e6)
    result(attempted, failed, correct, metrics, ListMap("jobs" -> all))
  }

  private def erTraced(wl: ErWorkload, rec: Recorder, cores: Int, families: Seq[String]) = {
    val untraced = Seq.fill(1 + MinWarm)(wl.job(traced = false))
    val (recordsIn, parseSpan) = wl.parseProbe()
    val block = wl.blockProbe()
    val tracedJobs = Seq.fill(3)(wl.job(traced = true))
    rec.drain()
    val all = untraced ++ tracedJobs
    val (_, _, attempted, failed, correct) = erSummary(wl.truth.expectedExhaustive.size, all)
    val pool = Some(tracedJobs.filter(_.ok)).filter(_.nonEmpty).getOrElse(tracedJobs)
    val pick = pool.sortBy(_.wallS).apply(pool.size / 2)
    val spans = rec.spansOf(pick.run)
    val self = Trace.selfTimes(spans)
    val m = scala.collection.mutable.LinkedHashMap(perLayerNames(families).map(_ -> 0.0): _*)
    def fill(name: String, ss: Seq[Span], selfS: Double): Unit =
      rec.layer(ss, ss.map(_.wallS).sum, selfS, cores).foreach { case (k, v) =>
        if (m.contains(s"$name.$k")) m(s"$name.$k") = v
      }
    for (name <- Seq("prepare", "match", "cluster", "emit", "write")) {
      val ss = spans.filter(_.name == name)
      fill(name, ss, ss.map(s => self(s.id)).sum)
    }
    fill("parse", Seq(parseSpan), parseSpan.wallS)
    fill("block", Seq(block.span), block.span.wallS)
    val cand = wl.truth.candidateExhaustive
    m("parse.records_in") = recordsIn.toDouble
    m("parse.records_kept") = pick.recordsKept.toDouble
    m("match.pairs_out") = pick.found.toDouble
    m("match.candidate_pairs") = cand.toDouble
    m("match.yield") = ratio(pick.found, cand.toDouble)
    m("block.pairs_out") = block.found.toDouble
    m("block.candidate_pairs") = wl.truth.candidateBlocked.toDouble
    m("block.pre_distinct_rows") = block.preDistinct.toDouble
    m("block.refind_ratio") = ratio(block.preDistinct.toDouble, block.found)
    m("block.recall") = block.recall
    m("cluster.components") = pick.components.toDouble
    m("emit.entities") = pick.entities.toDouble
    m("write.bytes") = pick.writeBytes.toDouble
    m("job.wall_s") = pick.wallS
    m("job.tracing_overhead_s") = pick.wallS - median(untraced.drop(1).map(_.wallS))
    result(attempted + 1, failed + (if (block.ok) 0 else 1), correct && block.ok, ListMap(m.toSeq: _*),
      ListMap("jobs" -> all, "block_probe" -> block, "spans" -> rec.allSpans))
  }

  // ------------------------------------------------------------- library

  private def libRun(
      lib: LibraryMix, rec: Recorder, cores: Int, families: Seq[String], seconds: Double, traced: Boolean) = {
    val n = lib.expected.size
    val (coldSpan, coldRuns) = lib.pass("lib_cold", traced)
    val coldHeld = rec.cachedBytesNow()
    // The output check runs between the cold and the warm passes, untimed;
    // the JIT settles meanwhile.
    val checks = lib.check()
    val warm = ArrayBuffer.empty[(Span, Vector[QueryRun], Long)]
    // Traced, enough passes that at least ten query samples lie beyond p90.
    val minWarm = if (traced) math.max(MinWarm, math.ceil(100.0 / n).toInt) else MinWarm
    val t0 = System.nanoTime()
    while (warm.size < minWarm || (!traced && (System.nanoTime() - t0) / 1e9 < seconds)) {
      val (s, runs) = lib.pass("lib_warm", traced)
      warm += ((s, runs, rec.cachedBytesNow()))
    }
    rec.drain()
    val expected = lib.expected.toMap
    val warmRuns = warm.flatMap(_._2).toSeq
    val runs = coldRuns ++ warmRuns
    val (failed, correct) = LibraryMix.verdict(runs, LibraryMix.wrong(checks, expected))
    val best = coldRuns.map(r => warmRuns.filter(_.name == r.name).map(_.wallS).min)
    val matched = checks.count { case (q, got) => got == Right(expected(q)) }
    val withOutput = checks.count(_._2.isRight)
    val detail = ListMap(
      "passes" -> (coldSpan.wallS +: warm.map(_._1.wallS).toSeq),
      "errors" -> runs.filter(_.error.isDefined).groupBy(_.name).map { case (q, rs) => q -> rs.head.error.get },
      "check" -> checks.map { case (q, got) => ListMap("query" -> q, "expected" -> expected(q).toString,
        "got" -> got.fold("ERROR " + _, _.toString)) },
      "failed_share" -> ratio(failed, runs.size.toDouble),
      "query_s" -> coldRuns.zip(best).map { case (r, b) =>
        ListMap("query" -> r.name, "cold" -> r.wallS,
          "warm" -> median(warmRuns.filter(_.name == r.name).map(_.wallS)), "warm_best" -> b)
      })
    val metrics: Map[String, Double] =
      if (!traced)
        ListMap(
          // Each query's fastest warm run, summed over the list: a warm pass
          // with the JIT's settling and brief host interference taken out.
          "job_s" -> best.sum,
          "cold_s" -> coldSpan.wallS,
          "precision" -> ratio(matched, withOutput),
          "recall" -> ratio(matched, n),
          "peak_cached_mb" -> rec.peakCachedBytes / 1e6)
      else {
        val m = scala.collection.mutable.LinkedHashMap(perLayerNames(families).map(_ -> 0.0): _*)
        def passLayer(s: Span, rs: Seq[QueryRun]) =
          rec.layer(rs.map(_.span), s.wallS, s.wallS - rs.map(_.wallS).sum, cores)
        passLayer(coldSpan, coldRuns).foreach { case (k, v) => m(s"lib_cold.$k") = v }
        val warmLayers = warm.map { case (s, rs, _) => passLayer(s, rs) }
        Trace.Common.foreach(k => m(s"lib_warm.$k") = median(warmLayers.map(_(k)).toSeq))
        m("lib_cold.cached_mb_held") = coldHeld / 1e6
        m("lib_warm.cached_mb_held") = warm.last._3 / 1e6
        val samples = warmRuns.filter(_.error.isEmpty).map(_.wallS)
        m("lib_warm.query_p50_s") = median(samples)
        m("lib_warm.query_p90_s") = percentile(samples, 0.9)
        families.foreach { f =>
          m(s"family.${f}_s") = median(warm.map(_._2.filter(r => LibraryMix.family(r.name) == f).map(_.wallS).sum).toSeq)
        }
        ListMap(m.toSeq: _*)
      }
    result(runs.size, failed, correct, metrics,
      if (traced) detail + ("spans" -> rec.allSpans) else detail)
  }
}
