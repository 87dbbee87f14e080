package graft

import graft.util.Errors

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // comma-separated allowlist for targeted iteration (dev only; the
    // driver runs the full set)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    def included(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession()
    // Warm EVERY query once at the smallest scale factor: plan shapes are
    // identical across SFs, so this compiles each query's generated code
    // (Janino, ~0.5-2s per distinct wholestage) without touching the
    // timed data. The timed runs below then measure the steady-state data
    // path — the quantity that scales to a real cluster, where codegen
    // compile time amortizes to zero. Falls back to the bench dir if the
    // warmup SF is absent.
    val warmDir = {
      val d = new java.io.File(sfDir).getParentFile
      val cand = new java.io.File(d, "sf0.001")
      if (cand.isDirectory) cand.getAbsolutePath else sfDir
    }
    // Execute the query's OWN physical plan (toRdd): under .count()
    // Catalyst prunes the final projections and sorts, so map-only
    // queries (fingerprints, quality scores, ...) would time the bare
    // parquet scan instead of their actual expression work.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.foreach(_ => ())
    SparkEntry.queries.foreach { case (name, fn) =>
      if (included(name)) {
        try run(fn(spark, warmDir)) catch {
          case e: Throwable =>
            System.err.println(s"warm-up $name: ${Errors.brief(e)}")
        }
        spark.catalog.clearCache() // per-query cache()s must not accumulate
      }
    }
    // Timed phase: 3 FULL PASSES over the suite, per-query MIN across
    // passes (min over successful runs is the standard low-variance
    // steady-state estimator at these sub-second scales). A query's
    // repetitions are deliberately NOT back-to-back: BENCH_r07 showed a
    // ~2-minute transient (host contention / background JVM event)
    // crushing 8 CONSECUTIVE queries 10-50× — with back-to-back
    // repetitions both samples of a query sit inside any window longer
    // than its own runtime, so the min cannot escape it, while
    // pass-interleaving puts ~a full suite length between samples and a
    // transient must recur over the same region of EVERY pass to
    // corrupt a min. A query that fails every pass reports -1 in the
    // per-query map, counts in "n_failed"/"failed" and never in a total.
    val names = SparkEntry.queries.keys.toSeq.filter(included)
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val errors = scala.collection.mutable.Map.empty[String, Throwable]
    val passTotals = (1 to 3).map { _ =>
      val p0 = System.nanoTime()
      SparkEntry.queries.foreach { case (name, fn) =>
        if (included(name)) {
          val t0 = System.nanoTime()
          val ok =
            try { run(fn(spark, sfDir)); true }
            catch { case e: Throwable => errors(name) = e; false }
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          if (ok) samples(name) = dt :: samples(name)
        }
      }
      (System.nanoTime() - p0) / 1e9
    }
    val mins = names.map(name => name -> samples(name).minOption)
    val results = mins.collect { case (name, Some(v)) => name -> v }
    val failed = mins.collect { case (name, None) => name }
    failed.foreach(name =>
      System.err.println(s"$name: ${Errors.brief(errors(name))}"))
    // ms precision: full-precision doubles made the one-line JSON long
    // enough to overflow the driver's stdout-tail capture window with
    // 157 queries (BENCH_r09 recorded parsed:null) — 3 decimals is
    // ample for sub-second steady-state timings and ~35% shorter
    // Locale.ROOT explicitly: the f-interpolator uses the JVM default
    // locale, and a comma-decimal locale (de_DE, ...) would emit "1,234"
    // and make the one-line JSON unparseable
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def str(k: String): String = "\"" + k + "\""
    val qs = mins.map { case (k, v) => str(k) + ":" + v.fold("-1")(fmt) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // pass_sec: wall-clock per pass — a pass total far above the others
    // localizes a transient to that pass without re-running anything
    val passJson = passTotals
      .map(t => String.format(java.util.Locale.ROOT, "%.2f", Double.box(t)))
      .mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","pass_sec":$passJson}"""
    // The FULL contract line first, then a SHORT summary line last:
    // the driver's artifact preserves only a stdout TAIL, and with
    // 300+ queries the full line's head (including "metric"/"value")
    // falls outside the capture window (BENCH_r15/r16 recorded
    // parsed:null). The trailing line is complete, parseable JSON
    // carrying the totals; the full per-query map lives in the line
    // above AND in the machine-readable file below.
    println(line)
    // distinct metric name: two "total" lines would double-count in a
    // line-oriented consumer that aggregates every total (round-17
    // ADVICE); the summary stays last so a stdout TAIL always holds it.
    // The summary's "queries" carried {} for two rounds (the full map
    // overflows the driver's ~2.4 KB tail window), leaving PERF blind
    // to per-query movement — it now carries the TOP-20 SLOWEST queries
    // (the only ones whose movement is individually material) plus
    // per-family subtotals in "families"; both measured to fit the tail
    // window (~1.5 KB total). The full 333-entry map still prints on
    // the line above AND persists to the cpus-keyed file below.
    val top20 = results.sortBy(-_._2).take(20)
    val topJson = top20.map { case (k, v) => str(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    val famJson = SparkEntry.families.toSeq.sortBy(_._1).map {
      case (fam, members) =>
        str(fam) + ":" + fmt(results.collect { case (k, v) if members(k) => v }.sum)
    }.mkString("{", ",", "}")
    // ALSO persist the full line to a machine-readable file: the file
    // keeps round-over-round per-query comparison independent of
    // tail-capture luck. Path is cwd-relative by default (running
    // Bench from another checkout must not mutate /root/repo), and a
    // failed write warns instead of vanishing. KEYED BY CPU COUNT:
    // round 18's 8-core scaling run clobbered the 32-core run's file,
    // destroying the primary per-query record of the driver's main run.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_queries_c${GraftSession.cpus}.json")
    println(s"""{"metric":"total_summary","value":${fmt(total)},"unit":"sec","queries":$topJson,"families":$famJson,"sf":"$sfDir","pass_sec":$passJson,"n_queries":${names.size},"n_failed":${failed.size},"failed":${failed.map(str).mkString("[", ",", "]")},"queries_file":"$outPath"}""")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath).toAbsolutePath, line + "\n")
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"WARN: bench output write to $outPath failed: $e")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
