package graft



/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is forced through the `noop` sink — a plain count() would
  * let Catalyst prune every column and skip the actual expressions. A
  * warmup pass (q1_agg) absorbs JVM/codegen startup, and every query runs
  * `runs` times with the median reported, so round-over-round deltas are
  * signal rather than JIT variance.
  *
  * Host-noise hardening: repetitions run as full SUITE passes with the
  * query order REVERSED on alternate passes (A,B,C / C,B,A / A,B,C), so
  * a single host-load spike lands on different queries in different
  * passes instead of poisoning all three back-to-back timings of one
  * query; and `queries_min` (best-of-runs) is reported alongside the
  * median so a spike that does slip through two passes is still visible
  * as median≫min rather than branding the query a code regression.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // the canonical GraftSession config (AQE + scale-out initial
    // partition count) so the benched plans are the shipped plans
    val spark = GraftSession.get()

    def exec(name: String): Double = {
      val fn = SparkEntry.queries(name) // lookup outside the timed region
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0 // failure marker: never report a broken query as a timing
      } finally {
        // cold-run discipline (r9 ADVICE medium): chains persist
        // intermediates deliberately (e.g. the spans trio's shared
        // span frame), and CacheManager matches canonicalized plans
        // ACROSS queries — without a reset, later passes of a query
        // time a cache read and the artifact presents it as an engine
        // timing. ScaleBench has always cleared between chains; Bench
        // now matches, so every reported run is a cold run. Disk-level
        // amortization (persisted indexes, cached codebooks) is
        // unaffected — those rows are declared amortized by name
        // (*_indexed / *_amortized).
        spark.catalog.clearCache()
      }
    }

    exec("q1_agg") // warmup, not reported

    // optional comma-separated name filter (local iteration only — the
    // driver never sets it, so the contract output is unchanged)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet)
    val names = SparkEntry.all
      .filter(q => only.forall(_.contains(q.name)))
      .map(_.name)

    // suite passes, alternating direction (see scaladoc)
    val byPass: Seq[Map[String, Double]] = (0 until runs).map { p =>
      val order = if (p % 2 == 0) names else names.reverse
      order.map(n => n -> exec(n)).toMap
    }
    val timings: Seq[(String, Seq[Double])] =
      names.map(n => n -> byPass.map(_(n)))

    // any failed run marks the query -1 (a query that fails even once
    // is not a timing)
    def stat(ts: Seq[Double], pick: Seq[Double] => Double): Double =
      if (ts.exists(_ < 0)) -1.0 else pick(ts)
    val medians = timings.map { case (n, ts) =>
      n -> stat(ts, s => s.sorted.apply(s.length / 2)) }
    val mins = timings.map { case (n, ts) => n -> stat(ts, _.min) }

    def toJson(kvs: Seq[(String, Double)]) =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    // failures stay visible per-query as -1 but must not subtract from
    // the headline total
    val total = medians.map(_._2).filter(_ >= 0).sum
    // per-pass totals + per-query pass times (r12 — VERDICT r11 item 6:
    // a single outlier pass, e.g. disk contention during one index
    // build, was only visible by min/median forensics; with the raw
    // passes in the artifact the outlier is machine-readable)
    val passTotals = byPass
      .map(m => m.values.filter(_ >= 0).sum)
      .mkString("[", ",", "]")
    val passesJson = byPass
      .map(m => toJson(names.map(n => n -> m(n))))
      .mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","n":$runs,${BenchUtil.commitJsonFields(compact = true)},"queries":${toJson(medians)},"queries_min":${toJson(mins)},"pass_totals":$passTotals,"passes":$passesJson,"sf":"$sfDir"}"""
    println(line)
    // the single-line contract output is also written to a file: with
    // 120+ queries the line runs past typical log-capture tail windows
    // (the r6 driver artifact kept only the tail — head queries and the
    // queries_min stat were lost), and a file survives truncation
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_FULL.json")
    // Compact FINAL summary line (r14 — VERDICT r13 item 1): with 130+
    // queries the full contract line above runs ~20 KB, and the driver's
    // log capture keeps only a ~2000-char tail, so BENCH_r10–r13 all
    // shipped `parsed: null` (a headless JSON fragment). This second
    // line is ≤300 chars — it survives any tail window — and repeats
    // the headline fields (total seconds, pass/query counts, commit,
    // sf); per-query medians/mins/passes stay in the full line above
    // and in the `queries_file` artifact. Nothing was removed from the
    // full line, so existing consumers are unchanged.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":$runs,"n_queries":${names.length},${BenchUtil.commitJsonFields(compact = true)},"pass_totals":$passTotals,"queries_file":"$outPath","sf":"$sfDir"}""")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
