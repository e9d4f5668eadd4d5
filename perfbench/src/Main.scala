package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One timed operation as a user sees it. */
final case class Op(kind: String, ms: Double, ok: Boolean)

/** What every workload hands back: its set-up rounds, the measured
  * operations and the wall time they were measured over. */
final case class Outcome(setupRoundsS: Seq[Double], ops: Seq[Op],
    measuredS: Double, setupAttempted: Int, setupFailed: Int)

/** Shared run state: session, options and the metric sink. */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long,
    val seconds: Int, val trace: Boolean, val workDir: Path,
    val dataDir: Path, commit: String, workload: String) {
  val tracer = new Tracer(trace)
  val jobs: Option[JobListener] =
    if (!trace) None
    else {
      val l = new JobListener(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    }
  val heap = new HeapMonitor

  /** Emits one metric as a compact JSON line. */
  def metric(name: String, value: Double, unit: String, n: Long): Unit = {
    val v = if (value.isNaN || value.isInfinite) "null" else value.toString
    println(s"""{"workload":"$workload","metric":"$name","value":$v,""" +
      s""""unit":"$unit","n":$n,"commit":"$commit"}""")
  }

  def fail(what: String, detail: String): Unit =
    System.err.println(s"[perfbench] FAILED $what: ${detail.take(400)}")

  /** Jobs whose submission falls inside a span (traced runs only). */
  def jobsIn(s: Span): (Int, JobCost) =
    jobs.map(_.within(s.startMs, s.endMs)).getOrElse((0, JobCost.zero))
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.length)
}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --data DIR --commit C`. Prints one JSON line per metric;
  * `perfbench/run.py` builds, runs and summarizes it. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt.get("trace").contains("1")
    val workDir = Paths.get(opt("work")).toAbsolutePath
    val dataDir = Paths.get(opt("data")).toAbsolutePath
    Files.createDirectories(workDir)

    // one core-count rule: SPARK_GRAFT_CPUS, else every available core
    val cores = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors)
    val t0 = System.nanoTime()
    val spark = GraftSession.get(cores)
    val startS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = new Ctx(spark, cores, seed, seconds, trace, workDir, dataDir,
      opt.getOrElse("commit", "unknown"), workload)
    val out: Outcome = workload match {
      case "sar_interactive" => Service.interactive(ctx)
      case "sar_upload" => Service.upload(ctx, huge = false)
      case "sar_upload_huge" => Service.upload(ctx, huge = true)
      case "query_suite" => QuerySuite.run(ctx)
      case "record_queries" => QuerySuite.record(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val ms = out.ops.map(_.ms)
    val failed = out.ops.count(!_.ok) + out.setupFailed
    val attempted = out.ops.length + out.setupAttempted
    ctx.metric("setup_s", startS + Stats.median(out.setupRoundsS), "s",
      out.setupRoundsS.length)
    ctx.metric("op_p50_ms", Stats.median(ms), "ms", ms.length)
    ctx.metric("op_p90_ms", Stats.quantile(ms, 0.9), "ms", ms.length)
    ctx.metric("op_geomean_ms", Stats.geomean(ms), "ms", ms.length)
    ctx.metric("ops_per_s", ms.length / out.measuredS, "1/s", ms.length)
    val liveMb = ctx.heap.liveMb()
    ctx.metric("heap_live_mb", liveMb, "MB", 1)
    ctx.metric("heap_peak_mb", ctx.heap.peakMb(liveMb), "MB", 1)
    ctx.metric("fail_ratio", failed.toDouble / math.max(1, attempted),
      "ratio", attempted)
    ctx.metric("attempted", attempted, "count", attempted)
    ctx.metric("failed", failed, "count", attempted)
    ctx.metric("session.cores", cores, "count", 1)
    ctx.metric("session.start_s", startS, "s", 1)
    // spans and per-job Spark counters of a traced run, kept beside the
    // build (the run's own directory is removed when it ends)
    val traces = workDir.resolve("../../traces").normalize()
    if (trace) {
      ctx.jobs.foreach(_.drain())
      ctx.tracer.write(traces.resolve(s"$workload-seed$seed.spans.jsonl"))
      ctx.jobs.foreach(_.write(traces.resolve(s"$workload-seed$seed.jobs.jsonl")))
    }
    ctx.heap.close()
    spark.stop()
  }

  /** Runs `body` repeatedly until `seconds` have passed (at least once);
    * returns the results and the wall seconds they took. */
  def forSeconds[T](seconds: Int)(body: Int => T): (Seq[T], Double) = {
    val out = mutable.ArrayBuffer.empty[T]
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) { out += body(i); i += 1 }
    (out.toSeq, (System.nanoTime() - t0) / 1e9)
  }
}
