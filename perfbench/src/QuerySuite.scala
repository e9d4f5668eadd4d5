package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

import graft.SparkEntry
import graft.queries.QueryDef

/** The operator-suite workload: registered queries run cold (cache cleared
  * between queries, as `graft.Bench` does) in a seeded order, each result
  * collected and checked against the row count and order-independent
  * checksum recorded at the benchmark's seed commit. */
object QuerySuite {

  /** Pack label of each registered query ("Core", "Ops", ...). */
  lazy val packOf: Map[String, String] = SparkEntry.packs.flatMap { p =>
    val label = p.getClass.getSimpleName.stripSuffix("$").stripSuffix("Queries")
    p.queries.map(_.name -> label)
  }.toMap

  def packs: Seq[String] = SparkEntry.packs.map(
    _.getClass.getSimpleName.stripSuffix("$").stripSuffix("Queries"))

  /** Canonical text of a value: doubles to six significant digits, maps
    * with sorted entries, so the checksum ignores summation-order noise. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else String.format(java.util.Locale.ROOT, "%.6g", d)
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-independent checksum: the sum of per-row hashes. */
  def checksum(rows: Array[Row]): Long =
    rows.iterator.map(r => MurmurHash3.stringHash(canon(r)).toLong & 0xffffffffL)
      .sum

  final case class Expected(rows: Long, checksum: Long)

  /** Row count, checksum and warm wall ms of every registered query, as
    * recorded by `record` beside the data. */
  private def recorded(ctx: Ctx): Map[String, (Expected, Double)] = {
    val node = new ObjectMapper().readTree(
      ctx.dataDir.getParent.resolve("expected_queries.json").toFile)
    node.get("queries").elements().asScala.map { q =>
      q.get("name").asText() -> (Expected(q.get("rows").asLong(),
        q.get("checksum").asLong()), q.get("ms").asDouble())
    }.toMap
  }

  /** Each pack's heaviest query by recorded wall time: the query that
    * carries the largest share of its pack's time, one per pack so that
    * a pass fits one run. */
  def subset(recordedMs: Map[String, Double]): Seq[QueryDef] =
    SparkEntry.packs.map(_.queries.maxBy(q => recordedMs.getOrElse(q.name, 0.0)))

  private def check(want: Map[String, Expected], r: Run): Option[String] =
    r.error.orElse(want.get(r.q.name) match {
      case None => Some("no recorded result")
      case Some(e) =>
        val got = Expected(r.rows.length, checksum(r.rows))
        if (got == e) None else Some(s"${r.q.name}: got $got, want $e")
    })

  final case class Run(q: QueryDef, buildMs: Double, execMs: Double,
      rows: Array[Row], error: Option[String], jobs: Int, cost: JobCost)

  /** One cold run: BUILD (the query closure, with any driver-side eager
    * actions it performs) then EXEC (collecting the result). */
  private def runOne(ctx: Ctx, q: QueryDef): Run = {
    val dir = ctx.dataDir.toString
    val req = ctx.tracer.newRequest()
    try {
      val ((rows, sBuild, sExec), sAll) = ctx.tracer.span(s"query.${q.name}", req) {
        val (df, sBuild) = ctx.tracer.span("query.build") { q.run(ctx.spark, dir) }
        val (rows, sExec) = ctx.tracer.span("query.exec") { df.collect() }
        (rows, sBuild, sExec)
      }
      ctx.jobs.foreach(_.drain())
      val (jobs, cost) = ctx.jobsIn(sAll)
      Run(q, sBuild.ms, sExec.ms, rows, None, jobs, cost)
    } catch { case e: Exception =>
      Run(q, 0, 0, Array.empty, Some(e.toString), 0, JobCost.zero)
    } finally ctx.spark.catalog.clearCache()
  }

  def run(ctx: Ctx): Outcome = {
    val rec = recorded(ctx)
    val want = rec.map { case (q, (e, _)) => q -> e }
    val order = new Random(ctx.seed).shuffle(subset(rec.map { case (q, (_, ms)) => q -> ms }))
    // set-up: one pass absorbs each query's first-use cost (codegen, JIT);
    // it is checked like the measured passes
    val t0 = System.nanoTime()
    val cold = order.map(q => runOne(ctx, q))
    val setupS = (System.nanoTime() - t0) / 1e9
    val coldErrs = cold.flatMap(r => check(want, r))
    coldErrs.foreach(ctx.fail("warm-up query", _))
    ctx.heap.reset()
    val (passes, measuredS) = Main.forSeconds(ctx.seconds) { _ =>
      order.map(q => runOne(ctx, q))
    }
    val runs = passes.flatten
    val ops = runs.map { r =>
      val err = check(want, r)
      err.foreach(ctx.fail(s"query ${r.q.name}", _))
      Op(r.q.name, r.buildMs + r.execMs, err.isEmpty)
    }
    ctx.metric("suite_s", Stats.median(passes.map(_.map(r =>
      r.buildMs + r.execMs).sum / 1e3)), "s", passes.length)
    ctx.metric("query_geomean_ms", Stats.geomean(ops.map(_.ms)), "ms", ops.length)
    if (ctx.trace) for (p <- packs) {
      val rs = runs.filter(r => packOf(r.q.name) == p)
      val per = 1.0 / passes.length
      ctx.metric(s"queries.$p.build_s", rs.map(_.buildMs).sum / 1e3 * per, "s", rs.length)
      ctx.metric(s"queries.$p.exec_s", rs.map(_.execMs).sum / 1e3 * per, "s", rs.length)
      ctx.metric(s"queries.$p.jobs", rs.map(_.jobs).sum * per, "count", rs.length)
      ctx.metric(s"queries.$p.task_s", rs.map(_.cost.taskMs).sum / 1e3 * per, "s",
        rs.length)
      ctx.metric(s"queries.$p.shuffle_mb", rs.map(r =>
        r.cost.shuffleRead + r.cost.shuffleWrite).sum / 1e6 * per, "MB", rs.length)
    }
    passes.foreach(p => System.err.println(
      f"[perfbench] pass ${p.map(r => r.buildMs + r.execMs).sum / 1e3}%.2f s: " +
        p.map(r => f"${r.q.name} ${r.buildMs + r.execMs}%.0f").mkString(", ")))
    Outcome(Seq(setupS), ops, measuredS, cold.length, coldErrs.length)
  }

  /** Rewrites `expected_queries.json` beside the data with the row count
    * and checksum of every registered query, each run twice; a query that
    * fails or whose two results differ counts as failed. */
  def record(ctx: Ctx): Outcome = {
    val t0 = System.nanoTime()
    val recs = SparkEntry.all.map { q =>
      val (a, b) = (runOne(ctx, q), runOne(ctx, q))
      val (ca, cb) = (checksum(a.rows), checksum(b.rows))
      val err = a.error.orElse(b.error).orElse(
        if (ca == cb && a.rows.length == b.rows.length) None
        else Some("result differs between two runs"))
      err.foreach(ctx.fail(q.name, _))
      val line = s"""{"name":"${q.name}","pack":"${packOf(q.name)}",""" +
        s""""rows":${a.rows.length},"checksum":$ca,""" +
        s""""ms":${"%.1f".format(b.buildMs + b.execMs)}}"""
      (line, Op(q.name, b.buildMs + b.execMs, err.isEmpty))
    }
    Files.write(ctx.dataDir.getParent.resolve("expected_queries.json"),
      recs.map(_._1).mkString("{\"queries\":[\n", ",\n", "\n]}\n").getBytes(UTF_8))
    Outcome(Seq(0.0), recs.map(_._2), (System.nanoTime() - t0) / 1e9, 0, 0)
  }
}
