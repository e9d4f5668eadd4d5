package perfbench

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.ingest.{SarTextParser, XzIngest}
import graft.ops.SarOps
import graft.service.{SarHttpServer, SarService, SarTenants}

/** The SAR service workloads: closed-loop reads of already-uploaded files
  * (`sar_interactive`) and upload-then-first-read writes (`sar_upload`),
  * both over HTTP loopback to an in-process `SarHttpServer`. Every
  * response is checked against the generator's ground truth. */
object Service {

  private val Tenant = "bench"
  private val mapper = new ObjectMapper()
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  /** The server's default row cap for data responses. */
  private val RowLimit = 10000
  private val OverviewAliases = Seq("CPU", "Kernel tables", "Load",
    "Memory utilization", "Swap utilization")

  /** Request mix of a UI session, in percent. */
  val Mix: Seq[(String, Int)] = Seq("info" -> 10, "headers" -> 5,
    "stats" -> 25, "data_json" -> 20, "data_csv" -> 5, "chart_single" -> 20,
    "chart_overview" -> 5, "chart_compare" -> 10)

  final case class Resp(status: Int, body: String) {
    lazy val json: JsonNode = mapper.readTree(body)
  }

  /** One request: how to send it, how to check it, and the public
    * `SarService` calls the route runs behind the HTTP shell. */
  final case class Req(route: String, method: String, path: String,
      body: Option[String], check: Resp => Option[String],
      direct: SarService => Unit)

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    private val base = s"http://127.0.0.1:$port/api/v1"

    def send(r: Req): Resp = {
      val b = HttpRequest.newBuilder(java.net.URI.create(base + r.path))
        .header("X-User", Tenant)
      val req = r.body match {
        case Some(j) => b.header("Content-Type", "application/json")
          .method(r.method, HttpRequest.BodyPublishers.ofString(j)).build()
        case None => b.method(r.method, HttpRequest.BodyPublishers.noBody())
          .build()
      }
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      Resp(resp.statusCode(), resp.body())
    }

    def put(name: String, file: Path): Resp = {
      val req = HttpRequest.newBuilder(
          java.net.URI.create(s"$base/files/$name"))
        .header("X-User", Tenant)
        .PUT(HttpRequest.BodyPublishers.ofFile(file)).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      Resp(resp.statusCode(), resp.body())
    }
  }

  /** Starts the HTTP shell over a fresh tenant store. */
  private def serve(ctx: Ctx): (SarTenants, SarHttpServer, Int) = {
    val tenants = new SarTenants(ctx.spark, ctx.workDir.resolve("store").toString)
    val server = new SarHttpServer(tenants, 0)
    (tenants, server, server.start())
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  private def fmt(t: LocalDateTime) = t.format(tsFmt)
  private def ts(t: LocalDateTime) = Timestamp.valueOf(t)

  // ---- ground-truth checks -------------------------------------------

  private def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-3 * math.max(1.0, math.abs(b))

  private def ok(status: Int, r: Resp): Option[String] =
    if (r.status == status) None
    else Some(s"HTTP ${r.status}: ${r.body.take(300)}")

  /** statistics: per-metric count, min and max against the generator. */
  private def checkStats(f: SarGen.SarFile, alias: String, dev: String,
      idx: IndexedSeq[Int])(r: Resp): Option[String] =
    ok(200, r).orElse {
      val st = r.json.get("statistics")
      f.section(alias).metrics.iterator.flatMap { m =>
        val (n, lo, hi) = f.truth(alias, dev, m, idx)
        val got = st.get(m)
        if (got == null) Some(s"statistics lack $m")
        else if (got.get("count").asDouble() != n ||
            !near(got.get("min").asDouble(), lo) ||
            !near(got.get("max").asDouble(), hi))
          Some(s"$alias/$dev/$m: got ${got.toString.take(200)}, want " +
            s"count=$n min=$lo max=$hi")
        else None
      }.nextOption()
    }

  private def expect(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  // ---- request generation --------------------------------------------

  /** A drawn table target: file, section, device (None = server default)
    * and optional time window, plus the truth-side device and samples. */
  final case class Target(name: String, f: SarGen.SarFile, alias: String,
      device: Option[String], start: Option[LocalDateTime],
      end: Option[LocalDateTime]) {
    val sec: SarGen.Section = f.section(alias)
    /** The device the server resolves: CPU-like collapses to 'all',
      * other device sections default to the first in plain sort order. */
    val dev: String =
      if (!sec.scoped) ""
      else device.getOrElse(if (alias == "CPU") "all" else sec.devices.min)
    val idx: IndexedSeq[Int] = f.window(start, end)
    def query: String =
      (Seq("header" -> alias) ++ device.map("device" -> _) ++
        start.map(s => "start" -> fmt(s)) ++ end.map(e => "end" -> fmt(e)))
        .map { case (k, v) => s"$k=${enc(v)}" }.mkString("&")
    def json: String =
      (Seq(s""""file":"$name"""", s""""header":"$alias"""") ++
        device.map(d => s""""device":"$d"""") ++
        start.map(s => s""""start":"${fmt(s)}"""") ++
        end.map(e => s""""end":"${fmt(e)}""""))
        .mkString(",")
    def table(svc: SarService): org.apache.spark.sql.DataFrame =
      svc.getTableWithMeta(name, alias, device, start.map(ts), end.map(ts))._1
  }

  /** A table of `file`: its `secAt`-th section (modulo their number), a
    * device and a time window drawn from `rng`. */
  private def drawTarget(rng: Random, file: (String, SarGen.SarFile),
      secAt: Int, devices: SarGen.Section => Seq[String] = _.devices,
      windowed: Boolean = true): Target = {
    val (name, f) = file
    val sec = f.sections(secAt % f.sections.length)
    val ds = devices(sec)
    val device =
      if (!sec.scoped || rng.nextInt(4) == 0) None
      else Some(ds(rng.nextInt(ds.length)))
    val (start, end) =
      if (!windowed || rng.nextBoolean()) (None, None)
      else {
        val n = f.times.length
        val (a, b) = { val x = rng.nextInt(n); val y = rng.nextInt(n)
          (math.min(x, y), math.max(x, y)) }
        val half = f.spec.intervalSec / 2L
        (Some(f.times(a).minusSeconds(half)), Some(f.times(b).plusSeconds(half)))
      }
    Target(name, f, sec.alias, device, start, end)
  }

  /** Chart-series rows the way the chart routes build them: stride to the
    * point budget, melt, serialize (public `SarOps`/`SarService` calls). */
  private def series(svc: SarService, t: org.apache.spark.sql.DataFrame,
      idCols: Seq[String], valueCols: Seq[String]): Unit = {
    val budget = 30000
    val n = t.count()
    val step = SarOps.adaptiveStep(n, valueCols.length, budget)
    val strided = if (step == 1) t else SarOps.downsampleStride(t, "date", step)
    svc.jsonRecords(SarOps.melt(strided, idCols, valueCols), 4 * budget)
  }

  private def chartDirect(svc: SarService, t: Target,
      metric: Option[String]): Unit = {
    val full = t.table(svc)
    val cols = metric.map(Seq(_)).getOrElse(full.columns.filterNot(_ == "date").toSeq)
    val table = metric.map(m => full.select("date", m)).getOrElse(full)
    series(svc, table, Seq("date"), cols)
    SarOps.osDetails(svc.load(t.name))
    svc.restarts(t.name)
    SarOps.yRange(table, cols)
  }

  /** The request sequence all clients share: blocks of 20 requests that
    * hold the mix exactly, each block in a seeded order, each request's
    * device and window drawn from the same seed. Each route visits the
    * files in turn, small and large alternating, and the sections in
    * turn, from a seeded start; so every run holds nearly the same share
    * of large files and of each section per route. A run measures whole
    * blocks, at least two, and starts further blocks only before
    * `deadlineNs`; so every run holds the same mix, and a slow host does
    * not drop a run to one block of less-warmed requests. `files` lists
    * the small files before the large ones, in equal numbers. */
  final class Requests(seed: Long, files: Seq[(String, SarGen.SarFile)],
      deadlineNs: Long) {
    private val rng = new Random(seed)
    private val block = Mix.flatMap { case (r, w) => Seq.fill(w / 5)(r) }
    private val half = files.length / 2
    private val alternating = (0 until half).flatMap(i => Seq(files(i), files(half + i)))
    private val cursor = mutable.Map(Mix.map { case (r, _) =>
      r -> rng.nextInt(1000) }: _*)
    private var queue = List.empty[String]
    private var blocks = 0
    def next(): Option[Req] = synchronized {
      if (queue.isEmpty && (blocks < 2 || System.nanoTime() < deadlineNs)) {
        queue = rng.shuffle(block).toList
        blocks += 1
      }
      queue match {
        case r :: rest =>
          queue = rest
          cursor(r) += 1
          Some(draw(rng, r, alternating, cursor(r)))
        case Nil => None
      }
    }
  }

  /** The `k`-th request of `route`: on file `k` and section `k / 2` (each
    * modulo their number), so that with files alternating small and large
    * each section comes once on each; a comparison also takes one other
    * file drawn from `rng`. */
  def draw(rng: Random, route: String, files: Seq[(String, SarGen.SarFile)],
      k: Int): Req = {
    val at = k % files.length
    val one = files(at)
    route match {
      case "info" =>
        val (name, f) = one
        Req(route, "GET", s"/files/$name", None, r => ok(200, r).orElse(
          expect("rows", r.json.get("rows").asLong(), f.totalRows)).orElse(
          expect("headers", r.json.get("headers").size(), f.sections.length)),
          _.fileInfo(name))
      case "headers" =>
        val (name, f) = one
        Req(route, "GET", s"/files/$name/headers", None, r => ok(200, r)
          .orElse(expect("headers", r.json.size(), f.sections.length))
          .orElse {
            val devs = r.json.elements().asScala.map(_.get("devices").size())
              .sum.toLong
            expect("devices", devs, f.sections.map(_.devices.length).sum)
          }, _.headerDetails(name))
      case "stats" =>
        val t = drawTarget(rng, one, k / 2)
        Req(route, "GET", s"/files/${t.name}/statistics?${t.query}", None,
          checkStats(t.f, t.alias, t.dev, t.idx),
          svc => svc.statisticsWithMeta(t.name, t.alias, t.device,
            t.start.map(ts), t.end.map(ts))._1.collect())
      case "data_json" =>
        val t = drawTarget(rng, one, k / 2)
        Req(route, "GET", s"/files/${t.name}/data?${t.query}", None,
          r => ok(200, r).orElse(expect("rows", r.json.get("rows").asLong(),
            math.min(t.idx.length, RowLimit))),
          svc => svc.jsonRecords(t.table(svc), RowLimit))
      case "data_csv" =>
        val t = drawTarget(rng, one, k / 2)
        Req(route, "GET", s"/files/${t.name}/data?${t.query}&format=csv", None,
          r => ok(200, r).orElse(expect("csv rows",
            r.body.split("\n").length - 1L, math.min(t.idx.length, RowLimit))),
          svc => t.table(svc).limit(RowLimit).collect())
      case "chart_single" =>
        val t = drawTarget(rng, one, k / 2)
        val metric =
          if (rng.nextBoolean()) Some(t.sec.metrics(rng.nextInt(t.sec.metrics.length)))
          else None
        val body = "{" + t.json + metric.map(m => s""","metric":"$m"""").getOrElse("") + "}"
        Req(route, "POST", "/charts/single", Some(body),
          r => ok(200, r).orElse(expect("chart rows",
            r.json.get("rows").asLong(), t.idx.length)),
          svc => chartDirect(svc, t, metric))
      case "chart_overview" =>
        val t = drawTarget(rng, one, k / 2)
        val body = s"""{"file":"${t.name}"""" +
          t.start.map(s => s""","start":"${fmt(s)}"""").getOrElse("") +
          t.end.map(e => s""","end":"${fmt(e)}"""").getOrElse("") + "}"
        Req(route, "POST", "/charts/overview", Some(body), r => ok(200, r)
          .orElse(expect("charts", r.json.get("charts").size(),
            OverviewAliases.length))
          .orElse(r.json.get("charts").elements().asScala.map(c =>
            expect("overview rows", c.get("rows").asLong(), t.idx.length))
            .collectFirst { case Some(e) => e }),
          svc => OverviewAliases.foreach { a =>
            svc.headerDetail(t.name, a)
            chartDirect(svc, t.copy(alias = a, device = None), None)
          })
      case "chart_compare" =>
        val i = at
        val j = (i + 1 + rng.nextInt(files.length - 1)) % files.length
        val pair = Seq(files(i), files(j))
        // a device both files have: small files have a prefix of the
        // large files' devices
        val common = (s: SarGen.Section) => pair.map(_._2.section(s.alias)
          .devices).minBy(_.length)
        val t = drawTarget(rng, pair.head, k / 2, common, windowed = false)
        val metric = t.sec.metrics(rng.nextInt(t.sec.metrics.length))
        val mode = if (rng.nextBoolean()) "overlay" else "sequential"
        val body = s"""{"files":["${pair(0)._1}","${pair(1)._1}"],""" +
          s""""header":"${t.alias}","metric":"$metric",""" +
          t.device.map(d => s""""device":"$d",""").getOrElse("") +
          s""""mode":"$mode"}"""
        Req(route, "POST", "/charts/compare", Some(body), r => ok(200, r)
          .orElse(expect("files", r.json.get("files").size(), 2))
          .orElse(r.json.get("files").elements().asScala.zip(pair).map {
            case (fj, (_, f)) => expect("compare rows", fj.get("rows").asLong(),
              f.times.length) }.collectFirst { case Some(e) => e }),
          svc => {
            svc.restartsByFile(pair.map(_._1))
            pair.foreach { case (n, _) =>
              val full = svc.getTableWithMeta(n, t.alias, t.device)._1
              val table = full.select("date", metric)
              SarOps.yRange(table, Seq(metric))
              if (mode == "overlay")
                series(svc, SarOps.dayOverlayAlign(table, "date", "2000-01-01"),
                  Seq("date", "aligned"), Seq(metric))
              else series(svc, table, Seq("date"), Seq(metric))
            }
          })
    }
  }

  // ---- per-route layer records (traced runs) -------------------------

  final case class RouteRec(route: String, httpMs: Double, directMs: Double,
      jobs: Int, cost: JobCost, bytes: Int)

  private def reportRoutes(ctx: Ctx, recs: Seq[RouteRec]): Unit = {
    for ((route, _) <- Mix) {
      val rs = recs.filter(_.route == route)
      val n = rs.length.toLong
      def mean(f: RouteRec => Double) =
        if (rs.isEmpty) 0.0 else rs.map(f).sum / rs.length
      ctx.metric(s"service.$route.query_ms",
        if (rs.isEmpty) 0.0 else Stats.median(rs.map(_.directMs)), "ms", n)
      ctx.metric(s"service.$route.jobs_per_read", mean(_.jobs), "count", n)
      ctx.metric(s"service.$route.tasks_per_read", mean(_.cost.tasks), "count", n)
      ctx.metric(s"service.$route.task_ms_per_read", mean(_.cost.taskMs), "ms", n)
    }
    ctx.metric("http.overhead_ms",
      Stats.median(recs.map(r => r.httpMs - r.directMs)), "ms", recs.length)
    ctx.metric("http.response_bytes",
      Stats.median(recs.map(_.bytes.toDouble)), "bytes", recs.length)
  }

  // ---- sar_interactive ------------------------------------------------

  private def day(rng: Random): LocalDate =
    LocalDate.of(2024, 1, 1).plusDays(rng.nextInt(366))

  def interactive(ctx: Ctx): Outcome = {
    val rng = new Random(ctx.seed)
    val small = (h: String) => SarGen.Spec(h, day(rng), cpus = 8,
      intervalSec = 600, disks = 2, ifaces = 2)
    val large = (h: String) => SarGen.Spec(h, day(rng), cpus = 64,
      intervalSec = 60, hours = 6, disks = 8, ifaces = 4)
    val specs = Seq("small-a" -> small("web01"), "small-b" -> small("web02"),
      "large-a" -> large("db01"), "large-b" -> large("db02"))
    val inputs = ctx.workDir.resolve("inputs")
    Files.createDirectories(inputs)
    val files = specs.map { case (name, spec) =>
      val f = SarGen.generate(spec, rng.nextLong(), inputs.resolve(s"$name.txt"),
        xz = false)
      name -> f
    }

    val (tenants, server, port) = serve(ctx)
    val client = new Client(port)
    var setupFailed = 0
    var setupAttempted = 0
    def setupCheck(what: String, err: Option[String]): Unit = {
      setupAttempted += 1
      err.foreach { e => setupFailed += 1; ctx.fail(what, e) }
    }
    // set-up: upload the four files, then warm every route
    val ups = files.map { case (name, f) =>
      val path = inputs.resolve(s"$name.txt")
      Upload(name, f, false, path, f.textBytes, f.textBytes,
        Target(name, f, "CPU", None, None, None))
    }
    val t0 = System.nanoTime()
    val puts = ups.map { u =>
      val (putMs, readMs, err) = putAndRead(ctx, client, u, u.name)
      setupCheck(s"upload ${u.name}", err)
      (u, putMs, readMs)
    }
    val tUp = System.nanoTime()
    // one request per route on the small files absorbs the first-use
    // cost of each route's plans (codegen, JIT) before measuring
    val warm = new Random(7)
    for ((route, _) <- Mix) {
      val q = draw(warm, route, files.take(2), warm.nextInt(1000))
      val r = client.send(q)
      setupCheck(s"warm ${q.route} ${q.path}", q.check(r))
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up: uploads ${(tUp - t0) / 1e9}%.2f s, " +
      f"warm-up ${(System.nanoTime() - tUp) / 1e9}%.2f s")

    val svc = tenants.forUser(Tenant)
    reportUploads(ctx, puts, if (!ctx.trace) Nil else ups.map(u =>
      layers(ctx, svc, ctx.workDir.resolve("store").resolve(Tenant), u,
        s"${u.name}-direct")))
    val clients = if (ctx.trace) 1 else 2
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[RouteRec]()
    ctx.heap.reset()
    val t1 = System.nanoTime()
    val requests = new Requests(ctx.seed, files,
      t1 + ctx.seconds * 1000000000L)
    val perClient = (0 until clients).map { c =>
      val th = new java.util.concurrent.FutureTask[Seq[Op]](() => {
        val cl = new Client(port)
        val ops = mutable.ArrayBuffer.empty[Op]
        var next = requests.next()
        while (next.nonEmpty) {
          val q = next.get
          val req = ctx.tracer.newRequest()
          // traced runs also time the public SarService calls behind the
          // route, before or after it in alternate requests so neither
          // side always runs on the other's warmed plans
          def direct() = ctx.tracer.span(s"service.${q.route}", req) {
            q.direct(svc)
          }._2
          val before = if (ctx.trace && req % 2 == 0) Some(direct()) else None
          val (resp, s) = ctx.tracer.span(s"http.${q.route}", req) {
            try Right(cl.send(q)) catch { case e: Exception => Left(e) }
          }
          val err = resp.fold(e => Some(e.toString), q.check)
          err.foreach(e => ctx.fail(s"${q.route} ${q.path}", e))
          ops += Op(q.route, s.ms, err.isEmpty)
          if (ctx.trace) {
            ctx.jobs.foreach(_.drain())
            val (jobs, cost) = ctx.jobsIn(s)
            val d = before.getOrElse(direct())
            recs.add(RouteRec(q.route, s.ms, d.ms, jobs, cost,
              resp.map(_.body.length).getOrElse(0)))
          }
          next = requests.next()
        }
        ops.toSeq
      })
      new Thread(th, s"perfbench-client-$c").start()
      th
    }
    val ops = perClient.flatMap(_.get())
    val measuredS = (System.nanoTime() - t1) / 1e9
    if (ctx.trace) reportRoutes(ctx, recs.asScala.toSeq)
    server.stop()
    Outcome(Seq(setupS), ops, measuredS, setupAttempted, setupFailed)
  }

  // ---- sar_upload -------------------------------------------------------

  /** One upload in the sequence: stored name, generated file, whether it
    * travels xz-compressed, and the section its first read asks for. */
  final case class Upload(name: String, f: SarGen.SarFile, xz: Boolean,
      path: Path, wireBytes: Long, textBytes: Long, read: Target)

  /** The upload sequence: six small files (24 h, AM/PM, comma decimals,
    * LINUX RESTART, .xz, and a re-upload of an existing name) and two
    * 14 MB ones (one .xz), in a seeded order with the re-upload after its
    * original; `huge` appends a ≈50 MB and a ≈280 MB file. */
  private def uploads(ctx: Ctx, rng: Random, huge: Boolean): Seq[Upload] = {
    val inputs = ctx.workDir.resolve("inputs")
    Files.createDirectories(inputs)
    def small(h: String) = SarGen.Spec(h, day(rng), cpus = 8, intervalSec = 600)
    def large(h: String) = SarGen.Spec(h, day(rng), cpus = 64, intervalSec = 60,
      disks = 8, ifaces = 4)
    val plan = Seq(
      ("s24h", small("web01"), false),
      ("sampm", small("web02").copy(ampm = true), false),
      ("scomma", small("web03").copy(comma = true), false),
      ("srestart", small("web04").copy(restart = true), false),
      ("sxz", small("web05"), true),
      ("l24h", large("db01"), false),
      ("lxz", large("db02"), true))
    val order = rng.shuffle(plan)
    val at = order.indexWhere(_._1 == "s24h") + 1
    val reup = ("s24h", small("web06"), false)
    val pos = at + rng.nextInt(order.length - at + 1)
    val tail = if (!huge) Nil else Seq(
      ("h128", SarGen.Spec("big01", day(rng), cpus = 128, intervalSec = 30,
        disks = 8, ifaces = 4), false),
      ("h256", SarGen.Spec("big02", day(rng), cpus = 256, intervalSec = 10,
        disks = 8, ifaces = 4), false))
    (order.take(pos) ++ Seq(reup) ++ order.drop(pos) ++ tail).zipWithIndex.map {
      case ((name, spec, xz), i) =>
        val path = inputs.resolve(s"$i-$name.txt" + (if (xz) ".xz" else ""))
        val f = SarGen.generate(spec, rng.nextLong(), path, xz)
        val read = drawTarget(rng, name -> f, rng.nextInt(f.sections.length),
          windowed = false)
        Upload(name, f, xz, path, Files.size(path), f.textBytes, read)
    }
  }

  /** PUT one file, then its first (cold) statistics read. */
  private def putAndRead(ctx: Ctx, client: Client, u: Upload, name: String)
      : (Double, Double, Option[String]) = {
    val req = ctx.tracer.newRequest()
    val (put, sPut) = ctx.tracer.span("http.upload", req) {
      try Right(client.put(name, u.path)) catch { case e: Exception => Left(e) }
    }
    val putErr = put.fold(e => Some(e.toString), r => ok(201, r).orElse(
      expect("rows", r.json.get("rows").asLong(), u.f.totalRows)).orElse(
      expect("headers", r.json.get("headers").size(), u.f.sections.length)))
    val t = u.read.copy(name = name)
    val q = Req("stats", "GET", s"/files/$name/statistics?${t.query}", None,
      checkStats(t.f, t.alias, t.dev, t.idx), _ => ())
    val (read, sRead) = ctx.tracer.span("http.first_read", req) {
      try Right(client.send(q)) catch { case e: Exception => Left(e) }
    }
    val err = putErr.orElse(read.fold(e => Some(e.toString), q.check))
    (sPut.ms, sRead.ms, err)
  }

  /** Layer split of one upload through the public calls behind the PUT
    * route: decode, parse, then the service's own upload (whose extra
    * time over decode and parse is the parquet write) and a cold load. */
  final case class UploadRec(textBytes: Long, decodeMs: Double, parseMs: Double,
      alloc: Long, uploadMs: Double, writeJobs: Int, parquetBytes: Long,
      loadMs: Double, cacheMb: Double)

  private def layers(ctx: Ctx, svc: SarService, store: Path, u: Upload,
      name: String): UploadRec = {
    val a0 = Alloc.bytes()
    val (text, sDec) = ctx.tracer.span("ingest.decode") {
      XzIngest.readSarFile(u.path.toString)
    }
    val (rows, sParse) = ctx.tracer.span("ingest.parse") {
      SarTextParser.parseContent(text)
    }
    val alloc = Alloc.bytes() - a0
    require(rows.length == u.f.totalRows,
      s"parser rows ${rows.length} != ${u.f.totalRows}")
    val (_, sUp) = ctx.tracer.span("service.upload") {
      svc.upload(u.path.toString, name)
    }
    ctx.jobs.foreach(_.drain())
    val (jobs, _) = ctx.jobsIn(sUp)
    val pq = store.resolve(s"$name.parquet")
    val pqBytes = Files.walk(pq).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    val (_, sLoad) = ctx.tracer.span("service.load") { svc.load(name).count() }
    val cacheMb = ctx.spark.sparkContext.getRDDStorageInfo
      .map(_.memSize).sum / (1024.0 * 1024.0)
    svc.delete(name)
    UploadRec(u.textBytes, sDec.ms, sParse.ms, alloc, sUp.ms, jobs, pqBytes,
      sLoad.ms, cacheMb)
  }

  /** Upload latency and throughput, first-read latency and, in traced
    * runs, the per-layer split of the same uploads. */
  private def reportUploads(ctx: Ctx, puts: Seq[(Upload, Double, Double)],
      recs: Seq[UploadRec]): Unit = {
    val wireMb = puts.map(_._1.wireBytes).sum / 1e6
    ctx.metric("upload_p50_ms", Stats.median(puts.map(_._2).toSeq), "ms", puts.length)
    ctx.metric("upload_mb_per_s", wireMb / (puts.map(_._2).sum / 1e3), "MB/s",
      puts.length)
    ctx.metric("first_read_p50_ms", Stats.median(puts.map(_._3).toSeq), "ms",
      puts.length)
    if (recs.nonEmpty) {
      val n = recs.length.toLong
      val text = recs.map(_.textBytes).sum.toDouble
      ctx.metric("ingest.decode_ms", Stats.median(recs.map(_.decodeMs).toSeq), "ms", n)
      ctx.metric("ingest.parse_ms", Stats.median(recs.map(_.parseMs).toSeq), "ms", n)
      ctx.metric("ingest.parse_mb_per_s",
        text / 1e6 / (recs.map(_.parseMs).sum / 1e3), "MB/s", n)
      ctx.metric("ingest.alloc_bytes_per_input_byte",
        recs.map(_.alloc).sum / text, "B/B", n)
      ctx.metric("service.write_ms", Stats.median(recs.map(r =>
        r.uploadMs - r.decodeMs - r.parseMs).toSeq), "ms", n)
      ctx.metric("service.write_jobs", recs.map(_.writeJobs).sum.toDouble / n,
        "count", n)
      ctx.metric("service.parquet_bytes_per_input_byte",
        recs.map(_.parquetBytes).sum / text, "B/B", n)
      ctx.metric("service.load_ms", Stats.median(recs.map(_.loadMs).toSeq), "ms", n)
      ctx.metric("service.cache_mb", recs.map(_.cacheMb).max, "MB", n)
    }
  }

  def upload(ctx: Ctx, huge: Boolean): Outcome = {
    val rng = new Random(ctx.seed)
    val seq = uploads(ctx, rng, huge)
    val (tenants, server, port) = serve(ctx)
    val client = new Client(port)
    val svc = tenants.forUser(Tenant)
    val store = ctx.workDir.resolve("store").resolve(Tenant)

    // set-up: warm the upload path and a first read with one small file
    // (the same file for every seed)
    val warmPath = ctx.workDir.resolve("inputs").resolve("warm.txt")
    val warm = SarGen.generate(SarGen.Spec("warm01", LocalDate.of(2024, 1, 1),
      cpus = 8, intervalSec = 600), 1L, warmPath, xz = false)
    val warmUp = Upload("warm", warm, false, warmPath, warm.textBytes,
      warm.textBytes, Target("warm", warm, "CPU", None, None, None))
    val warmRounds = (0 until 3).map { i =>
      val (putMs, readMs, err) = putAndRead(ctx, client, warmUp, s"warm$i")
      err.foreach(ctx.fail("warm-up upload", _))
      ((putMs + readMs) / 1e3, err)
    }
    val warmErrs = warmRounds.flatMap(_._2)

    val puts = mutable.ArrayBuffer.empty[(Upload, Double, Double)]
    val recs = mutable.ArrayBuffer.empty[UploadRec]
    ctx.heap.reset()
    val (ops, measuredS) = Main.forSeconds(ctx.seconds) { pass =>
      seq.map { u =>
        val name = s"${u.name}-p$pass"
        val (putMs, readMs, err) = putAndRead(ctx, client, u, name)
        err.foreach(e => ctx.fail(s"upload $name", e))
        puts += ((u, putMs, readMs))
        if (ctx.trace) recs += layers(ctx, svc, store, u, s"$name-direct")
        Op("upload", putMs + readMs, err.isEmpty)
      }
    }
    reportUploads(ctx, puts.toSeq, recs.toSeq)
    server.stop()
    Outcome(warmRounds.map(_._1), ops.flatten, measuredS, 3, warmErrs.length)
  }
}
