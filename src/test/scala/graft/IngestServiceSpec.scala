package graft

import java.nio.file.{Files, Paths}
import scala.io.Source
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, date_format}
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{SadfJson, SarTextParser, XzIngest}
import graft.service.SarService

class IngestServiceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def resource(name: String): String = {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream(s"/sar/$name"), "UTF-8")
    try src.mkString finally src.close()
  }

  test("sadf JSON renders to sar text that the one parser ingests") {
    val (text, warnings) = SadfJson.toSarText(resource("sadf_sample.json"))
    assert(text.startsWith("Linux 5.14.21-150400.24.63-default (jsonhost)"))
    // unknown things warn, known things don't
    assert(warnings.exists(_.contains("mystery-section")))
    assert(warnings.exists(_.contains("net-weird")))
    assert(!warnings.exists(_.contains("rd_sec"))) // legacy field ignored
    val rows = SarTextParser.parseContent(text)
    val headers = rows.map(_.header).distinct
    assert(headers.contains(
      "%usr %nice %sys %iowait %steal %irq %soft %guest %gnice %idle"))
    assert(headers.contains("proc/s cswch/s"))
    assert(headers.contains("tps rtps wtps bread/s bwrtn/s")) // io flattened
    assert(headers.exists(_.startsWith("kbmemfree")))
    assert(headers.exists(_.startsWith("kbswpfree"))) // memory feeds 2 sections
    assert(headers.contains("tps rkB/s wkB/s areq-sz aqu-sz await %util"))
    // FILESYSTEM device printed last in text, rotated to front by parser
    val fs = rows.filter(_.header.startsWith("MBfsfree"))
    assert(fs.head.data.startsWith("/dev/sda1 "))
    // restart captured
    assert(rows.head.restart.contains("LINUX RESTART"))
    // values formatted .2f
    val cpu = rows.filter(_.header.startsWith("%usr"))
    assert(cpu.head.data == "all 1.23 0.00 0.45 0.10 0.00 0.05 0.02 0.00 0.00 98.15")
    assert(cpu.head.date.toString == "2023-06-05 00:10:01.0")
  }

  test("sadf JSON equals the equivalent text upload (round-trip anchor)") {
    val fromJson = SarTextParser.parseContent(
      SadfJson.toSarText(resource("sadf_sample.json"))._1)
    val fromText = SarTextParser.parseLines(resource("sa_24h.txt").split("\n").toSeq)
    val cpuJson = fromJson.filter(_.header.startsWith("%usr")).map(r => (r.data, r.date))
    val cpuText = fromText.filter(_.header.startsWith("%usr"))
      .filter(r => !r.data.startsWith("1")) // text fixture has an extra cpu
      .map(r => (r.data, r.date))
    assert(cpuJson.map(_._1).take(2).toSet.subsetOf(cpuText.map(_._1).toSet ++ cpuJson.map(_._1)))
    assert(cpuJson.head._2 == cpuText.head._2) // same timestamps
  }

  test("xz round-trip with cap enforcement") {
    val tmp = Files.createTempDirectory("graft_xz")
    val plain = tmp.resolve("sa_plain.txt")
    Files.writeString(plain, resource("sa_24h.txt"))
    val rc = new ProcessBuilder("xz", "-k", "-f", plain.toString)
      .inheritIO().start().waitFor()
    assert(rc == 0)
    val xzBytes = Files.readAllBytes(tmp.resolve("sa_plain.txt.xz"))
    assert(XzIngest.isXz(xzBytes))
    val (bytes, name) = XzIngest.maybeDecompress(xzBytes, "sa_plain.txt.xz")
    assert(name == "sa_plain.txt")
    assert(new String(bytes, "UTF-8") == resource("sa_24h.txt"))
    // corrupt payload raises
    val broken = xzBytes.clone(); broken(20) = (broken(20) ^ 0xFF).toByte
    intercept[IllegalArgumentException] {
      XzIngest.maybeDecompress(broken, "broken.xz")
    }
  }

  test("binary SAR sniff: binary data flagged, text never flagged") {
    import graft.ingest.BinarySarDetector
    val rnd = new scala.util.Random(7)
    val binary = Array.fill[Byte](400)(0) ++
      "SYSSTAT".getBytes ++ Array.fill[Byte](100)(rnd.nextInt(256).toByte)
    assert(BinarySarDetector.isBinarySar(binary, "sa20230605"))
    val text = resource("sa_24h.txt").getBytes("UTF-8")
    assert(!BinarySarDetector.isBinarySar(text, "sa_24h.txt"))
    // binary upload routes through S8 conversion; on a host without
    // sysstat (this container) it raises the install guidance, with
    // sysstat it would fail on the garbage payload with the sar error —
    // both paths surface an actionable IllegalArgumentException
    val tmp = Files.createTempFile("sa_bin", "")
    Files.write(tmp, binary)
    val e = intercept[IllegalArgumentException] {
      graft.ingest.XzIngest.readSarFile(tmp.toString)
    }
    assert(e.getMessage.contains("sar -A -t -f") ||
      e.getMessage.contains("conversion failed"))
    // a TEXT file with a binary-looking name still parses (guard works)
    val tmp2 = Files.createTempFile("sa20230605", "")
    Files.writeString(tmp2, resource("sa_24h.txt"))
    assert(graft.ingest.XzIngest.readSarFile(tmp2.toString).contains("Linux"))
  }

  test("S8 conversion contract: exact command line and rename rule") {
    import graft.ingest.BinarySarConverter
    // the reference shells exactly `unset LANG; sar -A -t -f <file>`
    // (mng_sar.py:105) — LANG unset for C-locale layout, -t for original
    // timestamps; pin the construction so the subprocess contract is
    // testable on hosts without sysstat
    assert(BinarySarConverter.conversionCommand("/tmp/f") ==
      Seq("sh", "-c", "unset LANG; sar -A -t -f '/tmp/f'"))
    // saDD → sarDD naming (mng_sar.py:95-99)
    assert(BinarySarConverter.convertedName("sa20250726") == "sar20250726")
    assert(BinarySarConverter.convertedName("notes.bin") == "sar_notes.bin")
    // without sysstat the converter refuses with install guidance; with
    // it, garbage input must fail sar itself — never silently succeed
    if (!BinarySarConverter.sarAvailable()) {
      val e = intercept[IllegalArgumentException] {
        BinarySarConverter.convert(Array[Byte](0, 1, 2), "sa20250726")
      }
      assert(e.getMessage.contains("sysstat"))
    } else {
      intercept[IllegalArgumentException] {
        BinarySarConverter.convert(Array[Byte](0, 1, 2), "sa20250726")
      }
    }
  }

  test("S13+J7: convention naming and per-file restart matching") {
    import graft.service.{SarNaming, SarService}
    def sarText(host: String, date: String, restartTime: String): String =
      s"Linux 5.14.21-default ($host) \t$date \t_x86_64_\t(2 CPU)\n" +
        "\n" +
        "00:00:01        CPU     %usr   %idle\n" +
        "00:10:01        all      1.00  99.00\n" +
        "00:20:01        all      2.00  98.00\n" +
        "\n" +
        s"$restartTime       LINUX RESTART\t(2 CPU)\n"

    // naming unit contract (helpers_pl.py:245-280)
    val od = "Linux 5.14.21-default (h1) 06-05-23 _x86_64_ (2 CPU)"
    assert(SarNaming.hostname(od) == "h1")
    assert(SarNaming.sarDate(od) == "2023-06-05") // MM-DD-YY → 20YY-MM-DD
    assert(SarNaming.uploadName(od, "2026-08-12") == "2026-08-12_h1_2023-06-05")
    // a truncated os_details (no date token) matches nothing — it must
    // not degrade to hostname-only matching via contains("")
    assert(!SarNaming.matchesFile("2026-08-12_h1_2023-06-05", "Linux 5.14 (h1)"))

    val storage = Files.createTempDirectory("graft_j7").toString
    val svc = new SarService(spark, storage)
    val up = java.time.LocalDate.parse("2026-08-12")
    val f1 = Files.createTempFile("sar1", ".txt")
    Files.writeString(f1, sarText("hostalpha", "2023-06-05", "00:15:30"))
    val f2 = Files.createTempFile("sar2", ".txt")
    Files.writeString(f2, sarText("hostbeta", "2023-07-10", "02:30:00"))
    val n1 = svc.uploadWithConvention(f1.toString, up).name
    val n2 = svc.uploadWithConvention(f2.toString, up).name
    assert(n1 == "2026-08-12_hostalpha_2023-06-05")
    assert(n2 == "2026-08-12_hostbeta_2023-07-10")

    // each file gets only its own reboot markers (multi_files_pl matching)
    val byFile = svc.restartsByFile(Seq(n1, n2))
    assert(byFile(n1).map(_.toString) == Seq("2023-06-05 00:15:30.0"))
    assert(byFile(n2).map(_.toString) == Seq("2023-07-10 02:30:00.0"))

    // a file stored outside the convention matches no pooled event
    val f3 = Files.createTempFile("sar3", ".txt")
    Files.writeString(f3, sarText("hostgamma", "2023-08-01", "03:00:00"))
    svc.upload(f3.toString, "plainname")
    assert(svc.restartsByFile(Seq(n1, "plainname"))("plainname").isEmpty)

    // multi-file compare: each file gains exactly its own zero row
    val cmp = svc.compareTableWithRestarts(Seq(n1, n2), "CPU")
    val zeros = cmp.filter(col("%usr") === 0.0 && col("%idle") === 0.0)
      .select("file", "date").collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).toString)
    assert(zeros.toSet == Set(
      n1 -> "2023-06-05 00:15:30.0", n2 -> "2023-07-10 02:30:00.0"))
    // row counts: 2 samples + 1 zero row per file
    assert(cmp.groupBy("file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map(n1 -> 3L, n2 -> 3L))
  }

  test("delete + age-based cleanup driven by the naming convention") {
    import graft.service.SarService
    val storage = Files.createTempDirectory("graft_clean").toString
    val svc = new SarService(spark, storage)
    val up = Files.createTempFile("sa_up", ".txt")
    Files.writeString(up, resource("sa_24h.txt"))
    svc.upload(up.toString, "2026-07-01_oldhost_2023-06-05")
    svc.upload(up.toString, "2026-08-10_newhost_2023-06-05")
    svc.upload(up.toString, "plainname") // falls back to (fresh) mtime
    val today = java.time.LocalDate.parse("2026-08-12")
    assert(svc.fileAgeDays("2026-07-01_oldhost_2023-06-05", today) == 42)
    // mtime fallback measured against the REAL clock (the file was just
    // written) — pinning `today` here would break every run after the
    // commit date; ≤1 absorbs a midnight rollover mid-test
    val mtimeAge = svc.fileAgeDays("plainname", java.time.LocalDate.now())
    assert(mtimeAge >= 0 && mtimeAge <= 1)
    // dry run lists the stale file and touches nothing
    assert(svc.cleanupOldFiles(30, dryRun = true, today) ==
      Seq("2026-07-01_oldhost_2023-06-05"))
    assert(svc.listFiles().length == 3)
    // real run deletes it — storage AND cache (a reload must fail)
    assert(svc.cleanupOldFiles(30, dryRun = false, today) ==
      Seq("2026-07-01_oldhost_2023-06-05"))
    assert(svc.listFiles() ==
      Seq("2026-08-10_newhost_2023-06-05", "plainname"))
    intercept[Exception] {
      svc.load("2026-07-01_oldhost_2023-06-05").count()
    }
    // delete is idempotent-safe
    assert(!svc.delete("2026-07-01_oldhost_2023-06-05"))

    // disk usage reports the surviving files, largest first
    val usage = svc.diskUsage()
    assert(usage.map(_._1).toSet ==
      Set("2026-08-10_newhost_2023-06-05", "plainname"))
    assert(usage.forall(_._2 > 0))
    assert(usage.map(-_._2) == usage.map(-_._2).sorted)
  }

  test("storage names are validated against traversal") {
    import graft.service.SarService
    val storage = Files.createTempDirectory("graft_val").toString
    val svc = new SarService(spark, storage)
    val up = Files.createTempFile("sa_up", ".txt")
    Files.writeString(up, resource("sa_24h.txt"))
    for (bad <- Seq("../../x", "a/b", ".hidden", "a b", ""))
      intercept[IllegalArgumentException] {
        svc.upload(up.toString, bad)
      }
    intercept[IllegalArgumentException] { svc.load("../../etc/passwd") }
    // the convention's own names pass the guard
    assert(svc.upload(up.toString, "2026-08-12_host_2023-06-05").rows > 0)
  }

  test("per-user tenancy: upload/delete/cleanup/usage never cross users") {
    import graft.service.SarTenants
    val base = Files.createTempDirectory("graft_tenants").toString
    val hub = new SarTenants(spark, base)
    val up = Files.createTempFile("sa_up", ".txt")
    Files.writeString(up, resource("sa_24h.txt"))

    // username guard mirrors services.py:46 — traversal and the excluded
    // config dir are not addressable
    for (bad <- Seq("../peer", ".hidden", "a/b", "", "config", "-dash"))
      intercept[IllegalArgumentException] { hub.forUser(bad) }
    hub.forUser("a.user@example+ok") // reference pattern allows ._@+-

    val alice = hub.forUser("alice")
    val bob = hub.forUser("bob")
    alice.upload(up.toString, "2026-07-01_oldhost_2023-06-05")
    alice.upload(up.toString, "sharedname")
    bob.upload(up.toString, "sharedname")

    // same file NAME, disjoint storage and caches: alice's delete of
    // "sharedname" leaves bob's intact and still served
    assert(alice.listFiles().toSet ==
      Set("2026-07-01_oldhost_2023-06-05", "sharedname"))
    assert(bob.listFiles() == Seq("sharedname"))
    assert(alice.delete("sharedname"))
    assert(alice.listFiles() == Seq("2026-07-01_oldhost_2023-06-05"))
    assert(bob.load("sharedname").count() > 0)

    // hub cleanup: only alice has a stale upload; a dry run lists it
    // per-user without touching anything, the real run deletes only hers
    val today = java.time.LocalDate.parse("2026-08-12")
    assert(hub.cleanupOldFiles(30, dryRun = true, today = today) ==
      Map("alice" -> Seq("2026-07-01_oldhost_2023-06-05")))
    assert(alice.listFiles().nonEmpty)
    assert(hub.cleanupOldFiles(30, dryRun = false, today = today) ==
      Map("alice" -> Seq("2026-07-01_oldhost_2023-06-05")))
    assert(alice.listFiles().isEmpty && bob.listFiles() == Seq("sharedname"))
    // single-user scoping requires an existing directory (services.py:355)
    intercept[IllegalArgumentException] {
      hub.cleanupOldFiles(30, username = Some("nobody"))
    }
    assert(hub.cleanupOldFiles(30, username = Some("bob"),
      dryRun = true, today = today).isEmpty)

    // a stray non-conforming directory under the base is not a tenant
    // and must not make the all-users sweeps throw
    Files.createDirectory(java.nio.file.Paths.get(s"$base/-backup"))
    assert(!hub.listUsers().contains("-backup"))
    assert(hub.cleanupOldFiles(30, dryRun = true, today = today)
      .keySet.forall(Set("alice", "bob")))

    // per-user usage report: bob holds the bytes now, alice reports empty
    val usage = hub.diskUsage()
    val byUser = usage.map(u => u._1 -> u).toMap
    assert(byUser("bob")._2 > 0 && byUser("bob")._3 == 1)
    assert(byUser("alice")._2 == 0 && byUser("alice")._3 == 0)
    assert(usage.map(-_._2) == usage.map(-_._2).sorted)
    assert(hub.listUsers().contains("alice") && hub.listUsers().contains("bob"))
  }

  test("G9: login history appends and counter skips the excluded user") {
    import graft.service.UserStatus
    val dir = Files.createTempDirectory("graft_users").toString
    val us = new UserStatus(spark, dir, counterExcludedUser = "owner")
    assert(us.statusDf().count() == 1) // seeded admin row
    val t = java.sql.Timestamp.valueOf("2026-08-12 10:00:00")
    us.addRecord("alice", t, success = true)
    us.addRecord("bob", t, success = false)
    assert(us.statusDf().count() == 3)
    val alice = us.statusDf().filter(col("user_name") === "alice").collect()
    assert(alice.length == 1 && alice.head.getBoolean(2))
    // remove_old_logins is a pure filter: only the stale record drops
    // (the seeded admin row is stamped "now")
    us.addRecord("carol", java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
      success = true)
    val cutoff = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    assert(us.removeOldLogins(us.statusDf(), cutoff).count() == 3)
    // counter: starts 0, increments, excluded user does not count
    assert(us.loginCounter() == 0)
    assert(us.incrementLoginCounter("alice") == 1)
    assert(us.incrementLoginCounter("owner") == 1)
    assert(us.incrementLoginCounter("bob") == 2)
    assert(us.loginCounter() == 2)
  }

  test("service: upload → list → headerDetails → getTable → statistics → sinks") {
    val storage = Files.createTempDirectory("graft_svc").toString
    val upload = Files.createTempFile("sa_up", ".txt")
    Files.writeString(upload, resource("sa_24h.txt"))
    val svc = new SarService(spark, storage)

    val info = svc.upload(upload.toString, "sa_24h")
    assert(info.rows > 0 && info.headers.exists(_.startsWith("%usr")))
    assert(svc.listFiles() == Seq("sa_24h"))

    val details = svc.headerDetails("sa_24h")
    val cpu = details.find(_.alias == "CPU").get
    assert(cpu.deviceScoped && cpu.devices == Seq("all", "0", "1"))

    // alias resolution + CPU-like default device 'all'
    val table = svc.getTable("sa_24h", "CPU")
    assert(table.count() == 2)
    assert(table.columns.contains("%usr"))

    val stats = svc.statistics("sa_24h", "CPU")
    val usr = stats.collect().find(_.getString(0) == "%usr").get
    assert(usr.getDouble(1) == 2.0)

    val csv = svc.statisticsCsv(Seq("CPU" -> stats))
    assert(csv.startsWith("CPU\nstatistic,"))
    assert(csv.linesIterator.exists(_.startsWith("mean,")))

    val (records, truncated) = svc.jsonRecords(table, maxRows = 1)
    assert(records.length == 1 && truncated)
    assert(records.head.contains("\"date\":\"2023-06-05"))

    intercept[IllegalArgumentException] {
      svc.getTable("sa_24h", "NoSuchAliasAtAll")
    }
    // scoped non-CPU section without device → first device frame
    val dev0 = svc.getTable("sa_24h", "Block Devices")
    assert(dev0.count() == 2) // dev8-0 rows only
    // explicit unknown device → clean error
    intercept[IllegalArgumentException] {
      svc.getTable("sa_24h", "Block Devices", device = Some("nvme9"))
    }
    // explicit device works
    assert(svc.getTable("sa_24h", "Block Devices",
      device = Some("dev8-1")).count() == 2)

    // multi-file compare: upload a second host's file, intersect headers,
    // union with file identity, overlay rebases to one 24h axis
    val up2 = Files.createTempFile("sa_up2", ".txt")
    Files.writeString(up2, resource("sa_24h.txt")
      .replace("testhost", "otherhost").replace("2023-06-05", "2023-07-01"))
    svc.upload(up2.toString, "sa_24h_b")
    val common = svc.commonHeaders(Seq("sa_24h", "sa_24h_b"))
    assert(common.exists(_.startsWith("%usr")))
    val seqT = svc.compareTable(Seq("sa_24h", "sa_24h_b"), "CPU")
    assert(seqT.count() == 4 &&
      seqT.select("file").distinct().count() == 2)
    val ovl = svc.compareTable(Seq("sa_24h", "sa_24h_b"), "CPU", mode = "overlay")
    assert(ovl.select(date_format(col("aligned"), "yyyy-MM-dd")).distinct()
      .collect().map(_.getString(0)).toSeq == Seq("2000-01-01"))
    val pooled = svc.pooledStatistics(Seq("sa_24h", "sa_24h_b"), "CPU")
    assert(pooled.collect().find(_.getString(0) == "%usr").get.getDouble(1) == 4.0)

    // re-upload must serve the new content (both cache layers dropped)
    val info1 = svc.fileInfo("sa_24h")
    svc.load("sa_24h").count() // materialize the cache
    val up3 = Files.createTempFile("sa_up3", ".txt")
    Files.writeString(up3, resource("sa_ampm.txt"))
    svc.upload(up3.toString, "sa_24h")
    val info2 = svc.fileInfo("sa_24h")
    assert(info2.rows != info1.rows &&
      info2.headers.contains("%usr %idle"))
    svc.upload(upload.toString, "sa_24h") // restore for later assertions

    // §2.11 y-range + S12 metric docs
    val Some((lo, hi)) = svc.yRange("sa_24h", "CPU")
    assert(lo == 0.0 && hi > 98.15) // non-negative data clamps lo to 0
    // empty frame → auto-range
    assert(graft.ops.SarOps.yRange(
      table.filter("date < timestamp'1900-01-01'"), Seq("%usr")).isEmpty)
    // all-NaN column ignored like the reference's skipna coercion
    intercept[IllegalArgumentException] {
      graft.ops.SarOps.yRange(table, Nil)
    }
    assert(svc.metricDescription("%idle").toLowerCase.contains("idle"))
    assert(svc.metricDescription("zzz") == "no description found for zzz")

    // E3: restart timestamps resolved from restart strings + file date
    val rs = svc.restarts("sa_24h")
    assert(rs.map(_.toString) == Seq("2023-06-05 00:15:30.0"))
    // E2 through the service: zero row lands at the restart time
    val withZeros = svc.getTableWithRestarts("sa_24h", "CPU")
    assert(withZeros.count() == 3)
    assert(withZeros.filter("date = timestamp'2023-06-05 00:15:30'")
      .collect().head.getFloat(1) == 0.0f)
  }

  test("per-file catalog: warm metadata reads start no Spark job, " +
      "re-upload and delete drop it") {
    import org.apache.spark.GraftListenerBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val storage = Files.createTempDirectory("graft_catalog").toString
    val svc = new SarService(spark, storage)
    val day = Files.createTempFile("sa_cat", ".txt")
    Files.writeString(day, resource("sa_24h.txt"))
    svc.upload(day.toString, "cat")

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(f: => Any): Int = {
      GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      jobs.set(0)
      f
      GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      // the first read builds the catalog; later metadata reads are free
      val before = svc.fileInfo("cat")
      assert(jobsOf(svc.fileInfo("cat")) == 0)
      assert(jobsOf(svc.headerDetails("cat")) == 0)
      assert(jobsOf(svc.headerDetail("cat", "Block Devices")) == 0)
      assert(jobsOf {
        svc.restarts("cat"); svc.restartsByFile(Seq("cat"))
        svc.commonHeaders(Seq("cat"))
      } == 0)
      // a table read starts only the jobs of its own collect: header,
      // alias and device resolution add none
      svc.getTableWithMeta("cat", "Block Devices")._1.collect()
      val table = svc.getTableWithMeta("cat", "Block Devices")._1
      val own = jobsOf(table.collect())
      assert(own > 0)
      assert(jobsOf(svc.getTableWithMeta("cat", "Block Devices")._1
        .collect()) == own)

      val truth24h = SarTextParser.parseContent(resource("sa_24h.txt"))
      assert(before.rows == truth24h.length)
      assert(before.headers == truth24h.map(_.header).distinct.sorted)
      assert(svc.headerDetail("cat", "Block Devices").devices ==
        Seq("dev8-0", "dev8-1"))

      // re-upload with another section set: the new headers, devices
      // and row count are served, not the cached ones
      val ampm = Files.createTempFile("sa_cat2", ".txt")
      Files.writeString(ampm, resource("sa_ampm.txt"))
      svc.upload(ampm.toString, "cat")
      val truthAmPm = SarTextParser.parseContent(resource("sa_ampm.txt"))
      val after = svc.fileInfo("cat")
      assert(after.rows == truthAmPm.length)
      assert(after.headers == truthAmPm.map(_.header).distinct.sorted)
      assert(svc.headerDetails("cat").map(_.header) == after.headers)
      assert(svc.headerDetail("cat", "CPU").devices == Seq("all"))
      intercept[IllegalArgumentException] {
        svc.headerDetail("cat", "Block Devices")
      }
      assert(svc.restarts("cat").isEmpty)

      // after delete nothing stale is served
      assert(svc.delete("cat"))
      assert(svc.listFiles().isEmpty)
      intercept[Exception](svc.fileInfo("cat"))
      intercept[Exception](svc.headerDetails("cat"))
      intercept[Exception](svc.restarts("cat"))
      svc.upload(day.toString, "cat")
      assert(svc.fileInfo("cat") == before)
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
