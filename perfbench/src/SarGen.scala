package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.util.Random

/** Seeded sysstat-style `sar -A` text generator with its own ground truth.
  *
  * The sections cover every default overview alias (CPU, Kernel tables,
  * Load, Memory utilization, Swap utilization) plus the device-scoped DEV
  * and IFACE sections. Variants mirror the formats the parser accepts:
  * 12-hour AM/PM clocks, comma decimals and a `LINUX RESTART` that splits
  * the file into two boot segments. Every value is written with two
  * decimals and kept, so any window's count/min/max can be answered
  * without re-parsing the text.
  */
object SarGen {

  final case class Spec(
      host: String,
      day: LocalDate,
      cpus: Int,
      intervalSec: Int,
      hours: Int = 24,
      disks: Int = 2,
      ifaces: Int = 2,
      ampm: Boolean = false,
      comma: Boolean = false,
      restart: Boolean = false)

  /** One section: the header tokens after the time (device tag first for
    * device-scoped sections), the alias the service resolves it to, its
    * devices (empty for scalar sections) and its metric names. */
  final case class Section(alias: String, tag: Option[String],
      metrics: Seq[String], devices: Seq[String]) {
    def scoped: Boolean = tag.isDefined
    /** The header string the parser stores (tag stripped, single spaces). */
    def header: String = metrics.mkString(" ")
  }

  /** A generated file's description and the per-sample values behind it:
    * `values(alias)(device)` holds sample i's metric m at
    * `i * metrics + m`, as the float32 the service parses the text into;
    * scalar sections use the device key "". */
  final case class SarFile(spec: Spec, textBytes: Long, sections: Seq[Section],
      times: IndexedSeq[LocalDateTime],
      values: Map[String, Map[String, Array[Float]]]) {
    def section(alias: String): Section = sections.find(_.alias == alias).get
    def totalRows: Long = sections.map(s =>
      times.length.toLong * math.max(1, s.devices.length)).sum

    /** Sample indices inside a closed [start, end] window. */
    def window(start: Option[LocalDateTime],
        end: Option[LocalDateTime]): IndexedSeq[Int] =
      times.indices.filter(i => start.forall(s => !times(i).isBefore(s)) &&
        end.forall(e => !times(i).isAfter(e)))

    /** (count, min, max) of one metric over a window. */
    def truth(alias: String, device: String, metric: String,
        idx: IndexedSeq[Int]): (Long, Double, Double) = {
      val sec = section(alias)
      val m = sec.metrics.indexOf(metric)
      val vs = idx.map(i => values(alias)(device)(i * sec.metrics.length + m)
        .toDouble)
      if (vs.isEmpty) (0L, Double.NaN, Double.NaN)
      else (vs.length.toLong, vs.min, vs.max)
    }
  }

  private val cpuMetrics = Seq("%usr", "%nice", "%sys", "%iowait",
    "%steal", "%irq", "%soft", "%guest", "%gnice", "%idle")
  private val memMetrics = Seq("kbmemfree", "kbavail", "kbmemused",
    "%memused", "kbbuffers", "kbcached", "kbcommit", "%commit", "kbactive",
    "kbinact", "kbdirty", "kbanonpg", "kbslab", "kbkstack", "kbpgtbl",
    "kbvmused")
  private val swapMetrics = Seq("kbswpfree", "kbswpused", "%swpused",
    "kbswpcad", "%swpcad")
  private val ktabMetrics = Seq("dentunusd", "file-nr", "inode-nr", "pty-nr")
  private val loadMetrics = Seq("runq-sz", "plist-sz", "ldavg-1", "ldavg-5",
    "ldavg-15", "blocked")
  private val devMetrics = Seq("tps", "rkB/s", "wkB/s", "areq-sz", "aqu-sz",
    "await", "svctm", "%util")
  private val ifaceMetrics = Seq("rxpck/s", "txpck/s", "rxkB/s", "txkB/s",
    "rxcmp/s", "txcmp/s", "rxmcst/s", "%ifutil")

  def sections(spec: Spec): Seq[Section] = Seq(
    Section("CPU", Some("CPU"), cpuMetrics,
      "all" +: (0 until spec.cpus).map(_.toString)),
    Section("Memory utilization", None, memMetrics, Nil),
    Section("Swap utilization", None, swapMetrics, Nil),
    Section("Kernel tables", None, ktabMetrics, Nil),
    Section("Load", None, loadMetrics, Nil),
    Section("Block Devices", Some("DEV"), devMetrics,
      (0 until spec.disks).map(d => s"dev8-${d * 16}")),
    Section("IFACE", Some("IFACE"), ifaceMetrics,
      "lo" +: (0 until spec.ifaces - 1).map(i => s"eth$i")))

  private def r2(x: Double): Double = math.round(x * 100).toDouble / 100

  /** One sample row of a section's metrics. */
  private def sample(rng: Random, alias: String, nMetrics: Int)
      : Array[Double] = alias match {
    case "CPU" =>
      val busy = Array.fill(nMetrics - 1)(r2(rng.nextDouble() * 9))
      busy :+ r2(100 - busy.sum)
    case "Memory utilization" | "Swap utilization" | "Kernel tables" =>
      Array.fill(nMetrics)(r2(rng.nextDouble() * 1e6))
    case _ => Array.fill(nMetrics)(r2(rng.nextDouble() * 400))
  }

  /** Generates the file for `spec` from `seed` and streams its text to
    * `path`, xz-compressed through the `xz` binary when `xz` is set. */
  def generate(spec: Spec, seed: Long, path: Path, xz: Boolean): SarFile = {
    val rng = new Random(seed)
    val secs = sections(spec)
    val n = spec.hours * 3600 / spec.intervalSec
    val t0 = spec.day.atStartOfDay().plusSeconds(1)
    val times = (1 to n).map(i => t0.plusSeconds(i.toLong * spec.intervalSec))
      .filter(_.toLocalDate == spec.day)
    val clock = DateTimeFormatter.ofPattern(
      if (spec.ampm) "hh:mm:ss a" else "HH:mm:ss", Locale.US)
    val day = spec.day.format(DateTimeFormatter.ofPattern(
      if (spec.ampm) "MM/dd/yyyy" else "yyyy-MM-dd"))
    val values = secs.map { s =>
      s.alias -> (if (s.scoped) s.devices else Seq("")).map { d =>
        val a = new Array[Float](times.length * s.metrics.length)
        d -> a
      }.toMap
    }.toMap

    val proc =
      if (!xz) None
      else Some(new ProcessBuilder("xz", "-z", "-c", "-1", "-T1")
        .redirectOutput(path.toFile)
        .redirectError(ProcessBuilder.Redirect.DISCARD).start())
    val sink = proc.map(_.getOutputStream)
      .getOrElse(Files.newOutputStream(path))
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(sink, UTF_8), 1 << 16)
    var bytes = 0L
    val sb = new java.lang.StringBuilder(4096)
    def flush(): Unit = {
      bytes += sb.length // the text is ASCII
      out.append(sb)
      sb.setLength(0)
    }
    val point = if (spec.comma) "," else "."
    def num(v: Double): String = { // two decimals, without String.format
      val c = math.abs(math.round(v * 100))
      val frac = c % 100
      (if (v < 0 && c != 0) "-" else "") + (c / 100) + point +
        (if (frac < 10) "0" else "") + frac
    }
    def cell(s: String, w: Int): Unit = {
      var pad = w - s.length
      while (pad > 0) { sb.append(' '); pad -= 1 }
      sb.append(s)
    }

    sb.append(s"Linux 5.14.21-150500.55.39-default (${spec.host}) \t$day " +
      s"\t_x86_64_\t(${spec.cpus} CPU)\n")
    val segments =
      if (spec.restart) Seq(0 until times.length / 2,
        times.length / 2 until times.length)
      else Seq(times.indices)
    segments.zipWithIndex.foreach { case (seg, k) =>
      if (k > 0) {
        val at = times(seg.head).minusSeconds(spec.intervalSec / 2)
        sb.append(s"\n${at.format(clock)}       LINUX RESTART\t" +
          s"(${spec.cpus} CPU)\n")
      }
      for (s <- secs) {
        val first = times(seg.head).minusSeconds(spec.intervalSec)
        sb.append('\n').append(first.format(clock))
        s.tag.foreach(t => cell(t, 10))
        s.metrics.foreach(m => cell(m, 10))
        sb.append('\n')
        val nm = s.metrics.length
        for (i <- seg) {
          val ts = times(i).format(clock)
          for (d <- if (s.scoped) s.devices else Seq("")) {
            sb.append(ts)
            if (s.scoped) cell(d, 10)
            val row = sample(rng, s.alias, nm)
            val store = values(s.alias)(d)
            var m = 0
            while (m < nm) {
              store(i * nm + m) = row(m).toFloat
              cell(num(row(m)), 10)
              m += 1
            }
            sb.append('\n')
            flush()
          }
        }
        sb.append("Average:   ")
        s.metrics.foreach(_ => cell(num(0), 10))
        sb.append('\n')
      }
    }
    flush()
    out.close()
    proc.foreach(p => require(p.waitFor() == 0, s"xz failed on $path"))
    SarFile(spec, bytes, secs, times, values)
  }
}
