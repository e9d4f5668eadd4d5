package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** A closed interval of work: name, wall-clock bounds, the span that
  * caused it and the request it belongs to. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder, written out as JSON lines at exit. Spans are
  * recorded only around calls the benchmark makes into the program; with
  * tracing off `span` runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def newRequest(): Long = ids.incrementAndGet()

  /** Times `body`; records it as a child of this thread's open span. */
  def span[T](name: String, req: Long = -1L)(body: => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val parent = outer.headOption.map(_._1).getOrElse(0L)
    val rq = if (req >= 0) req else outer.headOption.map(_._2).getOrElse(0L)
    val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
    if (enabled) stack.set((id, rq) :: outer)
    val out = try body finally if (enabled) stack.set(outer)
    val s = Span(id, parent, rq, name, ms0, System.currentTimeMillis(),
      ns0, System.nanoTime())
    if (enabled) spans.add(s)
    (out, s)
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":"${s.name}","start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"dur_ms":${"%.3f".format(s.ms)}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Spark work attributed to one job: stage and task counts, summed
  * executor run time, shuffle and spill bytes. */
final case class JobCost(jobId: Int, submitMs: Long, stages: Int, tasks: Long,
    taskMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long) {
  def +(o: JobCost): JobCost = copy(stages = stages + o.stages,
    tasks = tasks + o.tasks, taskMs = taskMs + o.taskMs,
    shuffleRead = shuffleRead + o.shuffleRead,
    shuffleWrite = shuffleWrite + o.shuffleWrite, spill = spill + o.spill)
}

object JobCost {
  val zero: JobCost = JobCost(-1, 0, 0, 0, 0, 0, 0, 0)
}

/** Per-job Spark counters, the same ones `graft.QueryProfile` sums, kept
  * per job so that a caller can attribute jobs to the operation whose
  * wall-clock window contains their submission time (one operation in
  * flight at a time). */
final class JobListener(sc: SparkContext) extends SparkListener {
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val costs = new java.util.concurrent.ConcurrentHashMap[Int, JobCost]()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    costs.putIfAbsent(j.jobId, JobCost.zero.copy(jobId = j.jobId,
      submitMs = j.time))
    j.stageIds.foreach(s => stageJob.putIfAbsent(s, j.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val job = stageJob.getOrDefault(info.stageId, -1)
    val m = info.taskMetrics
    if (job >= 0 && m != null) {
      val c = JobCost(job, 0, 1, info.numTasks.toLong, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      costs.merge(job, c, (a, b) => a + b)
    }
  }

  /** Blocks until every posted event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** One JSON line per job, for attributing jobs to spans offline. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = costs.values().asScala.toSeq.sortBy(_.jobId).map { c =>
      s"""{"job":${c.jobId},"submit_ms":${c.submitMs},"stages":${c.stages},""" +
        s""""tasks":${c.tasks},"task_ms":${c.taskMs},""" +
        s""""shuffle_read":${c.shuffleRead},"shuffle_write":${c.shuffleWrite},""" +
        s""""spill":${c.spill}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Summed cost and job count of the jobs submitted inside [fromMs, toMs]. */
  def within(fromMs: Long, toMs: Long): (Int, JobCost) = {
    val js = costs.values().asScala.filter(c =>
      c.submitMs >= fromMs && c.submitMs <= toMs).toSeq
    (js.length, js.foldLeft(JobCost.zero)(_ + _))
  }
}

/** Heap in use after collections, summed over the heap pools only (no
  * Metaspace, code cache or class space): the largest figure any GC left
  * during a phase, from the JVM's GC notifications, and the live heap at
  * the end of the phase, after a forced collection. */
final class HeapMonitor {
  private val peak = new AtomicLong(0)
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification,
        hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
      }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case b: javax.management.NotificationEmitter => b }
  beans.foreach(_.addNotificationListener(listener, null, null))

  /** Starts a phase. No collection is forced here: a full collection
    * right before the phase would slow its first operations. */
  def reset(): Unit = peak.set(0)

  /** Live heap now: the smallest heap in use after three forced
    * collections half a second apart. The pauses let Spark's
    * ContextCleaner drop the broadcasts and shuffles the first collection
    * found unreferenced, so that a later collection frees them. */
  def liveMb(): Double = (0 until 3).map { i =>
    if (i > 0) Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min

  /** Largest heap after any collection since `reset`, the forced one of
    * `liveMb` included. */
  def peakMb(liveMb: Double): Double =
    math.max(peak.get / (1024.0 * 1024.0), liveMb)

  def close(): Unit = beans.foreach(b =>
    try b.removeNotificationListener(listener)
    catch { case _: Exception => () })
}

/** Bytes allocated by the calling thread (HotSpot's thread counter). */
object Alloc {
  private val bean = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  def bytes(): Long = bean.getCurrentThreadAllocatedBytes
}
