package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that was open when this one started (0 for a root).
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the engine, kept in memory.
  *
  * Untraced, a span is just a stopwatch. Traced, each span also becomes the
  * Spark job group for the jobs its call submits, so [[EngineListener]] can
  * parent every job to the call that caused it. The benchmark is a single
  * closed-loop client, so one open-span stack is enough.
  */
final class Tracer(sc: SparkContext, traced: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 1

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(0)
    open.push((id, name, System.nanoTime()))
    if (traced) sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    try body
    finally {
      val (_, _, start) = open.pop()
      done += Span(id, parent, name, start, System.nanoTime())
      if (traced) {
        if (open.isEmpty) sc.clearJobGroup()
        else sc.setJobGroup(open.head._1.toString, open.head._2, interruptOnCancel = false)
      }
    }
  }

  def spans: Seq[Span] = done.toSeq

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs - Intervals.covered(kids.toSeq, s.startNs, s.endNs)) / 1e9
  }

  /** The spans as JSON rows; `jobs` counts the Spark jobs whose job group
    * is the span's id. */
  def toJson(jobs: String => Int): java.util.List[java.util.Map[String, Any]] =
    done.sortBy(_.startNs).map { s =>
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> selfSeconds(s), "jobs" -> jobs(s.id.toString)).asJava
    }.asJava
}

object Intervals {
  /** Nanoseconds of [lo, hi) covered by the union of `ivs`. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s0, e0) <- ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s0 > curE) {
        if (curE > curS) total += curE - curS
        curS = s0; curE = e0
      } else curE = math.max(curE, e0)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Engine counters for one window of wall time (a phase). */
final case class EngineWindow(jobs: Int, tasks: Int, taskSeconds: Double,
    driverGapSeconds: Double, shuffleMb: Double, spillMb: Double,
    gcSeconds: Double, docScanTasks: Int)

/** The benchmark's own SparkListener, registered for the traced run only.
  * It records jobs (with the job group the [[Tracer]] set), and per task its
  * run interval, executor run time, shuffle and spill bytes, and whether its
  * stage scans a text document directory (`readDocumentDir`'s wholetext
  * scan).
  */
final class EngineListener extends SparkListener {
  import EngineListener.TaskRec
  private val jobStarts = mutable.ArrayBuffer.empty[(Long, String)]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val docScanStages = mutable.Set.empty[Int]
  // listener timestamps are wall-clock millis; spans use nanoTime
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(ms: Long): Long = ms * 1000000L + nanoOffset

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobStarts += ((toNs(e.time), group.getOrElse("")))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val textScan = e.stageInfo.rddInfos.exists(r =>
      r.scope.exists(_.name.toLowerCase.startsWith("scan text")))
    if (textScan) docScanStages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    val (run, shuffle, spill) =
      if (m == null) (0L, 0L, 0L)
      else (m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    tasks += TaskRec(toNs(info.launchTime), toNs(info.finishTime), run, shuffle,
      spill, docScanStages.contains(e.stageId))
  }

  def jobsInGroup(group: String): Int = synchronized(jobStarts.count(_._2 == group))

  def window(startNs: Long, endNs: Long, gcSeconds: Double): EngineWindow = synchronized {
    val in = tasks.filter(t => t.startNs >= startNs && t.startNs < endNs).toSeq
    val busy = Intervals.covered(in.map(t => (t.startNs, t.endNs)), startNs, endNs)
    EngineWindow(
      jobs = jobStarts.count { case (t, _) => t >= startNs && t < endNs },
      tasks = in.size,
      taskSeconds = in.map(_.runMs).sum / 1e3,
      driverGapSeconds = (endNs - startNs - busy) / 1e9,
      shuffleMb = in.map(_.shuffleBytes).sum / 1048576.0,
      spillMb = in.map(_.spillBytes).sum / 1048576.0,
      gcSeconds = gcSeconds,
      docScanTasks = in.count(_.docScan))
  }
}

object EngineListener {
  private final case class TaskRec(startNs: Long, endNs: Long, runMs: Long,
      shuffleBytes: Long, spillBytes: Long, docScan: Boolean)
}

object Jvm {
  /** Total collection time of every collector so far, in seconds. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** `VmHWM` (peak resident set) of this process, in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** A fixed CPU reference computation: the same work on every run, so its
    * time moves only with the machine, never with the engine's code. The
    * best of three passes, so one descheduling does not count.
    */
  def sentinelSeconds(): Double = Seq.fill(3)(sentinelPass()).min

  private def sentinelPass(): Double = {
    val t0 = System.nanoTime()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val block = Array.tabulate[Byte](1 << 16)(i => (i * 31).toByte)
    var digest = Array.emptyByteArray
    var i = 0
    while (i < 1024) { md.update(block); md.update(digest); digest = md.digest(); i += 1 }
    var x = 0L
    var k = 0L
    while (k < 50000000L) { x = x * 6364136223846793005L + 1442695040888963407L + k; k += 1 }
    if (x == 42L && digest.isEmpty) println("") // keeps the loop observable
    (System.nanoTime() - t0) / 1e9
  }
}
