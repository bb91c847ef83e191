package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.GraftSession
import graft.enrich.{EnrichConfig, EnrichJob, HttpLlmTransport}
import graft.pipeline.{CrawlPipeline, MarkdownJob, SiteJob}
import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: sets up Spark, runs one workload's phases in a
  * closed loop (each call starts when the previous one returned), and
  * writes what it measured as JSON for `run.py`, which checks the outputs
  * and prints the result line.
  *
  * Usage: Main <school|crawl> <inputs dir> <work dir> <trace 0|1>
  *             <result json> [<registry dir> <query names, comma-separated>]
  *
  * A traced `school` run ends with one traced cold sweep of the given registry
  * queries over the given tables.
  */
object Main {

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, traceArg, out) = args.take(5)
    val trace = traceArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    ).getOrCreate()
    // JVM start to a ready session, taken before the benchmark does any
    // work of its own
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    val sentinelStart = Jvm.sentinelSeconds()

    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("setup_s", setupS)
    try {
      val bench = workload match {
        case "school" => new SchoolBench(spark, inputs, work)
        case "crawl" => new CrawlBench(spark, inputs, work)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      try bench.measure(trace, result)
      finally bench.close()
      if (trace && args.length > 6) {
        val extra = new java.util.LinkedHashMap[String, Any]()
        new RegistryBench(spark, args(5), args(6).split(",").toSeq)
          .measure(trace = true, extra, withOverhead = false)
        result.get("per_layer").asInstanceOf[java.util.Map[String, Any]]
          .putAll(extra.get("per_layer").asInstanceOf[java.util.Map[String, Any]])
        result.put("registry_spans", extra.get("spans"))
        result.put("hashes", extra.get("hashes"))
      }
    } finally spark.stop()
    result.put("sentinel_start_s", sentinelStart)
    result.put("sentinel_end_s", Jvm.sentinelSeconds())
    result.put("peak_rss_mb", Jvm.peakRssMb)
    result.put("nproc", cpus)
    result.put("heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    Files.writeString(Paths.get(out), mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(Json.deep(result)))
  }
}

object Json {
  /** Scala maps/seqs to Java collections, so Jackson can write them. */
  def deep(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => o.put(k.toString, deep(x)) }
      o
    case m: collection.Map[_, _] => deep(m.map { case (k, x) => k.toString -> x }.asJava)
    case s: java.util.List[_] => s.asScala.map(deep).asJava
    case s: Seq[_] => s.map(deep).asJava
    case x => x
  }
}

/** One workload. An iteration is a cold and an incremental phase. */
abstract class Workload(val spark: SparkSession) {
  protected val perLayer = mutable.LinkedHashMap.empty[String, Double]
  private var listener: Option[EngineListener] = None
  // per-layer metrics come from the first (fresh-JVM) traced iteration only
  private var recording = false
  protected val docScanTasks = mutable.Map.empty[String, Int]
  protected var tracer = new Tracer(spark.sparkContext, traced = false)

  /** Run iteration `k`; returns per-iteration facts for the JSON output. */
  protected def iteration(k: Int): mutable.LinkedHashMap[String, Any]
  /** Per-layer metrics from the traced iteration's spans. */
  protected def layerMetrics(it: mutable.LinkedHashMap[String, Any]): Unit
  def close(): Unit = ()

  /** Phase wrapper: a root span, plus the engine window when traced. */
  protected def phase[T](name: String)(body: => T): (T, Double) = {
    val gc0 = Jvm.gcSeconds
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    val t1 = System.nanoTime()
    listener.filter(_ => recording).foreach { l =>
      // the phase's last task-end events may still be on the bus
      ListenerBus.drain(spark.sparkContext)
      val w = l.window(t0, t1, Jvm.gcSeconds - gc0)
      perLayer(s"$name.jobs") = w.jobs
      perLayer(s"$name.tasks") = w.tasks
      perLayer(s"$name.task_s") = w.taskSeconds
      perLayer(s"$name.driver_gap_s") = w.driverGapSeconds
      perLayer(s"$name.shuffle_mb") = w.shuffleMb
      perLayer(s"$name.spill_mb") = w.spillMb
      perLayer(s"$name.gc_s") = w.gcSeconds
      docScanTasks(name) = w.docScanTasks
    }
    (r, (t1 - t0) / 1e9)
  }

  /** One warm phase (the cold phase again, on a fresh dir) for the
    * tracing-overhead comparison; returns its wall seconds. */
  protected def warmPhase(k: Int): Double = iteration(k)("wall_s").asInstanceOf[Double]

  /** Iteration 0 is the measured one: a fresh JVM running the workload's
    * cold and incremental phases, as one CLI run does. Traced, it gives the
    * per-layer metrics; then one warm phase runs untraced and one traced,
    * and the second minus the first is the tracing overhead.
    */
  def measure(trace: Boolean, out: java.util.Map[String, Any],
      withOverhead: Boolean = true): Unit = {
    val l = new EngineListener
    def traced[T](first: Boolean)(body: => T): T = {
      spark.sparkContext.addSparkListener(l)
      listener = Some(l)
      recording = first
      tracer = new Tracer(spark.sparkContext, traced = true)
      try body finally {
        ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
        spark.sparkContext.clearJobGroup()
        listener = None
      }
    }
    val it = if (trace) traced(first = true)(iteration(0)) else iteration(0)
    if (trace) {
      layerMetrics(it)
      out.put("spans", tracer.toJson(l.jobsInGroup))
    }
    tracer = new Tracer(spark.sparkContext, traced = false)
    out.put("iterations", java.util.List.of(it.asJava))
    if (trace && withOverhead) {
      val untraced = warmPhase(1)
      val during = traced(first = false)(warmPhase(2))
      tracer = new Tracer(spark.sparkContext, traced = false)
      perLayer("env.tracing_overhead_s") = during - untraced
    }
    if (trace) out.put("per_layer", perLayer.asJava)
  }

  protected def secondsOf(name: String): Double =
    tracer.spans.filter(_.name == name).map(tracer.selfSeconds).sum
}

/** Programs 1 → 2 → 3 on an empty work dir (cold), then again after the CSV
  * gained new schools (incremental). Program 2 talks HTTP to [[LlmSim]].
  */
final class SchoolBench(spark: SparkSession, inputs: String, work: String)
    extends Workload(spark) {
  private val sim = new LlmSim(serviceMs = SchoolBench.LlmServiceMs,
    failCodes = Files.readAllLines(Paths.get(s"$inputs/fail_codes.txt")).asScala.toSet)

  override def close(): Unit = sim.stop()

  private def run(phaseName: String, csv: String, dir: String): mutable.LinkedHashMap[String, Any] = {
    sim.startPhase()
    val req0 = sim.requests.get
    val err0 = sim.errors5xx.get
    val busy0 = sim.busySeconds
    val endpoint = sim.endpoint
    val ((written, stats, site), wall) = phase(phaseName) {
      val written = tracer.span(s"$phaseName/MarkdownJob.run") {
        MarkdownJob.run(spark, csv, s"$inputs/template.md", s"$dir/md").written
      }
      val stats = tracer.span(s"$phaseName/EnrichJob.run") {
        EnrichJob.run(spark, s"$dir/md", s"$dir/ai", s"$dir/json",
          s"$inputs/prompt.txt", () => new HttpLlmTransport(endpoint, "bench-key"),
          EnrichConfig())
      }
      val site = tracer.span(s"$phaseName/SiteJob.run") {
        SiteJob.run(spark, csv, s"$dir/ai", s"$inputs/site.html", s"$dir/site/index.html")
      }
      (written, stats, site)
    }
    // the site file is rewritten by the next phase; keep this phase's copy
    Files.copy(Paths.get(s"$dir/site/index.html"), Paths.get(s"$dir/$phaseName.index.html"),
      StandardCopyOption.REPLACE_EXISTING)
    def last(call: String) = tracer.spans.filter(_.name == s"$phaseName/$call").last.seconds
    mutable.LinkedHashMap[String, Any](
      "wall_s" -> wall, "markdown_written" -> written,
      "enrich_total" -> stats.total, "enrich_skipped" -> stats.skipped,
      "enrich_attempted" -> stats.attempted, "enrich_successful" -> stats.successful,
      "enrich_failed" -> stats.failed, "site_schools" -> site.schools,
      "requests" -> (sim.requests.get - req0), "errors_5xx" -> (sim.errors5xx.get - err0),
      "peak_inflight" -> sim.peakInflightSeen, "peak_rps" -> sim.peakPerSecond,
      "llm_busy_s" -> (sim.busySeconds - busy0), "markdown_s" -> last("MarkdownJob.run"),
      "enrich_s" -> last("EnrichJob.run"), "site_s" -> last("SiteJob.run"))
  }

  override protected def warmPhase(k: Int): Double =
    run("school.warm", s"$inputs/schools.csv", s"$work/iter-$k")("wall_s").asInstanceOf[Double]

  override protected def iteration(k: Int): mutable.LinkedHashMap[String, Any] = {
    val dir = s"$work/iter-$k"
    val cold = run("school.cold", s"$inputs/schools.csv", dir)
    val incr = run("school.incr", s"$inputs/schools_incr.csv", dir)
    mutable.LinkedHashMap("dir" -> dir, "cold_s" -> cold("wall_s"), "incr_s" -> incr("wall_s"),
      "wall_s" -> (cold("wall_s").asInstanceOf[Double] + incr("wall_s").asInstanceOf[Double]),
      "cold" -> cold.asJava, "incr" -> incr.asJava)
  }

  override protected def layerMetrics(it: mutable.LinkedHashMap[String, Any]): Unit = {
    def ph(p: String) = it(p).asInstanceOf[java.util.Map[String, Any]].asScala
    for (p <- Seq("cold", "incr")) {
      perLayer(s"pipeline.markdown.${p}_s") = secondsOf(s"school.$p/MarkdownJob.run")
      perLayer(s"pipeline.site.${p}_s") = secondsOf(s"school.$p/SiteJob.run")
      perLayer(s"enrich.job.${p}_s") = secondsOf(s"school.$p/EnrichJob.run")
      perLayer(s"sinks.files_written.$p") = {
        val f = ph(p)
        (f("markdown_written").asInstanceOf[Long] + 2 * f("enrich_successful").asInstanceOf[Long] +
          f("enrich_failed").asInstanceOf[Long] + 1).toDouble
      }
      perLayer(s"sources.scan_tasks.$p") = docScanTasks.getOrElse(s"school.$p", 0).toDouble
    }
    val cold = ph("cold")
    val incr = ph("incr")
    def n(m: collection.Map[String, Any], k: String) = m(k) match {
      case l: Long => l.toDouble
      case i: Int => i.toDouble
      case d: Double => d
    }
    val requests = n(cold, "requests") + n(incr, "requests")
    val ok = n(cold, "enrich_successful") + n(incr, "enrich_successful")
    perLayer("enrich.llm_busy_share") = n(cold, "llm_busy_s") / n(cold, "enrich_s")
    perLayer("enrich.requests") = requests
    perLayer("enrich.retries") = n(cold, "errors_5xx") + n(incr, "errors_5xx")
    perLayer("enrich.ok_per_request") = if (requests > 0) ok / requests else 0.0
    perLayer("enrich.peak_inflight") = math.max(n(cold, "peak_inflight"), n(incr, "peak_inflight"))
    perLayer("enrich.peak_rps") = math.max(n(cold, "peak_rps"), n(incr, "peak_rps"))
  }
}

object SchoolBench {
  /** Simulated LLM service time per request: 2 s. At that latency a
    * client that keeps the reference's cap of 250 requests in flight
    * completes at most 125 requests/s, under the reference's 10 000 RPM
    * (167/s). A 5xx answer costs one service time, the 1 s backoff and a
    * second service time.
    */
  val LlmServiceMs = 2000L
}

/** Snapshot 1 on empty admission and lexical indexes (cold), then the
  * overlapping re-crawl admitted against them (incremental).
  */
final class CrawlBench(spark: SparkSession, inputs: String, work: String)
    extends Workload(spark) {

  private def dirBytes(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }
  private def inputBytes(snap: String): Long = dirBytes(s"$inputs/$snap").values.sum

  private def snapshot(phaseName: String, snap: String, dir: String) = {
    val before = dirBytes(s"$dir/ix") ++ dirBytes(s"$dir/lex")
    val (counts, wall) = phase(phaseName) {
      tracer.span(s"$phaseName/CrawlPipeline.run") {
        CrawlPipeline.run(spark, s"$inputs/$snap/*.warc", s"$dir/ck-$snap",
          indexDir = Some(s"$dir/ix"), lexDir = Some(s"$dir/lex"))
      }
    }
    val after = dirBytes(s"$dir/ix") ++ dirBytes(s"$dir/lex")
    // a file counts as written when it is new or changed size
    val written = after.collect { case (f, b) if !before.get(f).contains(b) => b }.sum
    mutable.LinkedHashMap[String, Any]("wall_s" -> wall,
      "stages" -> counts.map(c => c.stage -> c.rows).toMap.asJava,
      "stage_s" -> counts.map(c => c.stage -> c.seconds).toMap.asJava,
      "index_mb" -> after.values.sum / 1048576.0,
      "write_amp" -> written.toDouble / inputBytes(snap))
  }

  override protected def warmPhase(k: Int): Double =
    snapshot("crawl.warm", "s1", s"$work/iter-$k")("wall_s").asInstanceOf[Double]

  override protected def iteration(k: Int): mutable.LinkedHashMap[String, Any] = {
    val dir = s"$work/iter-$k"
    val cold = snapshot("crawl.cold", "s1", dir)
    val incr = snapshot("crawl.incr", "s2", dir)
    mutable.LinkedHashMap("dir" -> dir, "cold_s" -> cold("wall_s"), "incr_s" -> incr("wall_s"),
      "wall_s" -> (cold("wall_s").asInstanceOf[Double] + incr("wall_s").asInstanceOf[Double]),
      "cold" -> cold.asJava, "incr" -> incr.asJava)
  }

  override protected def layerMetrics(it: mutable.LinkedHashMap[String, Any]): Unit =
    for ((p, snap) <- Seq("cold" -> "s1", "incr" -> "s2")) {
      val ph = it(p).asInstanceOf[java.util.Map[String, Any]].asScala
      ph("stage_s").asInstanceOf[java.util.Map[String, Double]].asScala.foreach {
        case (stage, s) => perLayer(s"pipeline.stage.$snap.${stage}_s") = s
      }
      perLayer(s"index.bytes_mb.$snap") = ph("index_mb").asInstanceOf[Double]
      perLayer(s"index.write_amp.$snap") = ph("write_amp").asInstanceOf[Double]
    }
}

/** Registry flow queries in `graft.Bench`'s order, each forced through a
  * `noop` write: one sweep in this JVM. Row counts and order-independent
  * hashes are taken afterwards, outside the timed sweep.
  */
final class RegistryBench(spark: SparkSession, dataDir: String, names: Seq[String])
    extends Workload(spark) {
  private val byName = graft.SparkEntry.registry.map(q => q.name -> q).toMap
  private val queries = names.map { n =>
    val q = byName.getOrElse(n, throw new IllegalArgumentException(s"no query $n"))
    require(!q.gate, s"$n is a verification gate, not a flow query")
    q
  }.sortBy(_.name)

  private def sweep(phaseName: String): Double =
    phase(phaseName) {
      queries.foreach { q =>
        tracer.span(s"$phaseName/${q.name}") {
          q.build(spark, dataDir).write.format("noop").mode("overwrite").save()
        }
      }
    }._2

  override protected def iteration(k: Int): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap("wall_s" -> sweep("registry.cold"))

  override def measure(trace: Boolean, out: java.util.Map[String, Any],
      withOverhead: Boolean): Unit = {
    super.measure(trace, out, withOverhead)
    out.put("hashes", queries.map(q => q.name -> Registry.digest(q.build(spark, dataDir)))
      .toMap.asJava)
  }

  override protected def layerMetrics(it: mutable.LinkedHashMap[String, Any]): Unit = {
    val sweepSpan = tracer.spans.filter(_.name == "registry.cold").last
    queries.foreach { q =>
      perLayer(s"relational.query.${q.name}_s") = secondsOf(s"registry.cold/${q.name}")
    }
    perLayer("relational.rest_s") = tracer.selfSeconds(sweepSpan)
  }
}

object Registry {
  /** Row count and an order-independent hash of every row's JSON form;
    * top-level doubles are rounded to 9 places first.
    */
  def digest(df: DataFrame): java.util.List[String] = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 9).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }
    val row = df.select(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .collect()(0)
    java.util.List.of(row.getLong(0).toString, String.valueOf(row.get(1)))
  }
}
