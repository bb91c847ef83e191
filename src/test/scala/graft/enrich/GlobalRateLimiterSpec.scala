package graft.enrich

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The driver-hosted exact global limiter: one token bucket serves every
  * client over a one-round-trip socket protocol. Assertions use generous
  * tolerances — the box's scheduler can delay a client, which only SHRINKS
  * its assigned wait (the schedule itself stays exact server-side).
  */
/** Executor-side in-flight tracker for the cross-partition cap test (top
  * level so the transport closure stays serializable; local[N] = one JVM).
  */
object ConcurrencyProbe {
  val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  val peak = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { inFlight.set(0); peak.set(0) }
}

class ProbeTransport extends LlmTransport {
  override def post(payload: LlmPayload): LlmResponse = {
    val n = ConcurrencyProbe.inFlight.incrementAndGet()
    ConcurrencyProbe.peak.updateAndGet(p => math.max(p, n))
    Thread.sleep(30)
    ConcurrencyProbe.inFlight.decrementAndGet()
    LlmResponse(200,
      """{"choices":[{"message":{"role":"assistant","content":"ok"}}]}""")
  }
}

class GlobalRateLimiterSpec extends graft.SparkSpec {

  /** Re-run a timing-sensitive scenario on failure (fresh server each
    * attempt). The schedule assertions are load-tolerant by construction —
    * stalls only SHRINK recorded waits — but a full-suite run can stall
    * client threads past whole slots and eat the recordings the floors
    * need. One noisy sample must not fail the suite; the same failure on
    * three independent attempts is no longer load, it's a bug.
    */
  private def retryOnLoad(attempts: Int = 3)(body: => Unit): Unit = {
    var left = attempts
    while (left > 1) {
      try { body; return }
      catch { case _: org.scalatest.exceptions.TestFailedException => left -= 1 }
    }
    body
  }

  test("sequential acquires are spaced one interval apart on the shared clock") { retryOnLoad() {
    val srv = RateLimiterServer.start(ratePerMinute = 600) // 100 ms interval
    try {
      val waits = mutable.Buffer[Long]()
      val lim = new RemoteRateLimiter("127.0.0.1", srv.port, waits += _)
      (1 to 5).foreach(_ => lim.acquire())
      // first grant is immediate (wait 0 → sleeper not called); a client
      // the box stalls PAST its slot also gets wait 0 and goes unrecorded,
      // so under suite load fewer than 4 waits can legitimately appear —
      // the schedule itself stays exact server-side
      assert(waits.size <= 4, s"waits=$waits")
      assert(waits == waits.sorted) // cumulative schedule
      // every assigned wait targets a slot within t0+400ms; stalls only
      // shrink waits, never grow them past the schedule
      assert(waits.forall(w => w > 0 && w <= 450), s"waits=$waits")
      // a fully-empty list would mean >400ms of stalls across a 5-iteration
      // no-op loop — treat as load noise only if the box is THAT slow
      assert(waits.nonEmpty, s"no wait recorded: either the box stalled " +
        s">400ms across 5 acquires or the schedule collapsed; waits=$waits")
    } finally srv.stop()
  } }

  test("concurrent acquires from many threads get distinct serialized slots") { retryOnLoad() {
    val srv = RateLimiterServer.start(ratePerMinute = 600)
    try {
      val waits = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val pool = Executors.newFixedThreadPool(8)
      val start = new CountDownLatch(1)
      (1 to 8).foreach { _ =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            new RemoteRateLimiter("127.0.0.1", srv.port, waits.add(_)).acquire()
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(10, TimeUnit.SECONDS))
      val sorted = waits.asScala.toSeq.sorted
      // one 0-wait grant is always unrecorded; threads the box stalls past
      // their slot also get wait 0 (unrecorded), so under suite load fewer
      // than 7 can appear — what must hold is that the recorded waits are
      // DISTINCT serialized slots within the ~700ms schedule, with at most
      // one stall-shrunk duplicate
      assert(sorted.size <= 7, s"waits=$sorted")
      assert(sorted.size >= 4, s"more than half the pool skipped its slot " +
        s"(>100ms stall on 4+ threads) — waits=$sorted")
      assert(sorted.forall(w => w > 0 && w <= 800), s"waits=$sorted")
      assert(sorted.distinct.size >= sorted.size - 1,
        s"slots must serialize, not share: $sorted")
      // schedule-SPAN floor: with >= 6 recorded waits the latest slot sits
      // at >= 500ms in the exact schedule; a limiter that hands out all
      // slots almost immediately would pass the checks above (positive,
      // distinct, <= 800) yet fail this — load-tolerant (stalls only SHRINK
      // waits, and fewer than 6 recorded waits means the box already ate
      // slots, at which point the span says nothing)
      if (sorted.size >= 6)
        assert(sorted.last > 200,
          s"schedule collapsed: max wait ${sorted.last}ms across " +
            s"${sorted.size} serialized slots; waits=$sorted")
    } finally srv.stop()
  } }

  test("fails open (no exception, no sleep) when the server is gone") {
    val srv = RateLimiterServer.start(ratePerMinute = 600)
    val port = srv.port
    srv.stop()
    Thread.sleep(50)
    val waits = mutable.Buffer[Long]()
    val lim = new RemoteRateLimiter("127.0.0.1", port, waits += _)
    lim.acquire() // must not throw
    assert(waits.isEmpty)
  }

  test("concurrency leases: at most maxConcurrent bodies run at once (E2 exact)") { retryOnLoad() {
    val srv = RateLimiterServer.start(ratePerMinute = 6000000, maxConcurrent = 2)
    try {
      val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
      val peak = new java.util.concurrent.atomic.AtomicInteger(0)
      val lim = new RemoteConcurrencyLimiter("127.0.0.1", srv.port)
      val pool = Executors.newFixedThreadPool(8)
      (1 to 8).foreach { _ =>
        pool.submit(new Runnable {
          override def run(): Unit = lim.withSlot {
            val n = inFlight.incrementAndGet()
            peak.updateAndGet(p => math.max(p, n))
            Thread.sleep(60)
            inFlight.decrementAndGet()
            ()
          }
        })
      }
      pool.shutdown()
      assert(pool.awaitTermination(20, TimeUnit.SECONDS))
      assert(peak.get() >= 1 && peak.get() <= 2, s"peak=${peak.get()}")
      assert(srv.slotsInUse == 0) // every lease returned
    } finally srv.stop()
  } }

  test("a dropped lease connection frees its slot (executor-death teardown)") { retryOnLoad() {
    val srv = RateLimiterServer.start(ratePerMinute = 6000000, maxConcurrent = 1)
    try {
      // hold the single slot via a raw socket (no clean protocol release)
      val holder = new java.net.Socket()
      holder.connect(new java.net.InetSocketAddress("127.0.0.1", srv.port), 5000)
      holder.getOutputStream.write('C'); holder.getOutputStream.flush()
      new java.io.DataInputStream(holder.getInputStream).readLong() // granted
      val acquired = new CountDownLatch(1)
      val t = new Thread(() =>
        new RemoteConcurrencyLimiter("127.0.0.1", srv.port).withSlot {
          acquired.countDown()
        })
      t.start()
      // second acquire must queue while the slot is held...
      assert(!acquired.await(300, TimeUnit.MILLISECONDS))
      holder.close() // ...and proceed on TCP teardown alone
      assert(acquired.await(10, TimeUnit.SECONDS))
      t.join(10000)
    } finally srv.stop()
  } }

  test("EnrichOperator holds <=N in flight across partitions") { retryOnLoad() {
    import spark.implicits._
    ConcurrencyProbe.reset()
    // 4 partitions compete for the envelope's 2 global slots
    val docs = spark.createDataset((1 to 12).map(i =>
      EnrichOperator.Doc(s"k$i", s"content $i"))).repartition(4)
    val out = EnrichOperator.enrich(
      docs, () => new ProbeTransport, "SYSTEM:\nsys\nUSER:\n{school_data}",
      EnrichConfig(maxConcurrent = 2), sleeper = _ => ())(_.collect())
    assert(out.length == 12)
    assert(ConcurrencyProbe.peak.get() >= 1 && ConcurrencyProbe.peak.get() <= 2,
      s"peak=${ConcurrencyProbe.peak.get()}")
  } }

  test("EnrichJob with only maxConcurrent set holds <=N in flight over 4+ input partitions") {
    retryOnLoad() {
      val dir = java.nio.file.Files.createTempDirectory("grlcap").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
      (1 to 16).foreach(i => java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/in/S$i.md"), s"# School $i\ndata".getBytes("UTF-8")))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/prompt.txt"),
        "SYSTEM:\nsys\nUSER:\n{school_data}".getBytes("UTF-8"))
      val inParts = graft.sources.SchoolCsv.readDocumentDir(spark, s"$dir/in", ".md")
        .rdd.getNumPartitions
      assert(inParts >= 4, s"input partitions=$inParts")
      ConcurrencyProbe.reset()
      val stats = EnrichJob.run(spark, s"$dir/in", s"$dir/outmd", s"$dir/outjson",
        s"$dir/prompt.txt", () => new ProbeTransport, EnrichConfig(maxConcurrent = 2))
      assert(stats == EnrichJob.Stats(16, 0, 16, 16, 0))
      val peak = ConcurrencyProbe.peak.get()
      assert(peak >= 1 && peak <= 2, s"peak=$peak")
    }
  }

  test("EnrichJob end-to-end routes permits through the server") {
    val dir = java.nio.file.Files.createTempDirectory("grl").toString
    def write(p: String, c: String): Unit = {
      val path = java.nio.file.Paths.get(p)
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path, c.getBytes("UTF-8"))
    }
    (1 to 6).foreach(i => write(s"$dir/in/S$i.md", s"# School $i\ndata"))
    write(s"$dir/prompt.txt", "SYSTEM:\nsys\nUSER:\n{school_data}")
    val stats = EnrichJob.run(spark, s"$dir/in", s"$dir/outmd", s"$dir/outjson",
      s"$dir/prompt.txt",
      config = EnrichConfig(targetRpm = 600000))
    assert(stats.attempted == 6 && stats.successful == 6 && stats.failed == 0)
    assert(new java.io.File(s"$dir/outmd").list().count(_.endsWith(".md")) == 6)
  }
}
