package graft.enrich

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.{Executors, Semaphore}
import java.util.concurrent.atomic.AtomicBoolean

/** Exact GLOBAL rate limiting and concurrency capping (E2/E3) as a
  * driver-hosted side service — the envelope [[EnrichOperator.enrich]]
  * opens around every enrichment action.
  *
  * The reference's `AsyncLimiter(rpm)` and `asyncio.Semaphore(250)` are exact
  * because Program 2 is one process (`src/program2_ai_processor.py:772-787`,
  * `src/config.py:91`); the distributed analogue needs one process to own the
  * token-bucket clock and the slot count. The driver hosts both behind one
  * socket protocol, selected by the first byte a client sends:
  *
  *   - `'R'` (rate): server assigns the next bucket slot atomically and
  *     replies with an 8-byte wait-in-millis; the client sleeps locally and
  *     the connection closes. Grants are serialized server-side, so the
  *     global request schedule is EXACTLY one permit per `60000/rpm` ms
  *     across every partition of every executor.
  *   - `'C'` (concurrency): server blocks until one of `maxConcurrent` slots
  *     frees, replies with an 8-byte grant, and the client HOLDS the
  *     connection for the duration of its LLM call — the lease is the open
  *     socket, so a dead executor releases its slot via TCP teardown instead
  *     of leaking it (the failure mode a token-based release protocol would
  *     have).
  *
  * Scale check: one short-lived TCP round trip per rate permit plus one held
  * (idle) connection per in-flight request. At the reference's own envelope
  * (250 concurrent, 10 000 rpm ≈ 167 req/s) this is negligible against
  * multi-second LLM calls; held connections cost the driver one parked
  * handler thread each. If the limit itself is the bottleneck, the answer is
  * a higher configured rpm/cap, not more limiter servers.
  */
final class RateLimiterServer private (server: ServerSocket, intervalMs: Double,
    maxConcurrent: Int) {
  @volatile private var nextFreeAtMs: Double = 0.0
  private val running = new AtomicBoolean(true)
  // fair: slot grants go out in arrival order, so no partition starves
  private val slots = new Semaphore(maxConcurrent, true)

  /** Atomic bucket math: assign the next free slot, return the wait. */
  private def grantWaitMs(): Long = synchronized {
    val now = System.currentTimeMillis().toDouble
    val target = math.max(now, nextFreeAtMs)
    nextFreeAtMs = target + intervalMs
    math.max(0L, (target - now).toLong)
  }

  // per-connection handlers: rate requests finish in microseconds, but a
  // concurrency lease parks its handler for the client's whole LLM call, so
  // the accept loop must never handle connections inline
  private val handlers = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-rate-limiter-handler")
    t.setDaemon(true)
    t
  })

  private def handle(sock: Socket): Unit =
    try {
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      in.read() match {
        case 'R' =>
          out.writeLong(grantWaitMs())
          out.flush()
        case 'C' =>
          slots.acquire()
          try {
            out.writeLong(0L) // granted
            out.flush()
            // lease: block until the client closes (EOF) — releases on
            // normal completion and on abrupt executor death alike
            while (in.read() != -1) ()
          } finally slots.release()
        case _ => () // EOF or unknown op — drop
      }
    } catch {
      case _: java.io.IOException => ()
      case _: InterruptedException => Thread.currentThread().interrupt()
    } finally {
      try sock.close() catch { case _: java.io.IOException => () }
    }

  private val acceptLoop = new Thread("graft-rate-limiter-server") {
    override def run(): Unit =
      while (running.get()) {
        try {
          val sock = server.accept()
          handlers.execute(() => handle(sock))
        } catch { case _: java.io.IOException => () /* closed or client gone */ }
      }
  }
  acceptLoop.setDaemon(true)
  acceptLoop.start()

  def port: Int = server.getLocalPort

  /** In-flight leases currently held (visible for specs/monitoring). */
  def slotsInUse: Int = maxConcurrent - slots.availablePermits()

  def stop(): Unit = {
    running.set(false)
    try server.close() catch { case _: java.io.IOException => () }
    handlers.shutdownNow() // interrupts parked lease handlers
  }
}

object RateLimiterServer {
  /** Bind on all interfaces (executors connect via the driver host).
    *
    * Backlog is explicit and large: every executor partition may connect in
    * the same instant at job start, and the JVM default (~50) would refuse
    * the overflow — tripping clients into fail-open and silently disabling
    * the exact limit (the accept loop drains fast; the queue just has to
    * absorb the burst).
    */
  def start(ratePerMinute: Double, maxConcurrent: Int = Int.MaxValue): RateLimiterServer = {
    require(ratePerMinute > 0, "global rate limiting requires a positive rpm")
    require(maxConcurrent > 0, "global concurrency cap must be positive")
    new RateLimiterServer(new ServerSocket(0, 1024), 60000.0 / ratePerMinute,
      maxConcurrent)
  }
}

/** Executor-side handle: each `acquire()` asks the server for its slot and
  * sleeps out the answer locally. Fails OPEN for the current call after
  * `maxAttempts` connection failures (one warning, then unthrottled) — the
  * reference has no equivalent failure mode (single process), and a dead
  * driver socket should degrade throughput guarantees, not abort the
  * enrichment job. Fail-open is NOT latched: the next `acquire()` retries
  * the server from scratch, so a restarted/recovered listener resumes exact
  * limiting mid-job.
  */
final class RemoteRateLimiter(
    host: String, port: Int, sleeper: Long => Unit = Thread.sleep,
    maxAttempts: Int = 3) extends RateLimiter {

  @transient private lazy val warned = new AtomicBoolean(false)

  override def acquire(): Unit = {
    var attempt = 0
    while (attempt < maxAttempts) {
      try {
        val sock = new Socket()
        try {
          // bounded connect/read so a HUNG (not just dead) server degrades
          // to fail-open instead of blocking the enrichment task forever
          sock.connect(new java.net.InetSocketAddress(InetAddress.getByName(host), port), 5000)
          sock.setSoTimeout(5000)
          val out = new DataOutputStream(sock.getOutputStream)
          out.write('R'); out.flush()
          val in = new DataInputStream(sock.getInputStream)
          val waitMs = in.readLong()
          if (waitMs > 0) sleeper(waitMs)
          return
        } finally sock.close()
      } catch {
        case _: java.io.IOException =>
          attempt += 1
          // brief pause between attempts: a connect refused during a startup
          // burst (backlog overflow) usually succeeds a beat later
          if (attempt < maxAttempts) Thread.sleep(50L * attempt)
      }
    }
    if (warned.compareAndSet(false, true))
      System.err.println(
        s"[enrich] rate-limiter server $host:$port unreachable; failing open (unthrottled)")
  }
}

/** Executor-side global concurrency slot (E2): `acquire` blocks until the
  * driver grants one of its `maxConcurrent` leases and returns the lease,
  * whose socket stays open until it is closed. Queueing is unbounded by
  * design — a full window simply parks the caller, exactly like the
  * reference's `async with semaphore`. Fails OPEN per call (a no-op lease)
  * when the server is unreachable (same rationale as [[RemoteRateLimiter]]).
  */
final class RemoteConcurrencyLimiter(
    host: String, port: Int, connectTimeoutMs: Int = 5000,
    maxAttempts: Int = 3) extends Serializable {

  @transient private lazy val warned = new AtomicBoolean(false)

  def acquire(): AutoCloseable = {
    var lease: Option[Socket] = None
    var attempt = 0
    while (lease.isEmpty && attempt < maxAttempts) {
      val sock = new Socket()
      try {
        sock.connect(new java.net.InetSocketAddress(InetAddress.getByName(host), port),
          connectTimeoutMs)
        val out = new DataOutputStream(sock.getOutputStream)
        out.write('C'); out.flush()
        // deliberately NO read timeout: blocking here IS the queue — the
        // grant arrives whenever a slot frees
        new DataInputStream(sock.getInputStream).readLong()
        lease = Some(sock)
      } catch {
        case _: java.io.IOException =>
          try sock.close() catch { case _: java.io.IOException => () }
          attempt += 1
          if (attempt < maxAttempts) Thread.sleep(50L * attempt)
      }
    }
    if (lease.isEmpty && warned.compareAndSet(false, true))
      System.err.println(
        s"[enrich] concurrency-limiter server $host:$port unreachable; failing open (uncapped)")
    val held = lease
    () => held.foreach(s => try s.close() catch { case _: java.io.IOException => () })
  }

  /** Runs `body` while holding one slot. */
  def withSlot[T](body: => T): T = {
    val lease = acquire()
    try body finally lease.close()
  }
}
