package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Loopback stand-in for the chat-completions endpoint.
  *
  * Each request is answered after a fixed service time. The answer is
  * scheduled on one timer thread, so a request in flight holds no thread.
  * The first request for each school in `failCodes` (a seeded, exact share
  * the input generator picked) is answered with HTTP 500; its retry is
  * answered normally, so every run retries the same requests.
  *
  * Counters: requests, 5xx answers, peak requests in flight, the peak
  * number of requests arriving within one wall-clock second, and the time
  * with at least one request in flight.
  */
final class LlmSim(serviceMs: Long, failCodes: Set[String]) {
  private def daemon(name: String): ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, name)
    t.setDaemon(true)
    t
  }
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 1024)
  private val acceptors = Executors.newFixedThreadPool(2, daemon("llm-sim-accept"))
  private val timer: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor(daemon("llm-sim-timer"))
  private val mapper = new ObjectMapper()
  private val failed = ConcurrentHashMap.newKeySet[String]()
  private val perSecond = new ConcurrentHashMap[Long, AtomicInteger]()
  private val CodePattern = "Skolkod: ([0-9]+)".r

  val requests = new AtomicLong()
  val errors5xx = new AtomicLong()
  private val inflight = new AtomicInteger()
  private var peakInflight = 0
  private var busyNs = 0L
  private var busySince = 0L

  private def enter(): Unit = synchronized {
    if (inflight.getAndIncrement() == 0) busySince = System.nanoTime()
    peakInflight = math.max(peakInflight, inflight.get())
  }
  private def leave(): Unit = synchronized {
    if (inflight.decrementAndGet() == 0) busyNs += System.nanoTime() - busySince
  }

  server.createContext("/", (ex: HttpExchange) => {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    enter()
    requests.incrementAndGet()
    perSecond.computeIfAbsent(System.currentTimeMillis() / 1000, _ => new AtomicInteger())
      .incrementAndGet()
    val code = CodePattern.findFirstMatchIn(body).map(_.group(1)).getOrElse("okänd")
    val (status, reply) =
      if (failCodes(code) && failed.add(code))
        (500, """{"error":{"message":"simulated overload"}}""")
      else (200, answer(code))
    timer.schedule(new Runnable {
      override def run(): Unit = {
        try {
          val bytes = reply.getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(status, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        } catch { case _: java.io.IOException => () }
        finally {
          if (status >= 500) errors5xx.incrementAndGet()
          ex.close()
          leave()
        }
      }
    }, serviceMs, TimeUnit.MILLISECONDS)
    ()
  })
  server.setExecutor(acceptors)
  server.start()

  /** A chat-completions body whose content names the school it describes. */
  private def answer(code: String): String = {
    val root = mapper.createObjectNode()
    root.put("id", s"sim-$code")
    root.put("object", "chat.completion")
    root.put("model", "llm-sim")
    val choice = root.putArray("choices").addObject()
    choice.put("index", 0)
    choice.put("finish_reason", "stop")
    choice.putObject("message").put("role", "assistant").put("content",
      s"```markdown\n## Sammanfattning\n\nSkolkod: $code. En lugn skola med " +
        s"engagerade lärare och goda resultat.\n```")
    root.putObject("usage").put("prompt_tokens", 900).put("completion_tokens", 24)
    mapper.writeValueAsString(root)
  }

  def endpoint: String =
    s"http://127.0.0.1:${server.getAddress.getPort}/openai/deployments/sim/chat/completions"

  def peakInflightSeen: Int = synchronized(peakInflight)
  def busySeconds: Double = synchronized {
    (busyNs + (if (inflight.get() > 0) System.nanoTime() - busySince else 0L)) / 1e9
  }
  def peakPerSecond: Int = perSecond.values().toArray.map(_.asInstanceOf[AtomicInteger].get)
    .foldLeft(0)(math.max)

  /** Start a phase: peaks count afresh and failing schools fail their
    * first request again. */
  def startPhase(): Unit = synchronized {
    peakInflight = inflight.get()
    perSecond.clear()
    failed.clear()
  }

  def stop(): Unit = {
    server.stop(0)
    timer.shutdownNow()
    acceptors.shutdownNow()
    timer.awaitTermination(5, TimeUnit.SECONDS)
    acceptors.awaitTermination(5, TimeUnit.SECONDS)
  }
}
