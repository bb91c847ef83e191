package graft.enrich

import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset

import java.util.concurrent.{Callable, Executors, Future => JFuture, TimeUnit}
import scala.collection.mutable

/** E1/E2/E3: the distributed LLM-map operator — `mapPartitions` over a
  * thread pool — and the one place that throttles the LLM (SURVEY.md §2.7).
  *
  * The reference throttles Program 2 with one `asyncio.Semaphore(250)` and
  * one 10 000 RPM `AsyncLimiter` (`src/config.py:91-92`). Here one
  * driver-hosted [[RateLimiterServer]] holds both for the duration of the
  * caller's action: `maxConcurrent` leased slots and one token bucket at
  * `targetRpm`, shared by every partition of every executor. The input is
  * coalesced to `defaultParallelism` partitions, so every partition runs at
  * once and the global envelope is the only bound.
  *
  * Within a partition the task thread takes a slot for the next document
  * and only then hands the document to a pool thread, so no thread is
  * parked per queued document. The pool thread holds the slot for the whole
  * call, retries included, like the reference's semaphore around its retry
  * loop; the caller draws one rate permit per ATTEMPT, like the reference's
  * `async with rate_limiter` inside that loop
  * (`src/program2_ai_processor.py:387-389`). Transport and pool live per
  * partition (the analogue of the reference's pooled ClientSession).
  *
  * Rows stream under a window of 2×maxConcurrent pending results per
  * partition — `invokeAll` over the whole partition would OOM at 100 TB —
  * and come out in input order (FIFO drain).
  */
object EnrichOperator {

  final case class Doc(key: String, content: String)
  final case class Enriched(key: String, ok: Boolean, description: String, raw: String)

  /** Enriches `docs` and runs `consume` on the result inside the envelope:
    * every action that reads the enriched rows must run within `consume`,
    * because the envelope stops when it returns.
    */
  def enrich[T](
      docs: Dataset[Doc],
      transportFactory: () => LlmTransport,
      promptTemplate: String,
      config: EnrichConfig = EnrichConfig(),
      sleeper: Long => Unit = Thread.sleep)(consume: Dataset[Enriched] => T): T = {
    val spark = docs.sparkSession
    import spark.implicits._
    val server = RateLimiterServer.start(config.targetRpm.toDouble, config.maxConcurrent)
    try {
      val host = spark.sparkContext.getConf.get("spark.driver.host", "127.0.0.1")
      val port = server.port // the server itself is not serializable
      val window = 2 * config.maxConcurrent
      consume(docs.coalesce(spark.sparkContext.defaultParallelism).mapPartitions { rows =>
        if (!rows.hasNext) Iterator.empty
        else {
          val slots = new RemoteConcurrencyLimiter(host, port)
          val caller = new RetryingLlmCaller(transportFactory(), config, sleeper,
            new RemoteRateLimiter(host, port, sleeper))
          val pool = Executors.newCachedThreadPool()
          // if the consumer abandons the iterator (limit, task kill), still
          // release the pool threads at task end
          Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
            pool.shutdownNow(); ()
          })
          val pending = mutable.Queue.empty[JFuture[Enriched]]

          def fill(): Unit =
            while (rows.hasNext && pending.size < window) {
              val doc = rows.next()
              val slot = slots.acquire()
              pending.enqueue(pool.submit(new Callable[Enriched] {
                override def call(): Enriched =
                  try {
                    val r = caller.call(PromptTemplate.buildPayload(promptTemplate, doc.content))
                    Enriched(doc.key, r.ok, r.description.orNull, r.raw.orNull)
                  } finally slot.close()
              }))
            }

          fill()
          new Iterator[Enriched] {
            override def hasNext: Boolean = pending.nonEmpty
            override def next(): Enriched = {
              val r = pending.dequeue().get()
              fill()
              if (pending.isEmpty) {
                pool.shutdown()
                pool.awaitTermination(1, TimeUnit.MINUTES)
              }
              r
            }
          }
        }
      })
    } finally server.stop()
  }
}
