package graft.enrich

import graft.core.RefConfig
import graft.functions.TextClean
import com.fasterxml.jackson.databind.ObjectMapper

import java.io.IOException
import java.util.concurrent.TimeoutException

/** E3/E4/E5: retry + backoff + 429 handling + rate limiting around one LLM
  * call, mirroring the reference state machine exactly
  * (`call_openai_api`, `src/program2_ai_processor.py:343-515`):
  *
  *   - HTTP 200, unparseable JSON → fail immediately, NO retry (`:436-441`)
  *   - HTTP 200, `choices` missing/empty → backoff^attempt, retry (`:404-417`)
  *   - HTTP 200, empty content → backoff^attempt, retry (`:419-434`)
  *   - HTTP 200, content → success, F3 fence-clean applied
  *   - HTTP 429 → sleep 60·(attempt+1)s, retry (`:442-449`) — sleeps even on
  *     the final attempt, then falls through to the all-failed result
  *   - other status / network error / timeout / unexpected → backoff^attempt,
  *     fail with typed error after the last attempt
  *
  * `targetRpm` and `maxConcurrent` size the one global envelope that
  * [[EnrichOperator.enrich]] opens around every enrichment action.
  */
final case class EnrichConfig(
    maxRetries: Int = RefConfig.MaxRetries,
    backoffFactor: Double = RefConfig.BackoffFactor,
    retrySleepOn429Seconds: Int = RefConfig.RetrySleepOn429Seconds,
    targetRpm: Int = RefConfig.TargetRpm,
    maxConcurrent: Int = RefConfig.MaxConcurrentRequests)

/** Outcome of one enrichment call: `raw` carries the response body (or a
  * synthesized error JSON) for the raw/FAILED sinks (E7).
  */
final case class EnrichResult(ok: Boolean, description: Option[String], raw: Option[String])

final class RetryingLlmCaller(
    transport: LlmTransport,
    config: EnrichConfig = EnrichConfig(),
    sleeper: Long => Unit = Thread.sleep,
    limiter: RateLimiter = RateLimiter.unlimited) extends Serializable {

  @transient private lazy val mapper = new ObjectMapper()

  private def errJson(kv: (String, String)*): String = {
    val root = mapper.createObjectNode()
    kv.foreach { case (k, v) => root.put(k, v) }
    mapper.writeValueAsString(root)
  }

  def call(payload: LlmPayload): EnrichResult = {
    var attempt = 0
    while (attempt <= config.maxRetries) {
      val last = attempt == config.maxRetries
      def backoff(): Unit = sleeper((math.pow(config.backoffFactor, attempt) * 1000).toLong)
      try {
        // limiter is taken per ATTEMPT, not per document — a retried request
        // consumes a fresh permit, like the reference's limiter inside the
        // retry loop (`src/program2_ai_processor.py:389` within the `:387` loop)
        limiter.acquire()
        val resp = transport.post(payload)
        resp.status match {
          case 200 =>
            val parsed =
              try Some(mapper.readTree(resp.body))
              catch { case _: Exception => None }
            parsed match {
              case None => // JSON decode failure is terminal (no retry)
                return EnrichResult(ok = false, None,
                  Some(errJson("raw_response_text" -> resp.body)))
              case Some(json) =>
                val choices = json.get("choices")
                if (choices == null || !choices.isArray || choices.isEmpty) {
                  if (last) return EnrichResult(ok = false, None, Some(resp.body))
                  backoff()
                } else {
                  val content = {
                    val c = choices.get(0).path("message").path("content")
                    if (c.isMissingNode || c.isNull) "" else c.asText()
                  }
                  if (content.isEmpty) {
                    if (last) return EnrichResult(ok = false, None, Some(resp.body))
                    backoff()
                  } else {
                    return EnrichResult(ok = true,
                      Some(TextClean.cleanAiResponse(content)), Some(resp.body))
                  }
                }
            }
          case 429 =>
            // sleeps even when it is the final attempt, then the loop ends
            sleeper(config.retrySleepOn429Seconds.toLong * (attempt + 1) * 1000)
          case status =>
            if (last) {
              val root = mapper.createObjectNode()
              root.put("status_code", status)
              root.put("error_body", resp.body)
              return EnrichResult(ok = false, None, Some(mapper.writeValueAsString(root)))
            }
            backoff()
        }
      } catch {
        case e: TimeoutException =>
          if (last) return EnrichResult(ok = false, None,
            Some(errJson("error_type" -> "TimeoutError")))
          backoff()
        case e: IOException =>
          if (last) return EnrichResult(ok = false, None,
            Some(errJson("error_type" -> "ClientError", "message" -> String.valueOf(e.getMessage))))
          backoff()
        case e: Exception =>
          if (last) return EnrichResult(ok = false, None,
            Some(errJson("error_type" -> "Exception", "message" -> String.valueOf(e.getMessage))))
          backoff()
      }
      attempt += 1
    }
    EnrichResult(ok = false, None, None) // all retries exhausted (429 path)
  }
}

/** E3: a source of request permits — `acquire` blocks until the next one.
  * The one token bucket behind it is [[RateLimiterServer]]'s.
  */
trait RateLimiter extends Serializable {
  def acquire(): Unit
}

object RateLimiter {
  /** Every acquire returns immediately. */
  val unlimited: RateLimiter = () => ()
}
