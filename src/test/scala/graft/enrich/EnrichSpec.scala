package graft.enrich

import graft.SparkSpec

import java.io.IOException
import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** Mirrors the reference's mocked-session tests for the E1-E7 state machine
  * (`tests/test_program2_all.py:122-307`): 429 sleeps, 500-retry-then-fail,
  * network error, timeout, invalid JSON no-retry, empty choices/content with
  * retry-then-success, fence cleaning, skip-if-exists.
  */
class EnrichSpec extends SparkSpec {

  /** Transport that replays a script of responses/throwables. */
  private class Scripted(script: Seq[Either[Throwable, LlmResponse]]) extends LlmTransport {
    val calls = new AtomicInteger(0)
    override def post(p: LlmPayload): LlmResponse = {
      val i = calls.getAndIncrement()
      script(math.min(i, script.length - 1)) match {
        case Left(t) => throw t
        case Right(r) => r
      }
    }
  }

  private def ok(content: String): LlmResponse = {
    val esc = content.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    LlmResponse(200, s"""{"choices":[{"message":{"role":"assistant","content":"$esc"}}]}""")
  }

  private def callerWith(t: Scripted, sleeps: mutable.Buffer[Long]) =
    new RetryingLlmCaller(t, EnrichConfig(), sleeps.append(_))

  private val payload = LlmPayload(Seq(LlmMessage("system", "s"), LlmMessage("user", "u")), 10, 0.1)

  test("success first try, fences cleaned (F3)") {
    val t = new Scripted(Seq(Right(ok("```markdown\n# Hej\nText\n```"))))
    val r = callerWith(t, mutable.Buffer.empty).call(payload)
    assert(r.ok && r.description.contains("# Hej\nText"))
    assert(t.calls.get() == 1)
  }

  test("HTTP 500 retries with exponential backoff then fails with status json") {
    val sleeps = mutable.Buffer.empty[Long]
    val t = new Scripted(Seq(Right(LlmResponse(500, "boom"))))
    val r = callerWith(t, sleeps).call(payload)
    assert(!r.ok && t.calls.get() == 4) // 1 + MAX_RETRIES(3)
    assert(sleeps.toSeq == Seq(1000L, 2000L, 4000L)) // 2.0^attempt seconds
    assert(r.raw.get.contains("\"status_code\":500"))
  }

  test("HTTP 429 sleeps 60*(attempt+1)s each time, returns raw=None after exhaustion") {
    val sleeps = mutable.Buffer.empty[Long]
    val t = new Scripted(Seq(Right(LlmResponse(429, "slow down"))))
    val r = callerWith(t, sleeps).call(payload)
    assert(!r.ok && r.raw.isEmpty && t.calls.get() == 4)
    assert(sleeps.toSeq == Seq(60000L, 120000L, 180000L, 240000L)) // sleeps on final attempt too
  }

  test("429 then success recovers") {
    val t = new Scripted(Seq(Right(LlmResponse(429, "")), Right(ok("done"))))
    val r = callerWith(t, mutable.Buffer.empty).call(payload)
    assert(r.ok && r.description.contains("done") && t.calls.get() == 2)
  }

  test("invalid JSON on 200 fails immediately without retry") {
    val t = new Scripted(Seq(Right(LlmResponse(200, "<html>not json"))))
    val r = callerWith(t, mutable.Buffer.empty).call(payload)
    assert(!r.ok && t.calls.get() == 1)
    assert(r.raw.get.contains("raw_response_text"))
  }

  test("empty choices retries then succeeds") {
    val t = new Scripted(Seq(
      Right(LlmResponse(200, """{"choices":[]}""")),
      Right(ok("recovered"))))
    val r = callerWith(t, mutable.Buffer.empty).call(payload)
    assert(r.ok && r.description.contains("recovered") && t.calls.get() == 2)
  }

  test("empty content retries then fails with response body as raw") {
    val body = """{"choices":[{"message":{"content":""}}]}"""
    val t = new Scripted(Seq(Right(LlmResponse(200, body))))
    val r = callerWith(t, mutable.Buffer.empty).call(payload)
    assert(!r.ok && t.calls.get() == 4 && r.raw.contains(body))
  }

  test("network error and timeout are retried, typed error after exhaustion") {
    val tNet = new Scripted(Seq(Left(new IOException("conn reset"))))
    val rNet = callerWith(tNet, mutable.Buffer.empty).call(payload)
    assert(!rNet.ok && tNet.calls.get() == 4 && rNet.raw.get.contains("ClientError"))

    val tTo = new Scripted(Seq(Left(new TimeoutException())))
    val rTo = callerWith(tTo, mutable.Buffer.empty).call(payload)
    assert(!rTo.ok && tTo.calls.get() == 4 && rTo.raw.get.contains("TimeoutError"))
  }

  test("F4 payload build: markers split, data substituted, missing markers throw") {
    val tpl = "SYSTEM:\nDu är en assistent.\nUSER:\nBeskriv:\n{school_data}\nKort."
    val p = PromptTemplate.buildPayload(tpl, "DATA HERE")
    assert(p.messages.map(_.role) == Seq("system", "user"))
    assert(p.messages(0).content == "Du är en assistent.")
    assert(p.messages(1).content == "Beskriv:\nDATA HERE\nKort.")
    intercept[IllegalArgumentException] {
      PromptTemplate.buildPayload("no markers {school_data}", "x")
    }
  }

  test("EnrichJob end-to-end: enrich, skip-if-exists on rerun, stats") {
    val dir = java.nio.file.Files.createTempDirectory("enrich").toString
    def write(p: String, c: String): Unit = {
      val path = java.nio.file.Paths.get(p)
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path, c.getBytes("UTF-8"))
    }
    write(s"$dir/in/A100.md", "# Alpha\ndata")
    write(s"$dir/in/B200.md", "# Beta\ndata")
    write(s"$dir/prompt.txt", "SYSTEM:\nsys\nUSER:\n{school_data}")

    val s1 = EnrichJob.run(spark, s"$dir/in", s"$dir/outmd", s"$dir/outjson",
      s"$dir/prompt.txt", sleeper = _ => ())
    assert(s1 == EnrichJob.Stats(2, 0, 2, 2, 0))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/outmd/A100_ai_description.md")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/outjson/B200_gpt4o_response.json")))
    // deterministic mock output, fences cleaned
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/outmd/A100_ai_description.md")), "UTF-8")
    assert(md.startsWith("## Sammanfattning"))

    // rerun: everything skipped (P9/J2 anti-join)
    val s2 = EnrichJob.run(spark, s"$dir/in", s"$dir/outmd", s"$dir/outjson",
      s"$dir/prompt.txt", sleeper = _ => ())
    assert(s2 == EnrichJob.Stats(2, 2, 0, 0, 0))
  }

  test("EnrichJob limit=1 enriches the first fresh key in sorted order, a rerun the next") {
    val dir = java.nio.file.Files.createTempDirectory("enrichlimit").toString
    def write(p: String, c: String): Unit = {
      val path = java.nio.file.Paths.get(p)
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path, c.getBytes("UTF-8"))
    }
    Seq("C3", "A1", "B2").foreach(k => write(s"$dir/in/$k.md", s"# $k\ndata"))
    write(s"$dir/prompt.txt", "SYSTEM:\nsys\nUSER:\n{school_data}")
    def enriched = new java.io.File(s"$dir/outmd").list().toSeq.sorted
    val s1 = EnrichJob.run(spark, s"$dir/in", s"$dir/outmd", s"$dir/outjson",
      s"$dir/prompt.txt", limit = Some(1), sleeper = _ => ())
    assert(s1 == EnrichJob.Stats(3, 2, 1, 1, 0))
    assert(enriched == Seq("A1_ai_description.md"))
    val s2 = EnrichJob.run(spark, s"$dir/in", s"$dir/outmd", s"$dir/outjson",
      s"$dir/prompt.txt", limit = Some(1), sleeper = _ => ())
    assert(s2 == EnrichJob.Stats(3, 2, 1, 1, 0))
    assert(enriched == Seq("A1_ai_description.md", "B2_ai_description.md"))
  }

  test("document keys are decoded: a key with a space round-trips through EnrichJob") {
    val dir = java.nio.file.Files.createTempDirectory("enrichspace").toString
    def write(p: String, c: String): Unit = {
      val path = java.nio.file.Paths.get(p)
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path, c.getBytes("UTF-8"))
    }
    write(s"$dir/in/a b.md", "# A B\ndata")
    write(s"$dir/prompt.txt", "SYSTEM:\nsys\nUSER:\n{school_data}")
    import spark.implicits._
    val keys = graft.sources.SchoolCsv.readDocumentDir(spark, s"$dir/in", ".md")
      .select("key").as[String].collect().toSeq
    assert(keys == Seq("a b"))
    val s1 = EnrichJob.run(spark, s"$dir/in", s"$dir/outmd", s"$dir/outjson",
      s"$dir/prompt.txt", sleeper = _ => ())
    assert(s1 == EnrichJob.Stats(1, 0, 1, 1, 0))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/outmd/a b_ai_description.md")))
    // the written description is found again: a rerun skips it
    val s2 = EnrichJob.run(spark, s"$dir/in", s"$dir/outmd", s"$dir/outjson",
      s"$dir/prompt.txt", sleeper = _ => ())
    assert(s2 == EnrichJob.Stats(1, 1, 0, 0, 0))
  }

  test("EnrichJob routes failures to FAILED json sink") {
    val dir = java.nio.file.Files.createTempDirectory("enrichfail").toString
    def write(p: String, c: String): Unit = {
      val path = java.nio.file.Paths.get(p)
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path, c.getBytes("UTF-8"))
    }
    write(s"$dir/in/X1.md", "# X\ndata")
    write(s"$dir/prompt.txt", "SYSTEM:\nsys\nUSER:\n{school_data}")
    val failing: () => LlmTransport = () => new LlmTransport {
      override def post(p: LlmPayload) = LlmResponse(500, "server error")
    }
    val s = EnrichJob.run(spark, s"$dir/in", s"$dir/outmd", s"$dir/outjson",
      s"$dir/prompt.txt", transportFactory = failing, sleeper = _ => ())
    assert(s == EnrichJob.Stats(1, 0, 1, 0, 1))
    val failed = java.nio.file.Paths.get(s"$dir/outjson/X1_gpt4o_FAILED_response.json")
    assert(java.nio.file.Files.exists(failed))
    assert(new String(java.nio.file.Files.readAllBytes(failed), "UTF-8").contains("500"))
  }
}
