package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Files

/** Per-document transport call census for the replay-idempotence spec:
  * local mode runs executors in this JVM, so a static concurrent map sees
  * every partition's calls. Keyed on a marker word in the user message.
  * Responds 500 to documents containing "gamma" (routes them ok=false).
  */
object CountingTransport {
  val calls = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def count(marker: String): Int = calls.getOrDefault(marker, 0).toInt
  def reset(): Unit = calls.clear()
}
final class CountingTransport extends graft.enrich.LlmTransport {
  private val inner = new graft.enrich.MockLlmTransport
  override def post(p: graft.enrich.LlmPayload): graft.enrich.LlmResponse = {
    val user = p.messages.find(_.role == "user").map(_.content).getOrElse("")
    val marker = if (user.contains("gamma")) "gamma" else "alpha"
    CountingTransport.calls.merge(marker, 1, (a, b) => a + b)
    if (marker == "gamma") graft.enrich.LlmResponse(500, "boom")
    else inner.post(p)
  }
}

/** End-to-end smoke of the staged crawl composition on a synthetic WARC:
  * every stage must fire (robots blocks a URL, canonical dedup collapses a
  * pair, quality drops junk, paragraph dedup removes a cross-doc repeat,
  * splits are host-keyed, packing covers every surviving doc).
  */
class CrawlPipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Resolve an index-family subdir through BOTH generation levels: the
    * batch-mode commit advances the parent `ix` generation, daemon-mode
    * compacts advance the per-subdir generation — raw paths go stale
    * after either (the grace-retained previous generation stays on disk
    * by design, so a stale read would see OLD data, not an error).
    */
  private def ixSub(ix: String, sub: String): String =
    graft.operators.IncrementalDedup.readRoot(
      s"${graft.operators.IncrementalDedup.readRoot(ix)}/$sub")

  private def record(headers: Seq[(String, String)], payload: String): Array[Byte] = {
    // UTF-8 payload bytes (httpBodyText decodes UTF-8); the header block
    // itself is pure ASCII so its ISO_8859_1 encoding is unaffected
    val body = payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val head = new StringBuilder("WARC/1.0\r\n")
    headers.foreach { case (k, v) => head.append(s"$k: $v\r\n") }
    head.append(s"Content-Length: ${body.length}\r\n\r\n")
    head.toString.getBytes(ISO_8859_1) ++ body ++ "\r\n\r\n".getBytes(ISO_8859_1)
  }

  private def response(uri: String, body: String): Array[Byte] =
    record(
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri,
        "WARC-Date" -> "2024-01-02T03:04:05Z"),
      s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body")

  // passes every Gopher rule: >= 10 words, mostly alpha, stopwords present
  private val sharedPara =
    "the quick brown fox and the lazy dog have a walk of note with friends"
  private val goodBody =
    s"$sharedPara\n\nthis page is one of the pages that we have kept with care"
  private val otherBody =
    s"$sharedPara\n\nanother host writes about the sea and the sky that have colors with depth"
  // a page wrapped in site chrome: the content stage must strip the nav
  // and footer lines on shape alone while PRESERVING the blank-line
  // paragraph separator between the two prose paragraphs
  private val chromePara =
    "the chrome page tells a story about hills and rivers that people have loved"
  private val chromeBody =
    s"Home | About | Contact\n\n$chromePara\n\n$sharedPara\n\n(c) 2026 - footer"
  // an entirely non-Latin page: the content stage's density test counts
  // UNICODE letters/digits, so chinese prose (~0% ASCII alphanumerics) must
  // come through 05_content INTACT while the short nav/footer chrome still
  // dies on line shape. (It is then dropped at 06_quality by design: the
  // Gopher rule chain is the published English-centric heuristic set.)
  private val cjkPara1 =
    "这是一页完全用中文写成的正文，行长超过三十个字符，用来验证管道不会删除非拉丁文字。"
  private val cjkPara2 =
    "第二段同样足够长，继续讲述山川与河流的故事，并保持合理的文字密度以通过检查。"
  private val cjkBody =
    s"导航 | 关于 | 联系\n\n$cjkPara1\n\n$cjkPara2\n\n(c) 2026 页脚"

  test("crawl pipeline: every stage fires on the synthetic WARC") {
    val dir = Files.createTempDirectory("crawl_warc")
    val work = Files.createTempDirectory("crawl_work").toString
    val warcBytes =
      record(Seq("WARC-Type" -> "warcinfo",
        "WARC-Date" -> "2024-01-02T03:04:05Z"), "software: graft-test\r\n") ++
      response("http://a.example/robots.txt",
        "User-agent: *\nDisallow: /private/\n") ++
      response("http://a.example/good", goodBody) ++
      response("http://a.example/good?utm_source=news", goodBody) ++ // canonical dup
      response("http://a.example/private/secret", goodBody) ++ // robots-blocked
      response("http://a.example/junk", "short") ++ // fails quality rules
      response("http://b.example/page", otherBody) ++ // no robots on this host
      response("http://c.example/chromey", chromeBody) ++ // chrome-wrapped prose
      response("http://d.example/zhongwen", cjkBody) // non-Latin page
    Files.write(dir.resolve("fixture.warc"), warcBytes)

    val counts = CrawlPipeline
      .run(spark, s"$dir/*.warc*", work, agent = "graftbot", capacity = 16L)
      .map(c => c.stage -> c.rows).toMap

    assert(counts("01_warc") == 9) // warcinfo + 8 responses
    assert(counts("02_pages") == 8) // responses with non-empty bodies
    // robots.txt itself is policy, not content; /private/secret is blocked
    assert(counts("03_admitted") == 6)
    // the utm variant canonicalizes onto /good -> one survivor
    assert(counts("04_url_dedup") == 5)
    // content extraction is a pure projection: cardinality preserved
    assert(counts("05_content") == 5)
    // "short" fails the min-length line test and empties out; the CJK page
    // (kept intact by 05_content) is dropped here by the English-centric
    // Gopher word rules — a density-test deletion would have emptied it a
    // stage EARLIER, which the assertion below forbids
    assert(counts("06_quality") == 3)
    assert(counts("07_para_dedup") == 3)
    assert(counts("08_splits") == 3)
    assert(counts("09_pack") == 3)

    // the content stage stripped the chrome but PRESERVED the blank-line
    // paragraph separator (keepBlank mode) — both prose paragraphs intact
    val chromey = spark.read.parquet(s"$work/05_content")
      .where($"url" === "http://c.example/chromey")
      .select("text").as[String].collect()(0)
    assert(chromey == s"$chromePara\n\n$sharedPara", chromey)

    // the non-Latin page comes through 05_content INTACT (both paragraphs,
    // separator preserved, chrome stripped) — the ASCII density test used
    // to delete every line of it
    val zhongwen = spark.read.parquet(s"$work/05_content")
      .where($"url" === "http://d.example/zhongwen")
      .select("text").as[String].collect()(0)
    assert(zhongwen == s"$cjkPara1\n\n$cjkPara2", zhongwen)

    // the shared paragraph appears in three docs, survives exactly once
    val para = spark.read.parquet(s"$work/07_para_dedup")
    assert(para.agg(sum($"n_paras")).head().getLong(0) == 6)
    assert(para.agg(sum($"n_kept")).head().getLong(0) == 4)
    // blocked URL never reappears downstream
    assert(spark.read.parquet(s"$work/04_url_dedup")
      .where($"url".contains("/private/")).isEmpty)
    // splits are host-keyed and partition-pruned on disk
    val split = spark.read.parquet(s"$work/08_splits")
    assert(split.select("split").distinct().as[String].collect()
      .forall(Set("train", "val", "test")))
    assert(split.groupBy($"host", $"split").count()
      .groupBy($"host").count().where($"count" > 1).isEmpty)
    // packing covers the surviving docs with in-capacity offsets
    val pack = spark.read.parquet(s"$work/09_pack")
    assert(pack.where($"offset_in_bin" < 0 || $"offset_in_bin" >= 16).isEmpty)
  }

  // ~400 words so a one-word edit keeps shingle-Jaccard ~0.99 — firmly a
  // near-dup at the default 26/32 signature-match threshold. Stopwords are
  // woven in so the bodies clear the Gopher rule chain and reach enrichment.
  private val alphaWords =
    (1 to 100).flatMap(i => Seq("the", s"alpha${i % 7}", "and", s"word$i"))
  private val bodyAlpha = alphaWords.mkString(" ")
  private val bodyAlphaNear = (alphaWords.dropRight(1) :+ "mirrored").mkString(" ")
  private val bodyBeta =
    (1 to 100).flatMap(i => Seq("the", s"beta${i % 5}", "of", s"item$i")).mkString(" ")
  private val bodyGamma =
    (1 to 100).flatMap(i => Seq("the", s"gamma${i % 3}", "with", s"note$i")).mkString(" ")
  private val promptTemplate =
    "SYSTEM: Du är en hjälpsam assistent.\nUSER: Sammanfatta: {school_data}"

  test("cross-snapshot admission: a second crawl admits only novel pages; enrich routes ok/fail") {
    val warc1Dir = Files.createTempDirectory("crawl2_warc1")
    val warc2Dir = Files.createTempDirectory("crawl2_warc2")
    val work1 = Files.createTempDirectory("crawl2_work1").toString
    val work2 = Files.createTempDirectory("crawl2_work2").toString
    val ix = Files.createTempDirectory("crawl2_ix").toString + "/index"

    Files.write(warc1Dir.resolve("snap1.warc"),
      response("http://a.example/alpha", bodyAlpha) ++
      response("http://b.example/beta", bodyBeta))
    // snapshot 2: exact recrawl of alpha (same content → fingerprint-index
    // reject), a near-dup mirror on a NEW url (one word changed → signature-
    // index reject), and one genuinely novel page
    Files.write(warc2Dir.resolve("snap2.warc"),
      response("http://a.example/alpha", bodyAlpha) ++
      response("http://a.example/alpha-mirror", bodyAlphaNear) ++
      response("http://c.example/gamma", bodyGamma))

    val c1 = CrawlPipeline.run(spark, s"$warc1Dir/*.warc*", work1,
        indexDir = Some(ix),
        enrichStage = Some(CrawlPipeline.EnrichStage(
          () => new graft.enrich.MockLlmTransport, promptTemplate)))
      .map(c => c.stage -> c.rows).toMap
    assert(c1("04b_admit") == 2) // first snapshot: everything is novel
    // both pages clear the Gopher rules and reach enrichment, all ok-routed
    assert(c1("07_para_dedup") == 2)
    assert(c1("10_enrich") == c1("07_para_dedup"))
    assert(c1("10_enrich_ok") == c1("10_enrich") && c1("10_enrich_fail") == 0)
    // ok/fail routing is a disk partition, not just a column
    assert(new java.io.File(s"$work1/10_enrich/ok=true").isDirectory)

    // second run with countStages=false: stages are named but never counted
    // (no extra read pass per checkpoint) — row assertions below come from
    // the checkpoints themselves
    val c2 = CrawlPipeline.run(spark, s"$warc2Dir/*.warc*", work2,
        indexDir = Some(ix), countStages = false)
      .map(c => c.stage -> c.rows).toMap
    assert(c2.contains("04b_admit") && c2.values.forall(_ == -1L), c2.toString)
    assert(spark.read.parquet(s"$work2/04_url_dedup").count() == 3)
    val admitted = spark.read.parquet(s"$work2/04b_admit")
      .select("url").as[String].collect().toSeq
    assert(admitted == Seq("http://c.example/gamma"))

    // both indexes grew by exactly the one admitted survivor and went
    // through the swap (no .next / .old leftovers)
    assert(spark.read.parquet(ixSub(ix, "fp")).count() == 3)
    assert(spark.read.parquet(ixSub(ix, "sig")).count() == 3)
    for (d <- Seq("fp", "sig"); suf <- Seq(".next", ".old"))
      assert(!new java.io.File(s"$ix/$d$suf").exists())
  }

  test("streaming crawl daemon: each snapshot admits only novel pages; replay is idempotent") {
    val warcDir = Files.createTempDirectory("crawl3_warc")
    val work = Files.createTempDirectory("crawl3_work").toString
    val ix = Files.createTempDirectory("crawl3_ix").toString + "/index"
    val batches = scala.collection.mutable.Map.empty[Long, Map[String, Long]]

    Files.write(warcDir.resolve("snap1.warc"),
      response("http://a.example/robots.txt",
        "User-agent: *\nDisallow: /private/\n") ++
      response("http://a.example/alpha", bodyAlpha) ++
      response("http://b.example/beta", bodyBeta))
    val q = CrawlPipeline.runStream(spark, warcDir.toString, work, ix,
      onBatch = (id, cs) => batches(id) = cs.map(c => c.stage -> c.rows).toMap)
    try {
      q.processAllAvailable()
      // second snapshot lands while the daemon is running: an exact recrawl,
      // a near-dup mirror on a new URL, one novel page — and a novel page
      // under /private/ WITHOUT a robots refetch: the standing policy
      // persisted from snapshot 1 must still block it
      Files.write(warcDir.resolve("snap2.warc"),
        response("http://a.example/alpha", bodyAlpha) ++
        response("http://a.example/alpha-mirror", bodyAlphaNear) ++
        response("http://a.example/private/hidden",
          (1 to 100).flatMap(i => Seq("the", s"delta${i % 2}", "be", s"case$i"))
            .mkString(" ")) ++
        response("http://c.example/gamma", bodyGamma))
      q.processAllAvailable()
    } finally q.stop()

    // the persisted robots policy blocked /private/hidden in a snapshot
    // that never refetched robots.txt
    assert(spark.read.parquet(s"$work/batch=1/03_admitted")
      .where($"url".contains("/private/")).isEmpty)

    assert(batches(0L)("04b_admit") == 2, batches.toString)
    assert(batches(1L)("04b_admit") == 1, batches.toString)
    val admitted1 = spark.read.parquet(s"$work/batch=1/04b_admit")
      .select("url").as[String].collect().toSeq
    assert(admitted1 == Seq("http://c.example/gamma"))
    // the index holds one signature delta per batch, three docs total
    assert(spark.read.parquet(ixSub(ix, "sig")).count() == 3)

    // replay (foreachBatch's at-least-once unit): rerunning batch 1 with the
    // same snapshotId must re-derive the SAME admitted set — reading the
    // index without its own delta — not self-reject and wipe the outputs
    val replay = CrawlPipeline.run(spark, s"$warcDir/snap2.warc",
        s"$work/batch=1", indexDir = Some(ix), snapshotId = Some(1L))
      .map(c => c.stage -> c.rows).toMap
    assert(replay("04b_admit") == 1, replay.toString)
    assert(spark.read.parquet(s"$work/batch=1/04b_admit")
      .select("url").as[String].collect().toSeq == Seq("http://c.example/gamma"))
    assert(spark.read.parquet(ixSub(ix, "sig")).count() == 3)

    // in-flight compaction with the current batch PRESERVED as a delta:
    // batch 1's signatures must stay excludable (folding them into
    // batch=-1 would make a replay self-match and wipe its outputs)
    graft.operators.IncrementalDedup.compactSigIndex(spark, s"$ix/sig",
      preserveBatchIds = Set(1L))
    assert(new java.io.File(s"${ixSub(ix, "sig")}/batch=-1").isDirectory)
    assert(new java.io.File(s"${ixSub(ix, "sig")}/batch=1").isDirectory) // preserved
    assert(!new java.io.File(s"${ixSub(ix, "sig")}/batch=0").exists()) // folded
    val replay2 = CrawlPipeline.run(spark, s"$warcDir/snap2.warc",
        s"$work/batch=1", indexDir = Some(ix), snapshotId = Some(1L))
      .map(c => c.stage -> c.rows).toMap
    assert(replay2("04b_admit") == 1, replay2.toString)
    assert(spark.read.parquet(ixSub(ix, "sig")).count() == 3)
  }

  test("08a_drift: daemon snapshots report distribution drift vs the accumulated profile; replay identical") {
    val warcDir = Files.createTempDirectory("crawl9_warc")
    val work = Files.createTempDirectory("crawl9_work").toString
    val ix = Files.createTempDirectory("crawl9_ix").toString + "/index"
    // Gopher-passing synthetic bodies with controlled length: snapshot 2's
    // docs are ~8x longer, so their curated texts land in disjoint
    // log2Bucket categories — a pure distribution-SHAPE shift (no nulls,
    // no range explosion — t62's profile drift would see nothing)
    def body(stem: String, n: Int) = (1 to n)
      .flatMap(i => Seq("the", s"$stem${i % 7}", "be", s"$stem$i"))
      .mkString(" ")
    Files.write(warcDir.resolve("snap1.warc"),
      response("http://a.example/one", body("alpha", 60)) ++
      response("http://b.example/two", body("beta", 60)))
    val q = CrawlPipeline.runStream(spark, warcDir.toString, work, ix)
    try {
      q.processAllAvailable()
      Files.write(warcDir.resolve("snap2.warc"),
        response("http://c.example/three", body("gamma", 500)) ++
        response("http://d.example/four", body("delta", 500)))
      q.processAllAvailable()
    } finally q.stop()

    // first snapshot: report exists, tv null everywhere (no baseline —
    // the empty-side guard, not a zero)
    val r0 = spark.read.parquet(s"$work/batch=0/08a_drift")
    assert(r0.count() > 0)
    assert(r0.where($"tv".isNotNull).isEmpty, "first snapshot has no baseline")

    // second snapshot: the length dimension reads a strong shift
    val r1 = spark.read.parquet(s"$work/batch=1/08a_drift")
    val lenTv = r1.where($"dim" === "len").select("tv")
      .distinct().as[Double].collect()
    assert(lenTv.length == 1 && lenTv.head > 0.5, s"len tv: ${lenTv.toSeq}")
    assert(new java.io.File(s"${ixSub(ix, "profile")}/batch=0").isDirectory)
    assert(new java.io.File(s"${ixSub(ix, "profile")}/batch=1").isDirectory)

    // replay of batch 1 re-derives the SAME report: its own profile delta
    // is excluded from the baseline on read and overwritten on write
    val before = r1.orderBy("dim", "value").collect().toSeq
    CrawlPipeline.run(spark, s"$warcDir/snap2.warc", s"$work/batch=1",
      indexDir = Some(ix), snapshotId = Some(1L))
    val after = spark.read.parquet(s"$work/batch=1/08a_drift")
      .orderBy("dim", "value").collect().toSeq
    assert(after == before, "replay must not drift the drift report")
  }

  test("10_enrich enforces the EXACT global concurrency envelope through the pipeline path") {
    // the reference's Semaphore(250) contract (src/config.py:91) must hold
    // when enrichment runs as a pipeline stage, not only via EnrichJob: the
    // enrich input is a post-join frame spread over many partitions, each
    // a concurrent task — the driver-hosted slot server is the only thing
    // that can hold the global peak at 2
    val warcDir = Files.createTempDirectory("crawl10_warc")
    val work = Files.createTempDirectory("crawl10_work").toString
    def body(i: Int) =
      (1 to 40).flatMap(j => Seq("the", s"p${i}w$j", "and", s"x$i$j")).mkString(" ")
    val recs = (1 to 12).map(i => response(s"http://h$i.example/p", body(i)))
    Files.write(warcDir.resolve("s.warc"), recs.reduce(_ ++ _))
    graft.enrich.ConcurrencyProbe.reset()
    val counts = CrawlPipeline.run(spark, s"$warcDir/*.warc*", work,
        qualityThresholds = graft.operators.QualityRules.Thresholds(minStopHits = 0L),
        enrichStage = Some(CrawlPipeline.EnrichStage(
          () => new graft.enrich.ProbeTransport, promptTemplate,
          graft.enrich.EnrichConfig(maxConcurrent = 2))))
      .map(c => c.stage -> c.rows).toMap
    assert(counts("10_enrich") == 12 && counts("10_enrich_ok") == 12, counts.toString)
    val peak = graft.enrich.ConcurrencyProbe.peak.get()
    assert(peak >= 1 && peak <= 2, s"exact global cap violated: peak=$peak")
  }

  test("10_enrich replay: ok docs never re-pay the transport; failures re-attempt; outputs identical") {
    CountingTransport.reset()
    val warcDir = Files.createTempDirectory("crawl7_warc")
    val work = Files.createTempDirectory("crawl7_work").toString
    // alpha enriches ok; gamma's body makes CountingTransport respond 500
    Files.write(warcDir.resolve("s.warc"),
      response("http://a.example/alpha", bodyAlpha) ++
      response("http://c.example/gamma", bodyGamma))
    def runOnce() = CrawlPipeline.run(spark, s"$warcDir/*.warc*", work,
        enrichStage = Some(CrawlPipeline.EnrichStage(() => new CountingTransport,
          promptTemplate,
          graft.enrich.EnrichConfig(maxRetries = 0, backoffFactor = 0.0))))
      .map(c => c.stage -> c.rows).toMap

    val c1 = runOnce()
    assert(c1("10_enrich_ok") == 1 && c1("10_enrich_fail") == 1, c1.toString)
    val alpha1 = CountingTransport.count("alpha")
    val gamma1 = CountingTransport.count("gamma")
    assert(alpha1 == 1 && gamma1 == 1, s"alpha=$alpha1 gamma=$gamma1")
    val out1 = spark.read.parquet(s"$work/10_enrich")
      .select("key", "ok", "description").collect().toSet

    // replay the whole batch run over the same workDir: the ok doc is
    // carried from the previous attempt's checkpoint (the P9 anti-join —
    // at real API prices the single most expensive idempotence gap), the
    // failed doc goes back to the transport
    val c2 = runOnce()
    assert(c2("10_enrich_ok") == 1 && c2("10_enrich_fail") == 1, c2.toString)
    assert(CountingTransport.count("alpha") == alpha1,
      s"ok doc re-paid the transport on replay (${CountingTransport.count("alpha")} vs $alpha1)")
    assert(CountingTransport.count("gamma") == gamma1 + 1,
      s"failed doc must be re-attempted (${CountingTransport.count("gamma")} vs ${gamma1 + 1})")
    val out2 = spark.read.parquet(s"$work/10_enrich")
      .select("key", "ok", "description").collect().toSet
    assert(out2 == out1, s"replay must reproduce the stage output\n$out2\nvs\n$out1")
  }

  test("batch-mode index commit is one point: stale staging and a crashed swap both self-heal") {
    val warc1Dir = Files.createTempDirectory("crawl8_warc1")
    val warc2Dir = Files.createTempDirectory("crawl8_warc2")
    val ix = Files.createTempDirectory("crawl8_ix").toString + "/index"
    Files.write(warc1Dir.resolve("s1.warc"),
      response("http://a.example/robots.txt", "User-agent: *\nDisallow: /x/\n") ++
      response("http://a.example/alpha", bodyAlpha))
    Files.write(warc2Dir.resolve("s2.warc"),
      response("http://b.example/beta", bodyBeta))

    CrawlPipeline.run(spark, s"$warc1Dir/*.warc*",
      Files.createTempDirectory("crawl8_w1").toString, indexDir = Some(ix))
    val fp1 = spark.read.parquet(ixSub(ix, "fp")).count()
    assert(fp1 == 1L)

    // crash window A: a previous run died AFTER staging but BEFORE the
    // commit point, leaving a stale $ix.next (with garbage) — the next run
    // must clear it, not fail on path-exists or ingest the leftovers
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$ix.next/fp"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$ix.next/fp/garbage.bin"), Array[Byte](1, 2, 3))
    CrawlPipeline.run(spark, s"$warc2Dir/*.warc*",
      Files.createTempDirectory("crawl8_w2").toString, indexDir = Some(ix))
    // all three indexes advanced TOGETHER to generation 2; staging gone
    assert(spark.read.parquet(ixSub(ix, "fp")).count() == 2L)
    assert(spark.read.parquet(ixSub(ix, "sig")).count() == 2L)
    assert(spark.read.parquet(ixSub(ix, "robots")).count() == 1L)
    assert(!new java.io.File(s"$ix.next").exists())
    assert(!new java.io.File(s"$ix.old").exists())

    // crash window B: between replaceDir's two renames — no live dir, a
    // complete .old, a complete .next. The next run rolls BACK to .old,
    // clears the staging, and re-derives generation 3 from generation 2:
    // indexes advance all-or-none, never mixed
    java.nio.file.Files.move(java.nio.file.Paths.get(ix),
      java.nio.file.Paths.get(s"$ix.old"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$ix.next"))
    val warc3Dir = Files.createTempDirectory("crawl8_warc3")
    Files.write(warc3Dir.resolve("s3.warc"),
      response("http://c.example/gamma", bodyGamma))
    val c3 = CrawlPipeline.run(spark, s"$warc3Dir/*.warc*",
        Files.createTempDirectory("crawl8_w3").toString, indexDir = Some(ix))
      .map(c => c.stage -> c.rows).toMap
    assert(c3("04b_admit") == 1L, c3.toString)
    assert(spark.read.parquet(ixSub(ix, "fp")).count() == 3L)
    assert(spark.read.parquet(ixSub(ix, "sig")).count() == 3L)
    assert(!new java.io.File(s"$ix.next").exists())
    assert(!new java.io.File(s"$ix.old").exists())
  }

  test("daemon after a batch-built index: the batch corpus stays visible under delta appends") {
    val warcDir = Files.createTempDirectory("crawl10_warc")
    val ix = Files.createTempDirectory("crawl10_ix").toString + "/index"
    Files.write(warcDir.resolve("s.warc"),
      response("http://a.example/alpha", bodyAlpha))
    CrawlPipeline.run(spark, s"$warcDir/*.warc*",
      Files.createTempDirectory("crawl10_w1").toString, indexDir = Some(ix))
    // the batch rewrite lands partition-style (batch=-1), so partition
    // discovery keeps it visible after delta appends
    assert(new java.io.File(s"${ixSub(ix, "fp")}/batch=-1").isDirectory)
    assert(spark.read.parquet(ixSub(ix, "fp")).count() == 1L)

    // a daemon-style delta snapshot recrawls the SAME page: if the
    // batch-built index were root-level files, the delta append would hide
    // it from partition discovery and the page would be silently
    // re-admitted — it must be rejected instead
    val c = CrawlPipeline.run(spark, s"$warcDir/*.warc*",
        Files.createTempDirectory("crawl10_w2").toString,
        indexDir = Some(ix), snapshotId = Some(5L))
      .map(x => x.stage -> x.rows).toMap
    assert(c("04b_admit") == 0L, c.toString)
    assert(spark.read.parquet(ixSub(ix, "fp")).select("fp").distinct().count() == 1L)
  }

  test("quality thresholds are tunable per corpus slice") {
    // prose-shaped body with NO Gopher stopwords: the published defaults
    // drop it (r_stopwords), a per-corpus recipe keeps it — the knob every
    // real pipeline turns for non-English or domain-specific slices
    val noStops = (1 to 60).map(i => s"alpha${i % 7} worda$i").mkString(" ")
    val warcDir = Files.createTempDirectory("crawl5_warc")
    Files.write(warcDir.resolve("s.warc"),
      response("http://a.example/page", noStops))
    val strict = CrawlPipeline.run(spark, s"$warcDir/*.warc*",
        Files.createTempDirectory("crawl5_w1").toString)
      .map(c => c.stage -> c.rows).toMap
    assert(strict("05_content") == 1 && strict("06_quality") == 0, strict.toString)
    val relaxed = CrawlPipeline.run(spark, s"$warcDir/*.warc*",
        Files.createTempDirectory("crawl5_w2").toString,
        qualityThresholds = graft.operators.QualityRules.Thresholds(minStopHits = 0L))
      .map(c => c.stage -> c.rows).toMap
    assert(relaxed("06_quality") == 1 && relaxed("09_pack") == 1, relaxed.toString)
  }

  test("mix stages: the curated corpus packs to the recipe, not to what the crawl fetched") {
    val warcDir = Files.createTempDirectory("crawl9_warc")
    val work = Files.createTempDirectory("crawl9_work").toString
    // skewed bilingual crawl: 6 English pages, 2 German — each 160
    // whitespace tokens of distinct words (no paragraph collisions), one
    // page per host so splits/robots stay out of the way
    def enBody(i: Int) =
      (1 to 40).flatMap(j => Seq("the", s"en${i}w$j", "and", s"t$i$j")).mkString(" ")
    def deBody(i: Int) =
      (1 to 40).flatMap(j => Seq("und", s"de${i}w$j", "der", s"d$i$j")).mkString(" ")
    val recs = (1 to 6).map(i => response(s"http://en$i.example/p", enBody(i))) ++
      (1 to 2).map(i => response(s"http://de$i.example/p", deBody(i)))
    Files.write(warcDir.resolve("s.warc"), recs.reduce(_ ++ _))

    val budgets = Seq("en" -> 400L, "de" -> 100000L)
    val counts = CrawlPipeline.run(spark, s"$warcDir/*.warc*", work,
        qualityThresholds = graft.operators.QualityRules.Thresholds(minStopHits = 0L),
        mixStage = Some(CrawlPipeline.MixStage(budgets)), shards = Some(4))
      .map(c => c.stage -> c.rows).toMap
    assert(counts("08_splits") == 8 && counts("08b_lang") == 8, counts.toString)

    // 08c: the en budget (400) admits the maximal md5-ordered prefix —
    // 3 docs x 160 tokens (the running sum stays strictly under 400 for
    // exactly three; total 480 never exceeds budget + one document); the
    // de budget is unconstrained and keeps both docs
    val mixed = spark.read.parquet(s"$work/08c_mix")
    val byLang = mixed.groupBy($"lang").count()
      .as[(String, Long)].collect().toMap
    assert(byLang == Map("en" -> 3L, "de" -> 2L), byLang.toString)
    assert(counts("08c_mix") == 5 && counts("09_pack") == 5, counts.toString)

    // the stage IS the oracle-gated operator, unchanged: identical admitted
    // set to calling Sampling.exactTokenBudgets on the 08b checkpoint
    val lang = spark.read.parquet(s"$work/08b_lang")
    val direct = graft.operators.Sampling.exactTokenBudgets(lang, $"lang",
        $"doc_id", graft.operators.TextAnalysis.tokenCount($"text"), budgets)
      .select("doc_id").as[Long].collect().toSet
    assert(mixed.select("doc_id").as[Long].collect().toSet == direct)

    // 08d: strict round-robin manifest over the recipe's languages
    val order = spark.read.parquet(s"$work/08d_order")
      .select($"lang", $"global_pos").as[(String, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(order("en") == Set(0L, 2L, 4L), order.toString)
    assert(order("de") == Set(1L, 3L), order.toString)

    // 09b: with a mix configured the shards are MIXTURE-order rank ranges —
    // every admitted doc in exactly one shard= dir, and a loader streaming
    // the dirs in order replays 08d's round-robin, not the raw md5 epoch
    // order (sharding by id would undo the order 08d built)
    assert(counts("09b_shards") == 5, counts.toString)
    val shardRows = spark.read.parquet(s"$work/09b_shards")
    assert(shardRows.select("doc_id").as[Long].collect().toSet ==
      mixed.select("doc_id").as[Long].collect().toSet)
    val byPos = shardRows.select($"global_pos", $"shard".cast("int"))
      .as[(Long, Int)].collect().sortBy(_._1)
    val expectShard = byPos.map(_._1).zipWithIndex
      .map { case (p, r) => (p, r * 4 / 5) }
    assert(byPos.toSeq == expectShard.toSeq, byPos.mkString(","))
    // shard ids nondecreasing in mixture order: a prefix of the shard dirs
    // is a prefix of the training recipe
    assert(byPos.map(_._2).toSeq == byPos.map(_._2).sorted.toSeq)
  }

  test("mix repeat mode: a budget above supply is honored by epoch repetition, not capped") {
    val warcDir = Files.createTempDirectory("crawl10_warc")
    val work = Files.createTempDirectory("crawl10_work").toString
    // same skewed bilingual shape as the mix test: 6 en pages, 2 de pages,
    // 160 whitespace tokens each
    def enBody(i: Int) =
      (1 to 40).flatMap(j => Seq("the", s"en${i}w$j", "and", s"t$i$j")).mkString(" ")
    def deBody(i: Int) =
      (1 to 40).flatMap(j => Seq("und", s"de${i}w$j", "der", s"d$i$j")).mkString(" ")
    val recs = (1 to 6).map(i => response(s"http://en$i.example/p", enBody(i))) ++
      (1 to 2).map(i => response(s"http://de$i.example/p", deBody(i)))
    Files.write(warcDir.resolve("s.warc"), recs.reduce(_ ++ _))

    // de: supply 320, budget 800 -> 2 full epochs + a 160-token remainder
    // prefix (ONE doc: the second's running sum 160 is not < 160) = 5
    // copies; en: budget 400 under supply -> the 3-doc prefix at epoch 0
    val budgets = Seq("en" -> 400L, "de" -> 800L)
    val counts = CrawlPipeline.run(spark, s"$warcDir/*.warc*", work,
        qualityThresholds = graft.operators.QualityRules.Thresholds(minStopHits = 0L),
        mixStage = Some(CrawlPipeline.MixStage(budgets, repeat = true)),
        shards = Some(4))
      .map(c => c.stage -> c.rows).toMap
    assert(counts("08c_mix") == 8 && counts("09_pack") == 8, counts.toString)

    val mixed = spark.read.parquet(s"$work/08c_mix")
    val byLang = mixed.groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(byLang == Map("en" -> 3L, "de" -> 5L), byLang.toString)
    // de multiplicities: both docs ride epochs 0 and 1, exactly one (the
    // md5-first) also rides the partial epoch 2
    val deCopies = mixed.where($"lang" === "de").groupBy($"doc_id").count()
      .as[(Long, Long)].collect().map(_._2).sorted.toSeq
    assert(deCopies == Seq(2L, 3L), deCopies.toString)
    assert(mixed.where($"lang" === "en").select(max($"epoch")).head().getLong(0) == 0L)
    assert(mixed.where($"lang" === "de").select(max($"epoch")).head().getLong(0) == 2L)

    // the stage IS the oracle-gated operator (t124 semantics), unchanged
    val lang = spark.read.parquet(s"$work/08b_lang")
    val direct = graft.operators.Sampling.repeatToBudget(lang, $"lang",
        $"doc_id", graft.operators.TextAnalysis.tokenCount($"text"), budgets)
      .select($"doc_id", $"epoch").as[(Long, Long)].collect().sorted.toSeq
    assert(mixed.select($"doc_id", $"epoch").as[(Long, Long)].collect()
      .sorted.toSeq == direct)

    // 08d: every COPY holds its own round-robin position (composite
    // (doc_id, epoch) key), strict alternation while both languages last
    val order = spark.read.parquet(s"$work/08d_order")
    assert(order.count() == 8 && order.select("global_pos").distinct().count() == 8)
    val seq = order.select($"global_pos", $"lang").as[(Long, String)]
      .collect().sortBy(_._1).map(_._2)
    assert(seq.take(6).count(_ == "en") == 3 && seq.take(6).count(_ == "de") == 3,
      seq.mkString(","))
    seq.take(6).sliding(2).foreach { case Array(x, y) => assert(x != y) case _ => }

    // the shard release ships sealed: its manifest verifies all-ok and
    // hides from discovery (the counted read above already proved the
    // dataset reads the same with the _manifest present)
    val manifest = graft.sinks.DatasetManifest.verify(spark, s"$work/09b_shards")
    assert(manifest.where($"status" =!= "ok").count() == 0,
      manifest.collect().mkString(","))

    // 09b: mixture shards replay the repeated mixture order — rank ranges
    // over 8 copies, shard ids nondecreasing in mixture order
    assert(counts("09b_shards") == 8, counts.toString)
    val byPos = spark.read.parquet(s"$work/09b_shards")
      .select($"global_pos", $"shard".cast("int"))
      .as[(Long, Int)].collect().sortBy(_._1)
    val expectShard = byPos.map(_._1).zipWithIndex.map { case (p, r) => (p, r * 4 / 8) }
    assert(byPos.toSeq == expectShard.toSeq, byPos.mkString(","))
  }

  test("daemon survives a snapshot that admits nothing (empty index deltas)") {
    val warcDir = Files.createTempDirectory("crawl6_warc")
    val work = Files.createTempDirectory("crawl6_work").toString
    val ix = Files.createTempDirectory("crawl6_ix").toString + "/index"
    val batches = scala.collection.mutable.Map.empty[Long, Map[String, Long]]

    // snapshot 1 is robots-only: zero content pages, zero admitted docs —
    // the batch still writes its (empty) index deltas, which the NEXT
    // batch's read must treat as an empty index, not a schema-inference
    // crash
    Files.write(warcDir.resolve("snap1.warc"),
      response("http://a.example/robots.txt", "User-agent: *\nDisallow: /x/\n"))
    val q = CrawlPipeline.runStream(spark, warcDir.toString, work, ix,
      onBatch = (id, cs) => batches(id) = cs.map(c => c.stage -> c.rows).toMap)
    try {
      q.processAllAvailable()
      Files.write(warcDir.resolve("snap2.warc"),
        response("http://a.example/page", bodyAlpha))
      q.processAllAvailable()
    } finally q.stop()

    assert(batches(0L)("04b_admit") == 0, batches.toString)
    assert(batches(1L)("04b_admit") == 1, batches.toString)
    // and the robots policy persisted by the empty snapshot still stands
    assert(spark.read.parquet(ixSub(ix, "robots")).where($"host" === "a.example").count() >= 1)
  }

  test("admission upsert hygiene: a changed page retires its history, a REVERT re-admits, and the indexes stay current-content-scale") {
    val warcDir = Files.createTempDirectory("crawl7_warc")
    val work = Files.createTempDirectory("crawl7_work").toString
    val ix = Files.createTempDirectory("crawl7_ix").toString + "/index"
    val batches = scala.collection.mutable.Map.empty[Long, Map[String, Long]]
    // substantially different content for the change (distinct vocabulary
    // — signature-far from bodyAlpha, so the change re-admits)
    val bodyV2 =
      (1 to 100).flatMap(i => Seq("the", s"rev${i % 4}", "for", s"unit$i"))
        .mkString(" ")
    Files.write(warcDir.resolve("snap1.warc"),
      response("http://a.example/alpha", bodyAlpha) ++
      response("http://b.example/beta", bodyBeta))
    val q = CrawlPipeline.runStream(spark, warcDir.toString, work, ix,
      onBatch = (id, cs) => batches(id) = cs.map(c => c.stage -> c.rows).toMap)
    try {
      q.processAllAvailable()
      // snapshot 2: alpha CHANGES — re-admits through the fp index (new
      // fingerprint), and the upsert hygiene must retire the old one
      Files.write(warcDir.resolve("snap2.warc"),
        response("http://a.example/alpha", bodyV2))
      q.processAllAvailable()
      // snapshot 3: alpha REVERTS to its original content. Pre-round-20
      // this was silently rejected (the old fingerprint lingered in the
      // index forever); with the old fp tombstoned and the old sig row
      // floored, admission compares against CURRENT corpus content only
      // and the revert re-admits like any other change.
      Files.write(warcDir.resolve("snap3.warc"),
        response("http://a.example/alpha", bodyAlpha))
      q.processAllAvailable()
    } finally q.stop()

    assert(batches(1L)("04b_admit") == 1,
      s"the changed page must re-admit: $batches")
    assert(batches(2L)("04b_admit") == 1,
      s"the REVERTED page must re-admit (history is retired): $batches")
    // live admission state is CURRENT-CONTENT scale: two pages, so two
    // live fingerprints and — through the floors — one live sig row per
    // page, even though three alpha versions were admitted
    val fpDir = ixSub(ix, "fp")
    val sigDir = ixSub(ix, "sig")
    val liveFp = graft.operators.IncrementalDedup.liveIndex(spark, fpDir,
      spark.read.parquet(fpDir), "fp")
    assert(liveFp.select($"fp").distinct().count() == 2,
      "live fp view must hold exactly the current two pages' content")
    val sigRaw = spark.read.parquet(sigDir)
    assert(sigRaw.count() == 4, "three alpha versions + beta on disk")
    val sigLive = graft.operators.IncrementalDedup.liveIndex(spark, sigDir,
      graft.operators.IncrementalDedup.applyVersionFloors(spark,
        s"$sigDir/_floors", sigRaw, "id"), "id")
    assert(sigLive.groupBy($"id").count().where($"count" > 1).isEmpty,
      "floors must hide every superseded sig version")
    assert(sigLive.count() == 2, "one live sig row per current page")
    // the carriers ledger tracks the CURRENT carrier of alpha's content
    assert(graft.operators.IndexFs.exists(s"$fpDir/_carriers"))
    // compaction makes the hygiene physical: fp and sig shrink to the
    // current corpus, the floors ledger dies fully resolved, carriers
    // fold and SURVIVE the swap
    graft.operators.IncrementalDedup.compactFpIndex(spark, s"$ix/fp")
    graft.operators.IncrementalDedup.compactSigIndex(spark, s"$ix/sig")
    val fpDir2 = ixSub(ix, "fp")
    val sigDir2 = ixSub(ix, "sig")
    assert(spark.read.parquet(fpDir2).count() == 2,
      "compacted fp index must be current-content-scale")
    assert(spark.read.parquet(sigDir2).count() == 2,
      "compacted sig index must be current-content-scale")
    assert(!graft.operators.IndexFs.exists(s"$sigDir2/_floors"),
      "floors must die fully resolved at compaction")
    assert(graft.operators.IndexFs.exists(s"$fpDir2/_carriers"),
      "carriers must survive the compaction swap")
    val carriers = spark.read.parquet(s"$fpDir2/_carriers")
    assert(carriers.groupBy($"id").count().where($"count" > 1).isEmpty,
      "folded carriers must hold one row per id")
    // and the NEXT snapshot still admits correctly over the compacted
    // state: a fresh change of alpha re-admits, an exact re-crawl of
    // beta does not
    val replayDir = Files.createTempDirectory("crawl7_snap4")
    Files.write(replayDir.resolve("snap4.warc"),
      response("http://a.example/alpha", bodyGamma) ++
      response("http://b.example/beta", bodyBeta))
    val counts = CrawlPipeline.run(spark, s"$replayDir/snap4.warc",
        s"$work/batch=3", indexDir = Some(ix), snapshotId = Some(3L))
      .map(c => c.stage -> c.rows).toMap
    assert(counts("04b_admit") == 1, counts.toString)
  }

  test("admission upsert guard: a fingerprint re-admitted under ANOTHER page is never retired by its old carrier's change") {
    val base = Files.createTempDirectory("adm_guard").toString
    val fpDir = s"$base/fp"
    val sigDir = s"$base/sig"
    import graft.operators.{IncrementalDedup => ID}
    def fpOf(text: String): String =
      Seq(text).toDF("text")
        .select(graft.operators.TextAnalysis.fingerprint(col("text")).as("fp"))
        .as[String].head()
    val textX = "shared content the quick brown fox walks the hills"
    val textY = "completely different prose about the sea and the stars"
    val textZ = "a third body of text about mountains and the old roads"
    // batch 0: page A carries X
    Seq((100L, fpOf(textX))).toDF("id", "fp").select($"fp")
      .write.parquet(s"$fpDir/batch=0")
    ID.upsertAdmission(spark, fpDir, sigDir,
      Seq((100L, fpOf(textX))).toDF("id", "fp"), 0L)
    // batch 1: A changes to Y — X is tombstoned (A was its carrier)
    Seq(fpOf(textY)).toDF("fp").write.parquet(s"$fpDir/batch=1")
    ID.upsertAdmission(spark, fpDir, sigDir,
      Seq((100L, fpOf(textY))).toDF("id", "fp"), 1L)
    def liveFps(): Set[String] = ID.liveIndex(spark, fpDir,
      spark.read.parquet(fpDir), "fp").select($"fp").as[String]
      .collect().toSet
    assert(liveFps() == Set(fpOf(textY)), "A's change must retire X")
    // batch 2: page B re-admits X (the tombstone cleared by readmission)
    Seq(fpOf(textX)).toDF("fp").write.parquet(s"$fpDir/batch=2")
    ID.readmitKeys(spark, fpDir, Seq(fpOf(textX)).toDF("fp"), "fp")
    ID.upsertAdmission(spark, fpDir, sigDir,
      Seq((200L, fpOf(textX))).toDF("id", "fp"), 2L)
    assert(liveFps() == Set(fpOf(textX), fpOf(textY)))
    // batch 3: A changes again (Y -> Z). Its own old fp Y retires; X —
    // whose CURRENT carrier is B — must NOT be touched even though A
    // carried it once
    Seq(fpOf(textZ)).toDF("fp").write.parquet(s"$fpDir/batch=3")
    ID.upsertAdmission(spark, fpDir, sigDir,
      Seq((100L, fpOf(textZ))).toDF("id", "fp"), 3L)
    assert(liveFps() == Set(fpOf(textX), fpOf(textZ)),
      "B's live content (X) must survive A's later change; A's Y retires")
    // the operator-facing CLI verb drives the same hygiene: A changes
    // once more (Z -> W) through `admission-upsert`
    val textW = "a fourth text about deserts and the long dry summers"
    Seq(fpOf(textW)).toDF("fp").write.parquet(s"$fpDir/batch=4")
    val docsPq = s"$base/recrawl_docs"
    Seq((100L, textW)).toDF("doc_id", "text").write.parquet(docsPq)
    graft.cli.GraftCli.run(spark,
      List("admission-upsert", base, docsPq, "4"))
    assert(liveFps() == Set(fpOf(textX), fpOf(textW)),
      "the CLI verb must retire Z and leave B's X intact")
  }

  test("daemon auto-compaction folds old deltas while the stream keeps admitting correctly") {
    val warcDir = Files.createTempDirectory("crawl4_warc")
    val work = Files.createTempDirectory("crawl4_work").toString
    val ix = Files.createTempDirectory("crawl4_ix").toString + "/index"
    val batches = scala.collection.mutable.Map.empty[Long, Map[String, Long]]

    Files.write(warcDir.resolve("snap1.warc"),
      response("http://a.example/alpha", bodyAlpha) ++
      response("http://b.example/beta", bodyBeta))
    val q = CrawlPipeline.runStream(spark, warcDir.toString, work, ix,
      compactEvery = Some(1),
      enrichStage = Some(CrawlPipeline.EnrichStage(
        () => new graft.enrich.MockLlmTransport, promptTemplate)),
      onBatch = (id, cs) => batches(id) = cs.map(c => c.stage -> c.rows).toMap)
    try {
      q.processAllAvailable()
      Files.write(warcDir.resolve("snap2.warc"),
        response("http://a.example/alpha", bodyAlpha) ++
        response("http://c.example/gamma", bodyGamma))
      q.processAllAvailable()
    } finally q.stop()

    // batch 1 compacted batch 0's deltas at its start, then admitted only
    // the novel page against the compacted history
    assert(batches(1L)("04b_admit") == 1, batches.toString)
    for (sub <- Seq("fp", "sig", "robots")) {
      assert(new java.io.File(s"${ixSub(ix, sub)}/batch=-1").isDirectory, sub)
      assert(!new java.io.File(s"${ixSub(ix, sub)}/batch=0").exists(), sub)
    }
    assert(spark.read.parquet(ixSub(ix, "sig")).count() == 3)
    assert(spark.read.parquet(ixSub(ix, "fp")).select("fp").distinct().count() == 3)

    // enrichment rode along per snapshot: each batch's curated docs were
    // enriched and ok-routed (the daemon's enrichStage passthrough)
    assert(batches(0L)("10_enrich_ok") == batches(0L)("07_para_dedup"))
    assert(batches(1L)("10_enrich_ok") == batches(1L)("07_para_dedup"))
    assert(batches(1L)("10_enrich_fail") == 0L)
    assert(new java.io.File(s"$work/batch=1/10_enrich/ok=true").isDirectory)
  }

  test("07b lexical index: batch mode rebuilds per generation; daemon deltas are replay-idempotent; tombstoned re-adds defer, compact resolves") {
    import graft.operators.{IndexFs, LexIndex, TextSearch}
    // ---- batch mode: the index is a staged-swap REBUILD serving exactly
    // the curated corpus (one run = one generation)
    val warcDir = Files.createTempDirectory("crawl_lex_warc")
    val work = Files.createTempDirectory("crawl_lex_work").toString
    val lex = Files.createTempDirectory("crawl_lex_ix").toString + "/lex"
    Files.write(warcDir.resolve("snap1.warc"),
      response("http://a.example/alpha", bodyAlpha) ++
      response("http://b.example/beta", bodyBeta))
    val counts = CrawlPipeline.run(spark, s"$warcDir/snap1.warc", work,
        lexDir = Some(lex))
      .map(c => c.stage -> c.rows).toMap
    val curated = spark.read.parquet(s"$work/07_para_dedup")
      .select($"doc_id", $"text")
    val nCur = curated.count()
    assert(counts("07b_lex_index") == nCur, counts.toString)
    val terms = Seq("the", "alpha1")
    def fromIx() = LexIndex.bm25TopKFromIndex(spark, lex, terms, k = 5)
      .collect().toSeq
    assert(fromIx() == TextSearch.bm25TopK(curated, $"doc_id", $"text",
      terms, k = 5).collect().toSeq,
      "batch-mode lexical index diverged from the curated corpus")
    // a rerun is a new GENERATION, never an accretion
    CrawlPipeline.run(spark, s"$warcDir/snap1.warc", work, lexDir = Some(lex))
    assert(spark.read.parquet(s"${graft.operators.IncrementalDedup.readRoot(lex)}/doclens").count() == nCur,
      "batch rerun accreted instead of rebuilding")

    // ---- daemon mode: per-snapshot deltas, replay-idempotent
    val warc2 = Files.createTempDirectory("crawl_lex2_warc")
    val work2 = Files.createTempDirectory("crawl_lex2_work").toString
    val ix2 = Files.createTempDirectory("crawl_lex2_ix").toString + "/index"
    val lex2 = Files.createTempDirectory("crawl_lex2_lex").toString + "/lex"
    Files.write(warc2.resolve("snap1.warc"),
      response("http://a.example/alpha", bodyAlpha))
    val q = CrawlPipeline.runStream(spark, warc2.toString, work2, ix2,
      lexDir = Some(lex2))
    try {
      q.processAllAvailable()
      Files.write(warc2.resolve("snap2.warc"),
        response("http://c.example/gamma", bodyGamma))
      q.processAllAvailable()
    } finally q.stop()
    val nLex2 = spark.read.parquet(s"${graft.operators.IncrementalDedup.readRoot(lex2)}/doclens").count()
    assert(nLex2 == 2, s"daemon lexical index holds $nLex2 docs, expected 2")
    def fromIx2() = LexIndex.bm25TopKFromIndex(spark, lex2,
      Seq("the", "gamma1"), k = 5).collect().toSeq
    val preReplay = fromIx2()
    // replay of snapshot 1 overwrites its OWN delta — counts and scores
    // identical, never doubled
    CrawlPipeline.run(spark, s"$warc2/snap2.warc", s"$work2/batch=1",
      indexDir = Some(ix2), snapshotId = Some(1L), lexDir = Some(lex2))
    assert(spark.read.parquet(s"${graft.operators.IncrementalDedup.readRoot(lex2)}/doclens").count() == 2,
      "replayed snapshot double-counted the lexical delta")
    assert(fromIx2() == preReplay, "replay changed lexical scores")

    // ---- takedown then RE-CRAWL: the daemon's upsert resurrects the
    // page immediately (the fp index's re-admission contract, mirrored
    // lexically — round 19 replaced the defer-until-compact posture):
    // the new version-floor entry outranks the deletion, counts and
    // scores land exactly where they were
    val gammaId = spark.read.parquet(s"$work2/batch=1/07_para_dedup")
      .select($"doc_id").as[Long].head()
    LexIndex.delete(spark, lex2, Seq(gammaId).toDF("doc_id"), "doc_id")
    assert(LexIndex.bm25TopKFromIndex(spark, lex2, Seq("gamma1"), k = 5)
      .where($"id" === gammaId).count() == 0,
      "the takedown did not apply")
    CrawlPipeline.run(spark, s"$warc2/snap2.warc", s"$work2/batch=1",
      indexDir = Some(ix2), snapshotId = Some(1L), lexDir = Some(lex2))
    assert(spark.read.parquet(s"${graft.operators.IncrementalDedup.readRoot(lex2)}/doclens").count() == 2,
      "resurrection double-counted or lost the doc")
    assert(fromIx2() == preReplay,
      "the takedown→re-crawl resurrection changed final scores")
    // compact resolves the ledger physically; answers unchanged
    LexIndex.compact(spark, lex2)
    assert(!IndexFs.exists(s"${graft.operators.IncrementalDedup.readRoot(lex2)}/tombstones"))
    assert(fromIx2() == preReplay, "the compact changed scores")

    // ---- CHANGED page re-crawl: same doc_id (the url hash), new
    // content — the upsert REPLACES the old version exactly (the append
    // path would have double-counted the id); note content admission
    // happens upstream (fp), so the changed body reaches 07b
    val alphaChanged = response("http://c.example/gamma",
      bodyGamma.replace("gamma1", "gamma1 gamma9"))
    Files.write(warc2.resolve("snap2.warc"), alphaChanged)
    CrawlPipeline.run(spark, s"$warc2/snap2.warc", s"$work2/batch=1",
      indexDir = Some(ix2), snapshotId = Some(1L), lexDir = Some(lex2))
    // the superseded version stays PHYSICAL (3 raw rows) but hidden: the
    // live view serves exactly the updated 2-doc corpus, bit-for-bit
    assert(spark.read.parquet(s"${graft.operators.IncrementalDedup.readRoot(lex2)}/doclens")
      .count() == 3, "expected the superseded version physical until compact")
    val curated2 = spark.read.parquet(s"$work2/batch=0/07_para_dedup")
      .select($"doc_id", $"text")
      .unionByName(spark.read.parquet(s"$work2/batch=1/07_para_dedup")
        .select($"doc_id", $"text"))
    def gamma9Ix() = LexIndex.bm25TopKFromIndex(spark, lex2,
      Seq("gamma9"), k = 5).collect().toSeq
    assert(gamma9Ix() ==
      TextSearch.bm25TopK(curated2, $"doc_id", $"text", Seq("gamma9"),
        k = 5).collect().toSeq,
      "the replaced version did not serve exactly")
    // the compact folds the replacement physically; answers unchanged
    val g9 = gamma9Ix()
    LexIndex.compact(spark, lex2)
    assert(spark.read.parquet(s"${graft.operators.IncrementalDedup.readRoot(lex2)}/doclens")
      .count() == 2, "compact did not fold the superseded version")
    assert(gamma9Ix() == g9, "the fold changed the replaced scores")
  }

  test("takedown under lease contention: the daemon's tombstone clear DEFERS " +
      "(batch succeeds, deletion stays applied); the next crawl completes it") {
    val warcDir = Files.createTempDirectory("crawl_td_warc")
    val work = Files.createTempDirectory("crawl_td_work").toString
    val ix = Files.createTempDirectory("crawl_td_ix").toString + "/index"
    Files.write(warcDir.resolve("snap.warc"),
      response("http://a.example/robots.txt", "User-agent: *\n") ++
      response("http://a.example/page", bodyAlpha))
    def runBatch(id: Long): Map[String, Long] =
      CrawlPipeline.run(spark, s"$warcDir/snap.warc", s"$work/batch=$id",
          indexDir = Some(ix), snapshotId = Some(id))
        .map(c => c.stage -> c.rows).toMap
    assert(runBatch(0L)("04b_admit") == 1)

    // takedown across both admission indexes (the CLI `takedown` arc)
    val admitted = spark.read.parquet(s"$work/batch=0/04b_admit")
    graft.operators.IncrementalDedup.deleteFingerprints(
      spark, s"$ix/fp", admitted.select($"fp"))
    graft.operators.IncrementalDedup.deleteSignatureIds(
      spark, s"$ix/sig", admitted.select($"id"))

    // an operator holds BOTH writer leases while the daemon's next batch
    // runs — the exact mid-batch takedown contention the retry-then-defer
    // posture exists for
    val fpMarker = graft.operators.IndexLease.leasePath(s"$ix/fp")
    val sigMarker = graft.operators.IndexLease.leasePath(s"$ix/sig")
    assert(graft.operators.IndexFs.createUtf8(fpMarker, "op@takedown/thread-1"))
    assert(graft.operators.IndexFs.createUtf8(sigMarker, "op@takedown/thread-1"))
    try {
      // the tombstoned page re-admits; the clears contend and DEFER —
      // the batch must succeed, not die on the takedown's lease
      assert(runBatch(1L)("04b_admit") == 1)
      assert(graft.operators.IndexFs.exists(s"${ixSub(ix, "fp")}/_tombstones"),
        "fp clear should have been deferred under contention")
      assert(graft.operators.IndexFs.exists(s"${ixSub(ix, "sig")}/_tombstones"),
        "sig clear should have been deferred under contention")
    } finally {
      graft.operators.IndexFs.deleteFile(fpMarker)
      graft.operators.IndexFs.deleteFile(sigMarker)
    }

    // leases released: the page's next crawl re-admits (still tombstoned)
    // and completes the deferred clear
    assert(runBatch(2L)("04b_admit") == 1)
    assert(!graft.operators.IndexFs.exists(s"${ixSub(ix, "fp")}/_tombstones"))
    assert(!graft.operators.IndexFs.exists(s"${ixSub(ix, "sig")}/_tombstones"))
    // fully cleared: the fourth crawl is a plain duplicate again
    assert(runBatch(3L)("04b_admit") == 0)
  }
}
