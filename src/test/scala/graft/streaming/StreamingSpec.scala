package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Streaming operators driven by the events testdata as a bounded stream
  * (memory sink + processAllAvailable — the Spark-sanctioned way to test
  * Structured Streaming synchronously).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** The file-stream source needs a directory; the testdata table is a single
    * parquet file, so stage a copy.
    */
  private lazy val eventsDir: String = {
    val d = Files.createTempDirectory("events_stream")
    Files.copy(java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      d.resolve("part-0.parquet"))
    d.toString
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory(s"ckpt_$name").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("tumblingCounts matches the batch groupBy on the same data") {
    val stream = StreamingOps.eventsStream(spark, eventsDir)
    val got = runToMemory(
      StreamingOps.tumblingCounts(stream, "1 hour", "0 seconds"), "tumbling", "complete")
      .select($"window_start", $"event_type", $"n")
    val batch = graft.core.Tables.events(spark, sf0001)
      .groupBy(date_trunc("hour", $"ts").as("window_start"), $"event_type")
      .agg(count(lit(1)).as("n"))
    // complete mode: every window emitted (append would hold back the
    // final window, whose end the stalled watermark never passes)
    assert(got.count() > 0)
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty)
  }

  test("eventsStream starts on an empty directory (producer not yet up)") {
    val emptyDir = Files.createTempDirectory("events_empty")
    val stream = StreamingOps.eventsStream(spark, emptyDir.toString)
    // schema falls back to the known events shape, ts normalized
    assert(stream.schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // the stream runs (zero rows) rather than throwing at construction;
    // files arriving later are picked up by the running query
    val got = runToMemory(
      StreamingOps.tumblingCounts(stream, "1 hour", "0 seconds"),
      "empty_start", "complete")
    assert(got.count() == 0)
  }

  test("sessionCounts emits per-user sessions with gap semantics") {
    val stream = StreamingOps.eventsStream(spark, eventsDir)
    val got = runToMemory(
      StreamingOps.sessionCounts(stream, "30 minutes", "0 seconds"), "sessions", "complete")
    assert(got.count() > 0)
    // session integrity: end >= start, event counts positive
    assert(got.filter($"session_end" < $"session_start").count() == 0)
    assert(got.filter($"n_events" <= 0).count() == 0)
    // total events across sessions equals table size
    val total = got.agg(sum($"n_events")).as[Long].head()
    assert(total == graft.core.Tables.events(spark, sf0001).count())
  }

  test("sessionizeWithState closes sessions on gaps (batch-driven)") {
    val events = Seq(
      StreamingOps.Event(1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1, "a", 1.0),
      StreamingOps.Event(2, java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), 1, "a", 2.0),
      StreamingOps.Event(3, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 1, "a", 3.0),
      StreamingOps.Event(4, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 2, "b", 4.0)
    ).toDS()
    // batch Datasets support flatMapGroupsWithState directly in Spark 4 via
    // the same API; drive it as a one-batch stream for fidelity
    val out = StreamingOps.sessionizeWithState(events, gapMs = 10 * 60 * 1000L)
      .collect()
    // user 1: first session (00:00-00:05, 2 events) closed by the 02:00 event
    assert(out.exists(s => s.user_id == 1 && s.n_events == 2 && s.sum_value == 3.0))
    // user 2's single-event session never closes (no later event) — state holds it
    assert(!out.exists(_.user_id == 2))
  }

  test("streaming dedup drops duplicate event ids") {
    // duplicate the stream input file: every event id appears twice
    val dupDir = Files.createTempDirectory("events_dup")
    Files.copy(java.nio.file.Paths.get(s"$sf0001/events.parquet"), dupDir.resolve("a.parquet"))
    Files.copy(java.nio.file.Paths.get(s"$sf0001/events.parquet"), dupDir.resolve("b.parquet"))
    val stream = StreamingOps.eventsStream(spark, dupDir.toString)
    val got = runToMemory(StreamingOps.dedupEvents(stream, "0 seconds"), "dedup_events")
    assert(got.count() == graft.core.Tables.events(spark, sf0001).count())
  }

  test("stream-stream interval join attributes purchases to recent sessions") {
    val stream = StreamingOps.eventsStream(spark, eventsDir)
    val got = runToMemory(
      StreamingOps.purchaseAttribution(stream, intervalSeconds = 3600, watermark = "0 seconds"),
      "attribution")
    assert(got.count() > 0)
    // every joined session is within the hour before the purchase, same user
    import org.apache.spark.sql.functions._
    assert(got.filter($"s_ts" > $"p_ts" ||
      $"s_ts" < $"p_ts" - expr("INTERVAL 3600 SECONDS")).count() == 0)
  }

  test("enrichStream processes new files exactly once") {
    val dir = Files.createTempDirectory("streamenrich").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    Files.write(java.nio.file.Paths.get(s"$dir/in/S1.md"), "# S1\ndata".getBytes)
    val prompt = "SYSTEM:\nsys\nUSER:\n{school_data}"
    graft.pipeline.CountingTransport.reset()
    val q = StreamingOps.enrichStream(spark, s"$dir/in", s"$dir/outmd",
      s"$dir/outjson", prompt, s"$dir/ckpt",
      transportFactory = () => new graft.pipeline.CountingTransport)
    try {
      q.processAllAvailable()
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/outmd/S1_ai_description.md")))
      // a second file lands; only it is processed in the next batch
      Files.write(java.nio.file.Paths.get(s"$dir/in/S2.md"), "# S2\ndata".getBytes)
      q.processAllAvailable()
    } finally q.stop()
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/outmd/S2_ai_description.md")))
    // one LLM call per document, although each batch writes two sinks
    assert(graft.pipeline.CountingTransport.count("alpha") == 2)
  }

  test("enrichStream budgets micro-batches through the exact global limiters") {
    import graft.enrich._
    val dir = Files.createTempDirectory("streamenrich-cap").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    (1 to 6).foreach(i => Files.write(
      java.nio.file.Paths.get(s"$dir/in/S$i.md"), s"# S$i\ndata".getBytes))
    graft.enrich.ConcurrencyProbe.reset()
    val q = StreamingOps.enrichStream(spark, s"$dir/in", s"$dir/outmd",
      s"$dir/outjson", "SYSTEM:\nsys\nUSER:\n{school_data}", s"$dir/ckpt",
      transportFactory = () => new graft.enrich.ProbeTransport,
      config = EnrichConfig(maxConcurrent = 2))
    try q.processAllAvailable() finally q.stop()
    assert((1 to 6).forall(i => java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/outmd/S${i}_ai_description.md"))))
    val peak = graft.enrich.ConcurrencyProbe.peak.get()
    assert(peak >= 1 && peak <= 2, s"peak=$peak")
  }

  test("contamination scan runs on a streaming corpus against a static benchmark") {
    // contaminationStateless is a narrow projection over a broadcast bench
    // array — no corpus-side aggregation — so a streaming corpus works in
    // append mode and must agree row-for-row with the batch operator.
    val dir = Files.createTempDirectory("contam_stream")
    val docs = graft.core.Tables.documents(spark, sf0001)
    val bench = docs.where(graft.operators.Layout.hashBucket(col("doc_id")) >= 95)
    val corpus = docs.where(graft.operators.Layout.hashBucket(col("doc_id")) < 95)
    corpus.write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$dir/in")
    val got = runToMemory(
      graft.operators.TextPipeline.contaminationStateless(
        stream, bench, col("doc_id"), col("text"), n = 3),
      "contam_stream")
    val batch = graft.operators.TextPipeline.contamination(
      corpus, bench, col("doc_id"), col("text"), n = 3)
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("dataset-prep transforms (chunk, redact, split) run unchanged on a stream") {
    // chunk/redactPii/hashSplit are stateless projections + generators, so
    // the SAME operator code drives batch and incremental pipelines — this
    // pins that property (a regression to e.g. a window/aggregate would
    // break append-mode streaming here).
    val dir = Files.createTempDirectory("prep_stream")
    val docs = graft.core.Tables.documents(spark, sf0001)
    docs.write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$dir/in")
    val prep = graft.operators.TextPipeline
      .chunk(stream, col("doc_id"), col("text"), window = 32, stride = 16)
      .withColumn("chunk_text", graft.operators.TextPipeline.redactPii(col("chunk_text")))
      .withColumn("split", graft.operators.Layout.hashSplit(col("id")))
    val got = runToMemory(prep, "prep_stream")
    val batch = graft.operators.TextPipeline
      .chunk(docs, col("doc_id"), col("text"), window = 32, stride = 16)
      .withColumn("chunk_text", graft.operators.TextPipeline.redactPii(col("chunk_text")))
      .withColumn("split", graft.operators.Layout.hashSplit(col("id")))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("quality classifier scores a streaming corpus identically to batch") {
    // classify is a pure narrow projection (literal-folded linear model, no
    // aggregation), so the SAME operator runs the online filtering path in
    // append mode — this pins that property.
    val dir = Files.createTempDirectory("classify_stream")
    val docs = graft.core.Tables.documents(spark, sf0001)
    docs.write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$dir/in")
    val got = runToMemory(
      graft.operators.QualityClassifier.classify(stream, col("text"))
        .select(col("doc_id"), col("quality_score"), col("keep")),
      "classify_stream")
    val batch = graft.operators.QualityClassifier.classify(docs, col("text"))
      .select(col("doc_id"), col("quality_score"), col("keep"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("dedupDocsStream emits one doc per fingerprint across micro-batches") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("docs_stream")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("fingerprint", StringType),
      StructField("text", StringType)))
    // stage files directly: one parquet file per micro-batch drop
    def dropFile(name: String, rows: Seq[StreamingOps.Doc]): Unit = {
      val tmp = Files.createTempDirectory("docs_tmp")
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part, dir.resolve(name))
    }
    dropFile("b1.parquet", Seq(
      StreamingOps.Doc(2L, "A", "alpha-copy"), StreamingOps.Doc(1L, "A", "alpha"),
      StreamingOps.Doc(3L, "B", "beta")))
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .as[StreamingOps.Doc]
    val q = StreamingOps.dedupDocsStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("doc_dedup")
      .option("checkpointLocation", Files.createTempDirectory("ckpt_dd").toString)
      .start()
    q.processAllAvailable()
    // batch 1: min doc_id per fingerprint
    assert(spark.table("doc_dedup").select("doc_id").as[Long].collect().toSet ==
      Set(1L, 3L))
    // batch 2: seen fingerprint suppressed forever, new one emitted
    dropFile("b2.parquet", Seq(
      StreamingOps.Doc(4L, "A", "alpha-again"), StreamingOps.Doc(5L, "C", "gamma")))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("doc_dedup").select("doc_id").as[Long].collect().toSet ==
      Set(1L, 3L, 5L))
  }

  test("dedupDocsStream equals sequential batch IncrementalDedup over the same drops") {
    import graft.operators.IncrementalDedup
    import org.apache.spark.sql.functions.col
    val b1 = Seq(StreamingOps.Doc(2L, "A", "alpha-copy"),
      StreamingOps.Doc(1L, "A", "alpha"), StreamingOps.Doc(3L, "B", "beta"))
    val b2 = Seq(StreamingOps.Doc(4L, "A", "alpha-again"),
      StreamingOps.Doc(5L, "C", "gamma"), StreamingOps.Doc(6L, "C", "gamma-copy"))
    // batch side: admit drop 1 against an empty index, fold it in, admit drop 2
    val empty = IncrementalDedup.buildIndex(b1.take(0).toDF(), col("fingerprint"))
    val a1 = IncrementalDedup.admit(b1.toDF(), empty, col("fingerprint"), col("doc_id"))
    val a2 = IncrementalDedup.admit(b2.toDF(),
      IncrementalDedup.updatedIndex(empty, a1), col("fingerprint"), col("doc_id"))
    val batchIds = (a1.select("doc_id").union(a2.select("doc_id")))
      .as[Long].collect().toSet
    // stream side: same two drops as micro-batches through the state store
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("docs_inc_stream")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("fingerprint", StringType),
      StructField("text", StringType)))
    def dropFile(name: String, rows: Seq[StreamingOps.Doc]): Unit = {
      val tmp = Files.createTempDirectory("docs_inc_tmp")
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part, dir.resolve(name))
    }
    dropFile("b1.parquet", b1)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString).as[StreamingOps.Doc]
    val q = StreamingOps.dedupDocsStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("inc_twin")
      .option("checkpointLocation", Files.createTempDirectory("ckpt_it").toString)
      .start()
    q.processAllAvailable()
    dropFile("b2.parquet", b2)
    q.processAllAvailable()
    q.stop()
    val streamIds = spark.table("inc_twin").select("doc_id").as[Long].collect().toSet
    assert(streamIds == batchIds && batchIds == Set(1L, 3L, 5L))
  }

  test("admitNearDupStream: per-micro-batch near-dup admission against the parquet sig index") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val base = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
    val near = base.replace("today", "again")
    val novel = "completely different subject matter entirely about ships and the open sea voyage"
    val dir = Files.createTempDirectory("neardup_stream")
    val indexDir = Files.createTempDirectory("neardup_idx").toString + "/idx"
    val outDir = Files.createTempDirectory("neardup_out").toString + "/out"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("fingerprint", StringType),
      StructField("text", StringType)))
    def dropFile(name: String, rows: Seq[StreamingOps.Doc]): Unit = {
      val tmp = Files.createTempDirectory("neardup_tmp")
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part, dir.resolve(name))
    }
    // batch 1: an exact-dup pair (min id wins) + that doc's near variant
    dropFile("b1.parquet", Seq(
      StreamingOps.Doc(5L, "x", base), StreamingOps.Doc(2L, "x", base),
      StreamingOps.Doc(7L, "y", near)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString).as[StreamingOps.Doc]
    val q = StreamingOps.admitNearDupStream(stream, indexDir, outDir,
      Files.createTempDirectory("ckpt_nd").toString)
    q.processAllAvailable()
    // batch 2: near copy of an ADMITTED doc (rejected via the index) + novel
    dropFile("b2.parquet", Seq(
      StreamingOps.Doc(9L, "x2", base), StreamingOps.Doc(11L, "z", novel)))
    q.processAllAvailable()
    val admitted = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    // 2 wins its exact cluster; 7 is near 2 (same cluster) and loses; 9 is
    // rejected against the persisted index; 11 is genuinely new
    assert(admitted == Set(2L, 11L), admitted.toString)
    // the index now carries one signature per admitted doc
    val idx = spark.read.parquet(indexDir).select("id").as[Long].collect().toSet
    assert(idx == Set(2L, 11L), idx.toString)
    // takedown mid-stream: tombstoning doc 2's signature makes it GONE for
    // streaming admission too (the stream reads the LIVE index view), so a
    // re-crawl of the same page re-admits in the next micro-batch
    graft.operators.IncrementalDedup.deleteSignatureIds(spark, indexDir,
      Seq(2L).toDF("id"))
    dropFile("b3.parquet", Seq(StreamingOps.Doc(21L, "x3", base)))
    q.processAllAvailable()
    q.stop()
    val after = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(after == Set(2L, 11L, 21L), after.toString)
  }

  test("admitNearDupStream replay: a batch whose own index delta already exists is not self-rejected") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val base = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
    val novel = "completely different subject matter entirely about ships and the open sea voyage"
    val dir = Files.createTempDirectory("neardup_replay")
    val indexDir = Files.createTempDirectory("neardup_replay_idx").toString + "/idx"
    val outDir = Files.createTempDirectory("neardup_replay_out").toString + "/out"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("fingerprint", StringType),
      StructField("text", StringType)))
    // foreachBatch replay reproduced exactly: the index ALREADY holds this
    // micro-batch's own batch=0 delta (as after a crash between the index
    // write and the commit), and the fresh checkpoint re-runs batch 0.
    // Without the own-delta exclusion every doc self-matches its persisted
    // signature (32/32), the whole batch is rejected, and the overwrite
    // erases the admitted rows and their signatures permanently.
    graft.operators.IncrementalDedup.buildSigIndex(
      Seq((2L, base)).toDF("doc_id", "text"), col("doc_id"), col("text"))
      .write.parquet(s"$indexDir/batch=0")
    val rows = Seq(StreamingOps.Doc(2L, "x", base), StreamingOps.Doc(11L, "z", novel))
    val tmp = Files.createTempDirectory("neardup_replay_tmp")
    rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp)
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.move(part, dir.resolve("b1.parquet"))
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .as[StreamingOps.Doc]
    val q = StreamingOps.admitNearDupStream(stream, indexDir, outDir,
      Files.createTempDirectory("ckpt_replay").toString)
    q.processAllAvailable()
    q.stop()
    val admitted = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(2L, 11L), s"replayed batch lost rows: $admitted")
    val idx = spark.read.parquet(indexDir).select("id").as[Long].collect().toSet
    assert(idx == Set(2L, 11L), s"replayed batch lost index signatures: $idx")
  }

  test("dedupUrlsStream emits one row per canonical URL across micro-batches") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("urls_stream")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType)))
    def dropFile(name: String, rows: Seq[StreamingOps.UrlDoc]): Unit = {
      val tmp = Files.createTempDirectory("urls_tmp")
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part, dir.resolve(name))
    }
    // 5 and 2 canonicalize identically (www/443/utm strip) -> min id 2 wins;
    // 9 is unparseable and must pass through
    dropFile("b1.parquet", Seq(
      StreamingOps.UrlDoc(5L, "https://www.a.io/p?utm_source=x"),
      StreamingOps.UrlDoc(2L, "HTTPS://A.IO:443/p"),
      StreamingOps.UrlDoc(9L, "garbage")))
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .as[StreamingOps.UrlDoc]
    val q = StreamingOps.dedupUrlsStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("url_dedup")
      .option("checkpointLocation", Files.createTempDirectory("ckpt_ud").toString)
      .start()
    q.processAllAvailable()
    assert(spark.table("url_dedup").select("doc_id").as[Long].collect().toSet ==
      Set(2L, 9L))
    // batch 2: the seen canonical is suppressed forever — even for a NEW
    // surface form; a new canonical and another unparseable row pass
    dropFile("b2.parquet", Seq(
      StreamingOps.UrlDoc(11L, "https://www.a.io/p#frag"),
      StreamingOps.UrlDoc(12L, "https://b.io/q"),
      StreamingOps.UrlDoc(13L, "also garbage")))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("url_dedup").select("doc_id").as[Long].collect().toSet ==
      Set(2L, 9L, 12L, 13L))
  }

  test("quantile sketch runs as streaming state and equals the batch sketch") {
    // QuantileHist.sketch is one partially-aggregated groupBy over a pure
    // projection, so the SAME operator code incrementally sketches a stream
    // in complete mode — the live form of the merge-invariance the t88 gate
    // asserts for batch shards. Bit-identical to the batch sketch over the
    // same rows.
    val dir = Files.createTempDirectory("qsketch_stream")
    val docs = graft.core.Tables.documents(spark, sf0001)
      .select($"doc_id", $"n_chars")
    docs.write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$dir/in")
    val got = runToMemory(
      graft.operators.QuantileHist.sketch(stream, col("n_chars")),
      "qsketch", "complete")
    val batch = graft.operators.QuantileHist.sketch(docs, col("n_chars"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("dedupParasStream emits each distinct paragraph once across micro-batches") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("paras_stream")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def dropFile(name: String, rows: Seq[StreamingOps.ParaDoc]): Unit = {
      val tmp = Files.createTempDirectory("paras_tmp")
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part, dir.resolve(name))
    }
    // within batch 1: "shared" appears in docs 1 and 2 -> (1, pos 1) wins;
    // doc 2's internal repeat also loses
    dropFile("b1.parquet", Seq(
      StreamingOps.ParaDoc(1L, "alpha\n\nshared"),
      StreamingOps.ParaDoc(2L, "shared\n\nbeta\n\nshared")))
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .as[StreamingOps.ParaDoc]
    val q = StreamingOps.dedupParasStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("para_dedup")
      .option("checkpointLocation", Files.createTempDirectory("ckpt_pd").toString)
      .start()
    q.processAllAvailable()
    assert(spark.table("para_dedup").select("doc_id", "pos", "para")
      .as[(Long, Int, String)].collect().toSet ==
      Set((1L, 0, "alpha"), (1L, 1, "shared"), (2L, 1, "beta")))
    // batch 2: previously seen paragraphs stay suppressed forever
    dropFile("b2.parquet", Seq(
      StreamingOps.ParaDoc(7L, "shared\n\ngamma\n\nbeta")))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("para_dedup").select("doc_id", "pos", "para")
      .as[(Long, Int, String)].collect().toSet ==
      Set((1L, 0, "alpha"), (1L, 1, "shared"), (2L, 1, "beta"), (7L, 1, "gamma")))
  }

  test("sketchStream: incremental bucket-count state equals the batch sketch across micro-batches") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("qsketch_state")
    val schema = StructType(Seq(StructField("v", LongType)))
    def dropFile(name: String, vals: Seq[Long]): Unit = {
      val tmp = Files.createTempDirectory("qs_tmp")
      vals.toDF("v").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part, dir.resolve(name))
    }
    val b1 = Seq(1L, 2L, 3L, 1000L, 1023L, 77L, 0L, -5L) // 0 and -5 dropped
    val b2 = Seq(1L, 1024L, 1023L, 77L, 77L)
    dropFile("b1.parquet", b1)
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val q = StreamingOps.sketchStream(stream, col("v"))
      .writeStream.outputMode("update").format("memory").queryName("qsketch_state")
      .option("checkpointLocation", Files.createTempDirectory("ckpt_qs").toString)
      .start()
    q.processAllAvailable()
    val afterB1 = spark.table("qsketch_state").select($"bucket_lo", $"n")
      .as[(Long, Long)].collect().toMap
    // first trigger: the state IS the batch sketch of b1
    val batchB1 = graft.operators.QuantileHist.sketch(b1.toDF("v"), col("v"))
      .as[(Long, Long)].collect().toMap
    assert(afterB1 == batchB1)
    dropFile("b2.parquet", b2)
    q.processAllAvailable()
    q.stop()
    // counts are monotone, so max(n) per bucket is the final state —
    // bit-identical to the batch sketch over BOTH batches' rows
    val got = spark.table("qsketch_state")
      .groupBy($"bucket_lo").agg(max($"n").as("n"))
    val batch = graft.operators.QuantileHist.sketch((b1 ++ b2).toDF("v"), col("v"))
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("hllStream: incremental registers equal HllTable.build; no-growth batches emit nothing") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("hll_state")
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("v", LongType)))
    def dropFile(name: String, rows: Seq[(String, Long)]): Unit = {
      val tmp = Files.createTempDirectory("hll_tmp")
      rows.toDF("g", "v").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part, dir.resolve(name))
    }
    val b1 = (1L to 40L).map(i => ("a", i)) ++ (1L to 10L).map(i => ("b", i))
    dropFile("b1.parquet", b1)
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val q = StreamingOps.hllStream(stream, col("g"), col("v"))
      .writeStream.outputMode("update").format("memory").queryName("hll_state")
      .option("checkpointLocation", Files.createTempDirectory("ckpt_hll").toString)
      .start()
    q.processAllAvailable()
    val afterB1 = spark.table("hll_state").count()
    assert(afterB1 > 0)
    // a batch of already-seen values cannot grow any register -> no rows
    dropFile("b2.parquet", b1.take(5))
    q.processAllAvailable()
    assert(spark.table("hll_state").count() == afterB1)
    // new values: final max-merged registers equal the batch build over all rows
    dropFile("b3.parquet", Seq(("a", 100L), ("c", 1L)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("hll_state")
      .groupBy($"group", $"bucket").agg(max($"rho").as("rho"))
    val all = b1 ++ b1.take(5) ++ Seq(("a", 100L), ("c", 1L))
    val batch = graft.operators.HllTable.build(all.toDF("g", "v"), col("g"), col("v"))
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }
}
