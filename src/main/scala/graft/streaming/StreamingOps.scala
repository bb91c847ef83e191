package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.9): event-time windowed
  * aggregation with watermarks, session windows, and custom stateful
  * sessionization — the streaming analogues of the batch event queries
  * (q19) and the reference's incremental file processing (P9/J2, which
  * `readStream` file sources subsume via checkpointed exactly-once intake).
  *
  * All operators take an already-loaded streaming DataFrame so batch frames
  * drive them in tests (`spark.readStream` vs `spark.read` produce the same
  * logical shape).
  */
object StreamingOps {

  /** Control-flow marker for [[admitNearDupStream]]'s fresh-index branch. */
  private final class NoIndexYet extends RuntimeException

  /** Streaming scan of an events parquet directory with `ts` normalized to
    * TimestampType — the streaming twin of `Tables.events`.
    *
    * `readStream` needs an explicit schema, but the stored `ts` type has
    * already drifted once (raw nanosecond long → timestamp[us], round 8), so
    * hard-coding either is a silent-corruption trap: a LongType schema over
    * timestamp[us] data reads micros as if they were nanos and compresses
    * every event time 1000×. Instead probe one parquet footer via a batch
    * read (driver-side, metadata only) and dispatch on the actual physical
    * type — the exact dispatch `Tables.events` does for batch. If the
    * directory is empty or absent at stream start (a streaming job booting
    * ahead of its producer — no footer to probe), fall back to the current
    * testdata schema (timestamp[us] → TIMESTAMP_NTZ) instead of failing
    * stream construction; the t86 schema canary goes red if that default
    * ever drifts.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val physical =
      try spark.read.parquet(dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException =>
        StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampNTZType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
      }
    val stream = spark.readStream.schema(physical).parquet(dir)
    physical("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) surfaced as ns longs
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // timestamp[us] (current testdata) — cast normalizes NTZ/TZ
        stream.withColumn("ts", date_trunc("microsecond", col("ts").cast("timestamp")))
    }
  }

  /** Tumbling event-time window counts with late-data handling. */
  def tumblingCounts(events: DataFrame, windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding window aggregate (overlapping windows). */
  def slidingSums(events: DataFrame, windowLength: String = "1 hour",
      slide: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength, slide), col("event_type"))
      .agg(sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("sum_value"))

  /** Built-in session windows: activity grouped per user until `gap` of
    * silence.
    */
  def sessionCounts(events: DataFrame, gap: String = "10 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming exactly-once dedup: drop repeated event ids within the
    * watermark horizon (the streaming analogue of exact dedup — state for
    * ids older than the watermark is evicted, bounding memory at scale).
    */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id")

  /** Stream-stream interval join: each purchase joined to the same user's
    * signups/logins within the preceding `intervalSeconds`. Both sides carry
    * watermarks so the join state is bounded (late rows beyond the watermark
    * + interval are dropped).
    */
  def purchaseAttribution(events: DataFrame, intervalSeconds: Long = 3600,
      watermark: String = "2 hours"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", watermark)
    val sessions = events.filter(col("event_type").isin("signup", "login"))
      .select(col("event_id").as("s_event_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", watermark)
    purchases.join(
      sessions,
      expr(s"""p_user = s_user AND
              |s_ts <= p_ts AND s_ts >= p_ts - INTERVAL $intervalSeconds SECONDS""".stripMargin))
      .select(col("p_event_id"), col("p_user").as("user_id"), col("p_ts"),
        col("value"), col("s_event_id"), col("s_ts"))
  }

  // ------------------------------------------------------------ custom state

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, lastSeen: Long, n: Long, sum: Double)
  final case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** flatMapGroupsWithState sessionization with a processing-time timeout:
    * emits a UserSession when `gapMs` passes without activity for the user.
    * The custom-state path for semantics session_window can't express
    * (e.g. value-dependent gaps would slot in here).
    */
  def sessionizeWithState(events: Dataset[Event], gapMs: Long = 10 * 60 * 1000L)
      : Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          // batch-driven: rows arrive unordered within the trigger; sort by ts
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var st = state.getOption.getOrElse(SessionState(-1L, -1L, 0L, 0.0))
          val closed = scala.collection.mutable.ArrayBuffer.empty[UserSession]
          sorted.foreach { e =>
            val t = e.ts.getTime
            if (st.start < 0) st = SessionState(t, t, 1L, e.value)
            else if (t - st.lastSeen > gapMs) {
              closed += UserSession(userId, new java.sql.Timestamp(st.start),
                new java.sql.Timestamp(st.lastSeen), st.n, st.sum)
              st = SessionState(t, t, 1L, e.value)
            } else st = SessionState(st.start, t, st.n + 1, st.sum + e.value)
          }
          state.update(st)
          closed.iterator
      }
  }

  final case class Doc(doc_id: Long, fingerprint: String, text: String)

  /** Incremental corpus dedup over a document stream: at most one document
    * is EVER emitted per content fingerprint, across all micro-batches — the
    * continuous-ingest twin of the batch first-wins dedup (new crawl drops
    * arrive forever; a doc whose fingerprint was seen in any earlier batch
    * is suppressed). Within a single batch the smallest `doc_id` wins, so
    * the output is deterministic given the batch boundaries.
    *
    * State is one boolean per distinct fingerprint — the minimum any
    * streaming seen-set can hold — partitioned by the fingerprint key, so
    * it shards across executors and a RocksDB state store carries it at
    * billions of keys. No timeout is set because "seen" must never expire;
    * bound the store instead by fingerprinting at the right granularity
    * (content hash, not raw text).
    */
  def dedupDocsStream(docs: Dataset[Doc]): Dataset[Doc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(_.fingerprint)
      .flatMapGroupsWithState[Boolean, Doc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Doc], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator.single(rows.minBy(_.doc_id)) }
      }
  }

  final case class UrlDoc(doc_id: Long, url: String)
  final case class UrlSeen(doc_id: Long, url: String, canonical_url: Option[String])

  /** Streaming URL-level dedup — the crawl-frontier twin of the batch
    * [[graft.operators.WebOps.dedupByCanonicalUrl]]: at most one row is
    * EVER emitted per canonical URL form across all micro-batches (within
    * a batch the smallest `doc_id` wins, matching the batch min-id
    * survivor). State is one boolean per canonical form, sharded by the
    * canonical key. Unparseable URLs (null canonical) key on a per-row
    * sentinel, so each passes through exactly as in batch — dropping them
    * is the caller's policy.
    */
  def dedupUrlsStream(docs: Dataset[UrlDoc]): Dataset[UrlSeen] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.toDF()
      .withColumn("canonical_url",
        graft.operators.WebOps.canonicalizeUrl(col("url")))
      .as[UrlSeen]
      .groupByKey(r => r.canonical_url.getOrElse("\u0000" + r.doc_id))
      .flatMapGroupsWithState[Boolean, UrlSeen](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[UrlSeen], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator.single(rows.minBy(_.doc_id)) }
      }
  }

  final case class ParaDoc(doc_id: Long, text: String)
  final case class ParaSeen(doc_id: Long, pos: Int, para: String)

  /** Streaming PARAGRAPH-level dedup — the continuous-ingest twin of the
    * batch [[graft.operators.ParagraphDedup]]: across all micro-batches at
    * most one (doc, pos, para) row is EVER emitted per distinct paragraph;
    * within a batch the smallest (doc_id, pos) wins, matching the batch
    * first-wins keeper. State is one boolean per md5(paragraph) — content
    * hashes, never text, so a RocksDB store carries billions. Document
    * reassembly is a downstream batch groupBy over the emitted survivors
    * (chaining it here would be a second stateful operator in one query,
    * which Structured Streaming does not support).
    */
  def dedupParasStream(docs: Dataset[ParaDoc], sep: String = "\n\n"): Dataset[ParaSeen] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.toDF()
      .select(col("doc_id"),
        posexplode(split(col("text"), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      .where(length(col("para")) > 0)
      .as[ParaSeen]
      .groupByKey(r => java.security.MessageDigest.getInstance("MD5")
        .digest(r.para.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .flatMapGroupsWithState[Boolean, ParaSeen](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[ParaSeen], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator.single(rows.minBy(r => (r.doc_id, r.pos))) }
      }
  }

  // -------------------------------------------------- incremental sketch state

  final case class BucketCount(bucket_lo: Long, n: Long)

  /** The quantile histogram ([[graft.operators.QuantileHist]]) as
    * INCREMENTAL per-bucket streaming state: the same codegen'd bucket
    * projection feeds a `flatMapGroupsWithState` keyed on `bucket_lo` whose
    * state is the running count. Each trigger emits only the buckets that
    * changed (Update mode), so a downstream sink upserts a handful of rows
    * per trigger instead of rewriting the table the way the complete-mode
    * groupBy twin must. Counts are monotone, so the LAST emission per bucket
    * (equivalently `max(n)`) is the final sketch — bit-identical to the
    * batch sketch over the same rows, asserted by the stream/batch spec and
    * the t100 gate. Total state is <= 64·2^subBits longs (the DDSketch
    * bound), sharded by bucket across the state store.
    */
  def sketchStream(values: DataFrame, valueCol: Column, subBits: Int = 4)
      : Dataset[BucketCount] = {
    val spark = values.sparkSession
    import spark.implicits._
    val v = valueCol.cast("bigint")
    values.where(v.isNotNull && v > 0)
      .select(graft.operators.QuantileHist.bucketLo(v, subBits).as("bucket_lo"))
      .as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, BucketCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (lo: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          var add = 0L
          rows.foreach(_ => add += 1)
          val n = state.getOption.getOrElse(0L) + add
          state.update(n)
          Iterator.single(BucketCount(lo, n))
      }
  }

  final case class HllRegister(group: String, bucket: Long, rho: Long)

  /** The per-group HLL register table ([[graft.operators.HllTable]]) as
    * incremental streaming state: keyed on (group, bucket), state is the
    * running max rho. A row is emitted only when its register GROWS, so a
    * steady-state stream of already-seen values emits nothing — the
    * upsert-volume analogue of the count sketch above. Registers are
    * max-monotone, so `max(rho)` per key over the emissions equals
    * `HllTable.build` over the same rows bit-for-bit (group compared as
    * string — the streaming key must be encodable). State is <= 1024 longs
    * per group.
    */
  def hllStream(df: DataFrame, groupCol: Column, valueCol: Column)
      : Dataset[HllRegister] = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.operators.HllTable.observations(df, groupCol.cast("string"), valueCol)
      .as[HllRegister]
      .groupByKey(r => (r.group, r.bucket))
      .flatMapGroupsWithState[Long, HllRegister](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[HllRegister], state: GroupState[Long]) =>
          val seen = rows.map(_.rho).max
          val prev = state.getOption.getOrElse(0L)
          if (seen > prev) {
            state.update(seen)
            Iterator.single(HllRegister(key._1, key._2, seen))
          } else Iterator.empty
      }
  }

  /** Streaming enrichment: the incremental Program-2 mode. New markdown files
    * landing in `inDir` are enriched exactly once (checkpointed intake
    * replaces the reference's filesystem-existence check). Implemented with
    * foreachBatch so each micro-batch reuses the batch EnrichOperator, and
    * with it one rate/concurrency envelope per micro-batch.
    */
  def enrichStream(
      spark: SparkSession, inDir: String, outMdDir: String, outJsonDir: String,
      promptTemplate: String, checkpointDir: String,
      transportFactory: () => graft.enrich.LlmTransport = () => new graft.enrich.MockLlmTransport,
      config: graft.enrich.EnrichConfig = graft.enrich.EnrichConfig())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    import graft.enrich._
    val docs = spark.readStream
      .option("wholetext", "true")
      .text(s"$inDir/*.md")
      .select(graft.sources.SchoolCsv.documentKeyColumn(".md").as("key"),
        col("value").as("content"))
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        EnrichOperator.enrich(
            batch.as[EnrichOperator.Doc], transportFactory, promptTemplate, config) { enriched =>
          // cached: the two sinks below must not pay the LLM twice
          val ok = enriched.filter(col("ok")).toDF().cache()
          try {
            graft.sinks.KeyedFileSink.write(ok, "key", "description", outMdDir,
              graft.core.RefConfig.AiProcessedSuffix)
            graft.sinks.KeyedFileSink.write(ok, "key", "raw", outJsonDir,
              graft.core.RefConfig.AiRawResponseSuffix)
          } finally ok.unpersist()
        }
        ()
      }
      .start()
  }

  /** Streaming NEAR-dup admission: each micro-batch runs
    * [[graft.operators.IncrementalDedup.admitNearDup]] against the
    * PERSISTED signature index and folds its survivors back in — the
    * streaming form of the continuous-crawl loop (`GraftCli admit near`
    * per batch).
    *
    * The index deliberately lives in parquet, NOT the state store: it must
    * be shareable with batch jobs, survive checkpoint resets, and hold k
    * longs per admitted document forever — exactly the contract of a table,
    * not of per-key streaming state. Each micro-batch writes its admitted
    * rows and its index delta to `batch=<id>` subdirectories with
    * overwrite, so a replayed batch (foreachBatch's at-least-once unit)
    * rewrites the same files instead of duplicating them — the standard
    * idempotent-foreachBatch layout. Replay idempotency additionally
    * requires EXCLUDING the batch's own `batch=<id>` delta when reading the
    * index: a replayed batch would otherwise score every previously
    * admitted doc against its own persisted signature (k/k self-match),
    * reject the whole batch, and overwrite both the output and the delta
    * with empty frames — permanently losing the admitted rows AND their
    * signatures, so future copies of them would sail in.
    */
  def admitNearDupStream(docs: Dataset[Doc], indexDir: String, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // existence probe first (the exception path also falls back, but
        // would log a full PATH_NOT_FOUND stack on every fresh index).
        // Only the genuinely-missing-path condition falls back to a fresh
        // index: any OTHER read failure (corrupt/partial files from a
        // concurrent compaction, schema drift) must FAIL the micro-batch
        // loudly — admitting against an accidentally-empty index is silent
        // mass duplicate admission.
        def freshIndex = graft.operators.IncrementalDedup
          .buildSigIndex(batch.limit(0), col("doc_id"), col("text"))
        val raw =
          try {
            // Hadoop-FS probe (IndexFs): a java.io check here read FALSE
            // for any index on an HDFS/S3 URI, so every micro-batch
            // admitted against a fresh EMPTY index — silent mass duplicate
            // admission, the exact failure family the lifecycle port fixed
            if (!graft.operators.IndexFs.exists(indexDir)) throw new NoIndexYet
            spark.read.parquet(graft.operators.IncrementalDedup.readRoot(indexDir))
          } catch {
            case _: NoIndexYet => freshIndex
            case ae: org.apache.spark.sql.AnalysisException
                if ae.getCondition == "PATH_NOT_FOUND" => freshIndex
          }
        // replay guard: drop this batch's own delta (the inferred `batch`
        // partition column exists whenever the index grew via this stream
        // or was compacted into the batch=-1 layout; a batch-built root-file
        // index has no such column and nothing to exclude); then the LIVE
        // view — tombstoned signature ids (takedowns) are gone for
        // streaming admission exactly as for the batch pipeline's
        val index = graft.operators.IncrementalDedup.liveIndex(spark, indexDir,
          (if (raw.columns.contains("batch")) raw.where(col("batch") =!= batchId)
           else raw).select(col("id"), col("sig")), "id")
        val admitted = graft.operators.IncrementalDedup
          .admitNearDup(batch, index, "doc_id", "text")
          .localCheckpoint()
        admitted.drop("id", "sig")
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        admitted.select(col("id"), col("sig"))
          .write.mode("overwrite").parquet(
            s"${graft.operators.IncrementalDedup.readRoot(indexDir)}/batch=$batchId")
        ()
      }
      .start()
}
