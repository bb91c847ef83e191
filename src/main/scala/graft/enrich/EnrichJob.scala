package graft.enrich

import graft.core.RefConfig
import graft.sinks.KeyedFileSink
import graft.sources.SchoolCsv
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Program 2 equivalent (SURVEY.md §3.2): Markdown dir → LLM → cleaned
  * Markdown + raw/FAILED JSON, with idempotent incremental skip.
  *
  * The skip set, the totals and the `limit` pick come from two driver-side
  * file listings: input keys minus the keys that already have an
  * `_ai_description.md`, like the reference's skip-if-exists check
  * (`_filter_already_processed_files`, `src/program2_ai_processor.py:692-724`).
  * Spark plan: `wholetext scan → filter(picked keys) → EnrichOperator →
  * split ok/fail → keyed-file sinks`.
  */
object EnrichJob {

  /** A2/A3 run stats (`_build_stats_dict`, `src/program2_ai_processor.py:726-760`). */
  final case class Stats(total: Long, skipped: Long, attempted: Long,
      successful: Long, failed: Long)

  private def prettyJson(s: String): String = {
    val m = new ObjectMapper()
    try m.writerWithDefaultPrettyPrinter().writeValueAsString(m.readTree(s))
    catch { case _: Exception => s }
  }

  def run(
      spark: SparkSession,
      inputMarkdownDir: String,
      outputMarkdownDir: String,
      outputJsonDir: String,
      promptTemplatePath: String,
      transportFactory: () => LlmTransport = () => new MockLlmTransport,
      config: EnrichConfig = EnrichConfig(),
      limit: Option[Int] = None,
      sleeper: Long => Unit = Thread.sleep): Stats = {
    import spark.implicits._

    val promptTemplate = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(promptTemplatePath)),
      java.nio.charset.StandardCharsets.UTF_8)
    // fail fast on a malformed template (reference raises at init, `:236-251`)
    PromptTemplate.buildPayload(promptTemplate, "")

    val inputs = SchoolCsv.listDocuments(spark, inputMarkdownDir, ".md")
      .filterNot(_.endsWith("_ai_description"))
    // P9/J2: incremental skip
    val done = SchoolCsv
      .listDocuments(spark, outputMarkdownDir, RefConfig.AiProcessedSuffix).toSet
    val fresh = inputs.filterNot(done) // O3: listings are sorted by key
    val picked = limit.fold(fresh)(fresh.take) // O4

    val successful =
      if (picked.isEmpty) 0L
      else {
        val docs = SchoolCsv.readDocumentDir(spark, inputMarkdownDir, ".md")
          .where(col("key").isin(picked: _*))
          .as[EnrichOperator.Doc]
        EnrichOperator.enrich(docs, transportFactory, promptTemplate, config, sleeper) {
          enriched =>
            val cached = enriched.cache()
            try {
              val okDf = cached.filter(col("ok")).toDF()
              val failDf = cached.filter(!col("ok") && col("raw").isNotNull).toDF()
              val prettify = udf(prettyJson _)
              val written = KeyedFileSink.write(
                okDf, "key", "description", outputMarkdownDir, RefConfig.AiProcessedSuffix)
              KeyedFileSink.write(
                okDf.withColumn("rawPretty", prettify(col("raw"))),
                "key", "rawPretty", outputJsonDir, RefConfig.AiRawResponseSuffix)
              KeyedFileSink.write(
                failDf.withColumn("rawPretty", prettify(col("raw"))),
                "key", "rawPretty", outputJsonDir, RefConfig.AiFailedResponseSuffix)
              written
            } finally cached.unpersist()
        }
      }

    Stats(
      total = inputs.size,
      skipped = inputs.size - picked.size,
      attempted = picked.size,
      successful = successful,
      failed = picked.size - successful)
  }
}
