package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sources for the school pipeline (SURVEY.md §2.1 S1-S4).
  *
  * Reference semantics: `process_csv_and_generate_markdowns` reads a
  * `;`-delimited, BOM-tolerant, all-string CSV
  * (`src/program1_generate_markdowns.py:344-389`); Program 3 reads a
  * 2-column projection (`src/program3_generate_website.py:71-106`); Program 2
  * scans a directory of Markdown docs keyed by filename stem
  * (`src/program2_ai_processor.py:628`, `:542`).
  */
object SchoolCsv {

  /** S1: the full wide table, every column a string. A `_file_order` column
    * captures physical row order at scan time so first-wins dedup (O1) stays
    * deterministic under parallel reads.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("delimiter", ";")
      .option("header", "true")
      .option("inferSchema", "false")
      .option("encoding", "UTF-8")
      .csv(path)
      .withColumn("_file_order", monotonically_increasing_id())

  /** S2: projected read; missing required columns → IllegalArgumentException
    * (the reference raises on absent `usecols`); nulls → "".
    */
  def readProjection(spark: SparkSession, path: String,
      columns: Seq[String] = Seq("SchoolCode", "SchoolName")): DataFrame = {
    val df = read(spark, path)
    val missing = columns.filterNot(df.schema.fieldNames.contains)
    require(missing.isEmpty, s"CSV is missing required columns: ${missing.mkString(", ")}")
    df.select((columns.map(col) :+ col("_file_order")): _*).na.fill("", columns)
  }

  /** S3/S4: the key of a document file — its URI-decoded name without
    * `suffix`. Scans (`input_file_name()` percent-encodes the path) and
    * listings both derive keys here, so `a b.md` is key `a b` either way.
    */
  def documentKey(fileUri: String, suffix: String): String =
    new Path(new java.net.URI(fileUri)).getName.stripSuffix(suffix)

  /** [[documentKey]] of the file each scanned row came from. */
  def documentKeyColumn(suffix: String): Column =
    udf((f: String) => documentKey(f, suffix)).apply(input_file_name())

  private def listFiles(spark: SparkSession, dir: String, suffix: String): Array[FileStatus] = {
    val glob = new Path(s"$dir/*$suffix")
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = try fs.globStatus(glob) catch { case _: java.io.IOException => null }
    if (matches == null) Array.empty else matches
  }

  /** S3/S4 listing: the keys of the files in `dir` ending in `suffix`,
    * sorted, from a driver-side listing (no Spark job). A missing dir lists
    * nothing.
    */
  def listDocuments(spark: SparkSession, dir: String, suffix: String): Seq[String] =
    listFiles(spark, dir, suffix).toSeq
      .map(f => documentKey(f.getPath.toUri.toString, suffix)).filter(_.nonEmpty).sorted

  /** S3/S4: directory of per-key documents → DataFrame[key, content], keyed
    * by [[documentKey]] (e.g. suffix `_ai_description.md` or `.md`). A
    * missing dir or zero matching files yields an empty frame (the reference
    * treats both as "no descriptions"), checked driver-side so the lazy glob
    * can't explode at action time.
    */
  def readDocumentDir(spark: SparkSession, dir: String, suffix: String): DataFrame = {
    import spark.implicits._
    if (listFiles(spark, dir, suffix).isEmpty)
      return Seq.empty[(String, String)].toDF("key", "content")
    spark.read
      .option("wholetext", "true")
      .text(s"$dir/*$suffix")
      .select(documentKeyColumn(suffix).as("key"), col("value").as("content"))
      .filter(col("key") =!= "")
  }
}
