package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-on-read JSON ingestion (SURVEY.md §1.2, §2.1 S2).
  *
  * The reference's five copies of the directory reader accept both
  * array-JSON files and line-JSONL (`deduplication_consumer.py:
  * 362-408` et al.) and then duck-type fields by precedence lists.
  * Here: one reader handling both shapes via `multiLine` + JSONL
  * passes merged with `unionByName(allowMissingColumns)`, and the
  * precedence lists become `coalesce` projections — pure Catalyst,
  * fully prunable.
  */
object JsonSources {

  /** Text-field lists. Two subtleties preserved from the reference
    * (SURVEY.md §7.4 #4): the text is the SPACE-CONCATENATION of every
    * present non-empty field in list order — not first-present
    * (`deduplication_consumer.py:123-136` builds text_parts and joins
    * with ' '; same pattern at `location_consumer.py:124-131`) — and
    * the lists DIFFER per stage (the dedup list lacks
    * summary/subreddit; order of body/content flips), which changes
    * which records dedup/geolocate.
    */
  val DedupTextFields: Seq[String] = Seq("text", "description", "title", "content", "body")
  val LocationTextFields: Seq[String] =
    Seq("text", "description", "title", "summary", "body", "content", "subreddit")
  val IdPrecedence: Seq[String] = Seq("post_id", "id", "unique_key", "complaint_number")
  val TsPrecedence: Seq[String] =
    Seq("created_at", "created_utc", "timestamp", "scraped_at", "processed_at")

  /** Read a directory containing array-JSON and/or JSONL files into one
    * DataFrame (schemas merged by name).
    */
  def readJsonDir(spark: SparkSession, arrayGlob: String, jsonlGlob: String): DataFrame = {
    // "and/or": either glob may match nothing — spark.read.json throws
    // on an empty glob expansion, so probe each side first
    def matches(glob: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(glob)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.globStatus(p)
      st != null && st.nonEmpty
    }
    val parts = Seq(
      Option.when(matches(arrayGlob))(
        spark.read.option("multiLine", "true").json(arrayGlob)),
      Option.when(matches(jsonlGlob))(spark.read.json(jsonlGlob))).flatten
    require(parts.nonEmpty,
      s"readJsonDir: neither glob matched any file ($arrayGlob, $jsonlGlob)")
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Coalesce the first present column of `names` (missing columns are
    * treated as absent, not errors).
    */
  private def firstPresent(df: DataFrame, names: Seq[String]) = {
    val present = names.filter(df.columns.contains)
    if (present.isEmpty) lit(null).cast("string")
    else coalesce(present.map(c => col(c).cast("string")): _*)
  }

  /** Latest-file selection (W6, `app_upgraded.py:221-226`): newest
    * matching file by modification time.
    */
  def latestFile(spark: SparkSession, dir: String): Option[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else fs.listStatus(path).filter(_.isFile)
      .sortBy(s => (-s.getModificationTime, s.getPath.toString))
      .headOption.map(_.getPath.toString)
  }

  /** Normalize a raw source frame into the canonical record shape:
    * (record_id, text, event_ts, zip, lat, lon, raw) — raw keeps the
    * whole record as JSON (`raw_data` parity, `psql_db_client.py:146`);
    * nested `location{zip,lat,lon}` structs (`scraper_311.py:60-64`)
    * are flattened when present.
    */
  /** Space-concatenation of every present, non-empty text field in
    * list order (reference text-assembly semantics; empty strings are
    * skipped like the reference's truthiness check).
    */
  private def assembledText(df: DataFrame, fields: Seq[String]) = {
    val present = fields.filter(df.columns.contains)
    if (present.isEmpty) lit("")
    else {
      val parts = present.map { c =>
        val s = col(c).cast("string")
        when(s.isNotNull && length(s) > 0, s)
      }
      trim(concat_ws(" ", parts: _*))
    }
  }

  def normalize(
      df: DataFrame,
      textFields: Seq[String] = DedupTextFields): DataFrame = {
    def loc(field: String) =
      if (df.columns.contains("location")) col(s"location.$field").cast("string")
      else lit(null).cast("string")
    // fallbacks mirror the reference loader (`psql_db_client.py:285-306`):
    // id -> md5 of a content prefix (deterministic), ts -> load time
    df.select(
      coalesce(firstPresent(df, IdPrecedence),
        md5(substring(assembledText(df, textFields), 1, 100))).as("record_id"),
      assembledText(df, textFields).as("text"),
      coalesce(to_timestamp(firstPresent(df, TsPrecedence)), current_timestamp())
        .as("event_ts"),
      loc("zip").as("zip"),
      loc("lat").cast("double").as("lat"),
      loc("lon").cast("double").as("lon"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("raw"))
  }
}
