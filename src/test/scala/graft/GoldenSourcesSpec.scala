package graft

import java.nio.file.{Files, Path}

import graft.sources.JsonSources
import org.scalatest.funsuite.AnyFunSuite

/** Golden-shape ingestion tests: synthetic fixtures replicating the six
  * reference source shapes (field names and nesting from the
  * reference's data directory — bluesky JSONL, reddit posts/comments
  * array-JSON, rss array-JSON, nyc_311 with nested location struct,
  * press releases), run through the reader + both precedence
  * normalizations (SURVEY.md §1.2, §5 golden-file strategy).
  */
class GoldenSourcesSpec extends AnyFunSuite {
  import TestSpark._

  private def fixtures(): Path = {
    val d = Files.createTempDirectory("golden")
    Files.writeString(d.resolve("bluesky.jsonl"),
      """{"platform":"bluesky","post_id":"at://did:plc:x/3m6","author":"u1","text":"measles exposure reported in clinic","created_at":"2025-11-24T00:19:44.397Z","scraped_at":"2025-11-24T03:49:37.237938","reply_count":0}
        |{"platform":"bluesky","post_id":"at://did:plc:y/3m7","author":"u2","text":"flu season hitting hard this week","created_at":"2025-11-24T01:00:00.000Z","scraped_at":"2025-11-24T03:49:37.237938","reply_count":2}""".stripMargin)
    Files.writeString(d.resolve("reddit_posts.json"),
      """[{"post_id":"1pa1g36","subreddit":"nyc","title":"Stomach bug going around?",
        |  "author":"u3","created_utc":"2025-11-29T17:17:18","score":324,"num_comments":14,
        |  "text":"Half my office is out with norovirus"},
        | {"post_id":"1pa1g37","subreddit":"AskNYC","title":"Urgent care recs",
        |  "author":"u4","created_utc":"2025-11-30T10:00:00","score":5,"num_comments":2,
        |  "text":""}]""".stripMargin)
    Files.writeString(d.resolve("reddit_comments.json"),
      """[{"comment_id":"ns7123i","post_id":"1pdqqoc","author":"u5",
        |  "created_utc":"2025-12-03T23:40:21","score":4,
        |  "text":"The clinic on 3rd ave does walk-ins"}]""".stripMargin)
    Files.writeString(d.resolve("rss.json"),
      """[{"source":"NY Post","title":"Health officials warn of RSV rise",
        |  "link":"https://example.invalid/a","published":"Wed, 03 Dec 2025 15:30:03 -0500",
        |  "summary":"Cases of RSV are climbing across the five boroughs."}]""".stripMargin)
    Files.writeString(d.resolve("nyc_311.json"),
      """[{"source":"NYC_311","id":"67031207","timestamp":"2025-12-03T00:44:32.000",
        |  "type":"Rodent","description":"Condition Attracting Rodents",
        |  "location":{"zip":"10469","lat":"40.879271","lon":"-73.846223"}}]""".stripMargin)
    Files.writeString(d.resolve("press.json"),
      """[{"id":"pr-2025-101","title":"Health Department Announces Flu Clinics",
        |  "content":"The Department will open weekend flu vaccination clinics.",
        |  "timestamp":"2025-12-01T09:00:00"}]""".stripMargin)
    d
  }

  test("all six source shapes read and normalize") {
    val d = fixtures()
    val raw = JsonSources.readJsonDir(
      spark, s"$d/{reddit_posts,reddit_comments,rss,nyc_311,press}.json",
      s"$d/bluesky.jsonl")
    assert(raw.count() === 8)

    val norm = JsonSources.normalize(raw).collect()
      .map(r => r.getString(0) -> r).toMap

    // id precedence: post_id over id; plain id where no post_id
    assert(norm.contains("at://did:plc:x/3m6"))
    assert(norm.contains("1pa1g36"))
    assert(norm.contains("67031207"))
    assert(norm.contains("pr-2025-101"))

    // dedup-stage text = space-concat of present fields in list order
    assert(norm("1pa1g36").getString(1) ===
      "Half my office is out with norovirus Stomach bug going around?")
    assert(norm("67031207").getString(1) === "Condition Attracting Rodents")
    // press: title then content, concatenated in list order
    assert(norm("pr-2025-101").getString(1) ===
      "Health Department Announces Flu Clinics The Department will open weekend flu vaccination clinics.")
    // rss dedup list has no summary: title only
    val rssRow = norm.values.find(r => Option(r.getString(1)).exists(_.contains("RSV"))).get
    assert(rssRow.getString(1) === "Health officials warn of RSV rise")

    // location/embedding list appends summary (and subreddit) too
    val wide = JsonSources.normalize(raw, JsonSources.LocationTextFields)
      .collect().map(r => Option(r.getString(1)).getOrElse("")).toSet
    assert(wide.contains(
      "Health officials warn of RSV rise Cases of RSV are climbing across the five boroughs."))
    assert(wide.contains(
      "Half my office is out with norovirus Stomach bug going around? nyc"))

    // nested 311 location flattened
    val r311 = norm("67031207")
    assert(r311.getString(3) === "10469")
    assert(math.abs(r311.getDouble(4) - 40.879271) < 1e-6)

    // timestamps parsed for every record
    norm.values.foreach(r => assert(!r.isNullAt(2), s"ts null for $r"))

    // raw JSON round-trip retains source fields
    assert(norm("1pa1g36").getString(6).contains("\"subreddit\":\"nyc\""))
  }

  test("empty text fields are skipped in assembly, not concatenated") {
    val d = fixtures()
    val raw = JsonSources.readJsonDir(
      spark, s"$d/reddit_posts.json", s"$d/bluesky.jsonl")
    val norm = JsonSources.normalize(raw).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // post 1pa1g37 has text:"" -> only the title contributes, no
    // leading space
    assert(norm("1pa1g37") === "Urgent care recs")
  }

  test("normalizeTs handles all four physical timestamp encodings") {
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val d = Files.createTempDirectory("tsenc")
    // Two instants with sub-second precision, as epoch micros.
    val micros = Seq(1764288000123456L, 1764374400987654L)

    // (a) INT64 nanos: TIMESTAMP(NANOS) parquet surfaces as `long`
    // under nanosAsLong — a raw long column exercises the same branch.
    spark.createDataFrame(
      spark.sparkContext.parallelize(micros.map(m =>
        org.apache.spark.sql.Row(m * 1000L))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.LongType))))
      .write.parquet(s"$d/nanos.parquet")
    // (b) TIMESTAMP_NTZ (INT64 micros, isAdjustedToUTC=0)
    spark.range(2).select(
      element_at(typedLit(micros), (col("id") + 1).cast("int")).as("us"))
      .select(timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.parquet(s"$d/ntz.parquet")
    // (c) ISO-8601 strings (the reference's wire encoding)
    spark.range(2).select(
      element_at(typedLit(micros), (col("id") + 1).cast("int")).as("us"))
      .select(date_format(timestamp_micros(col("us")),
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("ts"))
      .write.parquet(s"$d/str.parquet")
    // (d) native TIMESTAMP
    spark.range(2).select(
      element_at(typedLit(micros), (col("id") + 1).cast("int")).as("us"))
      .select(timestamp_micros(col("us")).as("ts"))
      .write.parquet(s"$d/native.parquet")

    for (enc <- Seq("nanos", "ntz", "str", "native")) {
      val raw = spark.read.parquet(s"$d/$enc.parquet")
      val norm = Tables.normalizeTs(spark, raw)
      assert(norm.schema("ts").dataType.typeName === "timestamp", s"enc=$enc")
      val got = norm.select(unix_micros(col("ts"))).collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(got === micros, s"enc=$enc")
    }

    // unknown encodings fail loudly (named column, named type), not at
    // some downstream unix_micros analysis error
    val bad = spark.range(2).select(col("id").cast("double").as("ts"))
    val err = intercept[IllegalArgumentException](
      Tables.normalizeTs(spark, bad))
    assert(err.getMessage.contains("ts") && err.getMessage.contains("double"))
  }

  test("table readers are pure: no session-conf mutation, non-UTC fails fast") {
    // the session contract (UTC zone, nanosAsLong) is pinned at BUILD
    // time by GraftSession; a reader that flips session confs breaks
    // session co-tenants and makes read order semantically significant
    val before = spark.conf.getAll
    Tables.events(spark, TestSpark.sf).count()
    graft.streaming.StreamingOps.eventsStream(spark, TestSpark.sf).schema
    assert(spark.conf.getAll === before,
      "a table read mutated session configuration")
    // a session missing the contract is rejected loudly instead of
    // silently fixed up (the old behavior) or silently misread
    val rogue = spark.newSession()
    rogue.conf.set("spark.sql.session.timeZone", "America/New_York")
    val err = intercept[IllegalArgumentException] {
      Tables.events(rogue, TestSpark.sf)
    }
    assert(err.getMessage.contains("timeZone"))
    // BOTH halves of the contract fail fast with guidance: a session
    // missing nanosAsLong would otherwise die later in the vectorized
    // reader with a raw parquet error on nanos-era files
    val rogue2 = spark.newSession()
    rogue2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val err2 = intercept[IllegalArgumentException] {
      Tables.events(rogue2, TestSpark.sf)
    }
    assert(err2.getMessage.contains("nanosAsLong"))
    // and the probe itself didn't touch the main session
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("the native as-of join refuses a session built without GraftSession.builder") {
    // a sibling session over the same context that never got graft's
    // extensions: the join checks the session and mutates nothing
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val bare = org.apache.spark.sql.SparkSession.builder().master("local[2]").getOrCreate()
    try {
      import bare.implicits._
      val left = Seq((1L, 10L, "p")).toDF("k", "ts", "pid")
      val right = Seq((1L, 5L, "r")).toDF("k", "rts", "rid")
      val err = intercept[IllegalArgumentException] {
        graft.ops.JoinOps.asofJoinNative(left, right, "k", "ts", "rts", Seq("rid"))
      }
      assert(err.getMessage.contains("GraftSession.builder") &&
        err.getMessage.contains("spark.sql.extensions=graft.GraftExtensions"),
        err.getMessage)
      assert(bare.experimental.extraStrategies.isEmpty &&
        bare.experimental.extraOptimizations.isEmpty)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("CSV source: corrupt rows audited in PERMISSIVE, dropped in DROPMALFORMED") {
    // ingestion-robustness contract: a malformed feed never kills the
    // job — PERMISSIVE quarantines bad rows into _corrupt_record for
    // the audit sink, DROPMALFORMED yields the clean subset
    val d = Files.createTempDirectory("graft_csv")
    Files.writeString(d.resolve("feed.csv"),
      """id,amount,label
        |1,10.5,ok
        |2,not_a_number,bad-amount
        |3,7.25,ok
        |garbage line without commas-at-all? no: has,none
        |5,1.0,ok
        |""".stripMargin)
    val schema = "id LONG, amount DOUBLE, label STRING, _corrupt_record STRING"
    val permissive = spark.read
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema).csv(d.toString).cache()
    assert(permissive.count() === 5)
    assert(permissive.filter(org.apache.spark.sql.functions.col("_corrupt_record").isNotNull).count() === 2)
    // NOTE select ALL columns: CSV column pruning only parses queried
    // columns, so a bare count() would never see the malformed cells
    val dropped = spark.read
      .option("header", "true").option("mode", "DROPMALFORMED")
      .schema("id LONG, amount DOUBLE, label STRING").csv(d.toString)
      .select("id", "amount", "label").collect()
    assert(dropped.length === 3)
    assert(dropped.map(_.getLong(0)).sum === 9L)
    permissive.unpersist()
  }

  test("binaryFile source ingests raw image files into the multimodal pipeline") {
    // the missing front door of the multimodal story: image FILES on
    // disk (not parquet blobs) → binary column + path/length metadata,
    // straight into the same decode path q_image_decode certifies
    val d = Files.createTempDirectory("graft_bin")
    for (i <- 0 until 4) {
      val img = new java.awt.image.BufferedImage(
        8 + i, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xFF0000)
      Files.write(d.resolve(f"img_$i%02d.png"),
        graft.ops.ImageCodec.encode(img, "png"))
    }
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(d.toString)
    assert(files.count() === 4)
    assert(files.columns.toSet ===
      Set("path", "modificationTime", "length", "content"))
    val dims = files.select("path", "content").collect()
      .flatMap(r => graft.ops.ImageCodec.decode(r.getAs[Array[Byte]](1))
        .map(dec => (r.getString(0).split('/').last, dec.width, dec.height)))
      .sortBy(_._1)
    assert(dims.length === 4)
    assert(dims.map(_._2).toSeq === Seq(8, 9, 10, 11))
    assert(dims.forall(_._3 == 5))
  }
}
