package graft

import java.nio.file.Files

import graft.sinks.{KafkaIO, Sinks}
import graft.sources.JsonSources
import graft.streaming.StreamingOps
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the remaining operator-inventory surface: Kafka payload
  * shaping (S11), CSV sink (S8), split JSON sink (S7), session
  * extensions, streaming progress listener (ST8), latest-file selection
  * (W6), SQL surface of the native dot_product expression, and the
  * README headline count against the registry.
  */
class SurfaceSpec extends AnyFunSuite {
  import TestSpark._

  test("kafka payload uses key precedence and serializes whole record") {
    val payload = KafkaIO.toKafkaPayload(
      Tables.events(spark, sf).limit(5)).collect()
    payload.foreach { r =>
      assert(r.getString(0).nonEmpty) // event_id picked as key
      assert(r.getString(1).startsWith("{"))
      assert(r.getString(1).contains("\"event_type\""))
    }
  }

  test("csv sink writes header + all rows") {
    val out = Files.createTempDirectory("csv").toString
    val df = Tables.events(spark, sf).limit(20)
      .select(col("event_id"), col("event_type"), col("value"))
    Sinks.writeCsv(df, s"$out/report")
    val back = spark.read.option("header", "true").csv(s"$out/report")
    assert(back.count() === 20)
    assert(back.columns.toSeq === Seq("event_id", "event_type", "value"))
  }

  test("split json sink puts every row on exactly one side, NULL predicate rejects, reruns overwrite") {
    import spark.implicits._
    val out = Files.createTempDirectory("split").toString
    val (acc, rej) = (s"$out/accept", s"$out/reject")
    def side(dir: String): Seq[Long] =
      spark.read.schema("id BIGINT, v INT").json(dir)
        .collect().map(_.getLong(0)).toSeq.sorted
    // v > 0: true for ids 1-2, false for 3-4, NULL for 5-6
    val df = Seq[(Long, Option[Int])]((1L, Some(5)), (2L, Some(1)),
      (3L, Some(0)), (4L, Some(-2)), (5L, None), (6L, None)).toDF("id", "v")
    Sinks.splitJson(df, col("v") > 0, acc, rej)
    assert(side(acc) === Seq(1L, 2L))
    assert(side(rej) === Seq(3L, 4L, 5L, 6L))
    // a second call replaces both sides instead of appending to them
    val again = Seq[(Long, Option[Int])]((7L, Some(3)), (8L, None)).toDF("id", "v")
    Sinks.splitJson(again, col("v") > 0, acc, rej)
    assert(side(acc) === Seq(7L))
    assert(side(rej) === Seq(8L))
  }

  test("README's oracle-checked headline matches the query registry") {
    val readme = Files.readString(java.nio.file.Paths.get("README.md"))
    val m = """\*\*(\d+) of (\d+) oracle-checked""".r.findFirstMatchIn(readme)
      .getOrElse(fail("README has no '**N of N oracle-checked' headline"))
    val n = SparkEntry.queries.size
    assert((m.group(1).toInt, m.group(2).toInt) === ((n, n)))
    assert(SparkEntry.oracleSql.size === n)
  }

  test("dot_product is callable from SQL after registration") {
    // registered at session build by GraftSession.builder
    val v = spark.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head.getDouble(0)
    assert(v === 11.0)
  }

  test("extensions class injects without error") {
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)
  }

  /** One SQL call per entry of GraftFunctions.table. */
  private val sampleCalls: Map[String, String] = Map(
    "dot_product" -> "dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D))",
    "shingle_hashes" -> "shingle_hashes('abcdef', 5)",
    "shingle_pos_hashes" -> "shingle_pos_hashes('abcabc', 3)",
    "hyperplane_sig" -> "hyperplane_sig(array(1.0D, -1.0D), 8, 2)",
    "hyperplane_sketch" -> "hyperplane_sketch(array(1.0D, -1.0D), 8, 2)",
    "hyperplane_buckets" -> "hyperplane_buckets(array(1.0D, -1.0D), 2, 4, 2)",
    "multiprobe_buckets" -> "multiprobe_buckets(array(1.0D, -1.0D), 2, 4, 2)",
    "multiprobe_buckets_n" -> "multiprobe_buckets_n(array(1.0D, -1.0D), 2, 4, 2, 2, 0)",
    "random_project" -> "random_project(array(1.0D, -1.0D), 3, 2)",
    "hamming_dist" -> "hamming_dist(array(1L, 3L), array(0L, 3L))",
    "byte_stats" -> "byte_stats(cast('ab' as binary))",
    "simhash_fp" -> "simhash_fp('a b', 40)",
    "tokenize_ws" -> "tokenize_ws('A b  C')",
    "hashed_embed" -> "hashed_embed('hello world')",
    "word_hashes" -> "word_hashes('a b')",
    "md5_poly8" -> "md5_poly8('abc')")

  test("a session built with GraftExtensions resolves every native function from SQL") {
    // TestSpark's session comes from GraftSession.builder, which adds
    // GraftExtensions (a cluster deploy sets spark.sql.extensions)
    val table = graft.functions.GraftFunctions.table
    assert(table.size === 16)
    assert(table.map(_.name).toSet === sampleCalls.keySet)
    table.foreach { f =>
      val row = spark.sql(s"SELECT ${sampleCalls(f.name)} AS v").head()
      assert(!row.isNullAt(0), s"${f.name} returned NULL")
    }
    assert(spark.sql("SELECT size(tokenize_ws('A b  C'))").head().getInt(0) === 3)
    assert(spark.sql("SELECT size(shingle_hashes('abcdef', 5))").head().getInt(0) === 2)
    assert(spark.sql("SELECT hamming_dist(array(1L, 3L), array(0L, 3L))")
      .head().getInt(0) === 1)
    assert(spark.sql("SELECT byte_stats(cast('ab' as binary)).n_bytes")
      .head().getInt(0) === 2)
  }

  test("a native function called with the wrong arity fails with the table's message") {
    val err = intercept[Exception](spark.sql("SELECT dot_product(array(1.0D))").collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("dot_product expects 2 argument(s), got 1")),
      s"unexpected error: $msgs")
  }

  test("streaming progress listener observes all input rows") {
    val cap = new StreamingOps.ProgressCapture
    spark.streams.addListener(cap)
    try {
      SparkEntry.queries("q_stream_dedup")(spark, sf).count()
      // listener events are async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (cap.totalRows == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(cap.totalRows >= Tables.documents(spark, sf).count())
    } finally spark.streams.removeListener(cap)
  }

  test("latest-file selection returns the newest file") {
    val d = Files.createTempDirectory("lf")
    Files.writeString(d.resolve("a.json"), "{}")
    Thread.sleep(1100) // fs mtime granularity
    Files.writeString(d.resolve("b.json"), "{}")
    val latest = JsonSources.latestFile(spark, d.toString)
    assert(latest.exists(_.endsWith("b.json")))
  }
}
