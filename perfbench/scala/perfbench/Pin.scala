package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.ops.{Memos, Reuse}

/** Pins the expected result of every [[Workloads.pinned]] query: one serial run
  * (`local[1]`, one shuffle partition, memos cleared before each query)
  * at the given data directory. Writes `pins.json` with each query's
  * row count and [[Digest]], and each result as parquet plus
  * `oracle_sql.json` in the layout `tools/selfcheck.py` reads, so the
  * pinned results of oracle-backed queries can be compared with DuckDB.
  *
  * {{{ Pin DATA_DIR OUT_DIR PINS_FILE }}}
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, pinsFile) = args
    val spark = Main.session("local[1]", 1, s"$outDir/local", s"$outDir/warehouse")
    val names = Workloads.pinned
    val oracles = SparkEntry.oracleSql
    val entries = names.map { q =>
      Memos.clearAll()
      val df = SparkEntry.queries(q)(spark, dataDir)
      val rows = df.collect()
      val digest = Digest.of(df.schema, rows)
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/results/$q")
      Reuse.releaseAllCaches(spark)
      println(s"pinned $q: ${rows.length} rows, digest $digest")
      q -> Out.obj(Seq("rows" -> rows.length.toLong, "digest" -> digest,
        "oracle" -> oracles.contains(q)))
    }
    Files.writeString(Paths.get(s"$outDir/results/oracle_sql.json"),
      Out.write(Out.obj(names.filter(oracles.contains).map(q => q -> oracles(q)))))
    Files.writeString(Paths.get(pinsFile), Out.writePretty(Out.obj(Seq(
      "data" -> "sf0.1", "master" -> "local[1]", "queries" -> Out.obj(entries)))) + "\n")
    spark.stop()
  }
}
