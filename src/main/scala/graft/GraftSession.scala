package graft

import org.apache.spark.sql.SparkSession

/** The engine's session contract: every entry point (Verify, Bench,
  * the `graft.tools` mains, the test suite, and a production deploy) pins
  * these confs AT SESSION BUILD. Table readers are pure — they
  * validate the contract and fail fast with guidance, but never
  * mutate session state (a library whose reads flip session confs
  * breaks any co-tenant of the session and makes read order
  * semantically significant).
  *
  *  - `spark.sql.session.timeZone=UTC`: the testdata's TIMESTAMP_NTZ
  *    and ISO-string event-time encodings are wall-clock; casting them
  *    to TIMESTAMP is exact only under a UTC session zone (and the
  *    DuckDB oracle compares in UTC).
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: INT64
  *    TIMESTAMP(NANOS) parquet (one historical testdata generation)
  *    is unreadable by the vectorized reader; with this conf it
  *    surfaces as `long` and [[Tables.normalizeTs]] rescales exactly.
  */
object GraftSession {

  /** Confs that must be pinned before the first table read. */
  val pinned: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** A builder with the engine contract plus the local-mode defaults
    * shared by every main in this repo (shuffle parallelism = cores,
    * no UI server). Cluster deploys apply [[pinned]] to their own
    * builder (or spark-defaults.conf) instead.
    */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    pinned.foldLeft(
      SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.ui.enabled", "false")) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** `local[cpus]` session under the engine contract. */
  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Reader-side validation: fail fast (never fix up) when a session
    * misses the contract — called by [[Tables]] before interpreting
    * wall-clock encodings. `getOrCreate` reuses an existing session
    * and silently IGNORES builder confs, so this catches the classic
    * trap of a pre-existing non-UTC session absorbing a graft build.
    */
  def requireContract(spark: SparkSession): Unit = {
    pinned.foreach { case (key, want) =>
      val got = spark.conf.getOption(key).getOrElse("<unset>")
      require(got == want,
        s"graft session contract: $key must be $want (got `$got`) — pin it " +
          "at session build (GraftSession.builder or spark-defaults.conf); " +
          "readers no longer mutate session state")
    }
  }
}
