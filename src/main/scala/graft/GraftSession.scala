package graft

import org.apache.spark.sql.SparkSession

/** The engine's session contract: every entry point (Verify, Bench,
  * the `graft.tools` mains, the test suite, and a production deploy)
  * pins these confs and installs graft's SQL surface
  * ([[GraftExtensions]]: the native functions, the as-of join strategy
  * and the optimizer rules) AT SESSION BUILD. Library code is pure —
  * it validates the contract and fails fast with guidance, but never
  * mutates session state (a library whose reads flip session confs or
  * append planner rules breaks any co-tenant of the session and makes
  * call order semantically significant).
  *
  *  - `spark.sql.session.timeZone=UTC`: the testdata's TIMESTAMP_NTZ
  *    and ISO-string event-time encodings are wall-clock; casting them
  *    to TIMESTAMP is exact only under a UTC session zone (and the
  *    DuckDB oracle compares in UTC).
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: INT64
  *    TIMESTAMP(NANOS) parquet (one historical testdata generation)
  *    is unreadable by the vectorized reader; with this conf it
  *    surfaces as `long` and [[Tables.normalizeTs]] rescales exactly.
  *
  * A cluster deploy sets `spark.sql.extensions=graft.GraftExtensions`
  * plus [[pinned]] in its own builder or spark-defaults.conf.
  */
object GraftSession {

  /** Confs that must be pinned before the first table read. */
  val pinned: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** A builder with the engine contract plus the local-mode defaults
    * shared by every main in this repo (shuffle parallelism = cores,
    * no UI server, the RocksDB streaming state store). A caller's later
    * `.config` of any key wins.
    */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    pinned.foldLeft(
      SparkSession.builder()
        .master(master)
        .withExtensions(new GraftExtensions)
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.sql.streaming.stateStore.providerClass",
          graft.streaming.StreamingOps.RocksDbProvider)
        .config("spark.ui.enabled", "false")) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** `local[cpus]` session under the engine contract. */
  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Library-side validation: fail fast (never fix up) when a session
    * misses the contract — called by [[Tables]] before interpreting
    * wall-clock encodings and by the native as-of join before planning
    * its node. `getOrCreate` reuses an existing session and silently
    * IGNORES builder confs and extensions, so this catches the classic
    * trap of a pre-existing session absorbing a graft build.
    */
  def requireContract(spark: SparkSession): Unit = {
    pinned.foreach { case (key, want) =>
      val got = spark.conf.getOption(key).getOrElse("<unset>")
      require(got == want,
        s"graft session contract: $key must be $want (got `$got`) — pin it " +
          "at session build (GraftSession.builder or spark-defaults.conf); " +
          "readers no longer mutate session state")
    }
    require(spark.sessionState.planner.strategies.contains(plans.AsofJoinStrategy),
      "graft session contract: graft's SQL surface is not installed — build " +
        "the session with GraftSession.builder, or set " +
        "spark.sql.extensions=graft.GraftExtensions at session build")
  }
}
