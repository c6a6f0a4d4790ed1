package graft.tools

import org.apache.spark.sql.SparkSession

/** Repeat-bench of the streaming query family under Bench-identical
  * conditions (local[32], shuffle=32 outside the queries' own scoped
  * override, cache release between queries, same warm-up), printing
  * per-rep seconds plus median/min/max — the measured noise band of
  * the stateful family (PERF.md, stateful-query noise band).
  *
  * Usage: runMain graft.tools.ProbeStream [sfDir] [reps]
  */
object ProbeStream {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = graft.GraftSession.local("32", "ERROR")
    // Bench's warm-up shapes
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    val family = graft.queries.StreamQueries.all.map(_.name)
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    for (rep <- 1 to reps; name <- family) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.ops.Reuse.releaseAllCaches(spark)
      times(name) = times(name) :+ dt
      println(f"[rep $rep] $name%-24s $dt%6.2f s")
    }
    println(f"${"query"}%-24s ${"median"}%7s ${"min"}%7s ${"max"}%7s  spread")
    family.foreach { name =>
      val v = times(name).sorted
      val med = v(v.length / 2)
      val lo = v.head
      val hi = v.last
      val spread = (hi - lo) / med * 100
      println(f"$name%-24s $med%7.2f $lo%7.2f $hi%7.2f  $spread%5.1f%%")
    }
    spark.stop()
  }
}
