package graft

import org.apache.spark.GraftTestJobs
import org.scalatest.funsuite.AnyFunSuite

/** Job-count guard for the graph iteratives: building q_pagerank and
  * q_kcore at the test SF takes a bounded number of Spark jobs. Below
  * the gate the rank and peel rounds run on the driver, so the count is
  * the MinHash pair pipeline plus one collect; a regression to one or
  * more jobs per round (10 rank rounds, 4 peel rounds) breaks the
  * bound. Box load cannot move a job count.
  */
class GraphJobsSpec extends AnyFunSuite {
  import TestSpark._

  private val MaxBuildJobs = 25

  for (name <- Seq("q_pagerank", "q_kcore")) {
    test(s"$name builds in <= $MaxBuildJobs jobs") {
      val jobs = GraftTestJobs.count(spark.sparkContext, name) {
        SparkEntry.queries(name)(spark, sf)
      }
      graft.ops.Reuse.releaseAllCaches(spark)
      info(s"$name build jobs: $jobs")
      assert(jobs <= MaxBuildJobs, s"$name build ran $jobs jobs")
    }
  }
}
