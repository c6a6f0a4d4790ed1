package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Per-query job/stage/task census: how many Spark jobs, stages and
  * tasks one `count()` of a query costs — the direct measurement of
  * the sub-1s tail's scheduling floor (ad-hoc, not part of the driver
  * contract). Optionally prints the AQE-final executed plan
  * (`plan` flag) to show post-shuffle coalescing.
  *
  * Usage: runMain graft.tools.ProbeTasks <query...> [sf=DIR] [plan]
  *        [conf=k=v...]
  */
object ProbeTasks {
  def main(args: Array[String]): Unit = {
    val sfDir = args.collectFirst { case s if s.startsWith("sf=") => s.drop(3) }
      .getOrElse("/root/testdata/sf0.1")
    val showPlan = args.contains("plan")
    val names = args.filterNot(s =>
      s.startsWith("sf=") || s == "plan" || s.startsWith("conf=")).toSeq
    val spark = graft.GraftSession.local("32", "ERROR")
    args.filter(_.startsWith("conf=")).foreach { s =>
      val kv = s.drop(5)
      val i = kv.indexOf('=')
      spark.conf.set(kv.take(i), kv.drop(i + 1))
    }
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks.toLong)
        ()
      }
    })
    spark.range(1000000).selectExpr("sum(id)").collect()
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    names.foreach { n => // warm pass: JIT + codegen outside the census
      try graft.SparkEntry.queries(n)(spark, sfDir).count()
      catch { case _: Throwable => () }
      graft.ops.Reuse.releaseAllCaches(spark)
    }
    names.foreach { name =>
      jobs.set(0); stages.set(0); tasks.set(0L)
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      // listener events are async — give the bus a beat before reading
      Thread.sleep(200)
      println(f"$name%-28s ${dt}%6.2f s  jobs=${jobs.get}%3d  " +
        f"stages=${stages.get}%3d  tasks=${tasks.get}%5d")
      if (showPlan)
        println(df.queryExecution.executedPlan.toString.take(4000))
      graft.ops.Reuse.releaseAllCaches(spark)
    }
    spark.stop()
  }
}
