package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Self-tests of the harness's own logic; exits non-zero on a failure.
  * Needs no Spark session.
  */
object SelfTest {

  /** Problems with the memo-group map for workload `w`: the union of
    * its groups restricted to `w` must equal `Memos.consumerNames`
    * restricted to `w`. Every query module registers its memos when
    * the registry loads, so the registry is loaded first.
    */
  def memoGroupsCover(w: Workload): Seq[String] = {
    graft.SparkEntry.queries
    val mapped = Workloads.memoGroupOf(w.queries).keySet
    val registered = graft.ops.Memos.consumerNames.filter(w.queries.contains).toSet
    (if ((mapped -- registered).nonEmpty) Seq(s"${w.name}: memo groups name non-consumers ${(mapped -- registered).toSeq.sorted}") else Nil) ++
      (if ((registered -- mapped).nonEmpty) Seq(s"${w.name}: consumers missing from memo groups ${(registered -- mapped).toSeq.sorted}") else Nil)
  }

  private var failures = 0
  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  $name threw $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }
  def main(args: Array[String]): Unit = {
    check("percentile refuses p90 with fewer than 10 samples beyond it") {
      Stats.percentile((1 to 99).map(_.toDouble), 90).isEmpty
    }
    check("percentile gives p90 with exactly 10 samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.percentile(xs, 90).contains(90.0) && xs.count(_ > 90.0) == 10
    }
    check("median of even and odd sample counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }

    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType),
      StructField("tags", ArrayType(StringType))))
    val rows = Array(Row(1L, 0.5, Seq("a", "b")), Row(2L, 1.0 / 3, Seq("c")), Row(3L, null, Seq()))
    check("digest ignores row order") {
      Digest.of(schema, rows) == Digest.of(schema, rows.reverse) &&
        Digest.of(schema, rows) == Digest.of(schema, Array(rows(1), rows(2), rows(0)))
    }
    check("digest sees row content, multiplicity and every column") {
      val d = Digest.of(schema, rows)
      d != Digest.of(schema, rows.updated(0, Row(1L, 0.25, Seq("a", "b")))) &&
        d != Digest.of(schema, rows.updated(0, Row(1L, 0.5, Seq("b", "a")))) &&
        d != Digest.of(schema, rows :+ rows(0)) &&
        d != Digest.of(schema, rows.take(2)) &&
        d != Digest.of(schema, Array(Row(1L, 1.0 / 3, Seq("a", "b")), Row(2L, 0.5, Seq("c")), rows(2)))
    }
    check("digest tolerates float noise below 10 significant digits") {
      Digest.of(schema, rows) == Digest.of(schema, rows.updated(1, Row(2L, 1.0 / 3 + 1e-17, Seq("c"))))
    }

    check("one seed gives one call order, another seed a different one") {
      val qs = Workloads.dashboard.queries
      Workloads.order(qs, 7, 0) == Workloads.order(qs.reverse, 7, 0) &&
        Workloads.order(qs, 7, 3) == Workloads.order(qs, 7, 3) &&
        Workloads.order(qs, 7, 0) != Workloads.order(qs, 8, 0) &&
        Workloads.order(qs, 7, 0).sorted == qs.sorted
    }
    check("a memo group's filler comes first in every order") {
      val qs = Workloads.curation.queries
      (0 until 20).forall { seed =>
        val o = Workloads.order(qs, seed, 0)
        Workloads.memoGroups.values.forall { g =>
          val here = g.filter(qs.contains)
          here.isEmpty || o.filter(here.contains) == here
        }
      }
    }

    check("self times split the parent's duration exactly") {
      // call [0,100): build [0,30) with job [5,25) (stage [10,20)),
      // exec [30,100) with overlapping jobs [40,70) and [60,90)
      val spans = Seq(
        Span(0, -1, "call", "q", 0, 100), Span(1, 0, "build", "q", 0, 30),
        Span(2, 0, "exec", "q", 30, 100), Span(3, 1, "job", "j0", 5, 25),
        Span(4, 3, "stage", "s0", 10, 20), Span(5, 2, "job", "j1", 40, 70),
        Span(6, 2, "job", "j2", 60, 90), Span(7, 6, "stage", "s2", 85, 120))
      val self = SelfTime.of(spans.head, spans.groupBy(_.parent))
      self.values.sum == 100 &&
        self == Map(0L -> 0L, 1L -> 10L, 2L -> 20L, 3L -> 10L, 4L -> 10L, 5L -> 30L, 6L -> 15L, 7L -> 5L)
    }

    check("memo groups match Memos.register consumers on every workload") {
      val problems = Workloads.names.map(Workloads.byName).flatMap(memoGroupsCover)
      problems.foreach(p => println(s"  $p"))
      problems.isEmpty
    }

    check("pins.json pins exactly the pinned queries") {
      Main.loadPins("perfbench/pins.json").keySet == Workloads.pinned.toSet
    }

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
