package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.ops.Memos
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.ops.Memos.Memo]]'s fill-and-clear rule: one fill per key per
  * clear under concurrency, fills that read other keys, failed fills
  * that cache nothing, and clears that delete the trees fills own.
  * Needs no Spark session. The memos built here name no consumers, so
  * they leave [[graft.ops.Memos.consumerNames]] as the registry has it.
  */
class MemoSpec extends AnyFunSuite {

  test("8 threads get one key: the fill runs exactly once") {
    val memo = new Memos.Memo[String, Int]()
    val fills = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(new Callable[Int] {
          def call(): Int = {
            start.await()
            memo.get("k") { _ => fills.incrementAndGet(); Thread.sleep(200); 42 }
          }
        })
      }
      start.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)) === Seq.fill(8)(42))
      assert(fills.get === 1)
    } finally pool.shutdownNow()
  }

  test("a fill that reads another key of the same memo completes") {
    // "Aa" and "BB" share a String.hashCode, so a memo that filled
    // inside ConcurrentHashMap.computeIfAbsent would hold the one bin
    // lock the inner fill needs ("Recursive update")
    assert("Aa".hashCode === "BB".hashCode)
    val memo = new Memos.Memo[String, Int]()
    val v = memo.get("Aa")(_ => memo.get("BB")(_ => 1) + 1)
    assert(v === 2)
    assert(memo.get("BB")(_ => fail("BB was not cached")) === 1)
    assert(memo.get("Aa")(_ => fail("Aa was not cached")) === 2)
  }

  test("a fill that throws caches nothing and leaves no tree; the next get refills") {
    val memo = new Memos.Memo[String, String]()
    var dir = ""
    val e = intercept[IllegalStateException] {
      memo.get("k") { fill =>
        dir = fill.tempDir("graft_memo_spec_fail_")
        throw new IllegalStateException("fill failed")
      }
    }
    assert(e.getMessage === "fill failed")
    assert(dir.nonEmpty && !new java.io.File(dir).exists())
    val fills = new AtomicInteger()
    assert(memo.get("k") { _ => fills.incrementAndGet(); "ok" } === "ok")
    assert(memo.get("k") { _ => fills.incrementAndGet(); "again" } === "ok")
    assert(fills.get === 1)
  }

  test("Memos.clearAll deletes the trees completed fills own; the next get refills") {
    val memo = new Memos.Memo[Int, String]()
    val fills = new AtomicInteger()
    def fillTree(fill: Memos.Fill): String = {
      fills.incrementAndGet()
      val d = fill.tempDir("graft_memo_spec_")
      java.nio.file.Files.writeString(new java.io.File(d, "part-0").toPath, "x")
      d
    }
    val dirs = Seq(memo.get(1)(fillTree), memo.get(2)(fillTree))
    assert(dirs.forall(d => new java.io.File(d, "part-0").exists()))
    Memos.clearAll()
    assert(dirs.forall(d => !new java.io.File(d).exists()))
    val refilled = memo.get(1)(fillTree)
    assert(fills.get === 3)
    assert(new java.io.File(refilled, "part-0").exists())
    Memos.clearAll()
    assert(!new java.io.File(refilled).exists())
  }

  test("consumerNames lists the 15 memo consumers, one memo per group") {
    SparkEntry.queries // every query module registers its memos on load
    val groups = Seq(
      Seq("q_dedup_groups", "q_canonical_docs", "q_dup_cluster_sizes",
        "q_soft_dedup_sample"),
      Seq("q_pca_project", "q_pca_variance", "q_pca_transform",
        "q_embed_outliers_pca", "q_ann_opq"),
      Seq("q_bpe_merges", "q_bpe_fertility"),
      Seq("q_stream_late", "q_stream_late_audit"),
      Seq("q_stream_pca", "q_stream_outliers_pca"))
    val names = Memos.consumerNames
    assert(names.size === 15)
    assert(names.toSet === groups.flatten.toSet)
    // a memo registers its consumers together, in order
    groups.foreach { g =>
      val at = names.indexOf(g.head)
      assert(names.slice(at, at + g.size) === g)
    }
  }
}
