package graft.sources

import graft.operators.{Dedup, Hnsw}
import org.scalatest.funsuite.AnyFunSuite

/** The [[ContentStamp.Memo]] contract every driver memo relies on: one
  * entry per key, recomputed exactly when the stamp moves, nothing
  * stored by a failed compute, one compute for concurrent first
  * callers, and one reset that reaches every registered memo. The
  * operator-level uses (d7/v14 sharing `Dedup.clusterMemo`, the sharded
  * drift check's refusal) are pinned in OperatorsSpec and HnswSpec. */
class MemoSpec extends AnyFunSuite {

  private def tinyGraph: Hnsw.Graph =
    new Hnsw.Graph(Array(0L), Array(Array(0f)), Array(Array(Array.empty[Int])), 0, 0, 8, 96)

  test("same stamp hits; a new stamp recomputes and replaces the key's entry") {
    val memo = new ContentStamp.Memo[String, Int]
    var computes = 0
    def look(stamp: String): Int = memo("k", stamp) { computes += 1; computes }
    assert(look("s1") == 1)
    assert(look("s1") == 1, "same-stamp lookup must not recompute")
    assert(computes == 1)
    assert(look("s2") == 2, "a new stamp must recompute")
    assert(memo.size == 1, "the stale entry is replaced, not kept beside")
    assert(memo.get("k", "s1").isEmpty && memo.get("k", "s2").contains(2))
  }

  test("a compute that throws leaves no entry, so it runs again next call") {
    val memo = new ContentStamp.Memo[String, Int]
    memo("k", "old")(1)
    var calls = 0
    def refuse(): Int = memo("k", "new") { calls += 1; sys.error("refused") }
    intercept[RuntimeException](refuse())
    assert(memo.size == 0, "a failed compute drops the key, stale entry included")
    intercept[RuntimeException](refuse())
    assert(calls == 2, "the refusal must run again, not be remembered")
  }

  test("concurrent first callers compute once") {
    val memo = new ContentStamp.Memo[String, Int]
    val computes = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            start.await()
            memo("k", "s") { Thread.sleep(50); computes.incrementAndGet() }
          }
        })
      }
      start.countDown()
      assert(futures.map(_.get()).forall(_ == 1))
      assert(computes.get == 1)
    } finally pool.shutdown()
  }

  test("invalidateAll empties every registered memo and shard residency") {
    val local = new ContentStamp.Memo[String, Int]
    local("k", "s")(1)
    val app = "memo-spec"
    Dedup.clusterMemo.put((app, "d", "ngram", 0.8), "s", Seq(1L -> 1L))
    Hnsw.graphMemo.put((app, "d", 8, 96), "s", tinyGraph)
    Hnsw.servedMemo.put((app, "d", "idx"), "s", tinyGraph)
    Hnsw.shardedDriftChecked.put((app, "d", "idx"), "s", ())
    Hnsw.IdBloom.memo.put((app, "idx"), "s",
      (10L, org.apache.spark.util.sketch.BloomFilter.create(10L)))
    Hnsw.ShardGraphCache.get("memo-spec-idx", 0, "s", () => tinyGraph)
    assert(Hnsw.ShardGraphCache.residentShards("memo-spec-idx") == Set(0))
    ContentStamp.Memo.invalidateAll()
    assert(Seq(local.size, Dedup.clusterMemo.size, Hnsw.graphMemo.size,
      Hnsw.servedMemo.size, Hnsw.shardedDriftChecked.size,
      Hnsw.IdBloom.memo.size).forall(_ == 0))
    assert(Hnsw.ShardGraphCache.residentShards("memo-spec-idx").isEmpty)
  }
}
