package graft

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The no-leak contract: operator-internal persists (shingle/banded/LSH
  * indexes, tf counts, the d7 pair graph) must auto-unpersist once the
  * caller has materialized the operator's result — a long-lived session
  * running many queries without `clearCache()` must not accumulate
  * cached scratch relations. */
class ScratchCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def cachedRdds: Int = spark.sparkContext.getRDDStorageInfo.length

  test("operator scratch auto-unpersists after the caller's action — no clearCache needed") {
    // isolate from other suites on the shared context: drop cached data
    // AND any armed-but-never-swept entries a plan-only suite left
    ScratchCache.drain()
    spark.catalog.clearCache()
    // memo-cold so nearDupClusters builds (and arms) the real pair graph
    operators.Dedup.clusterMemo.clear()
    // one persisting operator per family, materialized the way a caller would
    operators.Dedup.ngramJaccard(spark, sf).count()          // docs + prefix index
    operators.Dedup.minhashLsh(spark, sf).count()            // docs + banded index
    operators.Dedup.nearDupClusters(spark, sf).count()       // pair graph (fast path)
    operators.Similarity.nearDupLsh(spark, sf).count()       // signature index
    operators.TextOps.tfidf(spark, sf).count()               // tf relation
    // the sweep rides the async listener bus — poll up to 15 s
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline &&
      (cachedRdds > 0 || ScratchCache.pending > 0)) Thread.sleep(200)
    assert(cachedRdds === 0,
      s"cached RDDs left after materialization: ${spark.sparkContext.getRDDStorageInfo.map(_.name).mkString(", ")}")
    assert(ScratchCache.pending === 0, "armed scratch entries not swept")
  }

  test("distributed label-propagation path sweeps its per-round and final frames") {
    ScratchCache.drain()
    spark.catalog.clearCache()
    operators.Dedup.nearDupClusters(spark, sf, driverMaxEdges = 0).count()
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline &&
      (cachedRdds > 0 || ScratchCache.pending > 0)) Thread.sleep(200)
    assert(cachedRdds === 0,
      s"cached RDDs left: ${spark.sparkContext.getRDDStorageInfo.map(_.name).mkString(", ")}")
    assert(ScratchCache.pending === 0)
  }

  test("byte budget: arming past maxArmedBytes evicts the oldest, keeps the newest") {
    import org.apache.spark.storage.StorageLevel
    // range stats are exact (8 bytes/row): each frame's ESTIMATE alone
    // exceeds the 8 GiB default budget; nothing is ever materialized,
    // so the test costs no actual memory
    val big1 = spark.range(2000000000L).toDF("v")
    val big2 = spark.range(2000000001L).toDF("v")
    ScratchCache.arm(big1)
    // a single over-budget entry is kept — the caller is about to read it
    assert(big1.storageLevel != StorageLevel.NONE)
    ScratchCache.arm(big2)
    assert(big1.storageLevel == StorageLevel.NONE,
      "oldest over-budget scratch not evicted")
    assert(big2.storageLevel != StorageLevel.NONE,
      "newest armed scratch must survive eviction")
    big2.unpersist(blocking = false) // don't leak into later suites
  }
}
