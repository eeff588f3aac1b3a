package graft.operators

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** IVF-SQ8 (Similarity.annIvfSq8) — the int8 middle point of the
  * three encode families. The claims pinned here: (a) the gate dial
  * equals the exact sweep; (b) int8 ranking is NEARLY exact — recall
  * stays high even with zero rerank slack (rerank = k), the property
  * that makes SQ8's recall-complete rerank 8 where raw PQ needs 272;
  * (c) the un-stored per-vector scale is sound — cosine is invariant
  * under positive per-vector scaling, so quantized vectors carry the
  * angle without it. */
class Sq8AnnSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  override def afterAll(): Unit = {
    graft.ScratchCache.drain()
    spark.stop()
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("gate dial equals the exact sweep; output deterministic with k rows per query") {
    val exact = Similarity.annBruteForce(spark, sf).collect().map(_.mkString("|")).toSet
    val sq8 = Similarity.annIvfSq8(spark, sf, nprobe = 14, rerank = 8)
      .collect().map(_.mkString("|")).toSet
    assert(sq8 === exact)
    val counts = Similarity.annIvfSq8(spark, sf)
      .groupBy("query_id").count().collect().map(_.getLong(1)).toSet
    assert(counts === Set(5L))
  }

  test("int8 ranking is nearly exact: high recall with ZERO rerank slack") {
    // rerank = k means the ADC ordering IS the answer ordering (the
    // exact rescore can only reorder within the k it is given) — raw
    // PQ at rerank=k recalls far less on this corpus (its complete
    // rerank is 272)
    val exact = pairs(Similarity.annBruteForce(spark, sf))
    val tight = pairs(Similarity.annIvfSq8(spark, sf, nprobe = 14, rerank = 5))
    val recall = (exact -- (exact -- tight)).size.toDouble / exact.size
    info(f"recall@5 with rerank=k: $recall%.3f")
    assert(recall >= 0.95, f"int8 ranking degraded: recall $recall%.3f at zero slack")
  }

  test("scale invariance: positively scaled vectors produce the identical graph") {
    import spark.implicits._
    // corpus clone with every vector scaled by a positive per-vector
    // factor — cosine (and therefore the whole answer) must not move
    val dir = java.nio.file.Files.createTempDirectory("graft-sq8-scaled").toString
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") * (pmod(col("vec_id"), lit(7)) + 1)).cast("float"))
          .as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    graft.sources.ContentStamp.Memo.invalidateAll()
    try {
      val scaled = pairs(Similarity.annIvfSq8(spark, dir, nprobe = 16, rerank = 64))
      graft.sources.ContentStamp.Memo.invalidateAll()
      val base = pairs(Similarity.annIvfSq8(spark, sf, nprobe = 16, rerank = 64))
      assert(scaled === base)
    } finally graft.sources.ContentStamp.Memo.invalidateAll()
  }
}
