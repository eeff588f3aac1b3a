package graft.operators

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Residual PQ (Similarity.annIvfPqResidual) — the FAISS-IVFPQ default
  * encoding, where codes quantize r = x − centroid(cell) instead of x.
  * The claim that justifies it: on corpora WITH cluster structure the
  * residuals have smaller variance than the raw vectors, so the same
  * code budget ranks candidates better — a recall-complete rerank is
  * smaller. Asserted here on a synthetic clustered corpus, against
  * raw-PQ at identical dials, with the exact brute-force sweep as
  * truth; plus exact-equality and parity sanity on the pinned corpus.
  */
class ResidualPqSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  override def afterAll(): Unit = {
    graft.ScratchCache.drain()
    spark.stop()
  }

  /** Clustered synthetic corpus: `nClusters` well-separated centers
    * with small deterministic within-cluster jitter — the shape real
    * embedding corpora have and the testdata lacks. Low ids spread
    * across clusters so Lloyd's lowest-id seeding starts diverse. */
  private def clusteredDir(n: Int, dim: Int, g: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-respq").toString
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i => {
        val grp = pmod(col("id"), lit(g))
        // center: +/-200 pattern keyed by (group, dimension); jitter < 8
        val center = when(pmod(grp * (i + 7), lit(5)) < 2, lit(-200.0))
          .otherwise(lit(200.0)) * (pmod(grp + i, lit(3)) + 1) / 2.0
        (center + pmod(col("id") * (i + 13), lit(16)).cast("double") / 2.0 - 4.0)
          .cast("float")
      }).as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("clustered corpus: residual codes rank better — higher recall at the same tight dial") {
    val dir = clusteredDir(n = 3000, dim = 8, g = 6)
    graft.sources.ContentStamp.Memo.invalidateAll()
    try {
      val exact = pairs(Similarity.annBruteForce(spark, dir, nQueries = 30, k = 5))
      // tight dial: nprobe covers the space, rerank barely above k — the
      // regime where ADC ranking quality IS recall
      def recall(df: DataFrame): Double = {
        val got = pairs(df)
        (exact -- (exact -- got)).size.toDouble / exact.size
      }
      val raw = recall(Similarity.annIvfPq(spark, dir, nQueries = 30, k = 5,
        nClusters = 6, iters = 2, nprobe = 6, m = 4, nCodes = 8, rerank = 8))
      val res = recall(Similarity.annIvfPqResidual(spark, dir, nQueries = 30, k = 5,
        nClusters = 6, iters = 2, nprobe = 6, m = 4, nCodes = 8, rerank = 8))
      info(f"recall@5 at rerank=8: raw-PQ $raw%.3f residual-PQ $res%.3f")
      assert(res > raw,
        f"residual PQ should out-rank raw PQ on clustered data (raw $raw%.3f, residual $res%.3f)")
      assert(res > 0.9, f"residual PQ recall too low on clustered data: $res%.3f")
    } finally graft.sources.ContentStamp.Memo.invalidateAll()
  }

  test("generous dial: residual path equals the exact sweep (rescore is exact)") {
    // rerank >= corpus and full probe set: candidate pruning vanishes,
    // output must equal brute force REGARDLESS of code quality
    val exact = pairs(Similarity.annBruteForce(spark, sf))
    val res = pairs(Similarity.annIvfPqResidual(spark, sf,
      nprobe = 16, rerank = 4096))
    assert(res === exact)
  }

  test("pinned corpus: k rows per query, deterministic across invocations") {
    val a = Similarity.annIvfPqResidual(spark, sf).collect().map(_.mkString("|")).toSet
    val b = Similarity.annIvfPqResidual(spark, sf).collect().map(_.mkString("|")).toSet
    assert(a === b)
    val counts = Similarity.annIvfPqResidual(spark, sf)
      .groupBy("query_id").count().collect().map(_.getLong(1)).toSet
    assert(counts === Set(5L))
  }
}
