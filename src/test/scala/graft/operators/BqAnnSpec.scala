package graft.operators

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** IVF-BQ (Similarity.annIvfBq) — the 1-bit fourth encode family. The
  * claims pinned here: (a) the probed gate dial equals the exact
  * sweep; (b) the whole pack→decode→asymmetric-score→rerank pipeline
  * matches an independent driver-side reference when every cell is
  * probed (nprobe = nClusters makes IVF routing a no-op, so the
  * reference needs no centroid model — bit arithmetic including bit
  * 63 is exercised end to end); (c) sign bits are invariant under
  * positive per-vector scaling, so the scaled corpus yields the
  * identical graph. */
class BqAnnSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    val bq = Similarity.annIvfBq(spark, sf, nprobe = 14, rerank = 192)
      .collect().map(_.mkString("|")).toSet
    assert(bq === exact)
    val counts = Similarity.annIvfBq(spark, sf)
      .groupBy("query_id").count().collect().map(_.getLong(1)).toSet
    assert(counts === Set(5L))
  }

  test("all-cells-probed output == independent driver-side sign-bit reference") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    val k = 5; val rerank = 24; val nQ = 10
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = (0L until nQ).flatMap { q =>
      val qv = emb(q).map(_.toDouble)
      // asymmetric BQ score: cosine of the query against the ±1 decode
      val shortlist = emb.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          (id, cos(qv, v.map(x => if (x >= 0f) 1.0 else -1.0)), v) }
        .sortBy { case (id, a, _) => (-a, id) }.take(rerank)
      shortlist.map { case (id, _, v) => (id, cos(qv, v.map(_.toDouble))) }
        .sortBy { case (id, c) => (-c, id) }.take(k)
        .zipWithIndex.map { case ((id, c), i) => (q, i + 1, id, c) }
    }
    val got = Similarity.annIvfBq(spark, sf, nQueries = nQ, k = k,
        nClusters = 16, nprobe = 16, rerank = rerank)
      .as[(Long, Int, Long, Double)].collect()
      .sortBy { case (q, r, _, _) => (q, r) }
    assert(got.length === expect.length)
    got.zip(expect).foreach { case ((q, r, id, c), (eq, er, eid, ec)) =>
      assert((q, r, id) === ((eq, er, eid)), s"rank $er for query $eq")
      assert(math.abs(c - ec) < 1e-9)
    }
  }

  test("scale invariance: positively scaled vectors produce the identical graph") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bq-scaled").toString
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") * (pmod(col("vec_id"), lit(7)) + 1)).cast("float"))
          .as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    graft.sources.ContentStamp.Memo.invalidateAll()
    try {
      val scaled = pairs(Similarity.annIvfBq(spark, dir, nprobe = 16, rerank = 192))
      graft.sources.ContentStamp.Memo.invalidateAll()
      val base = pairs(Similarity.annIvfBq(spark, sf, nprobe = 16, rerank = 192))
      assert(scaled === base)
    } finally graft.sources.ContentStamp.Memo.invalidateAll()
  }
}
