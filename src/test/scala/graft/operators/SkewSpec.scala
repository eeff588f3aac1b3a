package graft.operators

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class SkewSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("saltedJoin output equals plain join on skewed keys") {
    import spark.implicits._
    // 90% of rows share one hot key
    val large = (1 to 10000).map(i => (if (i % 10 == 0) i.toLong % 7 else 1L, i.toLong))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (6L, "c")).toDF("k", "name")
    val plain = large.join(small, "k").select("k", "payload", "name")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(large, small, "k", col("payload"))
      .select("k", "payload", "name").collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(salted.nonEmpty)
  }

  test("saltedDistinctCount equals plain countDistinct") {
    import spark.implicits._
    val df = (1 to 5000).map(i => ("user_" + (i % 3), i % 101)).toDF("k", "v")
    val plain = df.groupBy("k").agg(countDistinct("v").as("d"))
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedDistinctCount(df, "k", "v")
      .as[(String, Long)].collect().toMap
    assert(salted === plain)
  }

  // AQE's skew-join split is the no-code-change alternative to manual
  // salting — at 100 TB it is the FIRST line of defense (salting is for
  // when AQE's per-partition granularity isn't enough). Prove the
  // engine's session config actually gets it: a hot-key join must plan
  // SortMergeJoin(skew=true) under AQE with the skew thresholds scaled
  // to local data sizes.
  test("AQE splits the hot partition of a skewed sort-merge join") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key carries ~95% of a 300k-row left side
      val left = spark.range(300000)
        .select(when(col("id") % 20 === 0, col("id") % 50).otherwise(lit(7L)).as("k"),
          concat(lit("payload_"), col("id")).as("payload"))
      val right = spark.range(50).select(col("id").as("k"),
        concat(lit("dim_"), col("id")).as("name"))
        .repartition(4) // materialize via shuffle so SMJ is the natural plan
      val joined = left.join(right, "k")
      // collect THIS DataFrame (count() would execute a different
      // QueryExecution) so its adaptive plan is final when inspected
      assert(joined.collect().length === 300000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should mark the skewed join, final plan:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // The ANN candidate generator's cid equi-join (Similarity.
  // annCandidatesOnIndex: index.join(probes, "cid")) inherits IVF cell
  // occupancy as its key distribution — real embedding corpora have hot
  // centroids (the testdata's structureless embeddings hide this), so
  // one cell holding ~half the corpus is the expected production shape.
  // Prove AQE's skew split fires on THAT join: a synthetic corpus with
  // one dominant cluster, run through the real knnGraph pipeline.
  test("AQE splits the hot IVF cell in the ANN candidate equi-join") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ on the cid join
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // ~55% of 24k vectors cluster tightly around one direction → one
      // coarse cell dominates both sides of the cid join (every vector
      // is also a query in knnGraph). The SPREAD vectors take the low
      // ids: Lloyd seeds are the nClusters lowest vec_ids, so seeding
      // from diverse directions keeps the hot cluster in ONE cell
      // (near-identical seeds would scatter it across tie-broken cells).
      val dim = 8
      val skewDir = java.nio.file.Files.createTempDirectory("graft-skew-emb").toString
      val spread = spark.range(11000).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => (pmod(col("id") * (i + 3), lit(997)).cast("double") - 498.0)
            .cast("float")).as("embedding"))
      val hot = spark.range(11000, 24000).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => (when(i === 0, lit(100.0)).otherwise(lit(0.0)) +
            pmod(col("id") * (i + 1), lit(7)).cast("double") / 10.0).cast("float"))
          .as("embedding"))
      spread.unionByName(hot).write.mode("overwrite")
        .parquet(s"$skewDir/embeddings.parquet")
      graft.sources.ContentStamp.Memo.invalidateAll()
      val graph = Similarity.knnGraph(spark, skewDir,
        k = 3, nClusters = 8, iters = 1, nprobe = 2, m = 4, nCodes = 8, rerank = 8)
      // collect THIS DataFrame so its adaptive plan is final when inspected
      assert(graph.collect().nonEmpty)
      val plan = graph.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should split the hot cid partition, final plan:\n$plan")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      graft.sources.ContentStamp.Memo.invalidateAll()
    }
  }
}
