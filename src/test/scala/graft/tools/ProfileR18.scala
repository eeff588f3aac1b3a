package graft.tools

import graft.{GraftSession, Tables}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-18 optimization profiler: stage-level timings for the bench's
  * most expensive gate queries, so optimization targets the measured
  * stage rather than the guessed one (opt guide §1). Each stage is
  * timed as count() after a clearCache(), mirroring the bench
  * methodology; `plan:` lines time logical→executed-plan compilation
  * alone (driver-side planning cost, no job).
  *
  * `sbt "Test/runMain graft.tools.ProfileR18 [section ...]"`.
  */
object ProfileR18 {
  private def t[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    println(f"[profile] $label%-46s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("profile-r18")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val want: String => Boolean =
      if (args.isEmpty) _ => true else args.toSet
    def sec(name: String)(body: => Unit): Unit = if (want(name)) {
      println(s"[profile] === $name ===")
      spark.catalog.clearCache()
      graft.sources.ContentStamp.Memo.invalidateAll()
      body
      spark.catalog.clearCache()
    }
    def planOf(label: String, df: => DataFrame): Unit =
      t(s"plan: $label") { df.queryExecution.executedPlan }
    def run(label: String, df: => DataFrame): Unit = {
      val d = t(s"build: $label")(df)
      t(s"exec:  $label") { d.count() }
    }

    // warm-up: JIT + codegen + fs init (the bench does the same)
    graft.SparkEntry.queries.get("t11_tfidf").foreach(f =>
      try f(spark, "/root/testdata/sf0.001").count() catch { case _: Throwable => () })

    sec("q34") {
      planOf("q34_curate_llm", Curation.curateLlmPacked(spark, dir))
      run("q34_curate_llm full", Curation.curateLlmPacked(spark, dir))
      spark.catalog.clearCache()
      // stage decomposition
      val quality = t("build quality")(TextOps.filterDecision(spark, dir)
        .filter(col("keep")).select(col("doc_id")))
      t("exec quality")(quality.count())
      val survivors = t("build survivors")(Dedup.keepBest(spark, dir)
        .select(col("keep_id").as("doc_id")))
      t("exec survivors")(survivors.count())
      val clean = t("build clean")(TextOps.decontaminate(spark, dir, 50)
        .filter(!col("contaminated")).select(col("doc_id")))
      t("exec clean")(clean.count())
      val classified = t("build classified")(TextOps.nbQuality(spark, dir)
        .filter(col("keep")).select(col("doc_id")))
      t("exec classified")(classified.count())
      spark.catalog.clearCache()
      val curated = Curation.llmCuratedDocs(spark, dir, 50)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("exec curated (4-stage composition)")(curated.count())
      t("exec spanDedupOn(curated)")(
        Dedup.spanDedupOn(curated, 8).filter(col("dedup_text") =!= "").count())
      t("exec dsirSampleOf(curated)")(
        TextOps.dsirSampleOf(curated, "src0", 1024, 100).count())
      curated.unpersist(blocking = false)
    }

    sec("q36") {
      val edges = t("build transitionEdges")(GraphOps.transitionEdges(spark, dir))
      t("exec transitionEdges")(edges.count())
      t("exec pageRank(edges, 10) [incl edges]")(
        GraphOps.pageRank(GraphOps.transitionEdges(spark, dir), 10).count())
      t("exec q36 full")(GraphOps.eventPageRank(spark, dir).count())
    }

    sec("q37") {
      val e = t("build bigramEdges")(GraphOps.bigramEdges(spark, dir))
      t("exec bigramEdges")(e.count())
      t("exec q37 full")(GraphOps.tokenComponents(spark, dir).count())
    }

    sec("v12ann") {
      planOf("v12_bitext_margin_ann", Similarity.bitextMarginAnn(spark, dir))
      t("exec v12_ann (cold models)")(Similarity.bitextMarginAnn(spark, dir).count())
      t("exec v12_ann (warm models)")(Similarity.bitextMarginAnn(spark, dir).count())
    }

    sec("v13") {
      graft.sources.ContentStamp.Memo.invalidateAll()
      t("exec v13 (cold models)")(Similarity.knnGraph(spark, dir).count())
      t("exec v13 (warm models)")(Similarity.knnGraph(spark, dir).count())
    }

    sec("d13") {
      planOf("d13_source_overlap", Dedup.sourceOverlap(spark, dir))
      run("d13", Dedup.sourceOverlap(spark, dir))
    }

    sec("t30") {
      planOf("t30_dsir_sample", TextOps.dsirSample(spark, dir))
      run("t30", TextOps.dsirSample(spark, dir))
    }

    sec("m3") {
      run("m3_phash_pairs", Multimodal.phashPairs(spark, dir))
    }

    sec("v5") {
      run("v5_near_dup_lsh", Similarity.nearDupLsh(spark, dir))
    }

    sec("t22") {
      run("t22_bigram_logprob", graft.SparkEntry.queries("t22_bigram_logprob")(spark, dir))
    }

    sec("t31") {
      run("t31_gopher_fracs", graft.SparkEntry.queries("t31_gopher_fracs")(spark, dir))
    }

    spark.stop()
  }
}
