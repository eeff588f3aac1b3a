package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN index scale ladder: pushes the build/serve split
  * (`Similarity.writeAnnIndex` / `annIvfPqServeQueries`) to corpora
  * orders of magnitude past the testdata, so the "a query batch
  * touches ~nprobe/nClusters of the index" claim carries measured
  * points (SCALE.md §ANN is authored from this output).
  *
  * Corpus: `nClusters` well-separated synthetic clusters (the shape
  * real embedding corpora have), dim 64 like the testdata, ids
  * striped across clusters so Lloyd's lowest-id seeding starts
  * diverse. Per rung: index BUILD wall + on-disk bytes/vector, a
  * 10-query SERVE batch at nprobe=8 (min of 2, model memo-warm — the
  * production serve shape), and the brute-force sweep over the same
  * queries as the linear-scan baseline the index must beat.
  *
  * `Test/runMain graft.tools.DriveAnnScale [n:nClusters ...]`
  * (default ladder 100000:64 1000000:256 4000000:512)
  */
object DriveAnnScale {
  def main(args: Array[String]): Unit = {
    val ladder: Seq[(Long, Int)] =
      if (args.nonEmpty) args.toSeq.map { a =>
        val Array(n, c) = a.split(":"); (n.toLong, c.toInt)
      }
      else Seq((100000L, 64), (1000000L, 256), (4000000L, 512))
    val spark = GraftSession.local("graft-ann-scale")
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Similarity

    val dim = 64
    def corpus(n: Long, g: Int): DataFrame =
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i => {
          val grp = pmod(col("id"), lit(g))
          // cluster center: deterministic per (group, dim) in ±200;
          // within-cluster jitter < 8, HASH-derived so the floats are
          // incompressible like real embeddings — a pmod-patterned
          // jitter dictionary-encodes to ~5% of true vector bytes and
          // hides every I/O effect this ladder exists to measure
          val center = pmod(grp * (i + 7) + grp * grp * 13, lit(401))
            .cast("double") - 200.0
          (center + pmod(xxhash64(col("id"), i), lit(160000)).cast("double")
            / 10000.0 - 8.0).cast("float")
        }).as("embedding"))

    def duBytes(path: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else f.length()
      walk(new java.io.File(path))
    }
    def minOf2(f: => Unit): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min

    for ((n, nClusters) <- ladder) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-annscale-$n").toString
      corpus(n, nClusters).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      graft.sources.ContentStamp.Memo.invalidateAll()
      // codes-only index (rescore joins the corpus relation) AND the
      // vector-carrying index (rescore reads the probed cells' own
      // files) — the serve gap between them IS the hidden linear read
      val idx = s"$dir/index"
      val tb = System.nanoTime()
      Similarity.writeAnnIndex(spark, dir, idx, nClusters = nClusters, iters = 1)
      val buildS = (System.nanoTime() - tb) / 1e9
      val vidx = s"$dir/vindex"
      Similarity.writeAnnIndex(spark, dir, vidx, nClusters = nClusters,
        iters = 1, includeVectors = true)
      val bytesPerVec = duBytes(idx).toDouble / n
      val vBytesPerVec = duBytes(vidx).toDouble / n
      def queriesOf(nq: Int) = graft.Tables.embeddings(spark, dir)
        .filter(col("vec_id") < nq)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      // model dials (nClusters, iters) come from each index's own
      // _meta.json now — only the query dials are passed
      def serve(path: String, nq: Int): Unit = Similarity.annIvfPqServeQueries(
        spark, dir, path, queriesOf(nq), nprobe = 8).count()
      serve(idx, 10); serve(vidx, 10) // warm (plan + model memo — production serves memo-warm)
      val serveS = minOf2(serve(idx, 10))
      val vServeS = minOf2(serve(vidx, 10))
      val bruteS = minOf2(
        Similarity.annBruteForce(spark, dir, nQueries = 10).count())
      // the per-query scaling split needs a batch big enough to
      // amortize planning: brute pays n PER QUERY, the index pays
      // probed cells per query — this is where the crossover lives
      val vServe100S = minOf2(serve(vidx, 100))
      val brute100S = minOf2(
        Similarity.annBruteForce(spark, dir, nQueries = 100).count())
      println(f"ANNSCALE n=$n%-8d nClusters=$nClusters%-4d build=$buildS%7.1fs " +
        f"codesIdx=$bytesPerVec%5.1f B/vec vecIdx=$vBytesPerVec%6.1f B/vec " +
        f"serveJoin10q=$serveS%6.2fs serveLocal10q=$vServeS%6.2fs " +
        f"brute10q=$bruteS%6.2fs serveLocal100q=$vServe100S%6.2fs " +
        f"brute100q=$brute100S%7.2fs probed=${8.0 / nClusters * 100}%4.1f%%")
    }
    spark.stop()
  }
}
