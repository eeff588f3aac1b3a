package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Decompose one resident sharded-HNSW serve call at ladder scale —
  * the round-12 diagnostic behind the serve-merge design: where does a
  * repeat (all-shards-resident) serve spend its time? Builds (or
  * reuses) a persistent corpus + index under `baseDir` so re-runs skip
  * the 1e6 build, then times the shortlist fan-out alone vs the full
  * serve (fan-out + rescore), cold and resident.
  *
  * `Test/runMain graft.tools.TimeHnswShardServe [n] [nShards] [baseDir]`
  * (default 1000000 8 /tmp/graft-hnsw-servediag)
  */
object TimeHnswShardServe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000L
    val nShards = if (args.length > 1) args(1).toInt else 8
    val baseDir = if (args.length > 2) args(2) else "/tmp/graft-hnsw-servediag"
    val spark = GraftSession.local("time-hnsw-shard-serve")
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Hnsw

    val dim = 64; val g = 256
    val dir = s"$baseDir/n$n"
    val idx = s"$dir/hnsw_sharded_$nShards"
    if (!new java.io.File(s"$dir/embeddings.parquet").isDirectory) {
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i => {
          val grp = pmod(col("id"), lit(g))
          val center = pmod(grp * (i + 7) + grp * grp * 13, lit(401))
            .cast("double") - 200.0
          (center + pmod(xxhash64(col("id"), i), lit(160000)).cast("double")
            / 10000.0 - 8.0).cast("float")
        }).as("embedding"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      println(s"[servediag] corpus written: $dir")
    }
    if (!graft.sources.IndexMeta.exists(idx)) {
      val t0 = System.nanoTime()
      Hnsw.writeHnswIndexSharded(spark, dir, idx, nShards = nShards)
      println(f"[servediag] index built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    def time(name: String, reps: Int = 3)(f: => Unit): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"[servediag] $name%-34s min=${ts.min}%6.2f s  (${ts.map(t => f"$t%.2f").mkString(", ")})")
    }

    def serve(nQ: Int): DataFrame =
      Hnsw.annHnswServeSharded(spark, dir, idx, nQueries = nQ)

    // cold: residency + drift memo emptied
    Hnsw.ShardGraphCache.invalidate(); Hnsw.shardedDriftChecked.clear()
    time("serve10 COLD (load+walk+rescore)", reps = 1) { serve(10).count() }
    time("serve10 resident (full)") { serve(10).count() }
    time("serve100 resident (full)") { serve(100).count() }
    // pieces of a resident call, via the serve's own building blocks:
    val emb = graft.Tables.embeddings(spark, dir)
    time("collectQueries scan (100)") {
      emb.filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding")).collect()
    }
    // fan-out walks only: the serve minus the rescore tail — measured
    // through the public API by k=efSearch cut? No: time the shortlist
    // relation directly through a count of the serve's plan up to the
    // join would change the plan; instead approximate with a tiny
    // rescore (k=1) vs the default to see rescore's share move.
    time("serve100 resident k=1") {
      Hnsw.annHnswServeSharded(spark, dir, idx, nQueries = 100, k = 1).count()
    }
    time("serve100 resident ef=16") {
      Hnsw.annHnswServeSharded(spark, dir, idx, nQueries = 100, efSearch = 16).count()
    }
    serve(10).explain("formatted")
    spark.stop()
  }
}
