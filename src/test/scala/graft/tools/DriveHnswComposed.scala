package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed ONLINE VECTOR STORE under load — the deployment shape
  * HnswSpec pins for correctness only: ONE sharded HNSW index with a
  * maintain stream (segment appends + the in-loop fold) and a serve
  * stream (hnswServeQuery) running CONCURRENTLY as two free-running
  * streaming queries over file edges, the way a real store runs them.
  * Measures what the composition docs claim and round 14's verdict
  * asked to see priced (Next #6):
  *
  *   - serve-trigger latency DRIFT between folds (the +ms/segment walk
  *     cost as LSM depth grows), reported per concurrent segment depth;
  *   - serve latency ACROSS a fold (every shard stamp changes, so the
  *     first post-fold trigger pays a full residency reload);
  *   - how often the documented swap-window trigger failure actually
  *     fires (the fold's delete→rename of graph/ racing a serve
  *     listing/read) — failures are counted, their messages recorded,
  *     and the serve query is RESTARTED from its checkpoint, which is
  *     exactly the documented recovery (the K5 sink rewrites the
  *     failed batch's own partition).
  *
  * `Test/runMain graft.tools.DriveHnswComposed
  *   [n:nClusters:nShards:batches:batchSize:compactEvery ...]`
  * (default 64:4:30:5000:8 over the DriveHnswScale clustered corpus;
  * the index starts EMPTY — the maintain stream seeds it, the
  * documented maintained-index shape.)
  *
  * Serve queries use NEGATED ids (the shared-id-space contract: a
  * query_id colliding with an indexed vec_id would lose that vector to
  * the self-match drop). */
object DriveHnswComposed {
  def main(args: Array[String]): Unit = {
    val rungs: Seq[(Int, Int, Int, Int, Int)] =
      if (args.nonEmpty) args.toSeq.map { a =>
        val Array(c, s, b, bs, ce) = a.split(":")
        (c.toInt, s.toInt, b.toInt, bs.toInt, ce.toInt)
      } else Seq((64, 4, 30, 5000, 8))
    val spark = GraftSession.local("graft-hnsw-composed")
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Hnsw

    val dim = 64
    def corpus(n: Long, g: Int): DataFrame =
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i => {
          val grp = pmod(col("id"), lit(g))
          val center = pmod(grp * (i + 7) + grp * grp * 13, lit(401))
            .cast("double") - 200.0
          (center + pmod(xxhash64(col("id"), i), lit(160000)).cast("double")
            / 10000.0 - 8.0).cast("float")
        }).as("embedding"))

    for ((g, nSh, nBatches, batchSize, compactEvery) <- rungs) {
      val n = nBatches.toLong * batchSize
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-hnswcomp-$n").toString
      val idx = s"$dir/index"
      // maintain feed: one file per micro-batch, written in order so
      // the file source consumes them oldest-first
      val vecs = corpus(n, g).persist()
      (0 until nBatches).foreach { i =>
        vecs.filter(col("vec_id") >= i.toLong * batchSize &&
            col("vec_id") < (i + 1).toLong * batchSize)
          .coalesce(1).write.mode("overwrite")
          .parquet(f"$dir/feedm/b$i%04d")
      }
      // serve feed: the same 50 queries repeated — ample files so the
      // serve loop outlives the maintain stream (stopped at its end)
      val queries = vecs.filter(col("vec_id") < 50)
        .select((-col("vec_id") - 1).as("query_id"), col("embedding"))
        .coalesce(1).persist()
      queries.count()
      val nServeFiles = nBatches * 12
      (0 until nServeFiles).foreach { i =>
        queries.write.mode("overwrite").parquet(f"$dir/feedq/q$i%04d")
      }
      vecs.unpersist(blocking = false)
      val mSchema = spark.read.parquet(s"$dir/feedm/b0000").schema
      val qSchema = spark.read.parquet(s"$dir/feedq/q0000").schema
      // file sources need one directory of files; symlink-flatten the
      // per-batch dirs into flat feed dirs (the Bench.StreamCtx.streamOf pattern)
      def flatten(from: String, to: String): Unit = {
        new java.io.File(to).mkdirs()
        new java.io.File(from).listFiles().sortBy(_.getName).foreach { d =>
          d.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
            java.nio.file.Files.createSymbolicLink(
              java.nio.file.Paths.get(s"$to/${d.getName}-${f.getName}"),
              f.toPath)
          }
        }
      }
      flatten(s"$dir/feedm", s"$dir/m")
      flatten(s"$dir/feedq", s"$dir/q")

      // progress capture: serve trigger latencies (wall ts, batch id,
      // trigger ms, rows) and the maintain timeline (wall ts, segment
      // depth after the batch) — depth from the same listing serve uses
      val serveProg = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
      val maintProg = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
      @volatile var serveQueryId: java.util.UUID = null
      @volatile var maintQueryId: java.util.UUID = null
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryIdle(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryIdleEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          if (p.numInputRows > 0) {
            if (p.id == serveQueryId)
              serveProg.add((System.currentTimeMillis(), p.batchId,
                p.durationMs.get("triggerExecution").longValue(), p.numInputRows))
            else if (p.id == maintQueryId)
              maintProg.add((System.currentTimeMillis(),
                Hnsw.shardPartitionCount(spark, idx)))
          }
        }
      }
      spark.streams.addListener(listener)

      def startServe() = {
        val q = graft.streaming.Runner.hnswServeQuery(spark, idx,
          spark.readStream.schema(qSchema).option("maxFilesPerTrigger", "1")
            .parquet(s"$dir/q"),
          s"$dir/answers", s"$dir/ckpt-serve", k = 5, efSearch = 64)
        serveQueryId = q.id
        q
      }

      val maintain = graft.streaming.Runner.hnswMaintainQuery(spark, idx,
        spark.readStream.schema(mSchema).option("maxFilesPerTrigger", "1")
          .parquet(s"$dir/m"),
        s"$dir/ckpt-maint", nShards = nSh,
        compactEverySegments = compactEvery)
      maintQueryId = maintain.id
      // the index starts EMPTY (the maintain stream seeds it) — hold
      // the serve start until the first maintain batch COMMITTED, the
      // order a real deployment brings the two queries up in; any
      // remaining startup race is recorded as a preSeed restart
      while (maintProg.isEmpty && maintain.isActive) Thread.sleep(50)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, String)]()
      val serveRef = new java.util.concurrent.atomic.AtomicReference(
        startServe())
      @volatile var stopping = false
      val supervisor = new Thread(() => {
        while (!stopping) {
          val sq = serveRef.get
          if (!sq.isActive && !stopping) {
            val seeded = new java.io.File(s"$idx/graph").exists()
            val msg = Option(sq.exception.orNull)
              .map(ex => Option(ex.getCause).map(_.toString).getOrElse(ex.toString))
              .getOrElse("stopped?")
            failures.add((seeded, msg.linesIterator.next().take(160)))
            serveRef.set(startServe())
          }
          Thread.sleep(50)
        }
      })
      supervisor.setDaemon(true)
      supervisor.start()
      val t0 = System.nanoTime()
      maintain.processAllAvailable()
      val maintainWall = (System.nanoTime() - t0) / 1e9
      // let the serve loop drain what arrived during maintenance, then
      // wind down (ample files remain by construction — drop them)
      Thread.sleep(2000)
      stopping = true
      supervisor.join()
      maintain.stop()
      serveRef.get.stop()
      spark.streams.removeListener(listener)

      // ---- report ----
      import scala.jdk.CollectionConverters._
      val serveT = serveProg.asScala.toSeq.sortBy(_._1)
      val maintT = maintProg.asScala.toSeq.sortBy(_._1)
      // depth timeline: the segment count in force when each serve
      // trigger COMMITTED (nearest preceding maintain event; before the
      // first maintain commit the depth is the batches landed so far)
      def depthAt(ts: Long): Int =
        maintT.takeWhile(_._1 <= ts).lastOption.map(_._2).getOrElse(1)
      val byDepth = serveT.groupBy(t => depthAt(t._1)).toSeq.sortBy(_._1)
        .map { case (d, ts) =>
          val ms = ts.map(_._3).sorted
          f"$d:${ms(ms.size / 2)}ms(n=${ms.size})"
        }.mkString(" ")
      // fold events: maintain commits where the depth failed to GROW —
      // every non-empty batch adds one segment, so depth <= previous
      // means the in-loop fold ran inside that trigger (a plain drop
      // check misses the threshold = nShards+1 corner, where post-fold
      // depth equals the previous one). The first serve trigger after
      // each fold pays the full residency reload (every stamp changed).
      val foldTs = maintT.sliding(2).collect {
        case Seq((_, a), (ts, b)) if b <= a => ts
      }.toSeq
      val postFold = foldTs.flatMap(f =>
        serveT.find(_._1 >= f).map(_._3))
      val all = serveT.map(_._3).sorted
      val fails = failures.asScala.toSeq
      val (preSeed, midRun) = fails.partition(!_._1)
      println(f"HNSWCOMPOSED n=$n%-8d nShards=$nSh%-3d batches=$nBatches%-3d " +
        f"batchSize=$batchSize%-6d compactEvery=$compactEvery%-3d " +
        f"maintainWall=$maintainWall%6.1fs folds=${foldTs.size}%d " +
        f"serveTriggers=${all.size}%d")
      if (all.nonEmpty)
        println(f"HNSWCOMPOSED serve median=${all(all.size / 2)}%dms " +
          f"p95=${all((all.size * 95) / 100 min (all.size - 1))}%dms " +
          f"max=${all.last}%dms byDepth[$byDepth] " +
          s"postFold=[${postFold.mkString(",")}]ms")
      println(s"HNSWCOMPOSED failures: preSeed=${preSeed.size} " +
        s"midRun=${midRun.size}" +
        (if (midRun.nonEmpty)
           midRun.map(_._2).distinct.mkString(" [", " | ", "]")
         else ""))
      // correctness tail: every consumed query batch answered its 50
      // queries with k=5 rows (the restarted batches included)
      val answers = spark.read.parquet(s"$dir/answers")
      val perBatch = answers.groupBy("batch_id")
        .agg(count(lit(1)).as("rows"),
          countDistinct(col("query_id")).as("nq"))
        .collect()
      val bad = perBatch.filter(r => r.getLong(1) != 250L || r.getLong(2) != 50L)
      println(s"HNSWCOMPOSED answered batches=${perBatch.length} " +
        s"malformed=${bad.length}")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
    spark.stop()
  }
}
