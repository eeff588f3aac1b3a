package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** `ann_serve`: `Runner.hnswServeQuery` answering open-loop query batches
  * against an at-rest sharded HNSW index (`Hnsw.writeHnswIndexSharded`)
  * built at set-up from generated clustered vectors. Read-only: no text
  * and no stream state. */
object ServeBench {
  val Dim = 64
  val Vectors = 10000
  val Clusters = 40
  val QueriesPerBatch = 4
  val WarmBatches = 3
  val Bursts = 6
  val BurstQueries = 200
  val K = 5

  /** Open-loop batches per run: ten a second (at least 100, so the
    * latency tail has ten samples beyond it). */
  def batches(seconds: Int): Int = {
    require(seconds >= 10, "ann_serve needs at least 10 seconds for 100 batches")
    seconds * 10
  }

  private val querySchema = StructType(Seq(StructField("query_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** `queries`: the warm-up batches, then the open-loop ones, then the bursts. */
  final case class Gen(dir: String, index: String, vectors: Array[Array[Float]],
                       queries: Seq[Seq[(Long, Array[Float])]], buildS: Double, inputHash: String)

  /** Clustered vectors as the bench's own `embeddings.parquet`, query
    * batches near the same centres (ids from 1e9 up, disjoint from the
    * corpus ids the serve path would drop as self-matches), and the
    * index. */
  def generate(spark: SparkSession, dir: String, seed: Long, nBatches: Int): Gen = {
    import spark.implicits._
    val rnd = new Random(seed * 131L + 7)
    val digest = new Digest
    val centres = Array.fill(Clusters, Dim)(rnd.nextGaussian().toFloat)
    def near(): Array[Float] = {
      val c = centres(rnd.nextInt(Clusters))
      Array.tabulate(Dim)(d => c(d) + 0.35f * rnd.nextGaussian().toFloat)
    }
    val vectors = Array.fill(Vectors)(near())
    vectors.zipWithIndex.foreach { case (v, i) => digest.add(s"$i:${v.mkString(",")}") }
    vectors.zipWithIndex.map { case (v, i) => (i.toLong, v, i % Clusters) }.toSeq
      .toDF("vec_id", "embedding", "label").coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    var nextId = 1000000000L
    def batch(n: Int) = (0 until n).map { _ => nextId += 1; (nextId, near()) }
    val queries = (0 until WarmBatches + nBatches).map(_ => batch(QueriesPerBatch)) ++
      (0 until Bursts).map(_ => batch(BurstQueries))
    val qdir = new java.io.File(s"$dir/batches"); qdir.mkdirs()
    queries.zipWithIndex.foreach { case (qs, b) =>
      val lines = qs.map { case (id, v) => s"""{"query_id":$id,"embedding":[${v.mkString(",")}]}""" }
      lines.foreach(digest.add)
      Util.writeLines(qdir.getPath, f"batch-$b%05d.json", lines)
    }
    val (_, buildS) = Util.timed(
      graft.operators.Hnsw.writeHnswIndexSharded(spark, dir, s"$dir/index"))
    Gen(dir, s"$dir/index", vectors, queries, buildS, digest.hex)
  }

  /** Exact top-k by cosine (ties by lower id), plain Scala. */
  def exactTopK(vectors: Array[Array[Float]], norms: Array[Double], q: Array[Float],
                k: Int): Seq[Long] = {
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    val best = new java.util.PriorityQueue[(Double, Int)](k + 1,
      (x: (Double, Int), y: (Double, Int)) =>
        if (x._1 != y._1) java.lang.Double.compare(x._1, y._1) else Integer.compare(y._2, x._2))
    var i = 0
    while (i < vectors.length) {
      val v = vectors(i)
      var dot = 0.0; var d = 0
      while (d < Dim) { dot += v(d).toDouble * q(d); d += 1 }
      best.add((dot / (norms(i) * qn), i))
      if (best.size > k) best.poll()
      i += 1
    }
    Seq.fill(best.size)(best.poll()._2.toLong).reverse
  }

  /** `start` is when the first open-loop batch was due. */
  final case class Life(start: Long, ledger: Seq[Seq[Long]], due: Seq[Long], lateness: Seq[Double],
                        burstMs: Seq[Double], traceOverhead: Double,
                        addBatchMs: Double, jobsPerTrigger: Double,
                        firstCallMs: Double, callMs: Double,
                        answers: Map[Long, Seq[Long]], window: (Long, Long))

  def life(spark: SparkSession, g: Gen, run: String, seconds: Int,
           tracer: Option[Tracer]): Life = {
    val in = s"$run/in"; new java.io.File(in).mkdirs()
    def feed(b: Int): Unit = {
      val name = f"batch-$b%05d.json"
      java.nio.file.Files.move(java.nio.file.Paths.get(g.dir, "batches", name),
        java.nio.file.Paths.get(in, name))
    }
    // direct serve calls with their answers forced: the first is cold
    val calls = (0 until WarmBatches).map { b =>
      val df = spark.createDataFrame(g.queries(b).map { case (i, v) => (i, v) })
        .toDF("query_id", "embedding")
      Util.timed(graft.operators.Hnsw.annHnswServeShardedQueries(spark, g.index, df, k = K)
        .collect())._2 * 1e3
    }
    val q = graft.streaming.Runner.hnswServeQuery(spark, g.index,
      spark.readStream.schema(querySchema).json(in), s"$run/out", s"$run/ckpt", k = K)
    (0 until WarmBatches).foreach(feed)
    q.processAllAvailable()
    val warmTriggers = q.recentProgress.length
    val warmRows = Util.cumulativeRows(q)
    tracer.foreach { t => t.start(); t.nameQuery(q.id, "runner.serve") }
    val n = g.queries.size - WarmBatches - Bursts
    val period = seconds * 1000L / n
    val start = Util.nowMs + 100
    val due = (0 until n).map(i => start + i * period)
    val lateness = Trace.within(tracer, "gen.live") {
      (0 until n).map { i =>
        Util.sleepUntil(due(i)); feed(WarmBatches + i); (Util.nowMs - due(i)).toDouble
      }
    }
    Util.awaitRows(q, warmRows + n.toLong * QueriesPerBatch, 60000)
    val end = Util.nowMs
    val ps = q.recentProgress.toSeq.drop(warmTriggers).filter(_.numInputRows > 0)
    val jobs = tracer.map(_.jobsOfQuery(q.id, start, end)).getOrElse(0L)
    val ledger = Util.ledger(q).drop(warmTriggers).map(e => Seq(e(0), e(1) - warmRows))
    // closed-loop capacity: one large batch per trigger, each its own
    // trigger. When tracing, every other burst runs with the listeners
    // detached, so the tracing cost is measured at equal warmth.
    def detached(b: Int) = tracer.isDefined && b % 2 == 1
    val burstMs = (0 until Bursts).map { b =>
      if (detached(b)) tracer.get.stop()
      feed(WarmBatches + n + b); q.processAllAvailable()
      if (detached(b)) tracer.get.start()
      q.recentProgress.reverse.find(_.numInputRows > 0).get
        .durationMs.get("triggerExecution").toDouble
    }
    q.stop()
    tracer.foreach(_.stop())
    val (plain, traced) = burstMs.indices.partition(detached)
    val answers = spark.read.parquet(s"$run/out").select("query_id", "rank", "neighbor_id")
      .collect().groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    Life(start, ledger, due, lateness, burstMs,
      if (tracer.isEmpty) 0.0
      else Util.median(traced.map(burstMs)) / Util.median(plain.map(burstMs)) - 1,
      Util.median(ps.map(_.durationMs.getOrDefault("addBatch", 0L).toDouble)),
      if (ps.isEmpty) 0 else jobs.toDouble / ps.size,
      calls.head, Util.median(calls.tail), answers, (start, end))
  }

  def run(spark: SparkSession, a: Args, res: Result, tracer: Option[Tracer]): SparkSession = {
    val n = batches(a.seconds)
    val g = generate(spark, s"${a.work}/gen0", a.seed, n)
    res.mark("generate")
    res.meta("input_hash") = g.inputHash
    val main = life(spark, g, s"${a.work}/life0", a.seconds, None)
    // set-up: JVM start, session, generation, index build and the
    // warm-up calls, up to the first open-loop batch
    res.raw("setup_s") = (main.start - Util.jvmStartMs) / 1e3
    res.mark("serve")
    val measured = g.queries.drop(WarmBatches)
    val openLoop = measured.dropRight(Bursts)
    res.raw("ledger") = main.ledger
    res.raw("due_ms") = main.due
    res.raw("queries_per_batch") = QueriesPerBatch
    res.raw("burst_queries") = BurstQueries
    res.raw("burst_ms") = Util.median(main.burstMs)
    // the gate: exactly K answers per query, recall against an exact scan
    val norms = g.vectors.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
    val exact = measured.flatten.map { case (id, v) => id -> exactTopK(g.vectors, norms, v, K) }.toMap
    res.mark("exact_scan")
    res.raw("answers") = main.answers.map { case (k, v) => k.toString -> v }
    res.raw("exact") = exact.map { case (k, v) => k.toString -> v }
    res.attempted = n
    res.failed = openLoop.count(b => b.exists { case (id, _) => main.answers.get(id).forall(_.size != K) })
    res.check("burst_answers_complete", measured.takeRight(Bursts).flatten
      .forall { case (id, _) => main.answers.get(id).exists(_.size == K) })
    res.check("no_answers_for_unknown_queries", main.answers.keySet.subsetOf(
      g.queries.flatten.map(_._1).toSet))
    res.meta("phases") = Map("setup_s" -> res.raw("setup_s"), "build_s" -> g.buildS,
      "vectors" -> Vectors, "dim" -> Dim, "batches" -> n,
      "queries_per_batch" -> QueriesPerBatch, "period_ms" -> a.seconds * 1000L / n,
      "bursts" -> Bursts, "burst_queries" -> BurstQueries)

    tracer.foreach { t =>
      val g1 = generate(spark, s"${a.work}/gen1", a.seed, n)
      res.check("same_seed_same_inputs", g1.inputHash == g.inputHash)
      val tl = life(spark, g1, s"${a.work}/life1", a.seconds, Some(t))
      t.sparkLayers(res, tl.window._1, tl.window._2)
      res.raw("traced_generator_late_ms") = tl.lateness
      res.layers ++= Seq(
        "hnsw.serve_call_ms" -> main.callMs,
        "hnsw.first_batch_ms" -> main.firstCallMs,
        "hnsw.build_s" -> g.buildS,
        "runner.serve.jobs_per_trigger" -> tl.jobsPerTrigger,
        "runner.serve.addBatch_ms" -> tl.addBatchMs,
        "trace.overhead_frac" -> tl.traceOverhead)
    }
    spark
  }
}
