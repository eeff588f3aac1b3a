package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** `gmall_stream`: the layered CDC chain (router → order⋈detail join +
  * apportionment → trademark aggregation with a per-batch sku-dim
  * refresh) restarted over a backlog that arrived while it was down,
  * then fed time-monotonic slices open-loop, with the DAU lane beside
  * it. Everything the program sees is files the generator wrote. */
object StreamBench {
  /** Event-time origin of the backlog, which crosses midnight, so DAU
    * sees two days. */
  val T0: Long = Instant.parse("2026-01-01T23:50:00Z").getEpochSecond
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  private val dimSchema = StructType(Seq(StructField("p_partkey", LongType),
    StructField("p_brand", StringType)))

  final case class Plan(warmOrders: Int, backlogOrders: Int, liveSlices: Int,
                        ordersPerSlice: Int, periodMs: Long)

  /** Ten live slices a second for the run's seconds (at least 100, so
    * the freshness tail has ten samples beyond it). The live rate, 30
    * orders (~120 CDC lines) a slice, is about a fifth of the rate the
    * chain catches up at on a 4-core host, so it runs below saturation. */
  def plan(seconds: Int): Plan = {
    require(seconds >= 10, "gmall_stream needs at least 10 seconds for 100 live slices")
    Plan(warmOrders = 100, backlogOrders = 20000, liveSlices = seconds * 10,
      ordersPerSlice = 30, periodMs = 100)
  }

  /** What the generator knows about the files it wrote. */
  final case class Gen(dir: String, backlogLines: Long, backlogWide: Long,
                       liveOrders: Seq[Seq[Int]], centsUpToBacklog: Long, cents: Long,
                       detailsUpToBacklog: Long, details: Long,
                       warmLogLines: Long, logLinesUpToBacklog: Long, logLines: Long,
                       dauRowsUpToBacklog: Long, dauRows: Long, inputHash: String) {
    /** Cumulative wide rows once every live slice has arrived. */
    def allWide: Long = backlogWide + liveOrders.map(_(2).toLong).sum
  }

  /** One order's CDC lines: the header first, then its details. */
  private final case class Order(lines: Seq[String])

  /** Write the previous life's, the backlog's and the live slices' CDC
    * and start-log files and the sku dim under `dir`. Headers of about
    * one order in ten arrive one slice after their details. */
  def generate(dir: String, seed: Long, p: Plan): Gen = {
    val rnd = new java.util.Random(seed * 7919L + 1)
    val digest = new Digest
    val nSku = 2000
    var nextOrder = 1L
    var nextDetail = 1L
    var finalCents = 0L
    var details = 0L
    val midDt = mutable.HashSet[(Int, String)]()
    var logLines = 0L

    def order(eventSec: Long): Order = {
      val id = nextOrder; nextOrder += 1
      val ts = tsFmt.format(Instant.ofEpochSecond(eventSec))
      val n = 1 + rnd.nextInt(5)
      var original = 0L
      val detLines = (0 until n).map { _ =>
        val num = 1 + rnd.nextInt(3)
        val price = (100 + rnd.nextInt(99900)) / 100.0
        original += Math.round(price * num * 100)
        val did = nextDetail; nextDetail += 1
        s"""{"type":"insert","table":"order_detail","data":{"id":$did,"order_id":$id,""" +
          s""""sku_id":${rnd.nextInt(nSku)},"sku_num":$num,"order_price":$price,"create_time":"$ts"}}"""
      }
      val fin = original - 1 - (rnd.nextDouble() * original / 10).toLong
      finalCents += fin; details += n
      val header = s"""{"type":"insert","table":"order_info","data":{"id":$id,""" +
        s""""user_id":${rnd.nextInt(5000)},"province_id":${rnd.nextInt(34)},"order_status":"1001",""" +
        s""""final_total_amount":${fin / 100.0},"original_total_amount":${original / 100.0},""" +
        s""""create_time":"$ts"}}"""
      Order(header +: detLines)
    }
    def startLogs(eventSec: Long, n: Int): Seq[String] = (0 until n).map { _ =>
      val mid = rnd.nextInt(3000)
      val ms = eventSec * 1000 + rnd.nextInt(1000)
      midDt += ((mid, tsFmt.format(Instant.ofEpochMilli(ms)).take(10)))
      logLines += 1
      s"""{"common":{"mid":"mid_$mid","uid":"${rnd.nextInt(5000)}","ar":"${rnd.nextInt(34)}",""" +
        s""""ch":"web","vc":"v2.1.${rnd.nextInt(5)}"},"ts":$ms}"""
    }
    def write(sub: String, name: String, lines: Seq[String]): Unit = {
      val d = new File(dir, sub); d.mkdirs()
      lines.foreach(digest.add)
      Util.writeLines(d.getPath, name, lines)
    }

    // the previous life, then the backlog: ten orders per event second
    val warmSecs = p.warmOrders / 10
    val warmT0 = T0 - warmSecs - 60 // its watermark must not reach the backlog
    write("warm/cdc", "warm-00000.json", (0 until p.warmOrders).flatMap(i => order(warmT0 + i / 10).lines))
    write("warm/logs", "warm-00000.json", (0 until warmSecs).flatMap(s => startLogs(warmT0 + s, 10)))
    val warmLogLines = logLines
    val backlog = (0 until p.backlogOrders).map(i => order(T0 + i / 10))
    val backlogLines = backlog.map(_.lines.size.toLong).sum
    backlog.grouped((backlog.size + 3) / 4).zipWithIndex.foreach { case (os, k) =>
      write("backlog/cdc", f"backlog-$k%05d.json", os.flatMap(_.lines))
    }
    val (centsUpToBacklog, detailsUpToBacklog) = (finalCents, details)
    val backlogSecs = p.backlogOrders / 10
    write("backlog/logs", "backlog-00000.json", (0 until backlogSecs).flatMap(s => startLogs(T0 + s, 2)))
    val (logLinesUpToBacklog, dauRowsUpToBacklog) = (logLines, midDt.size.toLong)
    // live slices: one event second each, time-monotonic
    val liveT0 = T0 + backlogSecs + 1
    val late = mutable.ArrayBuffer[String]()
    val liveOrders = mutable.ArrayBuffer[Seq[Int]]()
    (0 until p.liveSlices).foreach { i =>
      val os = (0 until p.ordersPerSlice).map(_ => order(liveT0 + i))
      val (deferred, onTime) = os.partition(_ => i + 1 < p.liveSlices && rnd.nextInt(10) == 0)
      val lines = late.toSeq ++ onTime.flatMap(_.lines) ++ deferred.flatMap(_.lines.tail)
      late.clear(); late ++= deferred.map(_.lines.head)
      onTime.foreach(o => liveOrders += Seq(i, i, o.lines.size - 1))
      deferred.foreach(o => liveOrders += Seq(i, i + 1, o.lines.size - 1))
      write("live/cdc", f"slice-$i%05d.json", lines)
      write("live/logs", f"slice-$i%05d.json", startLogs(liveT0 + i, 10))
    }
    // the sku dim the agg stage re-reads every batch
    write("dim", "dim.json", (0 until nSku).map(k =>
      s"""{"p_partkey":$k,"p_brand":"Brand#${1 + rnd.nextInt(25)}"}"""))
    Gen(dir, backlogLines, backlog.map(_.lines.size - 1L).sum, liveOrders.toSeq,
      centsUpToBacklog, finalCents, detailsUpToBacklog, details, warmLogLines, logLinesUpToBacklog,
      logLines, dauRowsUpToBacklog, midDt.size.toLong,
      digest.hex)
  }

  /** `restartMs` is when the chain restarted over the backlog;
    * `catchupAddBatchMs` the `addBatch` time of each stage's catch-up
    * triggers (the bulk work), `catchupTriggers` their count. */
  final case class Life(restartMs: Long, catchupRows: Long, catchupS: Double,
                        catchupAddBatchMs: Map[String, Long], catchupTriggers: Map[String, Int],
                        ledger: Seq[Seq[Long]], due: Seq[Long], lateness: Seq[Double],
                        backlogEnd: Long, windowMs: (Long, Long), liveBusyMs: Double,
                        ok: Map[String, Boolean], queries: Seq[(String, StreamingQuery)]) {
    /** Share of the catch-up wall time the stages spent in `addBatch`:
      * the stages run one after another while catching up, so the rest
      * is query start, planning and per-trigger bookkeeping. */
    def catchupBulkFrac: Double = catchupAddBatchMs.values.sum / (catchupS * 1e3)
  }

  private def moveAll(from: String, to: String): Unit = {
    new File(to).mkdirs()
    Option(new File(from).listFiles()).toSeq.flatten.sortBy(_.getName).foreach { f =>
      Files.move(f.toPath, Paths.get(to, f.getName))
    }
  }

  /** One life of the chain, with the DAU lane beside it: a previous
    * life over a little data, stopped; a restart from the checkpoints
    * over the backlog that arrived while it was down (catch-up); then —
    * when `live` — the open-loop live phase. */
  def life(spark: SparkSession, g: Gen, p: Plan, run: String, live: Boolean,
           tracer: Option[Tracer], res: Result): Life = {
    val cdc = s"$run/cdc"; val logs = s"$run/logs"
    new File(cdc).mkdirs(); new File(logs).mkdirs()
    val loadDim = () => spark.read.schema(dimSchema).json(s"${g.dir}/dim")
    def chainStart() = graft.streaming.Topology.start(spark, cdc, s"$run/routed",
      s"$run/wide", s"$run/agg", s"$run/ckpt", loadDim)
    def dauStart() = graft.streaming.Runner.dauQuery(spark, logs, s"$run/dau", s"$run/dau_ckpt")
    moveAll(s"${g.dir}/warm/cdc", cdc)
    moveAll(s"${g.dir}/warm/logs", logs)
    val prevDau = dauStart()
    val prev = chainStart()
    prev.drain()
    Util.awaitRows(prevDau, g.warmLogLines, 30000)
    prev.stopAll(); prevDau.stop()
    res.mark("previous_life")
    moveAll(s"${g.dir}/backlog/cdc", cdc)
    moveAll(s"${g.dir}/backlog/logs", logs)

    val dau = dauStart()
    tracer.foreach(_.start())
    val t0 = Util.nowMs
    val chain = Trace.within(tracer, "topology.start")(chainStart())
    tracer.foreach { t =>
      t.nameQuery(chain.router.id, "topology.router"); t.nameQuery(chain.wide.id, "topology.wide")
      t.nameQuery(chain.agg.id, "topology.agg"); t.nameQuery(dau.id, "topology.dau")
    }
    val caughtUp = Trace.within(tracer, "topology.catchup")(
      Util.awaitRows(chain.agg, g.backlogWide, 150000))
    val catchEnd = Util.ledger(chain.agg).find(_(1) >= g.backlogWide).map(_(0)).getOrElse(Util.nowMs)
    val catchupS = (catchEnd - t0) / 1e3
    val stages = Seq("router" -> chain.router, "wide" -> chain.wide, "agg" -> chain.agg)
    val catchupPs = stages.map { case (n, q) =>
      n -> q.recentProgress.toSeq.filter(p => p.numInputRows > 0 && Util.commitMs(p) <= catchEnd)
    }.toMap
    // start from a quiet chain: the DAU lane finishes its share of the
    // backlog before the first live slice is due
    Util.awaitRows(dau, g.logLinesUpToBacklog - g.warmLogLines, 30000)
    res.mark("catchup")

    val due = mutable.ArrayBuffer[Long]()
    val lateness = mutable.ArrayBuffer[Double]()
    var backlogEnd = 0L
    var completed = true
    val liveStart = Util.nowMs + 200
    if (live) {
      Trace.within(tracer, "gen.live") {
        (0 until p.liveSlices).foreach { i =>
          val d = liveStart + i * p.periodMs
          Util.sleepUntil(d)
          val name = f"slice-$i%05d.json"
          Files.move(Paths.get(g.dir, "live/cdc", name), Paths.get(cdc, name))
          Files.move(Paths.get(g.dir, "live/logs", name), Paths.get(logs, name))
          due += d; lateness += (Util.nowMs - d).toDouble
        }
      }
      backlogEnd = g.allWide - Util.cumulativeRows(chain.agg)
      completed = Util.awaitRows(chain.agg, g.allWide, 60000)
    }
    val windowEnd = Util.nowMs
    res.mark("live")
    // the DAU lane runs on its own 5 s clock: wait for its input, not a tick
    val dauDone = Util.awaitRows(dau,
      (if (live) g.logLines else g.logLinesUpToBacklog) - g.warmLogLines, 30000)
    Trace.within(tracer, "topology.drain")(chain.drain())
    val ledger = Util.ledger(chain.agg)
    val queries = Seq("router" -> chain.router, "wide" -> chain.wide, "agg" -> chain.agg,
      "dau" -> dau)
    chain.stopAll(); dau.stop()
    res.mark("drain")
    val liveBusyMs = queries.flatMap(_._2.recentProgress)
      .filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= liveStart)
      .map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble).sum

    // gates: cents, wide rows and DAU rows against what was generated
    val cents = spark.read.parquet(s"$run/agg").agg(sum("amount_c")).head().getLong(0)
    val wide = spark.read.parquet(s"$run/wide").count()
    val ok = mutable.LinkedHashMap[String, Boolean](
      "caught_up" -> caughtUp,
      "ads_cents_equal_final_totals" -> (cents == (if (live) g.cents else g.centsUpToBacklog)),
      "wide_rows_equal_details" -> (wide == (if (live) g.details else g.detailsUpToBacklog)))
    if (live) ok("live_slices_completed") = completed
    ok("dau_rows_equal_distinct_mid_dt") = dauDone &&
      spark.read.parquet(s"$run/dau").count() == (if (live) g.dauRows else g.dauRowsUpToBacklog)
    res.mark("gates")
    Life(t0, g.backlogLines, catchupS,
      catchupPs.map { case (n, ps) => n -> ps.map(_.durationMs.getOrDefault("addBatch", 0L).toLong).sum },
      catchupPs.map { case (n, ps) => n -> ps.size }, ledger, due.toSeq, lateness.toSeq,
      backlogEnd, (t0, windowEnd), liveBusyMs, ok.toMap, queries)
  }

  def run(spark0: SparkSession, a: Args, res: Result, tracer: Option[Tracer]): SparkSession = {
    var spark = spark0
    val p = plan(a.seconds)
    // each life consumes its own copy of the inputs
    def gen(r: Int) = generate(s"${a.work}/gen$r", a.seed, p)
    val g0 = gen(0)
    res.mark("generate")
    res.meta("input_hash") = g0.inputHash

    val main = life(spark, g0, p, s"${a.work}/life0", live = true, None, res)
    // set-up: JVM start, session, generation and the previous life, up
    // to the restart whose catch-up is the first timed operation
    res.raw("setup_s") = (main.restartMs - Util.jvmStartMs) / 1e3
    res.raw("catchup_rows") = main.catchupRows
    res.raw("catchup_s") = main.catchupS
    res.raw("catchup_bulk_frac") = main.catchupBulkFrac
    res.raw("ledger") = main.ledger
    res.raw("due_ms") = main.due
    res.raw("wide_before_live") = g0.backlogWide
    res.raw("live_orders") = g0.liveOrders
    res.raw("generator_late_ms") = main.lateness
    main.ok.foreach { case (k, v) => res.check(k, v) }
    res.meta("phases") = Map("setup_s" -> res.raw("setup_s"), "backlog_orders" -> p.backlogOrders,
      "backlog_lines" -> main.catchupRows, "catchup_s" -> main.catchupS,
      "catchup_addBatch_ms" -> main.catchupAddBatchMs, "catchup_triggers" -> main.catchupTriggers,
      "live_slices" -> p.liveSlices, "slice_period_ms" -> p.periodMs,
      "live_orders_per_slice" -> p.ordersPerSlice,
      "live_details_per_slice" -> (g0.details - g0.detailsUpToBacklog) / p.liveSlices)
    res.attempted = p.liveSlices + 1L

    if (a.trace) {
      val t = tracer.get
      val g1 = gen(1)
      res.check("same_seed_same_inputs", g1.inputHash == g0.inputHash)
      val tl = life(spark, g1, p, s"${a.work}/life1", live = true, Some(t), res)
      t.stop()
      val (from, to) = tl.windowMs
      t.sparkLayers(res, from, to)
      tl.queries.foreach { case (n, q) =>
        Util.stageLayers(res, s"topology.$n", q, t.jobsOfQuery(q.id, from, to), (to - from).toDouble)
      }
      val wideP = tl.queries.find(_._1 == "wide").get._2.recentProgress.toSeq
      val dauP = tl.queries.find(_._1 == "dau").get._2.recentProgress.toSeq
      def ops(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
        ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
      res.layers ++= Seq(
        "pipelines.wide.state_rows" -> ops(wideP).map(_.numRowsTotal).sum.toDouble,
        "pipelines.wide.state_mem_mb" -> ops(wideP).map(_.memoryUsedBytes).sum / 1048576.0,
        "pipelines.wide.state_commit_ms" -> Util.median(wideP.filter(_.numInputRows > 0)
          .map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
        "pipelines.wide.rows_dropped_by_watermark" ->
          wideP.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble,
        "pipelines.dau.state_rows" -> ops(dauP).map(_.numRowsTotal).sum.toDouble,
        "pipelines.dau.state_mem_mb" -> ops(dauP).map(_.memoryUsedBytes).sum / 1048576.0,
        "topology.triggers_over_5s" -> tl.queries.map(_._2.recentProgress
          .count(_.durationMs.getOrDefault("triggerExecution", 0L) > 5000)).sum.toDouble,
        "gen.backlog_rows_end" -> tl.backlogEnd.toDouble)
      res.raw("traced_generator_late_ms") = tl.lateness
      res.raw("traced_catchup_s") = tl.catchupS
      // busy trigger time of the live phase: both lives run it warm
      res.layers("topology.catchup_bulk_frac") = main.catchupBulkFrac
      res.layers("trace.overhead_frac") = tl.liveBusyMs / main.liveBusyMs - 1
      tl.ok.foreach { case (k, v) => res.check(s"traced_$k", v) }
      // the single-threaded baseline: the same catch-up on local[1]
      spark.stop()
      spark = Sessions.open(1)
      val l1 = life(spark, gen(2), p, s"${a.work}/life2", live = false, None, res)
      res.layers("scaling.catchup_local1_rows_per_s") = l1.catchupRows / l1.catchupS
      l1.ok.foreach { case (k, v) => res.check(s"local1_$k", v) }
    }
    spark
  }
}
