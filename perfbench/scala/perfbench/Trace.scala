package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval: a bench call into a layer, a stream trigger,
  * or a Spark job. `key` names the slice, batch or query it served. */
final case class Span(id: Long, name: String, startMs: Long, endMs: Long,
                      parent: Long, key: String)

/** The traced run's recorder: a SparkListener (jobs, stages, task
  * metrics) and a StreamingQueryListener (one span per trigger), plus
  * spans the workloads open around their calls into the program. Jobs
  * attach to the stream trigger that ran them through the
  * `sql.streaming.queryId` / `streaming.sql.batchId` job properties, and
  * to a bench span through the job group [[span]] sets. Everything stays
  * in memory until [[writeSpans]]. */
final class Tracer(spark: SparkSession) {
  private final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int],
                               queryId: String, batchId: String, group: String)
  private final case class StageRec(tasks: Int, cpuNs: Long, gcMs: Long, shReadB: Long,
                                    shWriteB: Long, spillB: Long)

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val queryNames = new ConcurrentHashMap[String, String]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds,
        prop("sql.streaming.queryId"), prop("streaming.sql.batchId"), prop("spark.jobGroup.id")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.put(i.stageId, StageRec(i.numTasks, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      add("trigger", start, Util.commitMs(p), -1L, s"${p.id}:${p.batchId}")
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Flush the listener bus and detach both listeners. */
  def stop(): Unit = {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  def nameQuery(queryId: java.util.UUID, name: String): Unit =
    queryNames.put(queryId.toString, name)

  private def add(name: String, start: Long, end: Long, parent: Long, key: String): Long = {
    val id = ids.incrementAndGet()
    spans.synchronized { spans += Span(id, name, start, end, parent, key) }
    id
  }

  /** Time `f` as a span named `name`; Spark jobs it runs on this thread
    * become its children through the job group. */
  def span[T](name: String, key: String = "")(f: => T): T = {
    val id = ids.incrementAndGet()
    val parent = open.get.headOption.getOrElse(-1L)
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(s"span-$id", name)
    open.set(id :: open.get)
    val t = Util.nowMs
    try f finally {
      open.set(open.get.tail)
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevGroup)
      spans.synchronized { spans += Span(id, name, t, Util.nowMs, parent, key) }
    }
  }

  private def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.values.asScala.toSeq.filter(j => j.start >= fromMs && j.start <= toMs)

  def jobsOfQuery(queryId: java.util.UUID, fromMs: Long, toMs: Long): Long =
    jobsIn(fromMs, toMs).count(_.queryId == queryId.toString).toLong

  /** Length of the union of `intervals` clipped to [from, to]. */
  private def coveredMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => a < b }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }

  /** `spark.*` metrics over the jobs that started inside the window. */
  def sparkLayers(res: Result, fromMs: Long, toMs: Long): Unit = {
    val js = jobsIn(fromMs, toMs)
    val st = js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
    res.layers ++= Seq(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "spark.shuffle_read_mb" -> st.map(_.shReadB).sum / 1048576.0,
      "spark.shuffle_write_mb" -> st.map(_.shWriteB).sum / 1048576.0,
      "spark.spill_mb" -> st.map(_.spillB).sum / 1048576.0,
      "spark.driver_gap_s" -> (toMs - fromMs -
        coveredMs(js.map(j => (j.start, if (j.end < 0) toMs else j.end)), fromMs, toMs)) / 1e3)
  }

  /** Write every span as one JSON line, with its self time (its length
    * minus the part of it that child spans cover), and return
    * (count, total ms, self ms) per span name. */
  def writeSpans(path: String): Map[String, Seq[Double]] = {
    // triggers are named after their query only now: a query's first
    // triggers can run before the workload learns its id
    val recorded = spans.synchronized(spans.toList).map { s =>
      if (s.name != "trigger") s
      else s.copy(name = Option(queryNames.get(s.key.takeWhile(_ != ':'))).getOrElse("stream") + ".trigger")
    }
    val byTrigger = recorded.filter(_.name.endsWith(".trigger")).map(s => s.key -> s.id).toMap
    val jobSpans = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val parent =
        if (j.queryId.nonEmpty) byTrigger.getOrElse(s"${j.queryId}:${j.batchId}", -1L)
        else if (j.group.startsWith("span-")) j.group.stripPrefix("span-").toLong
        else -1L
      Span(ids.incrementAndGet(), "spark.job", j.start, math.max(j.start, j.end), parent, j.id.toString)
    }
    val all = recorded ++ jobSpans
    val kids = all.groupBy(_.parent)
    def selfMs(s: Span): Long =
      s.endMs - s.startMs - coveredMs(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)),
        s.startMs, s.endMs)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startMs).foreach { s =>
      w.println(Util.json.writeValueAsString(Map("id" -> s.id, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent,
        "key" -> s.key, "self_ms" -> selfMs(s))))
    } finally w.close()
    all.groupBy(_.name).map { case (n, ss) =>
      n -> Seq(ss.size.toDouble, ss.map(s => (s.endMs - s.startMs).toDouble).sum,
        ss.map(selfMs(_).toDouble).sum)
    }
  }
}
