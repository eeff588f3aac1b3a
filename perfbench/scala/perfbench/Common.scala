package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, work: String, out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("work"), m("out"))
  }
}

/** Everything one run measured, written as one JSON document that
  * `run.py` reduces to the printed result. `raw` carries samples whose
  * arithmetic lives (and is tested) on the Python side; `layers` are
  * the per-layer metrics; `gate` counts operations and failures. */
final class Result {
  val meta = mutable.LinkedHashMap[String, Any]()
  val raw = mutable.LinkedHashMap[String, Any]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val checks = mutable.LinkedHashMap[String, Boolean]()
  var attempted = 0L
  var failed = 0L

  private val timeline = mutable.ArrayBuffer[(String, Double)]()
  meta("timeline_s") = timeline

  def check(name: String, ok: Boolean): Unit = checks(name) = ok

  /** Record that `phase` ended now (seconds since the JVM started). */
  def mark(phase: String): Unit = timeline += phase -> (Util.nowMs - Util.jvmStartMs) / 1e3

  def write(path: String): Unit = {
    val doc = Map("meta" -> meta, "raw" -> raw, "layers" -> layers,
      "gate" -> Map("attempted" -> attempted, "failed" -> failed, "checks" -> checks))
    Util.writeString(path, Util.json.writeValueAsString(doc))
  }
}

object Util {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def nowMs: Long = System.currentTimeMillis()

  /** When this JVM started (epoch ms): set-up times count from here. */
  def jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def writeString(path: String, s: String): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }

  /** Write one generated input file. Inputs reach a stream's source
    * directory only by a rename ([[java.nio.file.Files.move]]), never
    * half-written. */
  def writeLines(dir: String, name: String, lines: Iterable[String]): Unit = {
    val w = new PrintWriter(new File(dir, name), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  /** Peak use of the old generation over the JVM's life, in MB: what
    * the program kept alive past young collections. */
  def oldGenPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old Gen"))
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L)

  /** (commit epoch ms, cumulative input rows) after every trigger. */
  def ledger(q: StreamingQuery): Seq[Seq[Long]] = {
    var cum = 0L
    q.recentProgress.toSeq.map { p =>
      cum += p.numInputRows
      Seq(commitMs(p), cum)
    }
  }

  def cumulativeRows(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  /** Wait until `q` has consumed `rows` input rows in total; false on timeout. */
  def awaitRows(q: StreamingQuery, rows: Long, timeoutMs: Long): Boolean = {
    val deadline = nowMs + timeoutMs
    while (cumulativeRows(q) < rows && nowMs < deadline) {
      q.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
    cumulativeRows(q) >= rows
  }

  def sleepUntil(ms: Long): Unit = {
    val d = ms - nowMs
    if (d > 0) Thread.sleep(d)
  }

  /** Per-trigger figures of one stream stage for the traced run. */
  def stageLayers(res: Result, prefix: String, q: StreamingQuery,
                  jobs: Long, windowMs: Double): Unit = {
    val ps = q.recentProgress.toSeq
    val busy = ps.filter(_.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String) = p.durationMs.getOrDefault(k, 0L).toDouble
    def med(k: String) = median(busy.map(d(_, k)))
    val trig = busy.map(d(_, "triggerExecution"))
    res.layers ++= Seq(
      s"$prefix.triggers" -> busy.size.toDouble,
      s"$prefix.rows_in" -> ps.map(_.numInputRows).sum.toDouble,
      s"$prefix.trigger_p50_ms" -> median(trig),
      s"$prefix.trigger_max_ms" -> (if (trig.isEmpty) 0.0 else trig.max),
      s"$prefix.busy_frac" -> (if (windowMs <= 0) 0.0 else ps.map(d(_, "triggerExecution")).sum / windowMs),
      s"$prefix.addBatch_ms" -> med("addBatch"),
      s"$prefix.queryPlanning_ms" -> med("queryPlanning"),
      s"$prefix.walCommit_ms" -> med("walCommit"),
      s"$prefix.commitOffsets_ms" -> med("commitOffsets"),
      s"$prefix.latestOffset_ms" -> med("latestOffset"),
      s"$prefix.jobs_per_trigger" -> (if (ps.isEmpty) 0.0 else jobs.toDouble / ps.size))
  }
}

/** SHA-256 over generated input, line by line. */
final class Digest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(line: String): Unit = {
    md.update(line.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
  }
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
}

object Trace {
  /** Run `f` inside a span when tracing, plainly otherwise. */
  def within[T](t: Option[Tracer], name: String, key: String = "")(f: => T): T =
    t.fold(f)(_.span(name, key)(f))
}

/** Session handling shared by the workloads: the program's own
  * local-mode session at an explicit core count, with the bench-side
  * settings a measurement needs: enough retained progress for every
  * trigger of a run. */
object Sessions {
  def open(cores: Int): SparkSession = {
    val s = graft.GraftSession.localStreamingCpus("perfbench", cores)
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    s
  }
}
