package perfbench

/** One benchmark run of one workload, driven by `perfbench/run.py`:
  *
  *   --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *
  * Writes everything it measured to FILE (see [[Result]]) and, when
  * tracing, the span file next to it. Exits non-zero if the workload
  * threw. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val res = new Result
    var spark = Sessions.open(4)
    res.meta ++= Seq(
      "session_start_s" -> (Util.nowMs - Util.jvmStartMs) / 1e3,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "scala_version" -> scala.util.Properties.versionNumberString,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    var code = 0
    try {
      spark = a.workload match {
        case "gmall_stream" => StreamBench.run(spark, a, res, tracer)
        case "ann_serve" => ServeBench.run(spark, a, res, tracer)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      res.raw("peak_rss_mb") = Util.peakRssMb()
      if (a.trace) res.layers("jvm.old_gen_peak_mb") = Util.oldGenPeakMb()
      tracer.foreach { t =>
        res.raw("span_summary") = t.writeSpans(a.out.stripSuffix(".json") + ".spans.jsonl")
      }
    } catch {
      case e: Throwable =>
        val sw = new java.io.StringWriter
        e.printStackTrace(new java.io.PrintWriter(sw))
        res.meta("error") = sw.toString
        code = 1
    }
    res.write(a.out)
    try spark.stop() catch { case _: Throwable => () }
    System.exit(code)
  }
}
