package graft.tools

import graft.GraftSession
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Per-stage attribution for one gate query: wall, executor cpu,
  * shuffle bytes, task count per stage, plus the driver-side gap
  * (wall not covered by any stage = planning/scheduling). The
  * opt-guide §1 empirical loop without a UI.
  *
  * `sbt "Test/runMain graft.tools.ProfileStages <query> [reps]"`.
  */
object ProfileStages {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession.local("profile-stages")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    case class St(var name: String = "", var tasks: Int = 0, var wallMs: Long = 0,
                  var cpuNs: Long = 0, var runNs: Long = 0, var shRead: Long = 0,
                  var shWrite: Long = 0, var input: Long = 0,
                  var submitted: Long = 0, var completed: Long = 0)
    val stages = mutable.LinkedHashMap.empty[Int, St]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val st = stages.getOrElseUpdate(si.stageId, St())
        st.name = si.name.takeWhile(_ != '\n').take(60)
        st.tasks = si.numTasks
        st.submitted = si.submissionTime.getOrElse(0L)
        st.completed = si.completionTime.getOrElse(0L)
        st.wallMs = st.completed - st.submitted
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val st = stages.getOrElseUpdate(te.stageId, St())
        val m = te.taskMetrics
        if (m != null) {
          st.cpuNs += m.executorCpuTime
          st.runNs += m.executorRunTime * 1000000L
          st.shRead += m.shuffleReadMetrics.totalBytesRead
          st.shWrite += m.shuffleWriteMetrics.bytesWritten
          st.input += m.inputMetrics.bytesRead
        }
      }
    }

    // warm-up at sf0.001 (JIT + codegen), as the bench does
    try graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
    catch { case _: Throwable => () }
    spark.catalog.clearCache()
    graft.sources.ContentStamp.Memo.invalidateAll()

    (1 to reps).foreach { rep =>
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let the listener bus drain
      println(f"\n[stages] ===== $name rep $rep: wall $wall%.3f s =====")
      val sorted = stages.toSeq.sortBy(_._2.submitted)
      var covered = 0L
      var lastEnd = 0L
      sorted.foreach { case (_, s) =>
        val start = math.max(s.submitted, lastEnd)
        if (s.completed > start) covered += s.completed - start
        lastEnd = math.max(lastEnd, s.completed)
      }
      println(f"[stages] stage-covered wall ${covered / 1e3}%.3f s; " +
        f"gaps (driver) ${wall - covered / 1e3}%.3f s; n_stages ${sorted.size}")
      sorted.foreach { case (id, s) =>
        println(f"[stages] $id%4d ${s.wallMs / 1e3}%7.3f s cpu ${s.cpuNs / 1e9}%7.2f " +
          f"run ${s.runNs / 1e9}%7.2f tasks ${s.tasks}%4d " +
          f"in ${s.input / 1e6}%8.1f MB shR ${s.shRead / 1e6}%7.1f shW ${s.shWrite / 1e6}%7.1f  ${s.name}")
      }
      spark.catalog.clearCache()
      graft.sources.ContentStamp.Memo.invalidateAll()
    }
    spark.stop()
  }
}
