package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev profiling main (optimization guide §1.1 "empirical" loop, headless):
  * runs each named gate twice untimed (JIT/codegen/footer warm-up, mirroring
  * Bench's protocol), then once instrumented, and prints a per-stage table —
  * wall time, task count, executor run time, input/shuffle bytes — so the
  * expensive stage and its cost class (compute vs shuffle vs scheduling) are
  * visible without the UI. Dev-only; never part of the driver contract.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     java -cp ... graft.ProfileGate us3_subject_merge dd17_canonical_pick
  */
object ProfileGate {

  private case class St(name: String, var wallMs: Long = 0, var tasks: Int = 0,
      var runMs: Long = 0, var cpuMs: Long = 0, var shReadMB: Double = 0,
      var shWriteMB: Double = 0, var inputMB: Double = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cores)

    val stages = mutable.LinkedHashMap[Int, St]()
    var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (recording) {
          val si = sc.stageInfo
          val st = St(si.name.takeWhile(_ != '\n'))
          st.wallMs = (for (a <- si.submissionTime; b <- si.completionTime)
            yield b - a).getOrElse(0L)
          st.tasks = si.numTasks
          val m = si.taskMetrics
          st.runMs = m.executorRunTime
          st.cpuMs = m.executorCpuTime / 1000000L
          st.shReadMB = m.shuffleReadMetrics.totalBytesRead / 1e6
          st.shWriteMB = m.shuffleWriteMetrics.bytesWritten / 1e6
          st.inputMB = m.inputMetrics.bytesRead / 1e6
          stages(si.stageId) = st
        }
    })

    for (name <- args) {
      val q = SparkEntry.queries(name)
      // two warm passes (Bench's steady-state protocol)
      (1 to 2).foreach { _ => q(spark, sfDir).count(); graft.Caches.release() }
      stages.clear()
      recording = true
      val t0 = System.nanoTime()
      val n = q(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      recording = false
      graft.Caches.release()
      println(f"===== $name%s rows=$n%d wall=$dt%.3f s  stages=${stages.size}%d =====")
      println(f"${"stageId"}%8s ${"wallMs"}%7s ${"tasks"}%5s ${"runMs"}%7s ${"cpuMs"}%7s ${"inMB"}%8s ${"shRdMB"}%8s ${"shWrMB"}%8s  name")
      val byId = stages.toSeq.sortBy(_._1)
      for ((id, s) <- byId)
        println(f"$id%8d ${s.wallMs}%7d ${s.tasks}%5d ${s.runMs}%7d ${s.cpuMs}%7d ${s.inputMB}%8.1f ${s.shReadMB}%8.1f ${s.shWriteMB}%8.1f  ${s.name}%s")
      val sumWall = byId.map(_._2.wallMs).sum
      println(f"   total stage wall = $sumWall%d ms over ${stages.size}%d stages (gaps = driver/planning time)")
    }
    spark.stop()
  }
}
