package graft

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Stage-level profile of a single named query:
  * `runMain graft.ProfileOne <sfDir> <name> [runs]` — runs the query
  * through the same noop-sink path Bench times, with a listener
  * recording every stage's duration, task count, shuffle bytes and
  * callsite, then prints the stages sorted by wall time. The
  * measurement loop behind OPTIMIZATION_r17.md: Bench says WHICH cell
  * is expensive, this says WHERE inside it the time goes (guide §1.1's
  * empirical loop without the UI, which the bench session disables).
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = BenchSession.build()

    final case class St(id: Int, attempt: Int, name: String, details: String,
                        var ms: Long = -1, var tasks: Int = 0,
                        var shufRead: Long = 0, var shufWrite: Long = 0,
                        var input: Long = 0, var spill: Long = 0)
    val stages = mutable.LinkedHashMap.empty[(Int, Int), St]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val st = St(si.stageId, si.attemptNumber(), si.name,
          si.details.linesIterator.toSeq.drop(1).find(l =>
            l.contains("graft.") && !l.contains("ProfileOne")).getOrElse("").trim)
        st.ms = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
        st.tasks = si.numTasks
        val m = si.taskMetrics
        if (m != null) {
          st.shufRead = m.shuffleReadMetrics.totalBytesRead
          st.shufWrite = m.shuffleWriteMetrics.bytesWritten
          st.input = m.inputMetrics.bytesRead
          st.spill = m.memoryBytesSpilled
        }
        stages.synchronized { stages((si.stageId, si.attemptNumber())) = st }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // poll until two consecutive 250 ms samples leave the recorded
    // stage set unchanged — a fixed sleep, or a single equal pair, can
    // drop late completion events when the listener bus stalls on a
    // loaded host (and lets run N-1 stragglers land after the clear)
    def drainListenerBus(): Unit = {
      var cur = stages.synchronized(stages.size)
      var unchanged = 0
      var tries = 0
      while (unchanged < 2 && tries < 20) {
        Thread.sleep(250)
        val next = stages.synchronized(stages.size)
        unchanged = if (next == cur) unchanged + 1 else 0
        cur = next
        tries += 1
      }
    }
    (1 to runs).foreach { i =>
      if (i == runs) { // profile the LAST run: drain stragglers, then clear
        drainListenerBus()
        stages.synchronized(stages.clear())
      }
      val t = BenchSession.timeQuery(spark, name, dir)
      println(f"[profile] $name run $i: $t%.3f s")
    }
    drainListenerBus()

    def mb(b: Long) = f"${b / 1e6}%8.1f"
    val all = stages.synchronized(stages.values.toSeq)
    println(f"[profile] ${all.size} stages, total stage ms ${all.map(_.ms).filter(_ > 0).sum}")
    println(f"${"ms"}%7s ${"tasks"}%5s ${"inMB"}%8s ${"shRdMB"}%8s ${"shWrMB"}%8s ${"spillMB"}%8s  stage (callsite)")
    all.sortBy(-_.ms).take(40).foreach { s =>
      println(f"${s.ms}%7d ${s.tasks}%5d ${mb(s.input)} ${mb(s.shufRead)} ${mb(s.shufWrite)} ${mb(s.spill)}  [${s.id}] ${s.name.take(60)} | ${s.details.take(90)}")
    }
    spark.stop()
  }
}
