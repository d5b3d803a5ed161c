package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Dev-only diagnostics for named registered queries under the
  * [[Harness]] session, one mode per question:
  *  - `stages`: one warm run, then one timed run under a listener that
  *    prints per-job wall time and per-stage task totals (task time,
  *    shuffle read/write bytes, spill), so a query's cost can be
  *    attributed to its jobs/stages without the Spark UI.
  *  - `time`: 3 back-to-back runs and their wall times, the first one
  *    cold — one query's behavior without the full Bench protocol.
  *  - `explain`: the formatted physical plan, to audit the scale
  *    properties (pushdown, pruning, broadcast, codegen spans).
  *
  * Usage: runMain graft.Profile <stages|time|explain> <sfDir> <query>...
  */
object Profile {
  private val usage =
    "usage: Profile <stages|time|explain> <sfDir> <query> [<query>...]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 &&
      Set("stages", "time", "explain")(args(0)), usage)
    val mode = args(0)
    val sfDir = args(1)
    val queries = args.drop(2).toSeq.map { name =>
      name -> SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
    }
    val spark = Harness.session(Harness.cpus)
    mode match {
      case "stages" => stageReport(spark, sfDir, queries)
      case "time" => queries.foreach { case (name, q) =>
        val times = Seq.fill(3)(Harness.timeNoop(q(spark, sfDir)))
        println(s"== $name: " + times.map(t => f"$t%.2f").mkString(" ") + " s")
      }
      case "explain" => queries.foreach { case (name, q) =>
        println(s"\n======== $name ========")
        q(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }

  private def stageReport(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    final case class StageAgg(var name: String = "", var tasks: Int = 0,
      var taskMs: Long = 0, var shufReadB: Long = 0, var shufWriteB: Long = 0,
      var inputB: Long = 0, var spillB: Long = 0, var gcMs: Long = 0)
    // listener state is mutated on the listener-bus thread and read on
    // the main thread after a drain; the shared lock gives the read a
    // happens-before edge
    val lock = new Object
    val jobStart = mutable.Map[Int, Long]()
    val jobLines = mutable.ArrayBuffer[String]()
    val stages = mutable.Map[Int, StageAgg]()
    @volatile var collecting = false

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (collecting) {
        lock.synchronized { jobStart(j.jobId) = j.time; () }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (collecting) {
        lock.synchronized {
          val ms = j.time - jobStart.getOrElse(j.jobId, j.time)
          jobLines += f"  job ${j.jobId}%3d  ${ms}%6d ms"
          ()
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (collecting) {
        lock.synchronized {
          val a = stages.getOrElseUpdate(t.stageId, StageAgg())
          a.tasks += 1
          val m = t.taskMetrics
          if (m != null) {
            a.taskMs += m.executorRunTime
            a.gcMs += m.jvmGCTime
            a.shufReadB += m.shuffleReadMetrics.totalBytesRead
            a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
            a.inputB += m.inputMetrics.bytesRead
            a.spillB += m.memoryBytesSpilled
          }
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (collecting) {
          lock.synchronized {
            val a = stages.getOrElseUpdate(s.stageInfo.stageId, StageAgg())
            a.name = s.stageInfo.name.takeWhile(_ != '\n').take(90)
          }
        }
    })

    queries.foreach { case (name, q) =>
      Harness.timeNoop(q(spark, sfDir)) // warm (codegen + landings)
      lock.synchronized { jobStart.clear(); jobLines.clear(); stages.clear() }
      collecting = true
      val wall = Harness.timeNoop(q(spark, sfDir))
      // deterministic drain: every queued listener event lands before
      // collecting flips off and the maps are read
      Harness.drainListeners(spark)
      collecting = false
      lock.synchronized {
        println(f"\n== $name  wall=$wall%.2f s  jobs=${jobLines.size}")
        jobLines.foreach(println)
        val byStage = stages.toSeq.sortBy(-_._2.taskMs).take(14)
        byStage.foreach { case (sid, a) =>
          println(f"  stage $sid%4d tasks=${a.tasks}%3d task=${a.taskMs}%6d ms " +
            f"gc=${a.gcMs}%4d in=${a.inputB / 1024}%6d K sr=${a.shufReadB / 1024}%6d K " +
            f"sw=${a.shufWriteB / 1024}%6d K spill=${a.spillB / 1024}%5d K  ${a.name}")
        }
      }
    }
  }
}
