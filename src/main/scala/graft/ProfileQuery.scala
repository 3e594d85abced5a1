package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-query time accounting for optimization evidence (guide §1):
  * runs a registered query through the noop sink like Bench and
  * prints, per timed run, the wall time split into scheduled-job time
  * (with per-job descriptions) versus driver-side gaps (planning,
  * broadcast builds, collects), plus the stages' summed executor run
  * time — the number that says whether a gate is executor-bound or
  * overhead-bound. Usage:
  * `SPARK_GRAFT_CPUS=32 runMain graft.ProfileQuery <sfDir> <name,name>`
  */
object ProfileQuery {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ProfileQuery <sfDir> <query,query,...>")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "15s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dumpJobs = sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")
    val jobStart = mutable.Map[Int, Long]()
    val jobDesc = mutable.Map[Int, String]()
    val jobs = mutable.Buffer[(Int, Long, Long)]()
    var executorRunMs = 0L
    var executorCpuMs = 0L
    var tasks = 0L
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized {
          jobStart(e.jobId) = System.nanoTime()
          if (dumpJobs) {
            val p = e.properties
            val d = Option(p)
              .flatMap(pp => Option(pp.getProperty(
                "spark.job.description")))
              .orElse(Option(p).flatMap(pp =>
                Option(pp.getProperty("callSite.short"))))
              .orElse(e.stageInfos.lastOption.map(_.name))
              .getOrElse("?")
            jobDesc(e.jobId) = d.take(110)
          }
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        synchronized {
          jobStart.remove(e.jobId).foreach(t0 =>
            jobs += ((e.jobId, t0, System.nanoTime())))
        }
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = synchronized {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          executorRunMs += m.executorRunTime
          executorCpuMs += m.executorCpuTime / 1000000L
        }
        tasks += e.stageInfo.numTasks
      }
    }

    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // one untimed pass: layout builds + JIT, like Bench's warm-up
      try exec(fn(spark, sfDir)) catch {
        case e: Throwable => println(s"WARM FAIL $name: ${e.getMessage}")
      }
      for (run <- 1 to 3) {
        Thread.sleep(200) // let straggler listener events drain
        listener.synchronized { jobs.clear(); jobStart.clear()
          jobDesc.clear(); executorRunMs = 0L; executorCpuMs = 0L; tasks = 0L }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        exec(fn(spark, sfDir))
        val wallS = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        spark.sparkContext.removeSparkListener(listener)
        val (nJobs, jobWallS) = listener.synchronized {
          // union of job intervals (jobs can overlap under AQE)
          val iv = jobs.map(j => (j._2, j._3)).sortBy(_._1)
          var covered = 0L
          var end = Long.MinValue
          iv.foreach { case (a, b) =>
            if (a > end) { covered += b - a; end = b }
            else if (b > end) { covered += b - end; end = b }
          }
          (jobs.size, covered / 1e9)
        }
        println(f"PROFILE $name run=$run wall=$wallS%.3f " +
          f"jobs=$nJobs jobWall=$jobWallS%.3f " +
          f"driverGap=${wallS - jobWallS}%.3f " +
          f"execRun=${executorRunMs / 1e3}%.3f " +
          f"execCpu=${executorCpuMs / 1e3}%.3f tasks=$tasks")
        if (dumpJobs && run == 3) listener.synchronized {
          // timeline: per job, the driver gap since the previous
          // job's end (planning/collect/broadcast time) + job length;
          // a job that starts before an earlier one ends (AQE) has gap 0
          var prevEnd = t0
          jobs.sortBy(_._2).foreach { case (id, a, b) =>
            val gapS = math.max(0L, a - prevEnd) / 1e9
            println(f"  JOB $id%4d gapBefore=$gapS%6.3f " +
              f"len=${(b - a) / 1e9}%6.3f  ${jobDesc.getOrElse(id, "?")}")
            prevEnd = math.max(prevEnd, b)
          }
        }
      }
    }
    spark.stop()
  }
}
