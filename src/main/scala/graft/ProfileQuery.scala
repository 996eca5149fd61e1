package graft

import org.apache.spark.scheduler._

/** Optimization-round measurement main (guide §1): run named queries
  * under a listener that records every Spark job's wall, callsite and
  * shuffle/input volume, so a multi-job lifecycle lane (store build +
  * maintain + probe) decomposes into its real spans instead of one
  * opaque wall number. Local-iteration tool only — the bench contract
  * (graft.Bench) is unchanged.
  *
  * Usage: runMain graft.ProfileQuery <sfDir> <queryName> [queryName...]
  */
object ProfileQuery {
  private case class JobRow(id: Int, desc: String, site: String,
                            started: Long, var ended: Long = 0L,
                            var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
                            var input: Long = 0L, var tasks: Int = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val unknown = names.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown: ${unknown.mkString(",")}")
    val spark = Sessions.start(Sessions.builder(Sessions.width(32))
      .config("spark.sql.adaptive.enabled", "true"), "WARN")
    // same warm-up as Bench so span attribution matches bench conditions
    Bench.warmUp(spark, sfDir)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val site = j.stageInfos.headOption.map(_.name).getOrElse("")
        jobs.put(j.jobId, JobRow(j.jobId, desc, site, j.time))
        j.stageIds.foreach(sid => stageToJob.put(sid, j.jobId))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.get(j.jobId)).foreach(_.ended = j.time)
      }
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
        val info = st.stageInfo
        val m = info.taskMetrics
        val owner = stageToJob.get(info.stageId)
        val r = if (m != null) jobs.get(owner) else null
        if (r != null) {
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.input += m.inputMetrics.bytesRead
          r.tasks += info.numTasks
        }
        val wall = (for (a <- info.submissionTime; b <- info.completionTime)
          yield b - a).getOrElse(0L)
        if (wall >= 800 && m != null)
          println(f"      STAGE ${info.stageId}%4d wall ${wall / 1e3}%6.2f s " +
            f"cpu ${m.executorCpuTime / 1e9}%7.2f s run ${m.executorRunTime / 1e3}%7.2f s " +
            f"gc ${m.jvmGCTime / 1e3}%6.2f s deser ${m.executorDeserializeTime / 1e3}%6.2f s " +
            f"t=${info.numTasks}%4d  ${info.name.take(80)}")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "1").toInt
    for (r <- 1 to runs; name <- names) {
      jobs.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain
      val rows = jobs.values().toArray(Array.empty[JobRow]).sortBy(_.id)
      println(f"%n=== $name pass $r: wall $wall%.2f s, ${rows.length} jobs ===")
      val accounted = rows.map(r => math.max(0L, r.ended - r.started)).sum / 1e3
      println(f"    job-time sum $accounted%.2f s (gaps = driver-side work)")
      var lastEnd = 0L
      rows.foreach { j =>
        val dur = math.max(0L, j.ended - j.started) / 1e3
        val gap = if (lastEnd == 0L) 0.0 else math.max(0L, j.started - lastEnd) / 1e3
        lastEnd = math.max(lastEnd, j.ended)
        val label = if (j.desc.nonEmpty) j.desc else j.site
        if (dur >= 0.05 || gap >= 0.05)
          println(f"  [${j.id}%3d] $dur%6.2f s  (gap $gap%5.2f)  in=${j.input / 1048576}%4dMB sr=${j.shuffleRead / 1048576}%4dMB sw=${j.shuffleWrite / 1048576}%4dMB t=${j.tasks}%4d  ${label.take(110)}")
      }
    }
    spark.stop()
  }
}
