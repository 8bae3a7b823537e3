package graft

import org.apache.spark.scheduler._

/** Per-job breakdown of one query's wall time (optimization-round probe,
  * guide §1: measure first). Runs the named queries once (after a session
  * warm-up) and prints every Spark job the run submitted — duration,
  * stage count, task count, shuffle bytes — so a multi-stage lane's cost
  * attributes to its actual phases instead of a guess.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.JobProfile q158_tokenizer_audit"
  */
object JobProfile {

  private class JobListener extends SparkListener {
    case class Job(id: Int, desc: String, start: Long, var end: Long = 0L,
        var stages: Int = 0, var tasks: Int = 0, var shuffleWrite: Long = 0L)
    case class Stage(id: Int, jobId: Int, name: String, wallMs: Long,
        tasks: Int, taskTimeMs: Long, shufR: Long, shufW: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs.put(j.jobId, Job(j.jobId, desc, j.time, stages = j.stageInfos.size))
      j.stageInfos.foreach(si => stageJob.put(si.stageId, j.jobId))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      Option(jobs.get(j.jobId)).foreach(_.end = j.time)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val jid = stageJob.getOrDefault(s.stageInfo.stageId, -1)
      Option(jobs.get(jid)).foreach { jb =>
        jb.tasks += s.stageInfo.numTasks
        val m = s.stageInfo.taskMetrics
        if (m != null) jb.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
      val si = s.stageInfo
      val m = si.taskMetrics
      val wall = (for (a <- si.completionTime; b <- si.submissionTime)
        yield a - b).getOrElse(0L)
      stages.put(si.stageId, Stage(si.stageId, jid, si.name.takeWhile(_ != '\n'),
        wall, si.numTasks,
        if (m != null) m.executorRunTime else 0L,
        if (m != null) m.shuffleReadMetrics.totalBytesRead else 0L,
        if (m != null) m.shuffleWriteMetrics.bytesWritten else 0L))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().collect()
    val benchable = SparkEntry.queries ++ Bench.productionLanes
    args.foreach { name =>
      val fn = benchable(name)
      // one discarded warm run absorbs codegen, then the measured run
      Barriers.withBarrierScope(spark) {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      }
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      Barriers.withBarrierScope(spark) {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(l)
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val jobs = l.jobs.values.asScala.toSeq.sortBy(_.id)
      println(f"== $name wall=$wall%.2f s, jobs=${jobs.size}")
      val accounted = jobs.map(j => (j.end - j.start) / 1e3).sum
      println(f"   sum(job wall)=$accounted%.2f s (gaps = driver/planning time)")
      jobs.foreach { j =>
        val d = (j.end - j.start) / 1e3
        if (d >= 0.05) {
          println(f"   job ${j.id}%4d ${d}%7.2f s stages=${j.stages}%3d tasks=${j.tasks}%5d " +
            f"shufW=${j.shuffleWrite / 1e6}%8.2f MB  ${j.desc.take(100)}")
          l.stages.values.asScala.filter(s => s.jobId == j.id && s.wallMs >= 50)
            .toSeq.sortBy(_.id).foreach { s =>
              println(f"      stage ${s.id}%4d ${s.wallMs / 1e3}%6.2f s tasks=${s.tasks}%4d " +
                f"taskTime=${s.taskTimeMs / 1e3}%6.2f s shufR=${s.shufR / 1e6}%7.2f shufW=${s.shufW / 1e6}%7.2f MB  ${s.name.take(60)}")
            }
        }
      }
    }
    spark.stop()
  }
}
