package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as the scheduler's event timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval. `kind` is iteration, op (one Runner.run or lane),
  * replay (one replayed layer call), small (one limit = 1 run) or job. */
final case class Span(id: Int, parent: Int, iter: Int, name: String, kind: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Bench-side spans, kept in memory and written as JSON lines at the end. */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, String, Double)]
  private var nextId = 1
  var iter = 0

  def apply[T](name: String, kind: String)(body: => T): (T, Span) = {
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(0)
    open.push((id, name, kind, Clock.nowMs))
    var s: Span = null
    val out = try body finally {
      val (_, _, _, start) = open.pop()
      s = Span(id, parent, iter, name, kind, start, Clock.nowMs)
      done += s
    }
    (out, s)
  }

  /** Adds listener-side job spans under the innermost bench span that
    * contains each job's start. */
  def addJobs(jobs: Seq[JobRec]): Unit = {
    val byStart = done.filter(_.kind != "job").sortBy(s => -s.start)
    jobs.foreach { j =>
      val parent = byStart.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(_.ms).headOption
      val id = nextId; nextId += 1
      done += Span(id, parent.map(_.id).getOrElse(0), parent.map(_.iter).getOrElse(-1),
        s"job ${j.id} ${j.module}", "job", j.start, j.end)
    }
  }

  def children(s: Span): Seq[Span] = done.filter(_.parent == s.id).toSeq

  /** Duration minus the part of the interval its children cover. */
  def selfMs(s: Span): Double = s.ms - Spans.unionMs(children(s).map(c => (c.start, c.end)), s.start, s.end)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    done.sortBy(_.start).foreach { s =>
      sb ++= f"""{"id":${s.id},"parent":${s.parent},"iter":${s.iter},"name":${Json.str(s.name)},"kind":"${s.kind}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_ms":${selfMs(s)}%.3f}"""
      sb += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Spans {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

final case class JobRec(id: Int, start: Double, end: Double, module: String)

/** Per-stage task totals, attributed to the job that submitted the stage. */
final class StageAgg {
  var job = -1
  var tasks = 0L
  var runMs = 0L
  var maxRunMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExec = 0L
  var failures = 0L
  var inputBytes = 0L
}

final case class QeRec(end: Double, analysisMs: Double, optimizationMs: Double, planningMs: Double)

/** Engine-side counts over one interval. */
final case class Engine(
    jobs: Int, stages: Int, tasks: Long, taskRunS: Double, taskCpuS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double, peakTaskExecMb: Double,
    taskFailures: Long, executions: Int, analysisS: Double, optimizationS: Double,
    planningS: Double, jobUnionS: Double, jobUnionUnclippedS: Double,
    byModule: Map[String, ModuleCost]) {
  def inputBytes(module: String): Long = byModule.get(module).map(_.inputBytes).getOrElse(0L)
}

/** Jobs, task time, bytes read, and the largest task's share of its
  * widest stage, per module. */
final case class ModuleCost(jobs: Int, taskRunS: Double, maxTaskShare: Double, inputBytes: Long)

/** Bench-side SparkListener + QueryExecutionListener. Jobs are attributed to
  * the program module named by the first `graft.*` frame of their call
  * site; a job submitted from an adaptive-execution or broadcast thread
  * takes the call site of the SQL execution it belongs to. Jobs are
  * attributed to bench spans by start time (one op runs at a time). */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobStart = new ConcurrentHashMap[Int, (Double, String)]
  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val stages = new ConcurrentHashMap[Int, StageAgg]
  private val execSite = new ConcurrentHashMap[Long, String]
  private val qes = new ConcurrentLinkedQueue[QeRec]

  private val Frame = """graft\.(?:pipeline|operators|sources|streaming|functions)\.([A-Za-z0-9]+)""".r

  /** The program module of the call site; "bench" when only the benchmark
    * is on the stack (a lane's final materialisation). */
  private def moduleOf(site: String): Option[String] =
    Option(site).flatMap(s => Frame.findFirstMatchIn(s).map(_.group(1))
      .orElse(if (s.contains("perfbench.")) Some("bench") else None))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.details)
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    val fromExec = exec.flatMap(id => moduleOf(execSite.get(id)))
    val fromStage = j.stageInfos.sortBy(-_.stageId).flatMap(si => moduleOf(si.details)).headOption
    val module = fromExec.orElse(fromStage).getOrElse("other")
    jobStart.put(j.jobId, (j.time.toDouble, module))
    j.stageInfos.foreach { si =>
      stages.computeIfAbsent(si.stageId, _ => new StageAgg).synchronized {
        stages.get(si.stageId).job = j.jobId
      }
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val (start, module) = Option(jobStart.remove(j.jobId)).getOrElse((j.time.toDouble, "other"))
    jobs.add(JobRec(j.jobId, start, j.time.toDouble, module))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val a = stages.computeIfAbsent(t.stageId, _ => new StageAgg)
    a.synchronized {
      a.tasks += 1
      if (t.reason != org.apache.spark.Success) a.failures += 1
      val m = t.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.maxRunMs = math.max(a.maxRunMs, m.executorRunTime)
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val end = if (ph.isEmpty) Clock.nowMs else ph.values.map(_.endTimeMs).max.toDouble
    qes.add(QeRec(end, d("analysis"), d("optimization"), d("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  def allJobs: Seq[JobRec] = jobs.asScala.toSeq

  /** Engine counts for the jobs that started, and the query executions
    * that finished planning, inside [lo, hi]. */
  def engine(lo: Double, hi: Double): Engine = {
    val js = jobs.asScala.filter(j => j.start >= lo && j.start <= hi).toSeq
    val ids = js.map(_.id).toSet
    val moduleOfJob = js.map(j => j.id -> j.module).toMap
    val st = stages.asScala.values.filter(a => ids.contains(a.job)).toSeq
    val q = qes.asScala.filter(r => r.end >= lo && r.end <= hi).toSeq
    val byModule = js.groupBy(_.module).map { case (m, mj) =>
      val ms = st.filter(a => moduleOfJob.get(a.job).contains(m))
      val widest = if (ms.isEmpty) None else Some(ms.maxBy(_.runMs))
      m -> ModuleCost(mj.size, ms.map(_.runMs).sum / 1e3,
        widest.filter(_.runMs > 0).map(w => w.maxRunMs.toDouble / w.runMs).getOrElse(0.0),
        ms.map(_.inputBytes).sum)
    }
    val mb = 1024.0 * 1024.0
    Engine(
      jobs = js.size, stages = st.size, tasks = st.map(_.tasks).sum,
      taskRunS = st.map(_.runMs).sum / 1e3, taskCpuS = st.map(_.cpuNs).sum / 1e9,
      gcS = st.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = st.map(_.shuffleWrite).sum / mb,
      shuffleReadMb = st.map(_.shuffleRead).sum / mb,
      spillMb = st.map(_.spill).sum / mb,
      peakTaskExecMb = if (st.isEmpty) 0.0 else st.map(_.peakExec).max / mb,
      taskFailures = st.map(_.failures).sum,
      executions = q.size, analysisS = q.map(_.analysisMs).sum / 1e3,
      optimizationS = q.map(_.optimizationMs).sum / 1e3,
      planningS = q.map(_.planningMs).sum / 1e3,
      jobUnionS = Spans.unionMs(js.map(j => (j.start, j.end)), lo, hi) / 1e3,
      jobUnionUnclippedS = Spans.unionMs(js.map(j => (j.start, j.end)),
        Double.NegativeInfinity, Double.PositiveInfinity) / 1e3,
      byModule = byModule)
  }
}

/** Host context from /proc: steal share between two samples, load, VmHWM. */
object Host {
  final case class Cpu(total: Long, steal: Long)

  def cpu(): Cpu = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal (guest time is already in user)
      Cpu(v.take(8).sum, if (v.length > 7) v(7) else 0L)
    } finally f.close()
  }

  def stealPct(a: Cpu, b: Cpu): Double =
    if (b.total > a.total) 100.0 * (b.steal - a.steal) / (b.total - a.total) else 0.0

  def load1(): Double = {
    val f = scala.io.Source.fromFile("/proc/loadavg")
    try f.getLines().next().split(" ")(0).toDouble finally f.close()
  }

  def vmHwmMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally f.close()
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
