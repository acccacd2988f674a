package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job seen by the listener. `layer` is the source file of the
  * job's call site (`Chunking`, `AppendSink`, ...), which is how the
  * benchmark attributes jobs to the program's modules. */
final class JobRec(val id: Int, val callSite: String, val execution: String,
                   val startMs: Long) {
  var endMs: Long = startMs
  var tasks = 0
  val taskRunS = mutable.ArrayBuffer.empty[Double]
  val taskRecords = mutable.ArrayBuffer.empty[Long]
  /** Set from another job of the same SQL execution when this job's own
    * call site names no source file (adaptive query stages). */
  var inherited: Option[String] = None
  def layer: String = inherited.getOrElse(JobRec.layerOf(callSite))
}

object JobRec {
  private val File = """at ([A-Za-z0-9_$]+)\.scala:\d+""".r.unanchored
  val Unknown = "other"

  def layerOf(callSite: String): String = callSite match {
    case File(f) => f
    case _       => Unknown
  }

  /** Adaptive query stages run on a pool thread, so their call site names no
    * source file. Such a job takes the layer of a job of the same SQL
    * execution that has one, else that of the latest earlier job that has
    * one: the stage ran for the action that came next in the same call. */
  def resolve(jobs: Seq[JobRec]): Unit = {
    val byExec = jobs.filter(j => j.execution.nonEmpty && j.layer != Unknown)
      .groupBy(_.execution).map { case (k, v) => k -> v.head.layer }
    var last: Option[String] = None
    jobs.sortBy(j => (j.startMs, j.id)).foreach { j =>
      if (j.layer == Unknown) j.inherited = byExec.get(j.execution).orElse(last)
      if (j.layer != Unknown) last = Some(j.layer)
    }
  }
}

/** Counters for one traced operation, reset after each. */
final class Window {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  var tasks = 0L
  var taskRunS, taskCpuS, gcS, fetchWaitS = 0.0
  var shuffleWrite, shuffleRead, spill, recordsRead = 0L
  var peakExecMem = 0L
  var planningS = 0.0
  val ruleHits = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var ruleS = 0.0
  var scanS, sortS, aggS, shuffleS = 0.0
}

/** Spark listener plus query-execution listener: the benchmark's only view
  * into the runtime. Both run on Spark's listener bus; [[drain]] waits for
  * it, so a window read after `drain()` holds everything its operation
  * caused. Inactive, both return at once. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile var active = false
  private var w = new Window
  private val stageToJob = mutable.Map.empty[Int, JobRec]
  private val open = mutable.Map.empty[Int, JobRec]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Drain the bus and hand over the counters gathered since the last take. */
  def take(): Window = {
    drain()
    synchronized { swap() }
  }

  private def swap(): Window = {
    val out = w
    w = new Window
    stageToJob.clear()
    open.clear()
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse(e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""))
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .getOrElse("")
    val j = new JobRec(e.jobId, site, exec, e.time)
    e.stageIds.foreach(stageToJob(_) = j)
    open(e.jobId) = j
    w.jobs += j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) synchronized {
    open.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val run = m.executorRunTime / 1e3
      w.tasks += 1
      w.taskRunS += run
      w.taskCpuS += m.executorCpuTime / 1e9
      w.gcS += m.jvmGCTime / 1e3
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.recordsRead += m.inputMetrics.recordsRead
      w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
      stageToJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.taskRunS += run
        j.taskRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) synchronized { record(qe) }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    if (active) synchronized { record(qe) }

  private def record(qe: QueryExecution): Unit = {
    val t = qe.tracker
    w.planningS += t.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
    t.rules.foreach { case (rule, s) =>
      if (rule.startsWith(Probe.RulePackage)) {
        w.ruleHits(rule.stripPrefix(Probe.RulePackage)) += s.numEffectiveInvocations
        w.ruleS += s.totalTimeNs / 1e9
      }
    }
    Probe.nodes(qe.executedPlan).foreach { p =>
      def secs(key: String): Double = p.metrics.get(key).map { m =>
        if (m.metricType == "nsTiming") m.value / 1e9 else m.value / 1e3
      }.getOrElse(0.0)
      w.scanS += secs("scanTime")
      w.sortS += secs("sortTime")
      w.aggS += secs("aggTime")
      w.shuffleS += secs("shuffleWriteTime") + secs("fetchWaitTime")
    }
  }
}

object Probe {
  val RulePackage = "graft.plans."

  /** The optimizer rules the program injects, reported by name. */
  val Rules: Seq[String] = Seq("BandKeysRewrite", "BucketCountsRewrite",
    "CosineFoldRewrite", "DotProductRewrite", "LongDotRewrite",
    "MinHashRewrite", "SumSquaresRewrite", "ZipWithSubtractRewrite")

  /** Every physical node that ran, once: through adaptive plans and query
    * stages, but not into reused exchanges (their work ran elsewhere). */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case _: ReusedExchangeExec    =>
      case other =>
        out += other
        (other.children ++ other.subqueries ++ other.innerChildren.collect {
          case c: SparkPlan => c
        }).foreach(walk)
    }
    walk(root)
    out.toSeq
  }
}
