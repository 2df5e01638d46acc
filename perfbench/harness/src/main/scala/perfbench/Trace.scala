package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, FilterExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One wall clock for every record: epoch milliseconds with sub-ms
  * resolution, so harness spans line up with Spark's event times.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans recorded in memory and written out when the run ends. Each
  * span names one public graft call made by the harness; while it is
  * open, the thread's Spark jobs carry the job group `pb:<op>:<name>`.
  * With `enabled` false every call is a plain pass-through.
  */
final class Spans(val enabled: Boolean, runId: String) {
  import Spans.Open
  private val records = ArrayBuffer[Map[String, Any]]()
  private val stack = new ThreadLocal[List[Open]] { override def initialValue(): List[Open] = Nil }
  private var nextId = 0L
  @volatile var sc: SparkContext = _

  private def newId(): Long = synchronized { nextId += 1; nextId }

  private def record(id: Long, parent: Long, name: String, op: Long, start: Double, end: Double): Unit =
    synchronized {
      records += Map("id" -> id, "parent" -> parent, "name" -> name, "op" -> op,
        "start" -> start, "end" -> end, "run" -> runId)
    }

  /** Add a span timed elsewhere; returns its id. */
  def add(name: String, op: Long, parent: Long, start: Double, end: Double): Long = {
    val id = newId()
    record(id, parent, name, op, start, end)
    id
  }

  /** Time `body` as a child of the thread's open span (or a root span
    * of operation `op`).
    */
  def apply[T](name: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val me = Open(newId(), name, outer.headOption.fold(op)(_.op))
      stack.set(me :: outer)
      setGroup(me)
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        stack.set(outer)
        outer.headOption.fold(clearGroup())(setGroup)
        record(me.id, outer.headOption.fold(0L)(_.id), name, me.op, t0, t1)
      }
    }

  private def setGroup(s: Open): Unit =
    if (sc != null) sc.setJobGroup(s"pb:${s.op}:${s.name}", s.name, interruptOnCancel = false)
  private def clearGroup(): Unit = if (sc != null) sc.clearJobGroup()

  def all: Seq[Map[String, Any]] = synchronized(records.toList)
}

object Spans {
  private final case class Open(id: Long, name: String, op: Long)
}

/** A thread's job-group properties, saved and restored around a tagged
  * call — for callbacks on the streaming thread, whose own group the
  * query needs on stop.
  */
object JobGroup {
  private val keys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
  def save(sc: SparkContext): Seq[(String, String)] = keys.map(k => k -> sc.getLocalProperty(k))
  def restore(sc: SparkContext, saved: Seq[(String, String)]): Unit =
    saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  def within[T](sc: SparkContext, group: String)(body: => T): T = {
    val saved = save(sc)
    sc.setJobGroup(group, group, interruptOnCancel = true)
    try body
    finally restore(sc, saved)
  }
}

/** Per-job and per-stage figures from a SparkListener. Stage metrics
  * are the stage's aggregated task metrics; jobs carry their job group.
  */
final class JobListener extends SparkListener {
  private val jobs = ArrayBuffer[Map[String, Any]]()
  private val jobEnds = scala.collection.mutable.Map[Int, Long]()
  private val stages = ArrayBuffer[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String): String = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs += Map("id" -> e.jobId, "start" -> e.time, "group" -> prop("spark.jobGroup.id"),
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnds(e.jobId) = e.time }

  /** Whether a job of this group has started and ended. */
  def ended(group: String): Boolean = synchronized {
    jobs.exists(j => j("group") == group && jobEnds.contains(j("id").asInstanceOf[Int]))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null && si.failureReason.isEmpty) stages += Map(
      "id" -> si.stageId, "tasks" -> si.numTasks,
      "submitted" -> si.submissionTime.getOrElse(0L), "completed" -> si.completionTime.getOrElse(0L),
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_bytes" -> m.inputMetrics.bytesRead, "output_bytes" -> m.outputMetrics.bytesWritten)
  }

  /** Job and stage ids restart with each SparkContext. */
  def clear(): Unit = synchronized { jobs.clear(); jobEnds.clear(); stages.clear() }

  def jobRecords: Seq[Map[String, Any]] = synchronized {
    jobs.toList.map(j => j + ("end" -> jobEnds.getOrElse(j("id").asInstanceOf[Int], -1L)))
  }
  def stageRecords: Seq[Map[String, Any]] = synchronized(stages.toList)
}

/** Planning phases (`QueryExecution.tracker`) and the SQL metrics of
  * each executed query's final plan: scans, the dedup verify filter and
  * file writes.
  */
final class PlanListener extends QueryExecutionListener {
  private val records = ArrayBuffer[Map[String, Any]]()
  private val cachedPlans = scala.collection.mutable.Set[Int]()

  /** A cached relation's plan runs once, in the first query that scans
    * it; count its nodes there only.
    */
  private def firstRun(p: SparkPlan): Boolean = cachedPlans.add(System.identityHashCode(p))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, ok = false)

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Double = phases.get(p).fold(0.0)(_.durationMs.toDouble)
    val at = phases.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    val nodes = PlanNodes.flatten(qe.executedPlan, firstRun)
    def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).fold(0L)(_.value)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    // the jaccard verify is a filter, or the condition of the join
    // that attaches the second token set
    def isVerify(e: Expression): Boolean = e.sql.toLowerCase.contains("jaccard")
    val verify = nodes.collect {
      case f: FilterExec if isVerify(f.condition) => f
      case j: BaseJoinExec if j.condition.exists(isVerify) => j
    }.map(v => (PlanNodes.rowsInto(v), metric(v, "numOutputRows")))
    val writes = nodes.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    val rec = Map[String, Any]("func" -> funcName, "ok" -> ok, "at" -> at,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"),
      "files_read" -> scans.map(metric(_, "numFiles")).sum,
      "bytes_read" -> scans.map(metric(_, "filesSize")).sum,
      "dedup_candidates" -> verify.map(_._1).sum, "dedup_verified" -> verify.map(_._2).sum,
      "files_written" -> writes.map(_.get("numFiles").fold(0L)(_.value)).sum,
      "bytes_written" -> writes.map(_.get("numOutputBytes").fold(0L)(_.value)).sum)
    synchronized(records += rec)
  }

  def all: Seq[Map[String, Any]] = synchronized(records.toList)
}

object PlanNodes {
  /** Every node of an executed plan: through adaptive wrappers, query
    * stages, command results and subqueries; a reused exchange counts
    * once, where it first ran.
    */
  def flatten(p: SparkPlan, firstRun: SparkPlan => Boolean): Seq[SparkPlan] = {
    def go(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case c: CommandResultExec => go(c.commandPhysicalPlan)
      case q: QueryStageExec => q +: go(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case m: InMemoryTableScanExec =>
        m +: (if (firstRun(m.relation.cachedPlan)) go(m.relation.cachedPlan) else Nil)
      case other => other +: (other.children ++ other.subqueries).flatMap(go)
    }
    go(p)
  }

  /** Rows a node consumed: the output rows of the nearest descendant
    * that counts them.
    */
  def rowsInto(p: SparkPlan): Long = (p match {
    case h: HashJoin => Some(if (h.buildSide == BuildRight) h.left else h.right)
    case other => other.children.headOption
  }).fold(0L) { c =>
    val inner = c match {
      case q: QueryStageExec => q.plan
      case other => other
    }
    inner.metrics.get("numOutputRows").fold(rowsInto(inner))(_.value)
  }
}

/** Micro-batch progress as the engine reports it: batch id, input rows
  * and the `durationMs` phases.
  */
final class ProgressListener extends StreamingQueryListener {
  private val progress = ArrayBuffer[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val rec = Map("batch" -> p.batchId, "rows" -> p.numInputRows,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    synchronized(progress += rec)
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[Map[String, Any]] = synchronized(progress.toList)
  def has(batch: Long): Boolean = synchronized(progress.exists(_("batch") == batch))
}

/** All listeners of a traced run, registered on each new session; the
  * job listener keeps only the latest session's jobs and stages.
  */
final class Tracer(val enabled: Boolean, runId: String) {
  val spans = new Spans(enabled, runId)
  val jobs = new JobListener
  val plans = new PlanListener
  val progress = new ProgressListener

  def attach(spark: SparkSession): Unit = {
    spans.sc = spark.sparkContext
    if (enabled) {
      jobs.clear()
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
      spark.streams.addListener(progress)
    }
  }

  /** Wait until the listeners hold every event posted so far, through
    * public hooks only. A one-task marker job runs in its own job group;
    * the shared listener queue delivers events in the order they were
    * posted, so once the job listener has seen the marker end, every
    * earlier job, stage and SQL execution event has reached the job and
    * plan listeners. Stream progress has a queue of its own: wait there
    * for the given batch ids.
    */
  def drain(spark: SparkSession, batches: Seq[Long] = Nil): Unit =
    if (enabled) {
      val sc = spark.sparkContext
      drains += 1
      val group = s"pb:drain:$drains"
      JobGroup.within(sc, group)(sc.parallelize(Seq(1), 1).count())
      await(s"the end of marker job $group")(jobs.ended(group))
      await(s"progress of batches ${batches.mkString(",")}")(batches.forall(progress.has))
    }

  private var drains = 0

  private def await(what: String)(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!done) {
      if (System.nanoTime() > deadline) sys.error(s"listeners did not receive $what in 60 s")
      Thread.sleep(1)
    }
  }

  def dump: Map[String, Any] =
    if (!enabled) Map.empty
    else Map("spans" -> spans.all, "jobs" -> jobs.jobRecords, "stages" -> jobs.stageRecords,
      "plans" -> plans.all, "progress" -> progress.all)
}

object Heap {
  /** Old-generation bytes in use after a full collection. */
  def oldGenAfterGcMb(): Double = {
    System.gc(); System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    pools.map(p => Option(p.getCollectionUsage).fold(0L)(_.getUsed)).sum / 1048576.0
  }
}
