package perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.sql.PerfbenchSql
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed interval of a trace, on the `System.nanoTime` clock. `kind`
  * is `op` (the trace root: one iteration), `call` (a public engine call
  * the harness makes), `action` (a Spark SQL execution) or `job`. */
final case class Span(id: Long, parent: Long, trace: Long, kind: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Intervals {
  /** Length of the union of `intervals`, each clipped to [lo, hi). */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (overlapping children are counted once). */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - coveredNs(children.map(c => (c.startNs, c.endNs)), span.startNs, span.endNs)
}

/** Per-execution facts read from the executed plan. */
final case class ExecRec(id: Long, planMs: Double, scanFiles: Long, scanBytes: Long,
                         scanRows: Long, tsvBytes: Long, writeFiles: Long, writeBytes: Long,
                         writePath: String)
final case class JobRec(id: Int, span: Long, exec: Long, startMs: Long, endMs: Long)
final case class StageRec(id: Int, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleWriteB: Long, shuffleReadB: Long, spillB: Long)
final case class SqlRec(id: Long, startMs: Long, endMs: Long)

/** What the listeners saw between two [[Probe.take]] calls. */
final case class Batch(execs: Seq[ExecRec], jobs: Seq[JobRec], stages: Seq[StageRec],
                       sqls: Seq[SqlRec], storedB: Long, peakStorageB: Long, rddCount: Int,
                       serB: Long, deserB: Long, diskB: Long)

/** The harness's Spark listener and query-execution listener.
  *
  * Always on (cheap, needed by end-to-end metrics): bytes stored in the
  * block manager, its high-water mark and materialized RDD blocks from
  * block updates, and per-execution scan and write counters from the
  * executed plan.
  * While `traced`, it also keeps jobs, stages and SQL-execution intervals,
  * each job carrying the span id the harness set as a job-local property.
  */
final class Probe extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  @volatile var traced: Boolean = false
  // plan facts wait here until their execution id is known (the query
  // listener and the execution-end event arrive in either order)
  private val pending = mutable.ArrayBuffer.empty[(QueryExecution, ExecRec)]
  private val execOf = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val sqls = mutable.LinkedHashMap.empty[Long, SqlRec]
  private val blockMem = mutable.HashMap.empty[String, Long]
  private var memNow = 0L
  private var memAtStart = 0L
  private var peak = 0L
  // blocks live when the window opened, and blocks stored since (largest
  // memory + disk size seen): the stored total leaves out when an engine
  // release happened to run, so it repeats exactly where the peak does not
  private var liveAtStart = Set.empty[String]
  private val stored = mutable.HashMap.empty[String, Long]
  // rdd block -> (mem, disk, deserialized), largest size seen this window
  private val rddBlocks = mutable.HashMap.empty[RDDBlockId, (Long, Long, Boolean)]

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val key = b.blockId.name
    memNow += b.memSize - blockMem.getOrElse(key, 0L)
    if (b.memSize > 0) blockMem(key) = b.memSize else blockMem.remove(key)
    peak = math.max(peak, memNow)
    if (b.memSize + b.diskSize > 0 && !liveAtStart(key))
      stored(key) = math.max(stored.getOrElse(key, 0L), b.memSize + b.diskSize)
    b.blockId match {
      case r: RDDBlockId if b.memSize + b.diskSize > 0 =>
        val (m, d, _) = rddBlocks.getOrElse(r, (0L, 0L, false))
        rddBlocks(r) = (math.max(m, b.memSize), math.max(d, b.diskSize),
          b.storageLevel.deserialized)
      case _ => ()
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    var scanFiles, scanBytes, scanRows, tsvBytes = 0L
    var writeFiles, writeBytes = 0L
    var writePath = ""
    def m(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    foreach(qe.executedPlan) {
      case s: FileSourceScanExec =>
        scanFiles += m(s, "numFiles"); scanBytes += m(s, "filesSize")
        scanRows += m(s, "numOutputRows")
        s.relation.fileFormat match {
          case f: DataSourceRegister if f.shortName() == "csv" => tsvBytes += m(s, "filesSize")
          case _ => ()
        }
      case w: DataWritingCommandExec =>
        writeFiles += m(w, "numFiles"); writeBytes += m(w, "numOutputBytes")
        w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => writePath = i.outputPath.toString
          case _ => ()
        }
      case _ => ()
    }
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
    synchronized {
      pending += qe -> ExecRec(-1L, planMs, scanFiles, scanBytes, scanRows, tsvBytes,
        writeFiles, writeBytes, writePath)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, prop(Tracer.SpanProperty).map(_.toLong).getOrElse(-1L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) synchronized {
    val i = e.stageInfo
    val t = i.taskMetrics
    if (t != null) stages += StageRec(i.stageId, i.numTasks, t.executorRunTime,
      t.executorCpuTime, t.jvmGCTime, t.shuffleWriteMetrics.bytesWritten,
      t.shuffleReadMetrics.totalBytesRead, t.memoryBytesSpilled + t.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if traced => synchronized {
      sqls(s.executionId) = SqlRec(s.executionId, s.time, s.time) }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      Option(PerfbenchSql.queryExecution(s)).foreach(q => execOf.put(q, s.executionId))
      sqls.get(s.executionId).foreach(r => sqls(s.executionId) = r.copy(endMs = s.time)) }
    case _ => ()
  }

  /** Start a new window: forget what was seen so far. */
  def reset(): Unit = synchronized { take(); () }

  /** Everything seen since the previous call. Call after [[drain]]. */
  def take(): Batch = synchronized {
    val rdd = rddBlocks.toSeq
    val execs = pending.map { case (q, r) =>
      r.copy(id = Option(execOf.get(q)).map(_.longValue).getOrElse(-1L)) }
    val b = Batch(execs.toList, jobs.values.toList, stages.toList, sqls.values.toList,
      stored.values.sum, peak - memAtStart, rdd.map(_._1.rddId).distinct.size,
      rdd.collect { case (_, (m, _, false)) => m }.sum,
      rdd.collect { case (_, (m, _, true)) => m }.sum,
      rdd.map(_._2._2).sum)
    pending.clear(); execOf.clear(); jobs.clear(); stages.clear(); sqls.clear(); rddBlocks.clear()
    stored.clear(); liveAtStart = blockMem.keySet.toSet
    peak = memNow; memAtStart = memNow
    b
  }
}

object Probe {
  def drain(sc: SparkContext): Unit = PerfbenchBus.drain(sc)
}

/** Records the harness's own spans. With tracing off it only runs the
  * body, so untraced timings carry no span bookkeeping. With tracing on,
  * each span's id is set as a job-local property before the body runs, so
  * the listener can link the Spark jobs it causes back to it. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private var next = 1L
  private var stack: List[(Long, Long)] = Nil // (span id, trace id)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var untimedNs = 0L

  /** A listener event time (epoch ms) on the span clock. */
  def msToNs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L

  def span[T](kind: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = next; next += 1
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val trace = stack.headOption.map(_._2).getOrElse(id)
      stack = (id, trace) :: stack
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, trace, kind, name, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty,
          stack.headOption.map(_._1.toString).orNull)
      }
    }

  /** Harness work inside an operation (freeing the previous query's
    * blocks): left out of the operation's time, and with tracing on kept
    * as an `untimed` span that the driver gap leaves out too. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try span("untimed", "harness")(body)
    finally untimedNs += System.nanoTime() - t0
  }

  /** The untimed nanoseconds since the previous call. */
  def takeUntimedNs(): Long = { val n = untimedNs; untimedNs = 0L; n }

  /** Spans for the actions and jobs of `batch`, attached to the harness
    * spans of trace `trace`: a job to the span id it carried, an action to
    * the span of its jobs (or, if it ran none, to the innermost harness
    * span containing it), and a job inside an action to that action. */
  def listenerSpans(trace: Long, batch: Batch): Seq[Span] = {
    val own = spans.filter(_.trace == trace).toSeq
    def innermost(s: Long, e: Long): Long =
      own.filter(o => o.startNs <= s && e <= o.endNs).sortBy(_.durNs).headOption
        .map(_.id).getOrElse(trace)
    val ids = Iterator.from(1).map(i => -(trace * 100000L + i))
    val actionIds = batch.sqls.map(q => q.id -> ids.next()).toMap
    val actions = batch.sqls.map { q =>
      val s = msToNs(q.startMs); val e = msToNs(q.endMs)
      val parent = batch.jobs.find(j => j.exec == q.id && j.span > 0).map(_.span)
        .getOrElse(innermost(s, e))
      Span(actionIds(q.id), parent, trace, "action", s"execution-${q.id}", s, e)
    }
    val jobs = batch.jobs.map { j =>
      val s = msToNs(j.startMs); val e = msToNs(j.endMs)
      val parent = actionIds.getOrElse(j.exec,
        if (j.span > 0) j.span else innermost(s, e))
      Span(ids.next(), parent, trace, "job", s"job-${j.id}", s, e)
    }
    actions ++ jobs
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
