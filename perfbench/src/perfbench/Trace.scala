package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval: `parent` is the id of the enclosing span (0 for an
  * op's root span), `op` the id of the op that caused it. Times are epoch
  * milliseconds with a fractional part, on the same clock as Spark's
  * listener event times. */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
    parent: Long, op: Long)

/** Spans and per-op counters of a traced pass. Spans are kept in memory and
  * written when the run ends. When `enabled` is false every hook is a
  * pass-through, so untraced runs pay one boolean test per call. */
object Trace {
  @volatile var enabled = false
  @volatile var currentOp = 0L
  private var nextId = 1L
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  val spans = mutable.ArrayBuffer.empty[Span]

  /** wall clock in ms with sub-ms resolution, aligned with Spark event times */
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = nowMs()
      try body
      finally {
        val t1 = nowMs()
        stack.set(parents)
        synchronized { spans += Span(id, name, t0, t1, parents.headOption.getOrElse(0L), currentOp) }
      }
    }

  /** Record a span whose interval was measured elsewhere (Spark events). */
  def record(name: String, startMs: Double, endMs: Double, op: Long): Unit =
    synchronized {
      nextId += 1
      spans += Span(nextId, name, startMs, endMs, -1L, op)
    }
}

/** Per-op Spark counters, fed by Spark's public listener interfaces. Jobs
  * carry the op id and the harness phase (`construct` inside the engine
  * entry point, `materialize` for the result action) as local properties
  * set at submission; catalyst phases arrive through the listener bus (or
  * from the benchmark's own materialization of a result) and are credited
  * to the op in flight, which is exact because the bus is
  * drained when the op starts and when it ends, before its output check. */
final class Counters extends SparkListener with QueryExecutionListener {
  final class PerOp {
    var jobs, constructJobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  }
  val ops = mutable.HashMap.empty[Long, PerOp]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long)]
  private val stageOp = mutable.HashMap.empty[Int, Long]

  /** query executions whose phases are counted; weak, so plans are not kept */
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean])

  private def of(op: Long): PerOp = synchronized(ops.getOrElseUpdate(op, new PerOp))

  /** Drains the bus first, so no event from before the op is counted. */
  def attachTo(spark: SparkSession): Unit = {
    Counters.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    Counters.attached = Some(this)
  }

  /** Drains the bus first, so every event of the op is counted. */
  def detachFrom(spark: SparkSession): Unit = {
    Counters.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    Counters.attached = None
  }

  /** Phases of a query the benchmark materialized itself, outside any
    * Dataset action, so no listener reports them. */
  def materialized(qe: QueryExecution): Unit = phases(qe)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Counters.OpKey))).map(_.toLong).getOrElse(0L)
    val c = of(op)
    synchronized {
      jobStart(e.jobId) = (op, e.time)
      e.stageIds.foreach(s => stageOp(s) = op)
      c.jobs += 1
      if (props.flatMap(p => Option(p.getProperty(Counters.PhaseKey))).contains("construct"))
        c.constructJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      of(op).jobIntervals += ((t0.toDouble, e.time.toDouble))
      Trace.record("spark.job", t0.toDouble, e.time.toDouble, op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => of(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageOp.get(e.stageId).foreach { op =>
      val c = of(op)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def phaseMs(qe: QueryExecution, phase: String): Long =
    qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)

  private def phases(qe: QueryExecution): Unit = synchronized {
    if (seen.add(qe)) {
      val c = of(Trace.currentOp)
      c.analysisMs += phaseMs(qe, "analysis")
      c.optimizationMs += phaseMs(qe, "optimization")
      c.planningMs += phaseMs(qe, "planning")
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

object Counters {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** The counters of the traced op in flight, if any. */
  @volatile var attached: Option[Counters] = None

  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.Bridge.drainListenerBus(sc)

  /** Total length of the union of intervals (jobs of one op may overlap). */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
