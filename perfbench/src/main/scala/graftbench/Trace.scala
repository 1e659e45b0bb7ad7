package graftbench

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval: an op, a call into one engine layer, or a Spark
  * job. Times are `System.nanoTime` readings. */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What the Spark scheduler and the query-execution listener saw for
  * one op. */
final class ExecCounters {
  var actions, jobs, stages, tasks, taskFailures = 0L
  var taskRunMs, taskCpuMs, gcMs = 0.0
  var shuffleReadBytes, shuffleWriteBytes, spillBytes, inputBytes, outputBytes = 0L
  var analysisMs, optimizationMs, physicalMs = 0.0
}

/** File-scheme I/O of one op: calls into the filesystem counted by
  * [[CountingFs]], and bytes from Hadoop's `file` storage statistics.
  * The lake's local publish path writes its log through `java.nio`,
  * which neither sees; the end-of-run directory walk is reported beside
  * them for that reason. */
final case class FsStats(readOps: Long, listOps: Long, statusOps: Long, writeOps: Long,
                         bytesRead: Long, bytesWritten: Long) {
  def -(o: FsStats): FsStats = FsStats(readOps - o.readOps, listOps - o.listOps,
    statusOps - o.statusOps, writeOps - o.writeOps, bytesRead - o.bytesRead,
    bytesWritten - o.bytesWritten)
}

object FsStats {
  def now(): FsStats = {
    val st = FileSystem.getGlobalStorageStatistics.get("file")
    def get(k: String): Long =
      if (st == null) 0L else Option(st.getLong(k)).map(_.longValue).getOrElse(0L)
    FsStats(CountingFs.reads.get, CountingFs.lists.get, CountingFs.stats.get,
      CountingFs.writes.get, get("bytesRead"), get("bytesWritten"))
  }
  val zero: FsStats = FsStats(0, 0, 0, 0, 0, 0)
}

/** Records spans from outside the engine: around each op, around each
  * call the benchmark makes into a layer, and (through a SparkListener
  * keyed on a benchmark-owned local property) around every Spark job.
  * Outside `start()`..`stop()` every method only runs its body and no
  * listener is registered. Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var enabled = false

  private var nextId = 0L
  private var current = 0L // innermost open span (driver thread)
  private var currentOp = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  val exec = mutable.Map.empty[Long, ExecCounters]
  val fs = mutable.Map.empty[Long, FsStats]

  // job/stage bookkeeping, written on the listener-bus thread
  private val jobOp = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (op, parent, startNs)
  private val stageOp = mutable.Map.empty[Int, Long]
  // epoch ms -> nanoTime offset, so job times line up with driver spans
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(epochMs: Long): Long = epochMs * 1000000L + nanoOffset

  private def counters(op: Long): ExecCounters = exec.getOrElseUpdate(op, new ExecCounters)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(Tracer.OpKey))).map(_.toLong).getOrElse(0L)
      val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
      jobOp(e.jobId) = (op, parent, toNs(e.time))
      e.stageIds.foreach(s => if (!stageOp.contains(s)) stageOp(s) = op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobOp.remove(e.jobId).foreach { case (op, parent, start) =>
        counters(op).jobs += 1
        Tracer.this.synchronized {
          nextId += 1
          spans += Span(nextId, parent, op, "job", "spark", start, math.max(start, toNs(e.time)))
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op => counters(op).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val c = counters(op)
        c.tasks += 1
        if (!e.taskInfo.successful) c.taskFailures += 1
        Option(e.taskMetrics).foreach { m =>
          c.taskRunMs += m.executorRunTime
          c.taskCpuMs += m.executorCpuTime / 1e6
          c.gcMs += m.jvmGCTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  // Query executions end on the listener-bus thread; the traced loop
  // drains the bus after every op, so `currentOp` still names the op
  // that ran them.
  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = jobListener.synchronized {
      val c = counters(currentOp)
      c.actions += 1
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.physicalMs += ms("planning")
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  def start(): Unit = if (!enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  def stop(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    enabled = false
  }

  def drain(): Unit = org.apache.spark.graftbench.BusDrain(sc)

  private def record[A](name: String, layer: String, op: Long)(body: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val parent = current
    current = id
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      current = parent
      sc.setLocalProperty(Tracer.SpanKey, if (parent == 0L) null else parent.toString)
      synchronized { spans += Span(id, parent, op, name, layer, t0, t1) }
    }
  }

  /** Run one op. Traced: tag its jobs, record its span and the fs
    * counter deltas, then drain the listener bus outside the op's span
    * (the drain counts as tracing overhead). */
  def op[A](opId: Long, name: String)(body: => A): A =
    if (!enabled) body
    else {
      jobListener.synchronized { currentOp = opId }
      sc.setLocalProperty(Tracer.OpKey, opId.toString)
      val f0 = FsStats.now()
      try record(name, "op", opId)(body)
      finally {
        fs(opId) = FsStats.now() - f0
        sc.setLocalProperty(Tracer.OpKey, null)
        drain()
        jobListener.synchronized { currentOp = 0L }
      }
    }

  /** Run one call into an engine layer inside the current op. */
  def call[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body else record(name, layer, currentOp)(body)
}

object Tracer {
  val OpKey = "graftbench.op"
  val SpanKey = "graftbench.span"

  /** Total length of the union of `[s, e)` intervals clipped to
    * `[lo, hi)`, in ns. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
