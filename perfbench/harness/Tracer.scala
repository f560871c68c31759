package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters for one op, filled by the listeners between two
  * listener-bus drains. Listener callbacks arrive on several bus
  * threads, so every update holds the instance lock.
  */
final class Layers {
  var jobs, stages, tasks, executions = 0L
  var analysisMs, optimizationMs, planningMs, loadMs = 0.0
  var taskRunMs, taskCpuMs, taskGcMs = 0.0
  var scanBytes, scanRows, writeBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var streamQueries, batches, inputRows, stateRows = 0L
  var triggerMs, addBatchMs, queryPlanningMs, walCommitMs, commitOffsetsMs = 0.0
  /** (submission, completion) of each job, epoch ms. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall covered by the union of the intervals of the jobs submitted
    * at or after `fromMs`.
    */
  def inJobMs(fromMs: Long = Long.MinValue): Double =
    Spans.covered(jobIntervals.filter(_._1 >= fromMs).toSeq).toDouble
}

/** Listens on the Spark, SQL-execution and streaming buses and charges
  * every event to the op running when it was posted: ops run one at a
  * time, and the harness drains the bus after each traced op before
  * swapping the counters out. Stream micro-batch jobs (which run under
  * their stream's own job group) and progress events therefore land in
  * the op that started the stream.
  */
final class Tracer extends SparkListener {
  @volatile private var cur = new Layers
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  /** The counters gathered since the last call; the bus must be drained. */
  def harvest(): Layers = { val l = cur; cur = new Layers; l }

  private def add(f: Layers => Unit): Unit = { val l = cur; l.synchronized(f(l)) }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    openJobs.put(e.jobId, e.time)
    add(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(openJobs.remove(e.jobId)).foreach(t0 => add(_.jobIntervals += ((t0.longValue, e.time))))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = add(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    add { l =>
      l.tasks += 1
      if (m != null) {
        l.taskRunMs += m.executorRunTime
        l.taskCpuMs += m.executorCpuTime / 1e6
        l.taskGcMs += m.jvmGCTime
        l.scanBytes += m.inputMetrics.bytesRead
        l.scanRows += m.inputMetrics.recordsRead
        l.writeBytes += m.outputMetrics.bytesWritten
        l.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        l.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        l.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Catalyst phase times of every SQL execution, and the wall of the
    * ones that write files (a noop-sink write is not a load).
    */
  val sql: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val writes = Tracer.writesFiles(qe)
      add { l =>
        l.executions += 1
        l.analysisMs += ms("analysis")
        l.optimizationMs += ms("optimization")
        l.planningMs += ms("planning")
        if (writes) l.loadMs += durationNs / 1e6
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      add(_.streamQueries += 1)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add { l =>
        l.batches += 1
        l.triggerMs += ms("triggerExecution")
        l.addBatchMs += ms("addBatch")
        l.queryPlanningMs += ms("queryPlanning")
        l.walCommitMs += ms("walCommit")
        l.commitOffsetsMs += ms("commitOffsets")
        l.inputRows += p.numInputRows
        l.stateRows += p.stateOperators.map(_.numRowsTotal).sum
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(sql)
    spark.streams.addListener(streams)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(sql)
    spark.streams.removeListener(streams)
  }
}

object Tracer {
  private val fileWriteNodes = Set("InsertIntoHadoopFsRelationCommand",
    "CreateDataSourceTableAsSelectCommand", "InsertIntoDataSourceCommand",
    "SaveIntoDataSourceCommand", "WriteFiles")

  def writesFiles(qe: QueryExecution): Boolean = {
    val names = mutable.Set.empty[String]
    def walk(p: org.apache.spark.sql.catalyst.plans.QueryPlan[_]): Unit = {
      names += p.getClass.getSimpleName
      p.innerChildren.foreach {
        case q: org.apache.spark.sql.catalyst.plans.QueryPlan[_] => walk(q)
        case _ => ()
      }
      p.children.foreach {
        case q: org.apache.spark.sql.catalyst.plans.QueryPlan[_] => walk(q)
        case _ => ()
      }
    }
    try walk(qe.commandExecuted) catch { case _: Throwable => () }
    names.exists(fileWriteNodes.contains)
  }
}

/** One node of the run's span tree (run → setup call or pass → op →
  * construct / execute). Kept in memory and written when the run ends.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startNs: Long, var endNs: Long = 0L)

final class Spans(t0: Long) {
  private val all = mutable.ArrayBuffer.empty[Span]

  def open(parent: Int, kind: String, name: String): Span = {
    val s = Span(all.size, parent, kind, name, System.nanoTime())
    all += s
    s
  }

  def close(s: Span): Unit = s.endNs = System.nanoTime()

  def add(parent: Int, kind: String, name: String, startNs: Long, endNs: Long): Unit =
    all += Span(all.size, parent, kind, name, startNs, endNs)

  def timed[T](parent: Int, kind: String, name: String)(body: Span => T): T = {
    val s = open(parent, kind, name)
    try body(s) finally close(s)
  }

  /** JSON array of spans with start/end relative to the run start and
    * self time = duration minus the union of the children's intervals.
    */
  def toJson: String = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Spans.covered(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq)
      val dur = s.endNs - s.startNs
      f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"dur_ms":${dur / 1e6}%.3f,""" +
        f""""self_ms":${(dur - covered) / 1e6}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Spans {
  /** Length of the union of [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }
}
