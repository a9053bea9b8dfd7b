package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds; `parent` is -1 for a
  * root span. */
final case class Span(id: Int, parent: Int, name: String, exec: String,
                      query: String, start: Double, var end: Double)

/** In-memory span and counter recorder for the traced run.
  *
  * The harness opens a span per query execution and per phase (parse,
  * compile, ops, exec) and stamps the running thread with the local
  * properties [[Trace.ExecKey]] and [[Trace.PhaseKey]]. Spark jobs, their
  * stages and tasks, streaming micro-batches and the sink's Catalyst
  * phases are attributed through those properties (and, for the sink's
  * QueryExecution, through the drained listener bus), never by time
  * window. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  private val lock = new Object
  val spans = mutable.ArrayBuffer.empty[Span]
  /** (exec id, phase) → counter name → value */
  val counters = mutable.LinkedHashMap.empty[(String, String), mutable.Map[String, Double]]
  private val phaseSpan = mutable.Map.empty[(String, String), Int]
  private val queryOf = mutable.Map.empty[String, String]
  private val jobSpan = mutable.Map.empty[Int, (Int, String)]
  private val stageOwner = mutable.Map.empty[Int, (String, String, Int)]
  private val streamOwner = mutable.Map.empty[String, (String, String)]
  @volatile private var currentExec: String = ""

  private val nanoOffset: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs(): Double = System.nanoTime() / 1e6 + nanoOffset

  private def add(key: (String, String), name: String, v: Double): Unit =
    counters.getOrElseUpdate(key, mutable.Map.empty[String, Double])
      .updateWith(name)(o => Some(o.getOrElse(0.0) + v))

  private def open(parent: Int, name: String, exec: String, start: Double): Int =
    lock.synchronized {
      val id = spans.size
      spans += Span(id, parent, name, exec, queryOf.getOrElse(exec, ""), start, start)
      id
    }

  /** Runs `body` as the root span of execution `exec` of query `query`. */
  def query[T](exec: String, query: String)(body: Int => T): T = {
    lock.synchronized(queryOf(exec) = query)
    currentExec = exec
    val id = open(-1, "query", exec, nowMs())
    try body(id)
    finally {
      val end = nowMs()
      lock.synchronized(spans(id).end = end)
    }
  }

  /** Runs `body` as phase span `phase` under the query span `parent`. */
  def phase[T](parent: Int, exec: String, phase: String)(body: => T): T = {
    val id = open(parent, phase, exec, nowMs())
    lock.synchronized(phaseSpan((exec, phase)) = id)
    try body
    finally {
      val end = nowMs()
      lock.synchronized(spans(id).end = end)
    }
  }

  /** Waits for every event posted so far to reach the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty(ExecKey))).getOrElse("")
      val ph = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("")
      if (exec.nonEmpty) lock.synchronized {
        val parent = phaseSpan.getOrElse((exec, ph), -1)
        val id = open(parent, "job", exec, e.time.toDouble)
        jobSpan(e.jobId) = (id, ph)
        e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, (exec, ph, id)))
        add((exec, ph), "jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpan.get(e.jobId).foreach { case (id, ph) =>
        val s = spans(id)
        s.end = e.time.toDouble
        add((s.exec, ph), "job_ms", s.end - s.start)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val info = e.stageInfo
        stageOwner.get(info.stageId).foreach { case (exec, ph, job) =>
          val start = info.submissionTime.getOrElse(0L).toDouble
          val id = open(job, "stage", exec, start)
          spans(id).end = info.completionTime.map(_.toDouble).getOrElse(start)
          add((exec, ph), "stages", 1)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageOwner.get(e.stageId).foreach { case (exec, ph, _) =>
        val k = (exec, ph)
        add(k, "tasks", 1)
        add(k, "task_ms", e.taskInfo.duration.toDouble)
        if (e.reason != org.apache.spark.Success) add(k, "task_failures", 1)
        Option(e.taskMetrics).foreach { m =>
          add(k, "task_cpu_ns", m.executorCpuTime.toDouble)
          add(k, "gc_ms", m.jvmGCTime.toDouble)
          add(k, "input_bytes", m.inputMetrics.bytesRead.toDouble)
          add(k, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(k, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add(k, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add(k, "result_bytes", m.resultSize.toDouble)
          add(k, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
          val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          if (records > 0) add(k, "useful_tasks", 1)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, durationNs: Long): Unit =
      if (isNoopWrite(qe)) lock.synchronized {
        val k = (currentExec, "exec")
        val ph = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          add(k, s"${p}_ms", ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
        }
        val nodes = physicalNodes(qe.executedPlan)
        add(k, "physical_nodes", nodes.size)
        add(k, "exchanges", nodes.count {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike | _: ReusedExchangeExec => true
          case _ => false
        })
        add(k, "smj", nodes.count(_.isInstanceOf[SortMergeJoinExec]))
        add(k, "bhj", nodes.count(_.isInstanceOf[BroadcastHashJoinExec]))
      }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    // Delivered synchronously on the thread that starts the stream, so
    // that thread's local properties name the owning execution.
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val exec = sc.getLocalProperty(ExecKey)
      val ph = sc.getLocalProperty(PhaseKey)
      if (exec != null) lock.synchronized {
        streamOwner(e.id.toString) = (exec, ph)
      }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        streamOwner.get(p.id.toString).foreach { case (exec, ph) =>
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          val id = open(phaseSpan.getOrElse((exec, ph), -1), "stream_batch", exec, start)
          spans(id).end = start + p.batchDuration
          add((exec, ph), "stream_batches", 1)
          add((exec, ph), "stream_batch_ms", p.batchDuration.toDouble)
        }
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(sparkListener)
  }
}

object Trace {
  val ExecKey = "perfbench.exec"
  val PhaseKey = "perfbench.phase"

  /** True for the benchmark's own `write.format("noop")` sink. */
  def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.getClass.getName.contains("NoopTable")
      case _ => false
    }
    case _ => false
  }

  /** Physical operators of an executed plan, looking through adaptive
    * wrappers into the final plan and into subqueries. */
  def physicalNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => physicalNodes(a.executedPlan)
    case s: QueryStageExec => physicalNodes(s.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(physicalNodes)
  }
}
