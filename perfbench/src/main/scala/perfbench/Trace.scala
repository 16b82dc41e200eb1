package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into a layer. `op` is the
  * operation it belongs to; `parent` is the id of the enclosing span, or
  * -1. Times are nanoseconds on the JVM's monotonic clock.
  */
final case class Span(id: Int, name: String, op: String, parent: Int,
    startNs: Long, endNs: Long)

/** Per-operation Spark counters, attributed through the local properties
  * the benchmark sets before each call (`perfbench.op`,
  * `perfbench.phase`) or, for jobs a stream runs on its own thread,
  * through Spark's `streaming.sql.batchId` property.
  */
final class OpCounters {
  var jobs = 0; var buildJobs = 0; var stages = 0; var tasks = 0
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var schedulerDelayMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L
}

/** Records spans in memory and, while attached, counts what Spark's
  * public listeners report. Attach only for a traced run: the untraced
  * run registers nothing.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, String, Long)]
  private var nextId = 0

  val byOp = mutable.LinkedHashMap.empty[String, OpCounters]
  private val stageOp = mutable.HashMap.empty[Int, String]
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private def counters(op: String): OpCounters = byOp.getOrElseUpdate(op, new OpCounters)

  /** Time `body` as a span named `name` of operation `op`. */
  def span[T](name: String, op: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, op, System.nanoTime()) :: open
    try body finally {
      val (_, _, _, t0) = open.head
      open = open.tail
      spans += Span(id, name, op, parent, t0, System.nanoTime())
    }
  }

  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Add a span measured elsewhere, from wall-clock milliseconds (a
    * streaming trigger, from its progress report).
    */
  def addSpan(name: String, op: String, parent: Int, startMs: Long, durMs: Long): Int = {
    val id = nextId; nextId += 1
    val s = startMs * 1000000L + wallToNano
    spans += Span(id, name, op, parent, s, s + durMs * 1000000L)
    id
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty("perfbench.op")))
        .orElse(p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map("b" + _))
        .getOrElse("-")
      val c = counters(op)
      c.jobs += 1
      if (p.flatMap(x => Option(x.getProperty("perfbench.phase"))).contains("build")) c.buildJobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val c = counters(stageOp.getOrElse(e.stageInfo.stageId, "-"))
      c.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = counters(stageOp.getOrElse(e.stageId, "-"))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val info = e.taskInfo
        c.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val ph = qe.tracker.phases
        analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
        optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
        planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Forget the counters (spans are kept for the whole run). */
  def reset(): Unit = {
    drain()
    synchronized {
      byOp.clear(); stageOp.clear(); progress.clear()
      analysisMs = 0; optimizationMs = 0; planningMs = 0
    }
  }

  def total: OpCounters = synchronized {
    val t = new OpCounters
    byOp.values.foreach { c =>
      t.jobs += c.jobs; t.buildJobs += c.buildJobs; t.stages += c.stages
      t.tasks += c.tasks; t.taskRunMs += c.taskRunMs; t.taskCpuNs += c.taskCpuNs
      t.gcMs += c.gcMs; t.schedulerDelayMs += c.schedulerDelayMs
      t.shuffleRead += c.shuffleRead; t.shuffleWrite += c.shuffleWrite; t.spill += c.spill
    }
    t
  }
}
