package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own code. `parent` is the id of
  * the enclosing span (0 for the run itself). */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** In-memory span recorder; written out once, at the end of a run. Times
  * are milliseconds since the recorder was created. */
final class Spans {
  private val t0 = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 1
  def nowMs: Double = (System.nanoTime() - t0) / 1e6
  def add(parent: Int, name: String, startMs: Double, endMs: Double): Int = {
    val id = next
    next += 1
    buf += Span(id, parent, name, startMs, endMs)
    id
  }
  /** Close a span opened with an unknown end. */
  def end(id: Int, endMs: Double): Unit = {
    val i = buf.indexWhere(_.id == id)
    buf(i) = buf(i).copy(endMs = endMs)
  }
  def json: Seq[Map[String, Any]] = buf.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
    "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}

/** Streaming progress, stamped with the wall clock (epoch ms) at which the
  * benchmark received it. */
final case class Progress(batchId: Long, receivedMs: Long, inputRows: Long,
    durationMs: Map[String, Long])

/** Scheduler / executor / Catalyst / streaming counters, fed by the
  * benchmark's own listeners. Jobs are attributed to a scope through the
  * `perfbench.scope` local property set on the driver thread before each
  * call into the program, so work launched inside plan construction
  * (eager counts, collects, pins) is told apart from the final consume. */
final class Layers(spark: SparkSession) {
  import Layers._

  final class Totals {
    val jobs, stages, tasks = new LongAdder
    val delayMs, runMs, cpuNs, gcMs, shuffleWriteB, spillB = new LongAdder
  }
  private val byScope = new java.util.concurrent.ConcurrentHashMap[String, Totals]()
  def totals(scope: String): Totals = byScope.computeIfAbsent(scope, _ => new Totals)
  def scopes: Map[String, Totals] = byScope.asScala.toMap

  private val stageScope = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val events = new AtomicLong() // every delivered event, for bus-quiescence

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val scope = Option(e.properties).flatMap(p => Option(p.getProperty(ScopeKey))).getOrElse("other")
      e.stageIds.foreach(stageScope.put(_, scope))
      totals(scope).jobs.increment()
      events.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      totals(stageScope.getOrDefault(e.stageInfo.stageId, "other")).stages.increment()
      events.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = totals(stageScope.getOrDefault(e.stageId, "other"))
      t.tasks.increment()
      Option(e.taskMetrics).foreach { m =>
        t.runMs.add(m.executorRunTime)
        t.cpuNs.add(m.executorCpuTime)
        t.gcMs.add(m.jvmGCTime)
        t.shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
        t.spillB.add(m.diskBytesSpilled)
        val info = e.taskInfo
        if (info != null && info.finishTime > 0)
          t.delayMs.add(math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime))
      }
      events.incrementAndGet()
    }
  }

  /** Catalyst phase times (ms) of every finished query execution, in
    * delivery order. */
  val executions = new ConcurrentLinkedQueue[Map[String, Long]]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      executions.add(qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) })
      events.incrementAndGet()
    }
  }
  /** Total ms of one Catalyst phase over the executions delivered in
    * `[from, until)`: indices taken from `executions.size` after a
    * `drain()` at each end of a timed region, so probes and checks outside
    * it are not counted. */
  def phaseMs(phase: String, from: Int, until: Int): Long =
    executions.asScala.slice(from, until).map(_.getOrElse(phase, 0L)).sum

  val progress = new ConcurrentLinkedQueue[Progress]()
  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(p.batchId, System.currentTimeMillis(), p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      events.incrementAndGet()
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def setScope(scope: String): Unit = spark.sparkContext.setLocalProperty(ScopeKey, scope)

  /** Wait until the async listener bus has been quiet for two polls, so
    * events of the work just finished are counted before a snapshot. */
  def drain(): Unit = {
    var prev = -1L
    var stable = 0
    val deadline = System.currentTimeMillis() + 3000
    while (stable < 2 && System.currentTimeMillis() < deadline) {
      Thread.sleep(15)
      val cur = events.get()
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Layers {
  val ScopeKey = "perfbench.scope"
}
