package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch microseconds; `parent` is the
  * id of the span that caused this one (0 for the run itself).
  */
final case class Span(
    id: Long, parent: Long, name: String, kind: String, t0: Double, t1: Double,
    attrs: Map[String, Any])

/** In-memory spans at the benchmark's own call boundaries, plus the Spark
  * events (jobs with their task counters, Catalyst phases of each timed
  * action, streaming progress) that the listeners below turn into spans.
  * Nothing is recorded while `on` is false; the spans are written out
  * once, when the run ends.
  */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[Long](0L)
  private var nextId = 0L
  private val epochOffsetUs = System.currentTimeMillis() * 1e3 - System.nanoTime() / 1e3

  def nowUs: Double = System.nanoTime() / 1e3 + epochOffsetUs

  private def newId(): Long = synchronized { nextId += 1; nextId }

  /** Run `f` inside a span; the span is recorded only while tracing. */
  def span[A](name: String, kind: String, attrs: => Map[String, Any] = Map.empty)(f: Long => A): A =
    if (!on) f(0L)
    else {
      val id = newId()
      val t0 = nowUs
      stack.push(id)
      try f(id)
      finally {
        stack.pop()
        spans.add(Span(id, stack.top, name, kind, t0, nowUs, attrs))
      }
    }

  def record(parent: Long, name: String, kind: String, t0: Double, t1: Double,
      attrs: Map[String, Any]): Unit =
    if (on) spans.add(Span(newId(), parent, name, kind, t0, t1, attrs))

  // ---- Spark listeners, registered only while tracing ----

  import Tracer.StageStats

  private val jobListener = new SparkListener {
    private val jobs = mutable.Map.empty[Int, (String, String, Double, Seq[Int])]
    private val stages = mutable.Map.empty[Int, StageStats]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      jobs(e.jobId) = (props.map(_.getProperty("spark.jobGroup.id")).orNull,
        props.flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse(""),
        e.time * 1e3, e.stageIds)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, StageStats())
      s.tasks += 1
      s.durations += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { case (group, site, t0, stageIds) =>
        val ss = stageIds.flatMap(stages.remove)
        val skew = ss.filter(_.durations.size > 1).map { s =>
          val d = s.durations.sorted
          d.last.toDouble / math.max(1L, d(d.size / 2))
        }
        val parent = Option(group).flatMap(_.stripPrefix("perfbench-").toLongOption).getOrElse(-1L)
        record(parent, s"job-${e.jobId}", "job", t0, e.time * 1e3, Map(
          "group" -> Option(group).getOrElse(""), "site" -> site,
          "stages" -> ss.size, "tasks" -> ss.map(_.tasks).sum,
          "task_ms" -> ss.map(_.taskMs).sum, "gc_ms" -> ss.map(_.gcMs).sum,
          "shuffle_read_b" -> ss.map(_.shuffleRead).sum,
          "shuffle_write_b" -> ss.map(_.shuffleWrite).sum,
          "spill_b" -> ss.map(_.spill).sum,
          "skew" -> (if (skew.isEmpty) 1.0 else skew.max)))
      }
    }
  }

  /** Catalyst phases of every finished query execution. An execution that
    * writes to the fingerprint sink is a timed action: its phases are
    * children of that action's span (whose id the sink carries).
    */
  private val qeListener = new QueryExecutionListener {
    private def onDone(qe: QueryExecution): Unit = {
      val action = qe.logical.collectFirst {
        case w: V2WriteCommand => w.table
      }.collect {
        case r: DataSourceV2Relation if r.table.isInstanceOf[FingerprintTable] =>
          r.table.asInstanceOf[FingerprintTable].op
      }
      val parent = action.flatMap(_.toLongOption).getOrElse(-1L)
      val loads = qe.analyzed.collectLeaves().count(_.isInstanceOf[LogicalRelation])
      qe.tracker.phases.foreach { case (phase, s) =>
        record(parent, phase, "catalyst", s.startTimeMs * 1e3, s.endTimeMs * 1e3,
          Map("action" -> action.isDefined, "loads" -> loads))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      onDone(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      onDone(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli * 1e3 +
          p.durationMs.getOrDefault("triggerExecution", 0L) * 1e3
        record(-1L, s"progress-${p.batchId}", "progress",
          java.time.Instant.parse(p.timestamp).toEpochMilli * 1e3, end,
          Map("batch" -> p.batchId, "rows" -> p.numInputRows, "run_id" -> p.runId.toString) ++
            p.durationMs.asScala.map { case (k, v) => s"ms.$k" -> v.longValue })
      }
    }
  }

  def start(): Unit = {
    on = true
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Listener events arrive on Spark's bus thread; give the last ones time
    * to land before the spans are read.
    */
  private def drain(): Unit = {
    var n = -1
    while (n != spans.size) { n = spans.size; Thread.sleep(300) }
  }

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach { s =>
      out.println(Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "t0" -> s.t0, "t1" -> s.t1, "attrs" -> s.attrs)))
    } finally out.close()
  }
}

object Tracer {
  private final case class StageStats(
      var tasks: Int = 0, var taskMs: Long = 0, var gcMs: Long = 0,
      var shuffleRead: Long = 0, var shuffleWrite: Long = 0, var spill: Long = 0,
      durations: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)
}
