package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one stage call, summed from the Spark listener events of the
  * jobs that ran under its key. */
final class StageCounters {
  @volatile var jobs = 0
  @volatile var taskMs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L
  /** [start, end] wall-clock millis of each job. */
  val jobSpans = new ConcurrentLinkedQueue[Array[Long]]()
}

/** Span tracer for one run: a pass is a span, each stage call a child span
  * keyed through the local property [[Tracer.StageProp]], each Spark job a
  * child of its stage. Counters live in memory for the current pass only.
  *
  * The tracer is always registered, and `active` gates whether job and task
  * events are recorded, so a traced run can interleave traced and untraced
  * passes and report the overhead. The query listener is always on: it
  * enforces the hygiene rules (every stage ends in a write, no count()
  * action, no scan outside the pass's inputs and outputs). */
final class Tracer(spark: SparkSession, allowedRoots: Seq[String]) {
  @volatile var active = false

  private val counters = new ConcurrentHashMap[String, StageCounters]()
  private val stageKeys = new ConcurrentHashMap[Int, String]()
  private val jobKeys = new ConcurrentHashMap[Int, String]()
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  /** funcName of every finished query action, in completion order. */
  val actions = new ConcurrentLinkedQueue[String]()
  val violations = new ConcurrentLinkedQueue[String]()

  def counter(key: String): StageCounters = counters.computeIfAbsent(key, _ => new StageCounters)
  def resetPass(): Unit = { counters.clear(); stageKeys.clear(); jobKeys.clear(); jobStarts.clear() }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val key = Option(e.properties).map(_.getProperty(Tracer.StageProp)).orNull
      if (key != null) {
        jobKeys.put(e.jobId, key)
        jobStarts.put(e.jobId, e.time)
        e.stageIds.foreach(stageKeys.put(_, key))
        val c = counter(key)
        c.synchronized { c.jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val key = jobKeys.remove(e.jobId)
      val start = jobStarts.remove(e.jobId)
      if (key != null && start != null) counter(key).jobSpans.add(Array(start.longValue, e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val key = stageKeys.get(e.stageId)
      val m = e.taskMetrics
      if (key != null && m != null) {
        val c = counter(key)
        c.synchronized {
          c.taskMs += m.executorRunTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      actions.add(funcName)
      if (funcName == "count") violations.add("count() action")
      qe.analyzed.foreach {
        case l: LogicalRelation =>
          l.catalogTable.foreach(t => violations.add(s"catalog table read: ${t.identifier}"))
          l.relation match {
            case h: HadoopFsRelation =>
              h.location.rootPaths.map(_.toUri.getPath).filterNot(p => allowedRoots.exists(p.startsWith))
                .foreach(p => violations.add(s"scan outside the pass's inputs: $p"))
            case _ =>
          }
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      actions.add(funcName)
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(queryListener)

  /** Wait until every posted listener event has been delivered (query
    * listeners ride the same bus, via SQL execution-end events). */
  def drain(): Unit =
    org.apache.spark.graftbridge.ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
}

object Tracer {
  val StageProp = "graftbench.stage"
  /** Query-listener funcNames of DataFrameWriter sinks. */
  val WriteActions: Set[String] = Set("save", "command", "overwrite", "append", "insertInto", "saveAsTable")

  /** Millis of [from, to] covered by the union of the given spans. */
  def coveredMs(spans: Seq[Array[Long]], from: Long, to: Long): Long = {
    val clipped = spans.map(s => (math.max(s(0), from), math.min(s(1), to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}
