package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Clock shared by the harness and the trace: epoch milliseconds with
  * sub-millisecond resolution (listener events carry epoch ms). */
object Clock {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6
}

/** The traced run's recorder, all from the benchmark's own code:
  * spans around the calls the harness makes into graft, a SparkListener
  * (jobs, stages, tasks, attributed by job group and SQL execution id)
  * and a QueryExecutionListener (Catalyst phase times per execution).
  * Everything is kept in memory and dumped once at the end. Disabled,
  * `span` only runs its body. */
final class Tracer(spark: SparkSession) {
  @volatile private var enabled = false

  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val spanSeq = new AtomicInteger(0)
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = -1 }

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = spanSeq.incrementAndGet()
      val parent = current.get
      current.set(id)
      val start = Clock.ms()
      try body
      finally {
        current.set(parent)
        spans.add(Map("id" -> id, "name" -> name, "parent" -> parent,
          "req" -> req, "start" -> start, "end" -> Clock.ms()))
      }
    }

  private final class Job(val id: Int, val group: String, val exec: String,
      val start: Double) {
    @volatile var end: Double = -1
    var stages, tasks = 0
    var runMs, waitMs, gcMs, shuffleRead, shuffleWrite, spill, records = 0L
    def toMap: Map[String, Any] = synchronized(Map(
      "id" -> id, "group" -> group, "exec" -> exec, "start" -> start,
      "end" -> end, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
      "wait_ms" -> waitMs, "gc_ms" -> gcMs, "shuffle_read" -> shuffleRead,
      "shuffle_write" -> shuffleWrite, "spill" -> spill,
      "records" -> records))
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execs = new ConcurrentLinkedQueue[Map[String, Any]]()
  // QueryExecution.id -> the SQL execution id that jobs carry
  private val sqlIds = new ConcurrentHashMap[Long, String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties)
        .flatMap(p => Option(p.getProperty(k))).getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, prop("spark.jobGroup.id"),
        prop("spark.sql.execution.id"), e.time.toDouble))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    private def job(stage: Int): Option[Job] =
      Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))
    // the event's QueryExecution is private[sql]: read it reflectively
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        end.getClass.getMethod("qe").invoke(end) match {
          case qe: QueryExecution => sqlIds.put(qe.id, end.executionId.toString)
          case _ =>
        }
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      job(e.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) job(e.stageId).foreach { j =>
        val i = e.taskInfo
        // the scheduler delay as Spark's UI defines it
        val wait = math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        j.synchronized {
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.waitMs += wait
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          j.records += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases
      def d(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      execs.add(Map("qe" -> qe.id, "func" -> func, "ok" -> ok,
        "analysis" -> d("analysis"), "optimization" -> d("optimization"),
        "planning" -> d("planning")))
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, ok = false)
  }

  def attach(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    enabled = true
  }

  def detach(): Unit = if (enabled) {
    enabled = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
  }

  /** Let the asynchronous listener buses deliver pending events. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 5e9.toLong
    while (sc.statusTracker.getActiveJobIds().nonEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(300)
  }

  def dump(): Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq,
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(_.toMap),
    "execs" -> execs.asScala.toSeq.map { e =>
      e + ("exec" -> Option(sqlIds.get(e("qe").asInstanceOf[Long])).getOrElse(""))
    })
}
