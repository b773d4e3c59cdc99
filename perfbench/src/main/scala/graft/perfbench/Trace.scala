package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** In-memory trace of one benchmark process.
  *
  * Spans are wall-clock intervals around calls into the engine's public
  * functions, opened from the benchmark's own code. While a span is open
  * its name rides on the submitting thread's Spark local properties, so
  * every job records the innermost span that caused it (streaming
  * threads inherit the property from the thread that started the query).
  * Task metrics are summed per job; SQL executions keep the paths they
  * write and read so the reducer can re-attribute whole executions by
  * output directory (lake stages, the connected-components edge stage,
  * scratch writes). Streaming queries' progress reports (one per
  * micro-batch, with its phase durations) are kept as they come.
  * Nothing is written until [[toJson]] at exit.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext

  private val lock = new Object

  private final class JobRec(val id: Int, val span: String, val execId: Long,
      val start: Long) {
    var end: Long = -1L
    val m = new Array[Long](NMetrics)
  }
  private final case class SpanRec(name: String, start: Long, end: Long, iter: Int)
  private final class ExecRec(val id: Long, val start: Long, val writes: String,
      val reads: Seq[String]) {
    var end: Long = -1L
  }

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  private val progress = mutable.ArrayBuffer.empty[String]
  @volatile private var iter = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).getOrElse("")
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = new JobRec(e.jobId, span, exec, e.time)
      e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val tm = e.taskMetrics
      if (tm != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        val m = j.m
        m(CpuNs) += tm.executorCpuTime
        m(RunMs) += tm.executorRunTime
        m(GcMs) += tm.jvmGCTime
        m(ShuffleBytes) += tm.shuffleWriteMetrics.bytesWritten
        m(SpillBytes) += tm.memoryBytesSpilled + tm.diskBytesSpilled
        m(OutBytes) += tm.outputMetrics.bytesWritten
        m(Tasks) += 1
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        val plan = s.physicalPlanDescription
        val writes = WriteRe.findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
        val reads = LocationRe.findAllMatchIn(plan).map(_.group(1)).toSeq.distinct
        execs(s.executionId) = new ExecRec(s.executionId, s.time, writes, reads)
      }
      case x: SparkListenerSQLExecutionEnd => lock.synchronized {
        execs.get(x.executionId).foreach(_.end = x.time)
      }
      case _ => ()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress.json }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  @volatile private var attached = false

  /** Start (or resume) recording. */
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Stop recording; events already queued are still delivered. */
  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchShim.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def setIteration(i: Int): Unit = iter = i

  /** Run `body` inside span `name`. A no-op wrapper while detached. */
  def span[T](name: String)(body: => T): T =
    if (!attached) body
    else {
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, name)
      val s = System.currentTimeMillis()
      try body
      finally {
        val e = System.currentTimeMillis()
        sc.setLocalProperty(SpanKey, prev)
        lock.synchronized { spans += SpanRec(name, s, e, iter) }
      }
    }

  def toJson: JValue = {
    org.apache.spark.PerfbenchShim.drainListenerBus(sc)
    lock.synchronized {
      JObject(
        "spans" -> JArray(spans.toList.map(s => JObject("name" -> JString(s.name),
          "start" -> JLong(s.start), "end" -> JLong(s.end), "iter" -> JLong(s.iter)))),
        "jobs" -> JArray(jobs.values.toList.map(j => JObject(
          "id" -> JLong(j.id), "span" -> JString(j.span), "exec" -> JLong(j.execId),
          "start" -> JLong(j.start), "end" -> JLong(j.end),
          "cpu_ns" -> JLong(j.m(CpuNs)), "run_ms" -> JLong(j.m(RunMs)),
          "gc_ms" -> JLong(j.m(GcMs)), "shuffle_bytes" -> JLong(j.m(ShuffleBytes)),
          "spill_bytes" -> JLong(j.m(SpillBytes)), "out_bytes" -> JLong(j.m(OutBytes)),
          "tasks" -> JLong(j.m(Tasks))))),
        "execs" -> JArray(execs.values.toList.map(x => JObject(
          "id" -> JLong(x.id), "start" -> JLong(x.start), "end" -> JLong(x.end),
          "writes" -> JString(x.writes), "reads" -> JArray(x.reads.toList.map(JString(_)))))),
        "progress" -> JArray(progress.toList.map(parse(_))))
    }
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  private val CpuNs = 0
  private val RunMs = 1
  private val GcMs = 2
  private val ShuffleBytes = 3
  private val SpillBytes = 4
  private val OutBytes = 5
  private val Tasks = 6
  private val NMetrics = 7
  // formatted-mode plan text: the write node's details carry its output
  // path as the first argument; scans name their root paths
  private val WriteRe =
    "(?s)\\) Execute InsertIntoHadoopFsRelationCommand\\s*\\n.*?Arguments: ([^,\\s]+)".r
  private val LocationRe = "Location: \\w+ ?\\[([^\\],\\s]+)".r
}
