package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each module, plus the Spark
  * job, stage, planning and streaming-progress events those calls cause.
  *
  * Disabled (the untimed-metric run), [[span]] is a plain call: no clock
  * reads, no local properties, no listeners. Enabled, every span sets
  * the [[SpanProp]] local property, which Spark copies onto each job it
  * submits from that thread (and from threads the call starts), so a job
  * is attributed to the innermost open span of the thread that caused
  * it. Everything is kept in memory and written once by [[toJson]].
  *
  * All times are nanoseconds on the `System.nanoTime` clock; listener
  * event times (epoch milliseconds) are shifted onto it.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val ids = new AtomicLong(0L)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageStats]()
  private val plannings = ArrayBuffer.empty[(Long, Long, Long)]
  private val progress = ArrayBuffer.empty[Progress]
  // epoch-ms → nanoTime: listener events carry wall-clock milliseconds
  private val epochShiftNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def fromEpochMs(ms: Long): Long = ms * 1000000L - epochShiftNs

  def span[A](name: String, batch: Long = -1L)(f: => A): A =
    if (!enabled) f
    else {
      val sc = SparkSession.active.sparkContext
      val id = ids.incrementAndGet()
      val outer = stack.get
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        sc.setLocalProperty(SpanProp, prevProp)
        spans.synchronized {
          spans += Span(id, name, outer.headOption.getOrElse(0L), batch, t0, t1,
            Thread.currentThread().getName)
        }
      }
    }

  /** Register the job/stage, query-execution and streaming-progress
    * listeners. A no-op when disabled.
    */
  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
          .map(_.toLong).getOrElse(0L)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
        jobs.put(e.jobId, Job(e.jobId, fromEpochMs(e.time), span, e.stageIds.size))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.end = fromEpochMs(e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        // the scan node's scope names the file format ("Scan csv …")
        val scopes = si.rddInfos.flatMap(_.scope.map(_.name))
        val csv = scopes.exists(_.startsWith("Scan csv"))
        if (m != null) stages.put(si.stageId, StageStats(
          tasks = si.numTasks,
          busyMs = m.executorRunTime + m.executorDeserializeTime,
          inputRows = m.inputMetrics.recordsRead,
          inputBytes = m.inputMetrics.bytesRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          csv = csv))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases.values
        if (ph.nonEmpty) plannings.synchronized {
          plannings += ((fromEpochMs(ph.map(_.startTimeMs).min),
            fromEpochMs(ph.map(_.endTimeMs).max),
            ph.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L))
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progress.synchronized {
          progress += Progress(System.nanoTime(), e.progress.numInputRows,
            d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L))
        }
      }
    })
  }

  /** The trace as JSON: spans, jobs (with their stages' metrics),
    * planning intervals and streaming progress, on the run's clock with
    * `origin` as zero.
    */
  def toJson(origin: Long): String = {
    def t(ns: Long) = Json.num((ns - origin) / 1e9)
    val sp = spans.synchronized(spans.toList).map { s =>
      Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "batch" -> s.batch.toString, "start" -> t(s.start), "end" -> t(s.end),
        "thread" -> Json.str(s.thread))
    }
    val jb = jobs.values.asScala.toList.sortBy(_.id).filter(_.end > 0).map { j =>
      val st = stageToJob.asScala.collect { case (s, jid) if jid == j.id => s }
        .flatMap(s => Option(stages.get(s))).toList
      Json.obj("id" -> j.id.toString, "span" -> j.span.toString,
        "start" -> t(j.start), "end" -> t(j.end), "stages" -> j.stages.toString,
        "tasks" -> st.map(_.tasks).sum.toString,
        "busy_s" -> Json.num(st.map(_.busyMs).sum / 1e3),
        "input_rows" -> st.map(_.inputRows).sum.toString,
        "input_bytes" -> st.map(_.inputBytes).sum.toString,
        "csv_rows" -> st.filter(_.csv).map(_.inputRows).sum.toString,
        "csv_bytes" -> st.filter(_.csv).map(_.inputBytes).sum.toString,
        "shuffle_bytes" -> st.map(s => s.shuffleWriteBytes + s.shuffleReadBytes).sum.toString)
    }
    val pl = plannings.synchronized(plannings.toList).map { case (a, b, d) =>
      Json.obj("start" -> t(a), "end" -> t(b), "planning_s" -> Json.num(d / 1e9))
    }
    val pr = progress.synchronized(progress.toList).map { p =>
      Json.obj("at" -> t(p.at), "rows" -> p.rows.toString,
        "trigger_s" -> Json.num(p.triggerMs / 1e3), "add_batch_s" -> Json.num(p.addBatchMs / 1e3))
    }
    Json.obj("spans" -> Json.arr(sp), "jobs" -> Json.arr(jb),
      "planning" -> Json.arr(pl), "progress" -> Json.arr(pr))
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, batch: Long,
      start: Long, end: Long, thread: String)
  final case class Job(id: Int, start: Long, span: Long, stages: Int) {
    @volatile var end: Long = -1L
  }
  final case class StageStats(tasks: Int, busyMs: Long, inputRows: Long,
      inputBytes: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long, csv: Boolean)
  final case class Progress(at: Long, rows: Long, triggerMs: Long, addBatchMs: Long)

  /** CPU time of this process, all threads, in seconds. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Accumulated time of the JIT compilers, in seconds. */
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Accumulated collection time of every JVM collector, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

/** Minimal JSON writer: values arrive already rendered. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ", ", "]")
  def nums(vs: Iterable[Double]): String = arr(vs.map(num))
}
