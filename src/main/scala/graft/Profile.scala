package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Local iteration aid (guide §1: measure first): per-JOB wall-clock
  * breakdown of one or more registry queries. The lifecycle
  * certificates (q161–q177) are many sequential Spark jobs — store
  * round-trips, streaming drains, CDC folds, certificate legs — and
  * `explain` on the judged artifact shows only the last of them, so
  * optimizing the family needs the empirical per-job view: which
  * construction step actually carries the seconds.
  *
  * Usage: `sbt "runMain graft.Profile q167_durable_report_resume ..."`
  * (env `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` as in [[Bench]]).
  * Each query runs once untimed (JIT + page-cache + staging warmup,
  * Bench's protocol), then once with a listener attached; the report
  * lists every job with its duration and call site, so a hot building
  * block reads directly off the table. Never run by the driver; prints
  * no contract line. A job of an SQL execution is sited where the
  * program started that execution: adaptive execution submits
  * query-stage jobs from a thread pool, whose own call site names no
  * program line.
  */
object Profile {
  private val Frame = """([^(]*)\((.*)\)""".r

  /** Where the program started SQL execution `e`, in the form of
    * Spark's short call site (`<last Spark method> at <file:line>`),
    * read off `e.details` — the call stack, Spark's last frame first,
    * then the program's.
    */
  private def executionSite(e: SparkListenerSQLExecutionStart): String =
    e.details.linesIterator.take(2).toList match {
      case List(Frame(method, _), Frame(_, at)) => s"${method.split('.').last} at $at"
      case _ => e.description
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Logs.suppressBoundedWindowWarn()
    graft.core.Logs.suppressStreamingMainWarns()
    graft.core.Logs.suppressStateStoreNoticeWarns()

    val names = if (args.nonEmpty) args.toSeq else Bench.headline
    require(names.forall(SparkEntry.queries.contains),
      s"unknown queries: ${names.filterNot(SparkEntry.queries.contains).mkString(", ")}")

    final case class Job(id: Int, start: Long, var end: Long = -1L,
        site: String = "", desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val executionSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    @volatile var recording = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executionSites.put(s.executionId, executionSite(s)): Unit
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = if (recording) {
        val p = Option(js.properties)
        val site = p.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(executionSites.get(id.toLong)))
          .orElse(js.stageInfos.lastOption.map(_.name)).getOrElse("?")
        val stages = js.stageInfos.map(si => s"${si.name.takeWhile(_ != ' ')}:${si.numTasks}").mkString("+")
        val desc = p.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(js.jobId, Job(js.jobId, js.time,
          site = s"$site [$stages]", desc = desc)): Unit
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.end = je.time
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      // warmup (staging memoization + JIT), result discarded
      try SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => println(s"[profile] $name warmup failed: ${e.getMessage}") }
      graft.core.Staging.sweepInvocationDirs(): Unit
      jobs.clear()
      executionSites.clear()
      recording = true
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => println(s"[profile] $name failed: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      recording = false
      graft.core.Staging.sweepInvocationDirs(): Unit
      // listener events are posted async; give the bus a beat
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val done = jobs.values.asScala.toSeq.sortBy(_.start)
      val totalJob = done.filter(_.end > 0).map(j => (j.end - j.start) / 1e3).sum
      println(f"%n[profile] $name wall=$wall%.2fs jobs=${done.size} jobTime=$totalJob%.2fs (gaps=${wall - totalJob}%.2fs driver/planning)")
      // start offset (relative to the first job) makes §2.6 overlap
      // visible: two jobs whose [off, off+dur] ranges intersect ran
      // concurrently — without it a job table cannot distinguish
      // pipelined legs from sequential ones
      val t0Job = done.headOption.map(_.start).getOrElse(0L)
      done.foreach { j =>
        val d = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
        val off = (j.start - t0Job) / 1e3
        // the job description (a lifecycle step's `<prefix>/<step>`)
        // next to the call site
        val tag = if (j.desc.nonEmpty) s"${j.desc}  ${j.site}" else j.site
        println(f"[profile]   @$off%7.3fs ${d}%7.3fs  job=${j.id}%4d  $tag")
      }
    }
    spark.stop()
  }
}
