package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one run measured, in raw samples; `run.py` turns it into the
  * metrics. Writes happen from the system thread only, except the
  * generator's own lists.
  */
final class Results {
  var sessionS = 0.0
  val seedLoadS = ArrayBuffer.empty[Double]
  var prepS = 0.0
  var warmupS = 0.0
  val freshnessS = ArrayBuffer.empty[Double]
  /** One sample per timed report query: its name and seconds. */
  val reportQuery = ArrayBuffer.empty[String]
  val reportS = ArrayBuffer.empty[Double]
  var ingestRows = 0L
  var ingestS = 0.0
  var inputBytes = 0L
  var storeBytes = 0L
  var heapRetainedMb = 0.0
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  var measuredS = 0.0
  var gcS = 0.0
  var cpuS = 0.0
  var jitS = 0.0
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val genLatenessS = ArrayBuffer.empty[Double]
  val genStageS = ArrayBuffer.empty[Double]

  var liveBytes = 0L
  val cycleS = ArrayBuffer.empty[Double]
  /** The generator's manifest: one JSON object per landed batch. */
  val manifest = ArrayBuffer.empty[String]

  val origin: Long = System.nanoTime()

  /** Record a landed batch; times are `System.nanoTime` values. */
  def land(b: Gen.Batch, bytes: Long, due: Long, landed: Long): Unit = synchronized {
    inputBytes += bytes
    manifest += Json.obj("batch" -> b.id.toString, "files" -> b.files.size.toString,
      "rows" -> b.rows.toString, "inserted_rows" -> b.insertedRows.toString,
      "changed_keys" -> b.changedKeys.toString, "bytes" -> bytes.toString,
      "due_s" -> Json.num((due - origin) / 1e9), "landed_s" -> Json.num((landed - origin) / 1e9))
  }

  def report(query: String, seconds: Double): Unit = {
    reportQuery += query
    reportS += seconds
  }

  def addInput(bytes: Long): Unit = synchronized { inputBytes += bytes }
  /** Counts are kept for the measured phase only. */
  @volatile var measuring = false

  def count(name: String, d: Double): Unit =
    if (measuring) counts.synchronized { counts(name) = counts.getOrElse(name, 0.0) + d }

  /** One attempted operation; a throw or a false result is a failure. */
  def op(what: String)(f: => Boolean): Unit = {
    attempted += 1
    val ok = try f catch {
      case scala.util.control.NonFatal(e) =>
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        false
    }
    if (!ok) {
      failed += 1
      if (!errors.lastOption.exists(_.startsWith(what))) errors += s"$what: wrong result"
    }
  }
}

/** `Main <workload> <seed> <seconds> <trace 0|1> <sfDir> <workDir> <inputCache> <out.json>`
  *
  * Runs one workload in this JVM at `local[cores]` and writes the raw
  * samples, the host's JVM facts and (traced) the trace to `out.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, sfDir, workDirS, cacheS, outS) = args
    val cores = sys.env.getOrElse("PERFBENCH_CORES", Runtime.getRuntime.availableProcessors.toString).toInt
    val work = Paths.get(workDirS).toAbsolutePath
    Files.createDirectories(work)
    val trace = new Trace(traceS == "1")
    val res = new Results
    val origin = res.origin

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Logs.suppressBoundedWindowWarn()
    graft.core.Logs.suppressStreamingMainWarns()
    graft.core.Logs.suppressStateStoreNoticeWarns()
    // one trivial job: the session is not started until it has run one
    spark.range(1).count(): Unit
    res.sessionS = (System.nanoTime() - origin) / 1e9
    trace.install(spark)

    runWorkload(workload, secondsS.toDouble,
      Ctx(spark, trace, res, new Gen(spark, sfDir, seedS.toLong, work.resolve("gen"),
        Paths.get(cacheS).toAbsolutePath), work, cores))
    // the generator and its model are unreachable now; a full
    // collection, a pause for Spark's cleaner to drop blocks of
    // unreferenced checkpoints and broadcasts, then the one measured
    System.gc()
    Thread.sleep(1000L)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    res.heapRetainedMb = heap / 1048576.0

    val json = Json.obj(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "session_s" -> Json.num(res.sessionS),
      "seed_load_s" -> Json.nums(res.seedLoadS),
      "prep_s" -> Json.num(res.prepS),
      "warmup_s" -> Json.num(res.warmupS),
      "measured_s" -> Json.num(res.measuredS),
      "freshness_s" -> Json.nums(res.freshnessS),
      "report_query" -> Json.arr(res.reportQuery.map(Json.str)),
      "report_s" -> Json.nums(res.reportS),
      "cycle_s" -> Json.nums(res.cycleS),
      "ingest_rows" -> res.ingestRows.toString,
      "ingest_s" -> Json.num(res.ingestS),
      "input_bytes" -> res.inputBytes.toString,
      "store_bytes" -> res.storeBytes.toString,
      "live_bytes" -> res.liveBytes.toString,
      "heap_retained_mb" -> Json.num(res.heapRetainedMb),
      "gc_s" -> Json.num(res.gcS),
      "cpu_s" -> Json.num(res.cpuS),
      "jit_s" -> Json.num(res.jitS),
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "errors" -> Json.arr(res.errors.map(Json.str)),
      "counts" -> Json.obj(res.counts.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "gen_lateness_s" -> Json.nums(res.genLatenessS),
      "gen_stage_s" -> Json.nums(res.genStageS),
      "manifest" -> Json.arr(res.manifest),
      "trace" -> (if (trace.enabled) trace.toJson(origin) else "null"))
    Files.writeString(Paths.get(outS), json)
    spark.stop()
  }

  /** Runs `workload` on `ctx`; a failure counts as one failed
    * operation. `ctx` (with the generator's copy of the corpus) is not
    * reachable once this returns, so the heap measured after it holds
    * only what the program keeps.
    */
  private def runWorkload(workload: String, seconds: Double, ctx: Ctx): Unit =
    try {
      workload match {
        case "stream_maintain" => Workloads.streamMaintain(ctx, seconds)
        case "batch_rerun" => Workloads.batchRerun(ctx, seconds)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        ctx.res.attempted += 1
        ctx.res.failed += 1
        ctx.res.errors += s"run: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
    }
}

final case class Ctx(spark: SparkSession, trace: Trace, res: Results, gen: Gen,
    work: Path, cores: Int)
