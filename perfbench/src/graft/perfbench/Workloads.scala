package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{Fs, Schemas}
import graft.ingest.{Ingest, IngestQueries}
import graft.reports.Reports
import graft.schemasync.SchemaSync
import graft.state.StateTable
import graft.streaming.StreamingIngest

/** The workloads. Each one sets up (seed load three times, then its
  * own preparation), warms up, measures the number of cycles `seconds`
  * sets, and checks the program's outputs against the generator's model.
  */
object Workloads {

  /** Open-loop landing interval of `stream_maintain`, in seconds: set
    * once so that the seed commit keeps up with headroom on a 4-core
    * host (README.md).
    */
  val StreamInterval = 7.5
  /** Every how many measured cycles `stream_maintain` compacts: the
    * batch after a compaction pays for folding the compacted version.
    */
  val CompactEvery = 2
  /** Seed loads per run; `setup_s` uses their median. */
  val SeedLoads = 3

  /** Cycles a run measures: one per landing interval of `seconds`, on
    * both workloads, so every run of a workload does the same work.
    */
  def measuredCycles(seconds: Double): Int = math.max(1, math.ceil(seconds / StreamInterval).toInt)

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  final case class Stores(root: Path, orders: StateTable, inv: StateTable)

  private val reports: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "revenue_per_product" -> Reports.revenuePerProduct,
    "low_stock" -> ((_: DataFrame, i: DataFrame) => Reports.lowStock(i)),
    "orders_per_month" -> Reports.ordersPerMonth,
    "revenue_per_category" -> Reports.revenuePerCategory,
    "inventory_status" -> ((o: DataFrame, i: DataFrame) => Reports.inventoryStatus(o, i, "1")),
    "most_sold_per_category" -> Reports.mostSoldPerCategory)

  // ---------------------------------------------------------------- shared

  /** Counts version dirs written and their bytes (traced runs only). */
  private final class VersionTracker(ctx: Ctx) {
    private val seen = mutable.HashSet.empty[String]
    def apply(st: StateTable): Unit = if (ctx.trace.enabled) {
      st.history().foreach { v =>
        if (seen.add(st.root + "/" + v)) {
          ctx.res.count("state.versions_written", 1)
          ctx.res.count("state.bytes_written", Gen.dirBytes(java.nio.file.Paths.get(st.root, v)).toDouble)
        }
      }
    }
  }

  /** Land-and-upsert of one CSV dir; returns the commit time. */
  private def upsertCsv(ctx: Ctx, st: StateTable, dir: Path, batch: Long,
      inventories: Boolean = false): Long = {
    ctx.trace.span("state.upsert", batch) {
      val df = ctx.trace.span("ingest.read_csv", batch) {
        if (inventories) Ingest.readInventoriesCsv(ctx.spark, dir.toString)
        else Ingest.readOrdersCsv(ctx.spark, dir.toString)
      }
      st.upsert(df)
    }
    System.nanoTime()
  }

  private def sync(ctx: Ctx, s: Stores): Unit = ctx.trace.span("schemasync.sync") {
    SchemaSync.sync(ctx.spark, s.orders, Schemas.orders, Schemas.ordersKey.toSet)
    SchemaSync.sync(ctx.spark, s.inv, Schemas.inventories, Schemas.inventoriesKey.toSet)
  }: Unit

  /** Sync both stores, then load the catalog and the whole corpus. */
  private def seedLoad(ctx: Ctx, root: Path, corpus: Gen.Staged, inv: Gen.Staged): Stores = {
    val s = Stores(root,
      new StateTable(ctx.spark, root.resolve("orders").toString, Schemas.ordersKey),
      new StateTable(ctx.spark, root.resolve("inventories").toString, Schemas.inventoriesKey))
    sync(ctx, s)
    upsertCsv(ctx, s.inv, inv.dir, -1L, inventories = true)
    upsertCsv(ctx, s.orders, corpus.dir, -1L)
    s
  }

  /** Stage the corpus and catalog (not timed), then seed-load
    * [[SeedLoads]] fresh stores and keep the last.
    */
  private def seed(ctx: Ctx): Stores = {
    val corpus = ctx.gen.corpus()
    val inv = ctx.gen.inventories()
    ctx.res.addInput(corpus.bytes + inv.bytes)
    val stores = (0 until SeedLoads).map { r =>
      val t0 = System.nanoTime()
      val s = ctx.trace.span("setup.seed_load") { seedLoad(ctx, ctx.work.resolve(s"store-$r"), corpus, inv) }
      ctx.res.seedLoadS += since(t0)
      s
    }
    stores.init.foreach(s => Fs.deleteRecursively(s.root))
    stores.last
  }

  /** Run the six reports, one query each, on the stores' current
    * versions; returns each result's rows.
    */
  private def runReports(ctx: Ctx, s: Stores, timed: Boolean): Seq[(String, Array[Row])] =
    reports.map { case (name, f) =>
      val t0 = System.nanoTime()
      val rows = ctx.trace.span(s"reports.$name") {
        val (o, i) = ctx.trace.span("state.current") { (s.orders.current().get, s.inv.current().get) }
        f(o, i).collect()
      }
      if (timed) ctx.res.report(name, since(t0))
      name -> rows
    }

  /** The per-key latest `amount` (max `_seq`) against the model. */
  private def amountsMatch(ctx: Ctx, st: StateTable): Boolean = {
    import ctx.spark.implicits._
    val expected = ctx.gen.latest.toSeq.map { case (k, a) => (k.toString, a) }.toDF("order_id", "want")
    val actual = st.read().get.groupBy(col("order_id"))
      .agg(max_by(col("amount"), col(StateTable.SeqCol)).as("got"))
    val wrong = expected.join(actual, Seq("order_id"), "full_outer")
      .filter(!(col("want") <=> col("got")))
    val n = wrong.count()
    require(n == 0, s"$n keys with a wrong latest amount, e.g. ${wrong.limit(3).collect().mkString(" ")}")
    true
  }

  private def rowCountMatches(ctx: Ctx, st: StateTable): Boolean = {
    val n = st.current().get.count()
    require(n == ctx.gen.expectedRows, s"store holds $n rows, the manifest ${ctx.gen.expectedRows}")
    true
  }

  private def finish(ctx: Ctx, s: Stores): Unit = {
    ctx.res.storeBytes = Gen.dirBytes(s.root)
    ctx.res.liveBytes = Gen.dirBytes(java.nio.file.Paths.get(s.orders.root))
  }

  /** Wraps the measured phase: its wall time, and the collector, CPU
    * and JIT compiler time spent in it.
    */
  private def measured(ctx: Ctx)(f: => Unit): Unit = {
    val gc0 = Trace.gcSeconds()
    val cpu0 = Trace.cpuSeconds()
    val jit0 = Trace.jitSeconds()
    val t0 = System.nanoTime()
    ctx.res.measuring = true
    try ctx.trace.span("run")(f)
    finally ctx.res.measuring = false
    ctx.res.measuredS = since(t0)
    ctx.res.gcS = Trace.gcSeconds() - gc0
    ctx.res.cpuS = Trace.cpuSeconds() - cpu0
    ctx.res.jitS = Trace.jitSeconds() - jit0
  }

  // ------------------------------------------------------ stream_maintain

  /** Open loop: a generator thread lands a small change batch into one
    * landing dir every interval; the system loop drains it
    * (AvailableNow), folds the durable product report, vacuums at the
    * report watermark and compacts on a fixed cadence. While no new
    * batch has landed, the system thread serves the durable report.
    * Freshness runs from a batch's scheduled landing to the commit of
    * the first report version that contains all of it.
    */
  def streamMaintain(ctx: Ctx, seconds: Double): Unit = {
    val res = ctx.res
    val s = ctx.trace.span("setup")(seed(ctx))
    val track = new VersionTracker(ctx)
    val landing = ctx.work.resolve("landing")
    val ckpt = ctx.work.resolve("ckpt").toString
    val reportRoot = s.root.resolve("report").toString
    val interval = StreamInterval

    val t0 = System.nanoTime()
    val report = ctx.trace.span("setup") {
      val r = ctx.trace.span("fold.open") { IngestQueries.reportStoreHandle(ctx.spark, reportRoot) }
      ctx.trace.span("fold.resume") { IngestQueries.resumeReportMaintenance(s.orders, r, Schemas.ordersKey) }
      r
    }
    res.prepS = since(t0)

    var cycles = 0
    var filesDrained = 0
    /** One system cycle; returns (rows drained, report commit time). */
    def cycle(batch: Long): (Long, Long) = {
      val filesBefore = Fs.listDir(landing).size
      val d0 = System.nanoTime()
      val rows = ctx.trace.span("streaming.drain", batch) {
        val q = StreamingIngest.runOrdersIngest(ctx.spark, landing.toString, s.orders, ckpt)
        q.awaitTermination()
        q.recentProgress.map(_.numInputRows).sum
      }
      if (res.measuring) {
        res.ingestS += since(d0)
        res.ingestRows += rows
        res.count("streaming.files_drained", (filesBefore - filesDrained).toDouble)
      }
      filesDrained = filesBefore
      track(s.orders)
      val steps = ctx.trace.span("fold.resume", batch) {
        IngestQueries.resumeReportMaintenance(s.orders, report, Schemas.ordersKey)
      }
      val committed = System.nanoTime()
      track(report)
      res.count("fold.steps", steps.toDouble)
      ctx.trace.span("state.vacuum", batch) {
        val latest = ctx.trace.span("state.history")(s.orders.history().head)
        val wm = IngestQueries.reportWatermark(report, latest)
        val doomed = if (ctx.trace.enabled) s.orders.history().filter(_ < wm) else Nil
        val doomedBytes = doomed.map(v => Gen.dirBytes(java.nio.file.Paths.get(s.orders.root, v))).sum
        val gone = s.orders.vacuumBefore(wm)
        res.count("state.versions_reclaimed", gone.size.toDouble)
        res.count("state.bytes_reclaimed", doomedBytes.toDouble)
      }
      if (res.measuring) {
        cycles += 1
        if (cycles % CompactEvery == 0) {
          ctx.trace.span("state.compact", batch)(s.orders.compact())
          track(s.orders)
        }
        res.cycleS += since(d0)
      }
      (rows, committed)
    }
    /** One read of the durable report, as a dashboard would make it. */
    def serve(): Unit = res.op("serve report") {
      val r0 = System.nanoTime()
      val n = ctx.trace.span("reports.maintained_product") {
        ctx.trace.span("state.current")(report.current().get).collect().length
      }
      if (res.measuring) res.report("maintained_product", since(r0))
      n > 0
    }

    // warm-up: one batch through a full cycle
    val w0 = System.nanoTime()
    ctx.trace.span("setup") {
      val warm = ctx.gen.changes(0.015, 3)
      val bytes = ctx.gen.land(ctx.gen.stage(warm, ctx.gen.root.resolve("stage")), landing)
      res.land(warm, bytes, System.nanoTime(), System.nanoTime())
      cycle(-1L)
      serve()
    }
    res.warmupS = since(w0)

    // the batches are built before the clock starts; landing them is
    // the generator thread's whole job
    val n = measuredCycles(seconds)
    // sizes and file counts cycle through fixed values, so every seed
    // lands the same amount of work
    val batches = (0 until n).map(i => ctx.gen.changes(0.01 + 0.005 * (i % 3), 2 + i % 3))
    val cum = batches.scanLeft(0L)(_ + _.rows).tail
    val landedFiles = new AtomicInteger(0)
    val start = System.nanoTime() + 200000000L
    val due = (0 until n).map(i => start + (i * interval * 1e9).toLong)
    val gen = new Thread(() => {
      batches.zip(due).foreach { case (b, at) =>
        val wait = at - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val g0 = System.nanoTime()
        val files = ctx.trace.span("gen.stage", b.id.toLong)(ctx.gen.stage(b, ctx.gen.root.resolve("stage")))
        res.genStageS.synchronized(res.genStageS += since(g0))
        val bytes = ctx.gen.land(files, landing)
        res.count("landed_bytes", bytes.toDouble)
        res.land(b, bytes, at, System.nanoTime())
        res.genLatenessS.synchronized(res.genLatenessS += (System.nanoTime() - at) / 1e9)
        landedFiles.addAndGet(files.size)
      }
    }, "perfbench-generator")

    measured(ctx) {
      res.count("fold.changed_keys", batches.map(_.changedKeys).sum.toDouble)
      gen.start()
      var done = 0
      var drained = 0L
      var seenFiles = 0
      val deadline = start + ((seconds + 60) * 1e9).toLong
      while (done < n && System.nanoTime() < deadline) {
        // idle until the next batch lands: serve the report meanwhile
        while (landedFiles.get == seenFiles && System.nanoTime() < deadline) serve()
        seenFiles = landedFiles.get
        val (rows, committed) = cycle(done.toLong)
        drained += rows
        while (done < n && cum(done) <= drained) {
          res.freshnessS += (committed - due(done)) / 1e9
          done += 1
        }
      }
      gen.join()
    }
    (0 until n).foreach(i => res.op(s"batch $i")(i < res.freshnessS.size))
    res.op("report equals recompute") {
      val maintained = report.current().get.drop("as_of")
      val recompute = IngestQueries.productShape.report(s.orders.current().get)
      maintained.exceptAll(recompute).isEmpty && recompute.exceptAll(maintained).isEmpty
    }
    res.op("store row count")(rowCountMatches(ctx, s.orders))
    res.op("latest amounts")(amountsMatch(ctx, s.orders))
    finish(ctx, s)
  }

  // ---------------------------------------------------------- batch_rerun

  /** Closed loop over the reference `main.py` flow. A cycle is a round
    * (schema sync, an inventories load and one large re-run order batch:
    * half the keys re-priced plus 5% unseen keys, a 4-file landing dir)
    * followed by the flow's six reports. Warm-up is one report pass, so
    * that every measured round follows one.
    */
  def batchRerun(ctx: Ctx, seconds: Double): Unit = {
    val res = ctx.res
    val s = ctx.trace.span("setup")(seed(ctx))
    val inv = ctx.gen.inventories()
    val track = new VersionTracker(ctx)

    def round(b: Gen.Batch): Unit = {
      sync(ctx, s)
      res.op("inventories load") { upsertCsv(ctx, s.inv, inv.dir, -1L, inventories = true); true }
      res.addInput(inv.bytes)
      res.count("landed_bytes", inv.bytes.toDouble)
      val dir = ctx.work.resolve(s"landing/rerun-${b.id}")
      val bytes = ctx.gen.land(ctx.gen.stage(b, ctx.gen.root.resolve(s"stage/${b.id}")), dir)
      val landed = System.nanoTime()
      res.land(b, bytes, landed, landed)
      res.count("landed_bytes", bytes.toDouble)
      res.op(s"upsert batch ${b.id}") {
        val committed = upsertCsv(ctx, s.orders, dir, b.id.toLong)
        res.freshnessS += (committed - landed) / 1e9
        res.ingestS += (committed - landed) / 1e9
        res.ingestRows += b.rows
        true
      }
      track(s.orders)
    }
    def reports(timed: Boolean): Unit =
      runReports(ctx, s, timed).foreach { case (name, rows) => res.op(name)(rows.nonEmpty) }

    val w0 = System.nanoTime()
    ctx.trace.span("setup")(reports(timed = false))
    res.warmupS = since(w0)
    // the batches are built before the clock starts
    val batches = (0 until measuredCycles(seconds)).map(_ => ctx.gen.rerun(0.5, 0.05, 4))
    measured(ctx) {
      batches.foreach { b => round(b); reports(timed = true) }
    }
    res.op("store row count")(rowCountMatches(ctx, s.orders))
    res.op("latest amounts")(amountsMatch(ctx, s.orders))
    finish(ctx, s)
  }
}
