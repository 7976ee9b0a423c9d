package graft.ingest

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.TestSpark

/** Guards for the q159 CSV-ingestion certificate beyond the oracle gate.
  * The oracle replays the fixture generator, so a DEGENERATE generator —
  * one that stopped emitting a hazard — would stay green while gating
  * nothing. These tests pin, against the RAW staged bytes, that every
  * reference ingestion hazard is physically present in the landing dir,
  * and that the ingested frame shows each hazard's cleaned footprint.
  */
class IngestCertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The LWW-rewrite guard shared by the q161 and q162 lifecycle
    * tests: amounts must differ between the first-load version and the
    * final version RESTRICTED TO first-load keys — the semi-join keeps
    * the unseen-key insert leg (which also carries ×1.1 amounts) from
    * satisfying the assertion on its own. One definition so the two
    * certificates always pin the same property.
    */
  private def assertLwwRewrote(loaded: org.apache.spark.sql.DataFrame,
      fin: org.apache.spark.sql.DataFrame, msg: String): Unit = {
    def cents(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(floor(col("amount") * 100).cast("long"))).head().getLong(0)
    val loadKeys = loaded.select(col("order_id"), col("product_id")).distinct()
    assert(cents(fin.join(loadKeys, Seq("order_id", "product_id"), "left_semi"))
      != cents(loaded), msg)
  }

  /** Full-row multiset equality between two same-schema frames, the
    * spec-side twin of IngestQueries' private multisetEquivDiff (same
    * ±1-weighted union-groupBy algebra, same NULL-treats-as-equal
    * grouping rationale): asserts the symmetric difference is empty.
    * ONE definition for the three lifecycle/maintenance guards so the
    * certificate arithmetic cannot drift between them.
    */
  private def assertMultisetEqual(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, msg: String): Unit = {
    val diff = a.withColumn("_w", lit(1L))
      .unionByName(b.withColumn("_w", lit(-1L)))
      .groupBy(a.columns.map(col).toIndexedSeq: _*)
      .agg(sum(col("_w")).as("imb")).filter(col("imb") =!= 0L)
    assert(diff.limit(1).count() == 0L, msg)
  }

  private def staged(): (String, Array[String]) = {
    val sf = TestSpark.testdata("0.001")
    val dir = graft.core.Staging.invocationDir("graft_ingest_cert_spec", sf)
    IngestQueries.stageOrdersCsv(spark, sf, dir)
    val lines = spark.read.textFile(dir).collect()
    (dir, lines)
  }

  test("staged landing dir physically carries every reference hazard") {
    val (dir, lines) = staged()
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    assert(files.length == 4, "fixture is a 4-file landing dir")

    // one camelCase header per FILE (the reader must skip all four, not
    // just the first — a concatenated-read regression doubles n_rows)
    val headers = lines.count(_ == IngestQueries.Header)
    assert(headers == 4, s"expected one header per file, found $headers")
    assert(IngestQueries.Header.contains("channelGroup") &&
      IngestQueries.Header.contains("dateTime"),
      "headers must be camelCase for the rename hazard to exist")

    val data = lines.filterNot(_ == IngestQueries.Header)
    // unquoted-empty campaign field directly before the timestamp
    assert(data.exists(_.matches(""".*,,\d{4}-\d{2}-\d{2}T.*""")),
      "no unquoted-empty campaign field staged")
    // quoted field containing the delimiter
    assert(data.exists(_.contains("\"camp,")),
      "no quoted-comma campaign field staged")
    // both ISO-8601 precision variants
    assert(data.exists(_.matches(""".*T\d{2}:\d{2}:\d{2}Z$""")),
      "no with-seconds timestamp staged")
    assert(data.exists(_.matches(""".*T\d{2}:\d{2}Z$""")),
      "no seconds-less timestamp staged")
    // verbatim duplicate lines (reader must preserve multiplicity)
    assert(data.groupBy(identity).exists(_._2.length > 1),
      "no duplicated line staged")
  }

  test("ingested frame shows each hazard's cleaned footprint") {
    val sf = TestSpark.testdata("0.001")
    val df = graft.SparkEntry.queries("q159_csv_ingest_cert")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 3, "one rollup row per o_orderstatus group")
    rows.foreach { r =>
      def g(n: String) = r.getLong(r.fieldIndex(n))
      assert(g("n_ts_null") == 0L,
        s"a timestamp failed to parse — quoting or dual-format parse broke: $r")
      assert(g("null_campaigns") > 0L, s"empty->NULL cleaning left no nulls: $r")
      assert(g("campaign_chars") > 0L && g("n_eur") > 0L)
      assert(g("n_rows") > 0L && g("ts_epoch_sum") > 0L)
    }
    // the quoted comma really survives into the cleaned column
    val staged2 = graft.core.Staging.invocationDir("graft_ingest_cert_spec2", sf)
    IngestQueries.stageOrdersCsv(spark, sf, staged2)
    val ing = Ingest.readOrdersCsv(spark, staged2)
    assert(ing.filter(col("campaign").startsWith("camp,")).limit(1).count() == 1L,
      "quoted campaign lost its embedded delimiter — the RFC-4180 quote path broke")
    assert(ing.columns.toSeq ==
      Seq("order_id", "product_id", "currency", "quantity", "shipping_cost",
        "amount", "channel", "channel_group", "campaign", "date_time"),
      "camelCase->snake_case rename drifted")
  }

  test("q161 store lifecycle is non-degenerate behind the judged rollup") {
    val sf = TestSpark.testdata("0.001")
    // the SAME flow builder the judged query runs (shared so guard and
    // judged flow cannot drift); history = [empty CreateTable, first
    // load, re-run] — the guard needs the v2-vs-v3 pair
    val st = IngestQueries.q161BuildStore(new Lifecycle(spark, sf, "q161"))
    val h = st.history()
    assert(h.size == 3, s"flow must retain exactly 3 versions, got $h")
    val loaded = st.readVersion(h(1))
    val fin = st.readVersion(h(2))
    // inserts really appended (unseen keys exist: k ≡ 0 mod 6)
    assert(fin.count() > loaded.count(), "re-run appended no unseen keys")
    assertLwwRewrote(loaded, fin,
      "re-run changed no amounts on first-load keys — the LWW leg is vacuous")
    // duplicate-key multiplicity survived BOTH upserts, and for a
    // matched duplicated key the overwrite landed on exactly ONE copy
    // (one v1-amount row + one v2-amount row — the weighted-arms
    // copies−1 arithmetic the oracle replays)
    val dupSplit = fin.groupBy(col("order_id"), col("product_id"))
      .agg(count(lit(1)).as("n"), countDistinct(col("amount")).as("d"))
    assert(dupSplit.filter(col("n") === 2).limit(1).count() == 1L,
      "no duplicated key survived to the final store")
    assert(dupSplit.filter(col("n") === 2 && col("d") === 2).limit(1).count() == 1L,
      "no duplicated key shows one updated + one original copy — the LWW " +
        "overwrote both copies or neither")
  }

  test("q162 streamed flow is non-degenerate and the file log is exactly-once") {
    val sf = TestSpark.testdata("0.001")
    val flow = IngestQueries.q162BuildStreamedStore(new Lifecycle(spark, sf, "q162"))
    val st = flow.st
    val h = st.history()
    assert(h.size == 3, s"expected CreateTable + 2 micro-batch versions, got $h")
    val created = st.readVersion(h(0))
    val p1 = st.readVersion(h(1))
    val p2 = st.readVersion(h(2))
    assert(created.count() == 0L, "CreateTable version must be empty")
    assert(p1.count() > 0L, "phase 1 loaded no rows — the first drain is broken")
    assert(p2.count() > p1.count(), "phase 2 appended no unseen keys")
    assertLwwRewrote(p1, p2,
      "the streamed re-run changed no amounts on first-load keys")
    // exactly-once beyond the judged equiv_diff: a THIRD drain with no
    // new files must produce no micro-batch and no new version — the
    // checkpoint's file log provably covers every landed file
    flow.drain()
    assert(st.history().size == 3,
      "an empty drain wrote a version — the file-source log is not exactly-once")
  }

  test("two concurrent streamed flows in one session do not interfere") {
    // pins the invocation-dir convention's concurrency promise for the
    // streaming leg: disjoint landing/checkpoint/store dirs AND a
    // per-start unique query name (Spark forbids two ACTIVE queries
    // sharing a name — a fixed name makes the second start throw)
    val sf = TestSpark.testdata("0.001")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val pair = Await.result(Future.sequence(Seq(
      Future(IngestQueries.q162BuildStreamedStore(new Lifecycle(spark, sf, "q162")).st),
      Future(IngestQueries.q162BuildStreamedStore(new Lifecycle(spark, sf, "q162")).st))), 10.minutes)
    val Seq(s1, s2) = pair
    assert(s1.root != s2.root, "concurrent flows shared a store dir")
    val c1 = s1.current().get
    val c2 = s2.current().get
    assert(c1.count() == c2.count() && c1.count() > 0L)
    assertMultisetEqual(c1, c2,
      "concurrent flows produced different store contents")
  }

  test("q163 staged inventories dirs physically carry the reader contract") {
    val sf = TestSpark.testdata("0.001")
    val dir = graft.core.Staging.invocationDir("graft_q163_cert_spec", sf)
    IngestQueries.stageInventoriesCsv(spark, sf, dir, IngestQueries.q163InvBatch1)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    assert(files.length == 2, "inventories fixture is a 2-file landing dir")
    val lines = spark.read.textFile(dir).collect()
    assert(lines.count(_ == IngestQueries.InvHeader) == 2,
      "expected one camelCase header per file")
    assert(IngestQueries.InvHeader.contains("subCategory"),
      "header must be camelCase for the rename hazard to exist")
    val data = lines.filterNot(_ == IngestQueries.InvHeader)
    assert(data.exists(_.startsWith("new_")),
      "no ghost 'new_' product staged — the NULL branch would be vacuous")
    assert(data.exists(l => l.nonEmpty && l.charAt(0).isDigit),
      "no catalog product with a sales-matching id staged")
  }

  test("q163 inventories lifecycle + NULL branch are non-degenerate") {
    val sf = TestSpark.testdata("0.001")
    // the SAME flow builder the judged query runs (shared so guard and
    // judged flow cannot drift); history = [empty CreateTable, first
    // load, restock re-run]
    val st = IngestQueries.q163BuildInvStore(new Lifecycle(spark, sf, "q163"))
    val h = st.history()
    assert(h.size == 3, s"inventories flow must retain 3 versions, got $h")
    assert(st.readVersion(h(0)).count() == 0L, "CreateTable version must be empty")
    val v2 = st.readVersion(h(1))
    val v3 = st.readVersion(h(2))
    // the re-run really inserted unseen products (even multiples of 7)
    assert(v3.count() > v2.count(), "re-run inserted no unseen products")
    // the LWW restock really rewrote matched keys: quantity sums differ
    // restricted to FIRST-LOAD product ids (semi-join keeps the insert
    // leg from satisfying this on its own — assertLwwRewrote's shape)
    val v2keys = v2.select(col("product_id")).distinct()
    def qsum(df: org.apache.spark.sql.DataFrame) =
      df.join(v2keys, Seq("product_id"), "left_semi")
        .agg(sum(col("quantity")).cast("long")).head().getLong(0)
    assert(qsum(v3) != qsum(v2),
      "re-run changed no quantities — the restock LWW leg is vacuous")
    // a catalog, not an event log: keys stay unique through both loads
    assert(v3.groupBy(col("product_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).count() == 0L,
      "inventories store grew duplicate product keys")

    // the judged report's NULL branch is load-bearing AND structural:
    // the oracle replays the generator, so only this guard pins that the
    // NULL rows are exactly the never-sold ghost products (both branches
    // populated; a generator drift that emptied either side stays green
    // upstream but fails here)
    val rows = graft.SparkEntry.queries("q163_store_report_cert")(spark, sf).collect()
    val soldIdx = rows.head.fieldIndex("total_sold")
    val remIdx = rows.head.fieldIndex("remaining_stock")
    val (nulls, sold) = rows.partition(_.isNullAt(soldIdx))
    assert(nulls.nonEmpty, "NULL branch empty — no never-sold product in the report")
    assert(sold.nonEmpty, "non-NULL branch empty — no sold product in the report")
    assert(nulls.forall(r => r.getString(0).startsWith("new_") && r.isNullAt(remIdx)),
      "a NULL total_sold row is not a ghost product (or remaining_stock " +
        "failed to propagate the NULL)")
    assert(sold.forall(r => !r.getString(0).startsWith("new_")),
      "a ghost product shows sales — the disjoint id space leaked into " +
        "the orders store")
  }

  test("q164 CDC really prunes and the maintenance is non-vacuous") {
    val sf = TestSpark.testdata("0.001")
    // the SAME construction the judged query runs: the flow store with
    // its CreateTable version reclaimed, h = [first load, re-run]
    val lc = new Lifecycle(spark, sf, "q164")
    val st = IngestQueries.q164BuildMaintainedReport(lc)
    val h = st.history()
    assert(h.size == 2, s"expected first load + re-run retained, got $h")
    val keyCols = graft.core.Schemas.ordersKey

    // the fresh consumer bootstrapped its base at the first load (the
    // oldest retained version) and folded exactly the one re-run step
    assert(lc.counts("fold") == Seq(1),
      s"expected exactly one fold step, got ${lc.counts("fold")}")
    val report = IngestQueries.reportStoreHandle(spark, lc.dir("report"))
    val rh = report.history()
    assert(rh.size == 3, s"expected CreateTable + bootstrap + one fold, got ${rh.size}")
    val bootstrap = report.readVersion(rh(1))
    assert(report.offsets(rh(1)) == Seq(h(0)),
      "the bootstrap version does not record the first-load version")

    // the delta path is a real pruning: the CDC key set is nonempty and
    // a PROPER subset of the final store's keys — the oracle replays
    // the generator, so a degenerate fixture where every key changed
    // (delta ≡ recompute, no pruning exercised) would stay green there
    val changed = st.diff(h(0), h(1)).select(keyCols.map(col): _*)
    val nChanged = changed.count()
    val nTotal = st.readVersion(h(1)).select(keyCols.map(col): _*)
      .distinct().count()
    assert(nChanged > 0, "CDC empty — the incremental path maintains nothing")
    assert(nChanged < nTotal,
      s"every key changed ($nChanged of $nTotal) — the pruned-delta claim " +
        "is untested by this fixture")

    // the maintenance is fed BOTH change kinds this store's flow can
    // produce — pinned structurally off the CDC stream itself (report
    // group growth is NOT structural: a new report group appears only
    // when a product's every order arrived in the insert arm, a
    // one-key corpus accident at sf0.001)
    val kinds = st.diff(h(0), h(1)).select(col("_change")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(kinds == Set("insert", "update"),
      s"CDC change kinds $kinds — the maintenance must see inserts AND " +
        "LWW updates (and this flow never deletes)")

    // ... and is non-vacuous in the report values: no group vanished
    // (key-loss guard; deletes don't exist here) and cents moved on a
    // surviving product (the update leg reached the aggregate)
    val r2 = IngestQueries.productShape.report(st.readVersion(h(0)))
    val r3 = IngestQueries.productShape.report(st.readVersion(h(1)))
    assertMultisetEqual(bootstrap, r2,
      "the bootstrap base is not the report at the first load")
    assert(r3.count() >= r2.count(), "report groups shrank without deletes")
    val moved = r3.join(r2.select(col("product_id"),
        col("amount_cents").as("_pre")), Seq("product_id"))
      .filter(col("amount_cents") =!= col("_pre"))
    assert(moved.limit(1).count() == 1L,
      "no surviving product's cents moved — the update leg of the " +
        "maintenance is vacuous")
  }

  test("q164 maintenance absorbs deletes, including whole-group retraction") {
    // the judged flow produces only inserts and LWW updates, so the
    // delete arm of the product-report fold (the doc's "absorbs deletes"
    // claim) is pinned here against a hand-built version pair: product
    // 'a' keeps one of two rows partially-deleted, 'b' is updated,
    // 'c' is deleted ENTIRELY (its zero shell must be filtered, not
    // emitted as a 0-row group), 'd' is inserted
    import spark.implicits._
    val before = Seq(
      ("o1", "a", 10.00), ("o2", "a", 20.00),
      ("o3", "b", 5.00),
      ("o4", "c", 7.00), ("o5", "c", 9.00)
    ).toDF("order_id", "product_id", "amount")
    val after = Seq(
      ("o1", "a", 10.00),              // o2 deleted: partial retraction
      ("o3", "b", 6.50),               // updated
      ("o6", "d", 3.00)                // inserted; c gone entirely
    ).toDF("order_id", "product_id", "amount")
    val changedKeys = Seq(
      ("o2", "a"), ("o3", "b"), ("o4", "c"), ("o5", "c"), ("o6", "d")
    ).toDF("order_id", "product_id")

    val shape = IngestQueries.productShape
    val maintained = shape.fold(shape.report(before), Seq(before), Seq(after),
      changedKeys)
    val recomputed = shape.report(after)
    assertMultisetEqual(maintained, recomputed,
      "maintained report diverged from the recompute under deletes")
    assert(maintained.filter(col("product_id") === "c").limit(1).count() == 0L,
      "fully-retracted group 'c' left a zero shell in the maintained report")
    assert(maintained.count() == 3L, "expected exactly groups a, b, d")
  }

  test("upsert transitions satisfy the fold's CDC multiset precondition") {
    // MaintainedShape.fold's correctness rests on the documented
    // precondition: a key ABSENT from the key-level CDC feed has an
    // UNCHANGED row multiset across the transition (StateTable.diff
    // compares only the latest row per key, so a transition that added
    // or removed value-identical copies of an existing key would slip
    // past it). For upsert-produced transitions this is structural —
    // the LWW arm rewrites an existing key's latest row IN PLACE and
    // the insert arm appends only UNSEEN keys — pinned here on the
    // judged flow's own version pair rather than asserted in prose:
    val sf = TestSpark.testdata("0.001")
    val st = IngestQueries.q161BuildStore(new Lifecycle(spark, sf, "q161"))
    val h = st.history()
    val keyCols = graft.core.Schemas.ordersKey
    def counts(v: String, as: String) =
      st.readVersion(v).groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as(as))
    // 1. every key present before the upsert keeps its multiplicity
    val drifted = counts(h(1), "n2").join(counts(h(2), "n3"), keyCols)
      .filter(col("n2") =!= col("n3"))
    assert(drifted.limit(1).count() == 0L,
      "upsert changed an existing key's row multiplicity — the " +
        "key-level CDC feed would miss it and the fold's " +
        "documented precondition is broken")
    // 2. every key whose multiplicity DID change (0 → n inserts, the
    //    only kind upsert can produce) is covered by the CDC feed
    val cdcKeys = st.diff(h(1), h(2)).select(keyCols.map(col): _*)
    val newKeys = counts(h(2), "n3")
      .join(counts(h(1), "n2"), keyCols, "left_anti")
      .select(keyCols.map(col): _*)
    assert(newKeys.except(cdcKeys).limit(1).count() == 0L,
      "a key with changed multiplicity is missing from the CDC feed")
  }

  test("q165 maintenance really ran two nonempty, distinct CDC steps") {
    // the judged oracle replays the final rows, so a degenerate fold —
    // one that ran once over the union of both drains, or folded an
    // empty delta — would replay green; the step evidence is pinned
    // here off the builder's own handles
    val sf = TestSpark.testdata("0.001")
    val lc = new Lifecycle(spark, sf, "q165")
    val steps = IngestQueries.q165BuildMaintainedFlow(lc)
    assert(steps.size == 2,
      s"expected one maintenance step per drain, got ${steps.size}")
    val Seq(s1, s2) = steps.map(_.keys)
    assert(s1.limit(1).count() == 1L && s2.limit(1).count() == 1L,
      "a maintenance step folded an empty CDC delta")
    // distinct in BOTH directions — neither step's key set contains the
    // other (step 1 = the first-load keys; step 2 = the re-run's LWW
    // updates plus its unseen inserts), so the two folds demonstrably
    // applied different deltas
    assert(s1.except(s2).limit(1).count() == 1L &&
      s2.except(s1).limit(1).count() == 1L,
      "the two maintenance steps applied identical or nested key sets — " +
        "the per-drain fold is not exercised")
    // and the maintained artifact equals the recompute off the drained
    // store row-for-row (the judged certificate's property, re-checked
    // here where the step handles are in scope)
    assertMultisetEqual(steps.last.report,
      IngestQueries.productShape.report(lc.store("orders").current().get),
      "maintained report diverged from the drained-store recompute")
  }

  test("q166 timestamp axis through the store is non-degenerate") {
    // q166's point is the month/year EXTRACT off the STORE's
    // TimestampType column; a fixture collapse to one month (or a
    // round-trip that nulled the column) would leave the grouping
    // vacuous while the replayed oracle stayed green
    val sf = TestSpark.testdata("0.001")
    val st = IngestQueries.q161BuildStore(new Lifecycle(spark, sf, "q161"))
    val contents = st.current().get
    assert(contents.filter(col("date_time").isNull).limit(1).count() == 0L,
      "store round-trip nulled date_time")
    val nMonths = contents
      .select(year(col("date_time")), month(col("date_time")))
      .distinct().count()
    assert(nMonths > 1,
      s"only $nMonths (year, month) group(s) through the store — the " +
        "EXTRACT axis is degenerate at this corpus")
  }

  test("q167 durable maintenance: watermark, per-drain folds, restart idempotence") {
    val sf = TestSpark.testdata("0.001")
    val keyCols = graft.core.Schemas.ordersKey
    val lc = new Lifecycle(spark, sf, "q167")
    IngestQueries.q165BuildMaintainedFlow(lc)
    // steady state: exactly one fold per drain — a fold that consumed
    // the union of both drains (2, 0) would still replay green, so the
    // per-drain shape is pinned here
    assert(lc.counts("fold") == Seq(1, 1),
      s"expected one applied step per drain, got ${lc.counts("fold")}")
    val orders = lc.store("orders")
    val report = IngestQueries.reportStoreHandle(spark, lc.dir("report"))
    assert(report.history().size == 3,
      s"expected CreateTable + one report version per fold, got " +
        s"${report.history().size}")
    // the watermark is the orders store's FINAL version
    val wm = report.offsets(report.currentVersion.get)
    assert(wm == Seq(orders.history().last),
      s"report watermark $wm != final orders version")
    // restart idempotence: a THIRD fresh-handle process finds nothing
    // new — zero steps applied, no version written
    val report2 = IngestQueries.reportStoreHandle(spark, lc.dir("report"))
    assert(IngestQueries.resumeReportMaintenance(orders, report2, keyCols) == 0,
      "an idempotent restart re-applied a fold")
    assert(report2.history().size == 3,
      "an idempotent restart wrote a report version")
    // catch-up from cold: a FRESH report store against the
    // fully-drained orders store folds BOTH pending versions in one
    // resume (the missed-folds recovery path) and lands on the same
    // rows as the per-drain incremental report
    val cold = IngestQueries.reportStoreHandle(spark,
      graft.core.Staging.invocationDir("graft_q167_cold", sf))
    assert(IngestQueries.resumeReportMaintenance(orders, cold, keyCols) == 2,
      "cold catch-up did not walk both pending versions")
    assertMultisetEqual(cold.current().get, report.current().get,
      "cold catch-up diverged from the per-drain incremental report")
  }

  test("q168 retention coexistence: per-drain reclaim, post-vacuum resume, unsafe vacuum fails loudly") {
    val sf = TestSpark.testdata("0.001")
    val keyCols = graft.core.Schemas.ordersKey
    val lc = new Lifecycle(spark, sf, "q168")
    IngestQueries.q168BuildRetainedFlow(lc)
    // the judged totals (n_steps=2, n_reclaimed=2) cannot distinguish
    // WHEN retention bit — pin the per-drain shape: each fold applied
    // one step, each vacuum reclaimed exactly the one version that
    // fold absorbed (CreateTable after drain 1, micro-batch 1 after
    // drain 2)
    assert(lc.counts("fold") == Seq(1, 1),
      s"expected one applied step per drain, got ${lc.counts("fold")}")
    assert(lc.counts("reclaimed") == Seq(1, 1),
      s"expected one version reclaimed per drain, got ${lc.counts("reclaimed")}")
    val orders = lc.store("orders")
    assert(orders.history().size == 1,
      "continuous retention did not converge the store to its current version")
    // the survivor is the version the last fold absorbed, so everything
    // reclaimed was older than the consumer's watermark
    val report = IngestQueries.reportStoreHandle(spark, lc.dir("report"))
    assert(orders.history() == Seq(IngestQueries.reportWatermark(report, "")),
      "the surviving version is not the consumer's watermark")
    // restart idempotence HOLDS AFTER RETENTION: a fresh-handle
    // process resumes off the vacuumed store with zero steps
    assert(IngestQueries.resumeReportMaintenance(orders, report, keyCols) == 0,
      "post-vacuum restart re-applied a fold")
    // negative path: the UNSAFE policy — a keep-current-only vacuum
    // while the consumer watermark is behind — must fail the resume
    // loudly (q167's require is the crash; q168's bounded vacuum is
    // the answer). Land an un-folded version so watermark < current,
    // then vacuum unboundedly.
    orders.overwrite(orders.read().get)
    orders.vacuum()
    val ex = intercept[IllegalArgumentException] {
      IngestQueries.resumeReportMaintenance(orders,
        IngestQueries.reportStoreHandle(spark, lc.dir("report")), keyCols)
    }
    assert(ex.getMessage.contains("vacuumed past") &&
      ex.getMessage.contains(orders.root) &&
      ex.getMessage.contains(lc.dir("report")),
      s"unsafe vacuum failed with the wrong diagnostic: ${ex.getMessage}")
  }

  test("q169 two-level maintenance: steps touch groups and the top actually moves") {
    val sf = TestSpark.testdata("0.001")
    val steps = IngestQueries.q169BuildMaintainedTop(new Lifecycle(spark, sf, "q169"))
    assert(steps.size == 2, s"expected one two-level fold per drain")
    // each step's touched-group set is nonempty — a step that touched
    // nothing would leave the carried top verbatim and still replay
    // green if the final state happened to match
    steps.map(_.touched).zipWithIndex.foreach { case (t, i) =>
      assert(t.limit(1).count() == 1L, s"step $i touched no groups")
    }
    // the maintained top MOVED between the drains: the re-run batch's
    // LWW boosts and inserts change leaders' revenues, so a carried
    // row surviving step 2 untouched means the fold is vacuous
    val t0 = steps(0).top.collect().toSet
    val t1 = steps(1).top.collect().toSet
    assert(t0 != t1,
      "the maintained top rows are identical across both drains — " +
        "the second fold moved nothing at this corpus")
  }

  test("q169 retraction fallback: a deleted leader is dethroned, untouched groups carried") {
    // the judged flow produces only inserts and LWW updates, so the
    // RETRACTION path of the argmax fallback — the whole reason level 2
    // needs a recompute — is pinned on a hand-built pair (the q164
    // delete-arm convention): deleting leader 'a' must dethrone group
    // X to runner-up 'b' while group Y's carried row is never touched
    import spark.implicits._
    val keyCols = Seq("order_id", "product_id")
    val before = Seq(
      ("o1", "a", "X", 100.00), ("o2", "b", "X", 60.00),
      ("o3", "c", "Y", 10.00)
    ).toDF("order_id", "product_id", "channel_group", "amount")
    val after = Seq(
      ("o2", "b", "X", 60.00), ("o3", "c", "Y", 10.00)
    ).toDF("order_id", "product_id", "channel_group", "amount")
    val changedKeys = Seq(("o1", "a")).toDF("order_id", "product_id")
    val shape = IngestQueries.categoryShape
    val lvl1 = shape.fold(shape.report(before), Seq(before), Seq(after), changedKeys)
    val touched = IngestQueries.touchedGroups(before, after, changedKeys, keyCols)
    // proper-subset pruning the 3-group judged corpus can't show e2e:
    // the retraction touches ONLY X, so Y's argmax is never recomputed
    assert(touched.collect().map(_.getString(0)).toSeq == Seq("X"),
      "expected the retraction to touch exactly group X")
    val top = IngestQueries.maintainTopSellers(
      IngestQueries.topSellers(shape.report(before)),
      lvl1, touched)
    assertMultisetEqual(top,
      IngestQueries.topSellers(shape.report(after)),
      "maintained top diverged from the recompute under a leader retraction")
    val x = top.filter(col("channel_group") === "X").collect()
    assert(x.length == 1 && x.head.getAs[String]("top_product_id") == "b",
      s"deleted leader 'a' was not dethroned to runner-up 'b': ${x.toSeq}")
  }

  test("q170 purge really dethrones a leader; untouched groups carry verbatim") {
    // the judged oracle replays the purge from the generator, so it
    // cannot see that the maintained path — rather than a recompute —
    // produced the dethronement, nor which groups the fallback read.
    // Pinned here off the builder's own handles:
    val sf = TestSpark.testdata("0.001")
    val lc = new Lifecycle(spark, sf, "q170")
    val p = IngestQueries.q170BuildPurgedTop(lc)
    val steps = p.steps
    assert(steps.size == 3, "expected two drain folds + one purge fold")
    steps.take(2).map(_.touched).zipWithIndex.foreach { case (t, i) =>
      assert(t.limit(1).count() == 1L, s"drain step $i touched no groups")
    }
    // the purge fold's touched set is EXACTLY the victim group — the
    // proper-subset pruning the judged n_purge_touched=1 summarizes
    assert(steps.last.touched.collect().map(_.getString(0)).toSeq
        == Seq(p.victimGroup),
      "the purge fold touched more than the victim group")
    // the victim really LED its group pre-purge (the builder derives it
    // from the maintained top; this pins that read against the frame)
    val preRows = steps(1).top.collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(preRows(p.victimGroup)._1 == p.victimProduct,
      "the purged product did not lead its group pre-purge")
    // the victim's rows really existed pre-purge and really left the
    // store (the CDC delete arm had something to retract)
    val st = lc.store("orders")
    val h = st.history()
    def victimRows(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("channel_group") === p.victimGroup &&
        col("product_id") === p.victimProduct)
    assert(victimRows(st.readVersion(h(2))).limit(1).count() == 1L,
      "no victim rows in the pre-purge version — the purge was vacuous")
    assert(victimRows(st.current().get).limit(1).count() == 0L,
      "victim rows survived the purge")
    // dethronement: the victim group's maintained top row MOVED to a
    // different product; every untouched group's row carried VERBATIM
    // (same product AND same revenue — the fallback never recomputed it)
    val postRows = steps.last.top.collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(postRows(p.victimGroup)._1 != p.victimProduct,
      "the purged leader was not dethroned")
    (postRows.keySet - p.victimGroup).foreach { g =>
      assert(postRows(g) == preRows(g),
        s"untouched group $g's top row changed across the purge fold")
    }
  }

  test("fresh-consumer bootstrap on a retention-vacuumed store materializes the base") {
    // the fresh-consumer hazard: an empty report's watermark falls
    // back to the oldest RETAINED version, and the resume walk folds
    // only pairs after it — silently wrong once retention reclaimed
    // the empty CreateTable bootstrap version (the consumer would fold
    // onto an empty base, permanently missing the oldest version's
    // contents, while reading as caught up). Pinned: a fresh consumer
    // on a vacuumed single-version store materializes its base from
    // the oldest version's CONTENTS and stays correct through later
    // folds.
    val sf = TestSpark.testdata("0.001")
    val keyCols = graft.core.Schemas.ordersKey
    val orders = IngestQueries.q161BuildStore(new Lifecycle(spark, sf, "q161"))
    val h = orders.history()
    // retention past the bootstrap: only the (non-empty) current
    // version survives
    assert(orders.vacuumBefore(h(2)).size == 2)
    assert(orders.history() == Seq(h(2)))
    val fresh = IngestQueries.reportStoreHandle(spark,
      graft.core.Staging.invocationDir("graft_boot_fresh", sf))
    // no pairs to fold (single retained version) — but the base must
    // materialize, not stay empty with a caught-up watermark
    assert(IngestQueries.resumeReportMaintenance(orders, fresh, keyCols) == 0)
    assertMultisetEqual(fresh.current().get,
      IngestQueries.productShape.report(orders.current().get),
      "bootstrap on a vacuumed store missed the oldest version's contents")
    assert(IngestQueries.reportWatermark(fresh, sys.error("must not fall back"))
        == h(2), "bootstrap did not record the oldest version as watermark")
    // and the bootstrapped consumer keeps folding correctly: land a new
    // version, resume — one step, still equal to the recompute
    orders.upsert(orders.current().get
      .withColumn("amount", col("amount") * lit(2.0))
      .withColumn("ord", monotonically_increasing_id()), Some("ord"))
    assert(IngestQueries.resumeReportMaintenance(orders, fresh, keyCols) == 1)
    assertMultisetEqual(fresh.current().get,
      IngestQueries.productShape.report(orders.current().get),
      "post-bootstrap fold diverged from the recompute")
  }

  test("q171 judged flow: per-phase reclaim names and the laggard's durable lifecycle") {
    // the judged metric rows carry per-phase reclaim COUNTS; the names
    // and the laggard's version lifecycle are pinned here off the
    // builder's own handles
    val sf = TestSpark.testdata("0.001")
    val lc = new Lifecycle(spark, sf, "q171")
    IngestQueries.q171BuildMultiConsumerFlow(lc)
    assert(lc.counts("fold_a") == Seq(1, 1) && lc.counts("catchup_b") == Seq(2))
    assert(lc.counts("reclaimed") == Seq(0, 2),
      s"per-phase reclaim drifted: ${lc.counts("reclaimed")}")
    val orders = lc.store("orders")
    val hist = orders.history()
    assert(hist.size == 1, s"retention did not converge the store: $hist")
    // the laggard's report table shows its real lifecycle: CreateTable
    // + one durable version per catch-up fold step
    val repB = IngestQueries.reportStoreHandle(spark, lc.dir("report_b"),
      IngestQueries.categoryShape)
    // the survivor is the version both consumers absorbed last, so
    // everything reclaimed was older than the minimum watermark
    assert(hist == Seq(IngestQueries.reportWatermark(repB, "")),
      "phase 2 kept a version other than the consumers' watermark")
    assert(repB.history().size == 3,
      s"laggard report versions ${repB.history().size} != CreateTable + 2 folds")
    // heterogeneous consumers: B's durable schema really is the
    // category shape, not a product-report copy
    assert(repB.current().get.columns.toSeq ==
      Seq("channel_group", "product_id", "n_rows", "revenue_cents"))
  }

  test("q172 newcomer's bootstrap base is the full report; the purge really shrank it") {
    // the judged oracle replays only the FINAL rows; what it cannot
    // see: the newcomer's bootstrap version really carried the full
    // pre-purge report (a bootstrap that wrote an empty base would
    // still converge after the purge fold ONLY by accident of the
    // equiv certificates — pin the intermediate), and the purge fold
    // really shrank the report (groups vanished, no zero shells)
    val sf = TestSpark.testdata("0.001")
    val lc = new Lifecycle(spark, sf, "q172")
    IngestQueries.q172BuildBootstrapFlow(lc)
    assert(lc.counts("bootstrap_b") == Seq(0) && lc.counts("purge_a") == Seq(1) &&
      lc.counts("purge_b") == Seq(1) && lc.counts("purge_reclaimed") == Seq(1))
    val repA = IngestQueries.reportStoreHandle(spark, lc.dir("report"))
    val repB = IngestQueries.reportStoreHandle(spark, lc.dir("report_b"))
    val ah = repA.history()
    val bh = repB.history()
    // A: CreateTable + 2 drain folds + 1 purge fold; B: CreateTable +
    // the bootstrap materialization + 1 purge fold
    assert(ah.size == 4 && bh.size == 3,
      s"report lifecycles drifted: A=${ah.size} B=${bh.size}")
    // the newcomer's bootstrap version equals the veteran's pre-purge
    // report, and both record the same store version (the veteran
    // folded up to it; the bootstrap recorded the oldest retained
    // version, which retention had converged to exactly it)
    assertMultisetEqual(repB.readVersion(bh(1)), repA.readVersion(ah(2)),
      "bootstrap base diverged from the veteran's pre-purge report")
    assert(repB.offsets(bh(1)) == repA.offsets(ah(2)),
      "the bootstrap and the veteran's pre-purge report record different versions")
    // the purge really shrank the report: ≡0 (mod 17) products existed
    // pre-purge, none survive, and no zero shell replaced them
    def mod17(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("product_id").cast("long") % 17 === 0)
    assert(mod17(repA.readVersion(ah(2))).limit(1).count() == 1L,
      "no mod-17 product pre-purge — the purge fixture is vacuous")
    val post = repA.current().get
    assert(mod17(post).limit(1).count() == 0L,
      "a purged product's report group survived the delete-arm fold")
    assert(post.filter(col("n_rows") <= 0).limit(1).count() == 0L,
      "a zero shell escaped the fold's n_rows filter")
  }

  test("q173 compaction fold is a value no-op that still advances the watermark") {
    // the judged compact_cdc_rows = 0 and the replayed values imply
    // transparency; pinned directly here: the report version the
    // compaction fold wrote is value-identical to its predecessor
    // while its offset advanced, a further restart applies zero
    // steps, and the report lifecycle is CreateTable + exactly 3 folds
    val sf = TestSpark.testdata("0.001")
    val keyCols = graft.core.Schemas.ordersKey
    val lc = new Lifecycle(spark, sf, "q173")
    IngestQueries.q173BuildCompactionFlow(lc)
    assert(lc.counts("flow_fold") == Seq(2) && lc.counts("compact_fold") == Seq(1) &&
      lc.counts("compact_cdc") == Seq(0) && lc.counts("reclaimed") == Seq(3))
    val report = IngestQueries.reportStoreHandle(spark, lc.dir("report"))
    val rh = report.history()
    assert(rh.size == 4,
      s"report lifecycle ${rh.size} != CreateTable + 3 folds")
    assertMultisetEqual(
      report.readVersion(rh(2)),
      report.readVersion(rh(3)),
      "the compaction fold changed report values — the layout rewrite " +
        "leaked into the CDC feed")
    // ... while the watermark DID advance (the whole point: retention
    // behind a live consumer can only reclaim what the consumer
    // absorbed, so the fold must record the compaction version)
    assert(report.offsets(rh(3)).head > report.offsets(rh(2)).head,
      "the compaction fold did not advance the consumer watermark")
    assert(IngestQueries.resumeReportMaintenance(lc.store("orders"), report, keyCols) == 0,
      "a post-compaction restart re-applied a fold")
  }

  test("q174 evolution fold is a value no-op; the evolved column physically landed") {
    // the judged evo_cdc_rows = 0 plus the replay imply transparency;
    // pinned directly: the evolved column exists (all-null) in the
    // final store, the evolution-fold report version is value-
    // identical to its predecessor while its offset advanced, and a
    // restart applies zero steps
    val sf = TestSpark.testdata("0.001")
    val keyCols = graft.core.Schemas.ordersKey
    val lc = new Lifecycle(spark, sf, "q174")
    IngestQueries.q174BuildEvolutionFlow(lc)
    assert(Seq("load_fold", "evo_fold", "rerun_fold", "evo_cdc", "reclaimed")
      .map(lc.counts) == Seq(Seq(1), Seq(1), Seq(1), Seq(0), Seq(3)))
    val orders = lc.store("orders")
    val contents = orders.current().get
    assert(contents.columns.contains("discount"),
      "the evolved column did not survive to the final store")
    assert(contents.filter(col("discount").isNotNull).limit(1).count() == 0L,
      "the evolve-then-ingest path produced non-null discount values — " +
        "the reader or the upsert align leaked data into the new column")
    val report = IngestQueries.reportStoreHandle(spark, lc.dir("report"))
    val rh = report.history()
    assert(rh.size == 4, s"report lifecycle ${rh.size} != CreateTable + 3 folds")
    // rh(1) = post-load fold, rh(2) = the evolution fold: values equal
    assertMultisetEqual(
      report.readVersion(rh(1)),
      report.readVersion(rh(2)),
      "the evolution fold changed report values — the schema rewrite " +
        "leaked into the CDC feed")
    assert(report.offsets(rh(2)).head > report.offsets(rh(1)).head,
      "the evolution fold did not advance the consumer watermark")
    assert(IngestQueries.resumeReportMaintenance(orders, report, keyCols) == 0,
      "a post-evolution restart re-applied a fold")
  }

  test("multi-consumer retention: a lagging consumer holds the vacuum, catching up releases it") {
    // q168 judges the watermark-bounded vacuum with ONE consumer, where
    // min(consumer watermarks) is trivial. The production store has
    // SEVERAL maintained consumers; the policy's point is that the
    // LAGGARD bounds retention. Pinned here with two report consumers
    // over one batch-built orders store (no judged row needed — the
    // policy composes from judged primitives: q167's resume + q168's
    // bounded vacuum):
    val sf = TestSpark.testdata("0.001")
    val keyCols = graft.core.Schemas.ordersKey
    val orders = IngestQueries.q161BuildStore(new Lifecycle(spark, sf, "q161"))
    val h = orders.history()
    assert(h.size == 3)
    def wm(r: graft.state.StateTable): String =
      IngestQueries.reportWatermark(r, h.head)
    val fast = IngestQueries.reportStoreHandle(spark,
      graft.core.Staging.invocationDir("graft_mc_fast", sf))
    val slow = IngestQueries.reportStoreHandle(spark,
      graft.core.Staging.invocationDir("graft_mc_slow", sf))
    // the fast consumer catches up fully; the slow one has not resumed
    // yet — its watermark is still the store's first version
    assert(IngestQueries.resumeReportMaintenance(orders, fast, keyCols) == 2)
    assert(Seq(wm(fast), wm(slow)).min == h.head,
      "the un-resumed consumer's watermark must be the oldest version")
    // retention bounded by the MINIMUM watermark reclaims NOTHING while
    // the laggard is behind — the laggard holds the vacuum
    assert(orders.vacuumBefore(Seq(wm(fast), wm(slow)).min).isEmpty,
      "retention reclaimed history a lagging consumer still needs")
    // the laggard can therefore still resume — and catching up RELEASES
    // the held history: the next bounded vacuum reclaims both absorbed
    // versions, and both consumers stay resumable (idempotent) after it
    assert(IngestQueries.resumeReportMaintenance(orders, slow, keyCols) == 2,
      "the laggard could not catch up over the retained history")
    assert(orders.vacuumBefore(Seq(wm(fast), wm(slow)).min).size == 2,
      "catch-up did not release the held history")
    assert(IngestQueries.resumeReportMaintenance(orders, fast, keyCols) == 0)
    assert(IngestQueries.resumeReportMaintenance(orders, slow, keyCols) == 0)
  }

  test("q175 dimension move is physical; the dim fold prunes to exactly the moved products") {
    // the judged oracle replays the move from the generator, so it
    // cannot see that the maintained path folded it as a CHANGE (vs a
    // degenerate full recompute), nor which products the dimension arm
    // read. Pinned off the builder's own handles:
    val sf = TestSpark.testdata("0.001")
    val lc = new Lifecycle(spark, sf, "q175")
    val steps = IngestQueries.q175BuildJoinedFlow(lc)
    // two order-side folds (the drains) then one PURE dimension fold
    assert(steps.map(_.source) == Seq(0, 0, 1),
      "per-step source stores drifted")
    steps.take(2).map(_.keys).zipWithIndex.foreach { case (a, i) =>
      assert(a.limit(1).count() == 1L, s"order step $i touched no products")
    }
    // the move is physically in the store: the products whose category
    // differs between the inventory versions are nonempty, all landed
    // under the new category, and form a PROPER subset of the catalog
    // (retention reclaimed the CreateTable version before the consumer
    // started, so the history is the catalog load then the move)
    val inv = lc.store("inv")
    val h = inv.history()
    assert(h.size == 2, "expected the catalog load + the move")
    val pre = inv.readVersion(h(0))
    val post = inv.readVersion(h(1))
    val moved = pre.select(col("product_id"), col("category").as("pre_cat"))
      .join(post.select(col("product_id"), col("category").as("post_cat")),
        Seq("product_id"))
      .filter(col("pre_cat") =!= col("post_cat"))
    val nMoved = moved.count()
    val nCatalog = post.count()
    assert(nMoved > 0 && nMoved < nCatalog,
      "the moved set is empty or swallowed the whole catalog")
    assert(moved.filter(col("post_cat") =!= "RELOCATED").limit(1).count() == 0L,
      "a moved product landed somewhere other than the new category")
    // the dimension fold's affected set is EXACTLY the moved products —
    // the change-volume pruning the judged n_dim_affected summarizes
    assertMultisetEqual(steps.last.keys,
      moved.select(col("product_id")),
      "the dimension fold's affected set is not exactly the moved products")
    // the report really MOVED across the dimension fold: the new
    // category exists only after it, so the fold performed a real
    // retraction + addition, not a value no-op
    assert(steps(1).report.filter(col("category") === "RELOCATED")
        .limit(1).count() == 0L,
      "the new category existed before the dimension fold")
    assert(steps.last.report.filter(col("category") === "RELOCATED")
        .limit(1).count() == 1L,
      "the new category is missing from the maintained report")
  }

  test("q175 join fold absorbs simultaneous two-side change and dimension deletes") {
    // the judged q175 flow lands its changes on one side at a time, so
    // the ΔO⋈ΔI overlap — the corner where a double-count would hide —
    // and the dimension DELETE (a delisted product's orders must leave
    // the report) are pinned on hand-built stores (the q169
    // retraction-spec convention): one transition changes BOTH stores
    // at once, including a category move AND a product delete on the
    // dimension side plus an insert AND an update on the fact side.
    import spark.implicits._
    val sf = TestSpark.testdata("0.001")
    val shape = IngestQueries.joinedShape
    val orders = new graft.state.StateTable(spark,
      graft.core.Staging.invocationDir("graft_q175_sim_orders", sf),
      Seq("order_id", "product_id"))
    val inv = new graft.state.StateTable(spark,
      graft.core.Staging.invocationDir("graft_q175_sim_inv", sf),
      Seq("product_id"))
    def o(rows: (String, String, Double)*) =
      rows.toSeq.toDF("order_id", "product_id", "amount")
    inv.upsert(Seq("p1" -> "A", "p2" -> "A", "p3" -> "B")
      .toDF("product_id", "category"))
    orders.upsert(o(("o1", "p1", 10.00), ("o2", "p2", 20.00),
      ("o3", "p3", 30.00), ("o4", "p3", 5.00)))
    orders.upsert(o(("o5", "p1", 7.00)))
    val report = IngestQueries.reportStoreHandle(spark,
      graft.core.Staging.invocationDir("graft_q175_sim_report", sf), shape)
    def advance(): Seq[IngestQueries.FoldStep] =
      IngestQueries.resumeMaintenance(shape, Seq(orders, inv), report)
    // the consumer absorbs the initial history from its bootstrap base,
    // then the SIMULTANEOUS transition lands: the fact side inserts o6
    // (p2) and LWW-updates o3 (p3); the dimension side moves p2 A→B and
    // DELETES p3
    advance()
    orders.upsert(o(("o6", "p2", 11.00), ("o3", "p3", 33.00)))
    inv.overwrite(inv.read().get.filter(col("product_id") =!= "p3")
      .withColumn("category",
        when(col("product_id") === "p2", "B").otherwise(col("category"))))
    val steps = advance()
    // the transition folds as two steps, orders then inventories, each
    // with the other store held at its watermark
    assert(steps.map(_.source) == Seq(0, 1),
      s"the simultaneous change folded as sources ${steps.map(_.source)}")
    // p1 is untouched on both sides: no step's affected set holds it,
    // while every step's holds p2 and p3
    steps.foreach { step =>
      assert(step.keys.distinct().collect().map(_.getString(0)).sorted.toSeq
          == Seq("p2", "p3"),
        "a simultaneous fold step's affected set is not exactly {p2, p3}")
    }
    // the maintained report equals the recompute off both current
    // versions: the ΔO⋈ΔI overlap (o6/o3 under moved/deleted dimension
    // rows) counted exactly once, p3's orders fully retracted, p2's
    // old-category contribution moved wholesale
    assertMultisetEqual(report.current().get,
      shape.report(IngestQueries.joinedView(orders.current().get, inv.current().get)),
      "joined fold diverged from the recompute under simultaneous change")
  }

  test("q177 watermark pair, report lifecycle, onboarding path, and dim-only resume") {
    // the judged row sees the step counts and equivalences; pinned
    // here is the durable MECHANISM behind them — the offsets, the
    // report's own version lifecycle, the newcomer's materialize path,
    // and the one cadence the judged flow doesn't drive: a
    // dimension-ONLY change cycle
    val sf = TestSpark.testdata("0.001")
    val shape = IngestQueries.joinedShape
    val lc = new Lifecycle(spark, sf, "q177")
    IngestQueries.q177BuildDurableJoinFlow(lc)
    assert(lc.counts("order_steps") == Seq(1, 1) && lc.counts("dim_steps") == Seq(1, 1),
      s"per-cycle (orders, dim) fold steps drifted: ${lc.counts("order_steps")}, " +
        s"${lc.counts("dim_steps")}")
    val orders = lc.store("orders")
    val inv = lc.store("inv")
    def watermarks(r: graft.state.StateTable) =
      IngestQueries.reportWatermarks(r).get
    val rep = IngestQueries.reportStoreHandle(spark, lc.dir("report"), shape)
    // the durable watermark pair equals the stores' current versions
    assert(watermarks(rep) == Seq(orders.currentVersion.get, inv.currentVersion.get),
      "the recovered watermark pair is not the stores' current versions")
    // report lifecycle: CreateTable + exactly 4 durable folds
    assert(rep.history().size == 5,
      s"expected CreateTable + 4 folds, got ${rep.history().size}")
    // a newcomer on the VACUUMED pair really takes the materialize
    // path: one bootstrap version recording both oldest retained
    // versions, zero walked pairs, value-equal to the veteran
    val repB = IngestQueries.reportStoreHandle(spark,
      graft.core.Staging.invocationDir("graft_q177_spec_b", sf), shape)
    assert(IngestQueries.resumeMaintenance(shape, Seq(orders, inv), repB).isEmpty)
    assert(repB.history().size == 2,
      "the newcomer did not materialize a bootstrap version")
    assert(watermarks(repB) == Seq(orders.history().head, inv.history().head),
      "the bootstrap offsets are not the oldest retained versions")
    assertMultisetEqual(repB.current().get, rep.current().get,
      "newcomer and veteran report rows diverged")
    // a DIMENSION-ONLY cycle resumes as one inventories step and stays
    // recompute-equal — the judged flow always lands both feeds
    inv.overwrite(inv.read().get.withColumn("category",
      when(col("category") === "RELOCATED", "RELOCATED_2")
        .otherwise(col("category"))))
    assert(IngestQueries.resumeMaintenance(shape, Seq(orders, inv), rep)
        .map(_.source) == Seq(1),
      "a dimension-only change did not resume as one inventories step")
    assertMultisetEqual(rep.current().get,
      shape.report(IngestQueries.joinedView(
        orders.current().get, inv.current().get)),
      "the dimension-only fold diverged from the recompute")
  }

  test("a joined resume past its vacuumed inventories watermark names the inventories store") {
    // the two-source twin of q168's unsafe-vacuum guard: retention that
    // outran the report's inventories offset must fail the resume loudly, and
    // the failure must name the store that was vacuumed
    import spark.implicits._
    val sf = TestSpark.testdata("0.001")
    val shape = IngestQueries.joinedShape
    val orders = new graft.state.StateTable(spark,
      graft.core.Staging.invocationDir("graft_vac_join_orders", sf),
      Seq("order_id", "product_id"))
    val inv = new graft.state.StateTable(spark,
      graft.core.Staging.invocationDir("graft_vac_join_inv", sf),
      Seq("product_id"))
    orders.upsert(Seq(("o1", "p1", 10.00)).toDF("order_id", "product_id", "amount"))
    inv.upsert(Seq("p1" -> "A").toDF("product_id", "category"))
    val report = IngestQueries.reportStoreHandle(spark,
      graft.core.Staging.invocationDir("graft_vac_join_report", sf), shape)
    // the newcomer materializes its base at both current versions
    assert(IngestQueries.resumeMaintenance(shape, Seq(orders, inv), report).isEmpty)
    // an inventories version lands, then a keep-current-only vacuum
    // reclaims the version the report's inventories offset names
    inv.upsert(Seq("p1" -> "B").toDF("product_id", "category"))
    inv.vacuum()
    val ex = intercept[IllegalArgumentException] {
      IngestQueries.resumeMaintenance(shape, Seq(orders, inv), report)
    }
    assert(ex.getMessage.contains("vacuumed past") &&
      ex.getMessage.contains(inv.root) && ex.getMessage.contains(report.root) &&
      !ex.getMessage.contains(orders.root),
      s"the vacuumed-past failure does not name the inventories store: ${ex.getMessage}")
  }

  test("q176 late batch is genuinely late; the late fold changed only its buckets") {
    // the judged oracle replays the late arm, so it cannot see that the
    // late rows landed as INSERTS into months the report had already
    // folded, nor that the durable fold left every other bucket
    // byte-identical. Pinned off the builder's handles and the report
    // table's own version history:
    val sf = TestSpark.testdata("0.001")
    val lc = new Lifecycle(spark, sf, "q176")
    IngestQueries.q176BuildMonthlyFlow(lc)
    assert(lc.counts("fold") == Seq(1, 1, 1), "per-fold applied-step counts drifted")
    val keyCols = graft.core.Schemas.ordersKey
    val orders = lc.store("orders")
    val h = orders.history()
    assert(h.size == 4)
    // pure inserts: the late transition's keys are nonempty and
    // disjoint from the pre-late store
    val lateKeys = graft.core.Checkpoints.pin(
      orders.diff(h(2), h(3)).select(keyCols.map(col): _*))
    assert(lateKeys.limit(1).count() == 1L, "the late transition had no keys")
    assert(orders.readVersion(h(2))
        .join(lateKeys, keyCols, "left_semi").limit(1).count() == 0L,
      "a late key already existed pre-late — not a pure insert batch")
    val reportSt = IngestQueries.reportStoreHandle(spark, lc.dir("report"),
      IngestQueries.monthlyShape)
    val rh = reportSt.history()
    assert(rh.size == 4, "expected CreateTable + three durable folds")
    val bucket = Seq("product_id", "sale_year", "sale_month")
    // the late keys' rows exist only on the after side, so their
    // derived buckets are the late fold's touched set
    val lateTouched = graft.core.Checkpoints.pin(IngestQueries.monthlyShape.report(
      orders.current().get.join(lateKeys, keyCols, "left_semi")).select(bucket.map(col): _*))
    val before = reportSt.readVersion(rh(2))
    val after = reportSt.readVersion(rh(3))
    // genuinely LATE: at least one touched bucket was ALREADY reported
    // before the late fold (new rows landing in an already-folded month)
    assert(lateTouched.join(before.select(bucket.map(col): _*),
        bucket, "left_semi").limit(1).count() == 1L,
      "no late row landed in an already-folded month")
    // expression-key pruning: every bucket that changed across the late
    // fold's durable versions is in the touched set — all other
    // (product, year, month) rows carried byte-identical
    val changed = before.withColumn("_w", lit(1L))
      .unionByName(after.withColumn("_w", lit(-1L)))
      .groupBy(before.columns.map(col).toIndexedSeq: _*)
      .agg(sum(col("_w")).as("imb")).filter(col("imb") =!= 0L)
      .select(bucket.map(col): _*).distinct()
    assert(changed.join(lateTouched, bucket, "left_anti")
        .limit(1).count() == 0L,
      "the late fold changed a bucket outside its touched set")
    // and the touched set is a PROPER subset of the report's buckets —
    // the pruning the judged n_late_touched makes visible
    val nTouched = lateTouched.count()
    val nBuckets = after.select(bucket.map(col): _*).distinct().count()
    assert(nTouched > 0 && nTouched < nBuckets,
      s"late fold touched $nTouched of $nBuckets buckets — pruning not visible")
    assert(lc.counts("late_touched") == Seq(nTouched),
      "the judged late-touched count differs from the late keys' buckets")
  }

  test("a joined report whose folds wrote no rows resumes with zero steps") {
    // orders loaded twice, inventories only CreateTable-synced: every
    // orders fold joins an empty dimension, so every report version the
    // first resume writes is empty — and still records its offsets
    val sf = TestSpark.testdata("0.001")
    val shape = IngestQueries.joinedShape
    val orders = IngestQueries.q161BuildStore(new Lifecycle(spark, sf, "q161"))
    val lc = new Lifecycle(spark, sf, "empty_dim")
    lc.run(lc.create("inv", graft.core.Schemas.inventories, graft.core.Schemas.inventoriesKey))
    val inv = lc.store("inv")
    val reportRoot = graft.core.Staging.invocationDir("graft_empty_dim_r", sf)
    def resume() = IngestQueries.resumeMaintenance(shape, Seq(orders, inv),
      IngestQueries.reportStoreHandle(spark, reportRoot, shape))
    assert(resume().map(_.source) == Seq(0, 0))
    val report = IngestQueries.reportStoreHandle(spark, reportRoot, shape)
    assert(report.current().get.isEmpty)
    assert(IngestQueries.reportWatermarks(report) ==
      Some(Seq(orders.currentVersion.get, inv.currentVersion.get)),
      "an empty report version lost its watermark pair")
    assert(resume().isEmpty, "a restart over empty report versions refolded")
  }

  test("a report purged to empty keeps its watermark for resume and retention") {
    // a raw overwrite purges every order: the fold retracts every group,
    // so the report's current version has no rows — its recorded offset
    // still says the consumer is caught up, for the restart and for
    // retention
    val sf = TestSpark.testdata("0.001")
    val keyCols = graft.core.Schemas.ordersKey
    val orders = IngestQueries.q161BuildStore(new Lifecycle(spark, sf, "q161"))
    orders.overwrite(orders.read().get.filter(lit(false)))
    val h = orders.history()
    assert(h.size == 4)
    val reportRoot = graft.core.Staging.invocationDir("graft_purged_r", sf)
    def report() = IngestQueries.reportStoreHandle(spark, reportRoot)
    assert(IngestQueries.resumeReportMaintenance(orders, report(), keyCols) == 3)
    assert(report().current().get.isEmpty, "the purge fold left report rows")
    assert(IngestQueries.resumeReportMaintenance(orders, report(), keyCols) == 0,
      "a restart over an empty report version refolded")
    val wm = IngestQueries.reportWatermark(report(), orders.history().head)
    assert(wm == h.last, s"the empty report's watermark $wm is not the current orders version")
    assert(orders.vacuumBefore(wm) == h.init, "retention did not reclaim the absorbed versions")
    assert(IngestQueries.resumeReportMaintenance(orders, report(), keyCols) == 0)
  }

  /** Crash residue a store write leaves between its parquet write and
    * its commit: a complete version directory named to sort after every
    * committed version, holding `rows`, and its log entry written but
    * not linked into place. Returns its name.
    */
  private def plantUncommitted(st: graft.state.StateTable,
      rows: org.apache.spark.sql.DataFrame): String = {
    val last = st.history().last
    val name = f"v-${java.lang.Long.parseLong(last.slice(2, 18), 16) + 1L}%016x-crash"
    rows.write.mode("overwrite").parquet(Paths.get(st.root, name).toString)
    Files.writeString(Paths.get(st.root, "_log", s".$name"), s"$name\n")
    name
  }

  /** The version name an entry of a store's commit log holds. */
  private def entryName(entry: java.nio.file.Path): String =
    Files.readString(entry).linesIterator.next()

  /** Crash residue of a retention vacuum stopped after it deleted
    * `version`'s log entry and part of its directory.
    */
  private def plantInterruptedVacuum(st: graft.state.StateTable,
      version: String): Unit = {
    val log = Paths.get(st.root, "_log")
    graft.core.Fs.listDir(log).filter(entryName(_) == version)
      .foreach(Files.delete)
    graft.core.Fs.listDir(Paths.get(st.root, version))
      .filter(_.getFileName.toString.startsWith("part-")).take(1)
      .foreach(Files.delete)
  }

  test("crash residue at every store-write boundary of a q167 lifecycle is never folded") {
    val sf = TestSpark.testdata("0.001")
    val keyCols = graft.core.Schemas.ordersKey
    // the q161 flow's three versions (CreateTable, first load, re-run)
    // replayed write by write into a fresh orders store, each followed
    // by a fresh-handle fold, then retention at the report watermark
    val src = IngestQueries.q161BuildStore(new Lifecycle(spark, sf, "q161"))
    val versions = src.history().map(v =>
      spark.read.parquet(Paths.get(src.root, v).toString))
    val ordersRoot = graft.core.Staging.invocationDir("graft_crash_q167_o", sf)
    val reportRoot = graft.core.Staging.invocationDir("graft_crash_q167_r", sf)
    def orders() = new graft.state.StateTable(spark, ordersRoot, keyCols)
    def report() = IngestQueries.reportStoreHandle(spark, reportRoot)
    def resume(): Int = IngestQueries.resumeReportMaintenance(orders(), report(), keyCols)
    val writes: Seq[(String, () => Unit)] = versions.zipWithIndex.flatMap { case (df, i) =>
      Seq[(String, () => Unit)](
        s"orders write $i" -> (() => orders().overwrite(df)),
        s"fold after write $i" -> (() => resume(): Unit))
    } :+ ("retention" -> (() => {
      val o = orders()
      o.vacuumBefore(IngestQueries.reportWatermark(report(), o.history().head)): Unit
    }))
    // restart: fresh handles resume, then the durable report must equal
    // the recompute and its watermark must be the committed current
    // orders version
    def assertRecovered(at: String): Unit = {
      resume()
      val o = orders()
      val r = report()
      IngestQueries.reportWatermarks(r).foreach { case Seq(wm) =>
        assert(o.history().contains(wm) && o.currentVersion.contains(wm),
          s"$at: report watermark $wm is not the committed current orders version")
      }
      assertMultisetEqual(r.current().get,
        IngestQueries.productShape.report(o.current().get),
        s"$at: the durable report diverged from the recompute")
    }
    writes.foreach { case (at, write) =>
      write()
      // a crash inside the next write of either store
      val o = orders()
      plantUncommitted(o, o.read().get.withColumn("amount", col("amount") * lit(3.0)))
      if (Files.exists(Paths.get(reportRoot)))
        plantUncommitted(report(), report().read().get.withColumn("n_rows", col("n_rows") * 3L))
      assertRecovered(s"$at + uncommitted write")
      // a crash inside retention at the report watermark
      val oldest = o.history().head
      IngestQueries.reportWatermarks(report())
        .filter(oldest < _.head).foreach { _ =>
        plantInterruptedVacuum(o, oldest)
        assert(!orders().history().contains(oldest))
        assertRecovered(s"$at + interrupted vacuum")
      }
    }
  }

  test("a q177 resume recovers from a crash after any of its report writes") {
    val sf = TestSpark.testdata("0.001")
    val ordersRoot = IngestQueries.q161BuildStore(new Lifecycle(spark, sf, "q161")).root
    // both stores keep their empty CreateTable versions, so the orders
    // folds join an empty dimension and write empty report versions
    val invRoot = IngestQueries.q163BuildInvStore(new Lifecycle(spark, sf, "q163")).root
    val reportRoot = graft.core.Staging.invocationDir("graft_crash_q177_r", sf)
    def orders() = new graft.state.StateTable(spark, ordersRoot,
      graft.core.Schemas.ordersKey)
    def inv() = new graft.state.StateTable(spark, invRoot,
      graft.core.Schemas.inventoriesKey)
    val shape = IngestQueries.joinedShape
    def report() = IngestQueries.reportStoreHandle(spark, reportRoot, shape)
    def resume(): Seq[Int] =
      IngestQueries.resumeMaintenance(shape, Seq(orders(), inv()), report()).map(_.source)
    def assertRecovered(at: String): Unit = {
      val (o, i, r) = (orders(), inv(), report())
      val Seq(wmO, wmI) = IngestQueries.reportWatermarks(r).get
      assert(o.history().contains(wmO) && i.history().contains(wmI),
        s"$at: watermark pair ($wmO, $wmI) names an uncommitted version")
      assert((wmO, wmI) == ((o.currentVersion.get, i.currentVersion.get)),
        s"$at: watermark pair is not the stores' current versions")
      assertMultisetEqual(r.current().get,
        shape.report(IngestQueries.joinedView(o.current().get, i.current().get)),
        s"$at: the durable joined report diverged from the recompute")
    }
    // one resume writes CreateTable, then one report version per fold:
    // the two orders folds (empty, over the CreateTable inventories),
    // then the two inventories folds
    val sources = resume()
    val n = sources.size
    assert(sources == Seq(0, 0, 1, 1),
      s"expected orders, orders, inventories, inventories steps, got $sources")
    assertRecovered("uninterrupted resume")
    val reportLog = Paths.get(reportRoot, "_log")
    // a crash after the resume's k-th fold write, during the next one:
    // the report log holds CreateTable + k folds, and fold k+1's
    // directory is written but uncommitted
    (n - 1 to 0 by -1).foreach { k =>
      val entries = graft.core.Fs.listDir(reportLog).sortBy(_.getFileName.toString)
      val names = entries.map(entryName)
      entries.drop(k + 1).foreach(Files.delete)
      names.drop(k + 2).foreach(v =>
        graft.core.Fs.deleteRecursively(Paths.get(reportRoot, v)))
      val resumed = resume().size
      assert(resumed == n - k, s"crash after fold $k: resumed $resumed steps, want ${n - k}")
      assert(!report().history().contains(names(k + 1)))
      assertRecovered(s"crash after fold $k")
    }
    // a crash inside per-store retention at the watermark pair
    val Seq(wmO, wmI) = IngestQueries.reportWatermarks(report()).get
    val doomedO = orders().history().head
    val doomedI = inv().history().head
    assert(doomedO < wmO && doomedI < wmI)
    plantInterruptedVacuum(orders(), doomedO)
    plantInterruptedVacuum(inv(), doomedI)
    assert(resume().isEmpty, "an interrupted vacuum made a caught-up report refold")
    assertRecovered("interrupted vacuum")
    // finishing retention reclaims the rest; vacuum() clears the residue
    orders().vacuumBefore(wmO)
    orders().vacuum()
    assert(!Files.exists(Paths.get(ordersRoot, doomedO)))
    assertRecovered("completed retention")
  }
}
