package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType,
  StructField, StructType}

import graft.QuerySpec
import graft.tables.Tables

/** q159: the CSV-ingestion certificate — the judged gate for the S1/P1–P5
  * cleaning contract that was previously spec-only (the one SURVEY §2
  * block a user hits on every single load).
  *
  * The fixture stages a real landing directory of orders-shaped CSV text
  * with every reference ingestion hazard baked in at byte level, derived
  * deterministically from the orders table so the oracle can replay the
  * generator (staged stores are process-scoped and swept before the
  * oracle runs, so — as with every staged query — the oracle replays the
  * derivation, it does not re-read the staging):
  *
  *  - camelCase headers, one per part file (`flows/utils.py:4–5` rename;
  *    multi-file landing dirs mean the reader must skip a header line in
  *    EVERY file, not just the first);
  *  - both ISO-8601 precision variants the reference corpus mixes
  *    (`flows/data_ingestion.py:86–91`): with-seconds
  *    `2024-01-02T03:04:05Z` on even keys, seconds-less
  *    `2024-01-02T03:04Z` on odd keys — one `timestampFormat` cannot
  *    express both, which is exactly what [[graft.core.Schemas.parseDateTime]]'s
  *    coalesce exists for;
  *  - UNQUOTED empty fields (campaign on keys ≡ 0 mod 5) that must land
  *    as NULL (pandas NaN→None parity, `flows/data_ingestion.py:109–112`);
  *  - QUOTED fields containing the delimiter (`"camp,N"`) that must
  *    round-trip through RFC-4180 unquoting intact — a broken quote path
  *    shifts every following column and poisons the timestamp parse,
  *    which the judged `n_ts_null = 0` pins;
  *  - verbatim duplicate lines (keys ≡ 0 mod 11 emitted twice): the
  *    reader preserves multiplicity — dedup belongs to the upsert layer
  *    (§2.4), never the reader;
  *  - numeric round-trips: int quantity, two-decimal double
  *    shippingCost, full-precision double amount (shortest-round-trip
  *    double formatting on write, so parse-back is bit-exact and the
  *    cent-floor aggregates match the oracle's replay bit-for-bit).
  *
  * The measured operator is [[Ingest.readOrdersCsv]] — declared schema
  * (never inference: at 100 TB an inference pass is a full extra read),
  * nullValue="" cleaning, rename, dual-format parse — feeding one
  * 3-group rollup whose every column is sensitive to one hazard. The
  * fixture lines are built by whole-column expressions and written
  * line-splittable (header prepended per partition, no driver loop), so
  * the staging itself is shaped like a distributed extract job, and the
  * certificate read scans N files in N tasks with zero shuffle before
  * the final 3-group aggregate.
  *
  * What the oracle cannot see — that the staged bytes really carry the
  * hazards (a degenerate generator would replay green) — IngestCertSpec
  * pins against the raw staged text: header per file, both timestamp
  * shapes, unquoted-empty and quoted-comma fields, duplicated lines.
  */
object IngestQueries {

  private[graft] val Header =
    "orderId,productId,currency,quantity,shippingCost,amount," +
      "channel,channelGroup,campaign,dateTime"

  /** The hazard row source: orders columns under fixture names, with the
    * verbatim-duplicate rows (keys ≡ 0 mod 11) already unioned in.
    * Shared by q159's fixture, q161's two batch slices, and
    * IngestCertSpec, so fixture and assertions cannot drift.
    */
  private[graft] def hazardSource(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority"), col("o_orderstatus"))
    src.unionAll(src.filter(col("k") % 11 === 0))
  }

  /** The hazard-laden CSV line set over a prepared [[hazardSource]]
    * frame. Header NOT included.
    */
  private[graft] def linesFrom(dup: DataFrame): DataFrame = {
    val ts = expr(
      "o_orderdate + make_interval(0, 0, 0, 0, 0, cast(k % 1440 as int), " +
        "cast(case when k % 2 = 0 then k % 60 else 0 end as int))")
    dup.select(concat(
      col("k").cast("string"), lit(","),
      col("o_custkey").cast("string"), lit(","),
      when(col("k") % 3 === 0, "EUR").otherwise("USD"), lit(","),
      (col("k") % 50 + 1).cast("int").cast("string"), lit(","),
      ((col("k") % 2000).cast("double") / 100.0).cast("string"), lit(","),
      col("o_totalprice").cast("string"), lit(","),
      col("o_orderpriority"), lit(","),
      col("o_orderstatus"), lit(","),
      // quoted-delimiter hazard on the live branch, unquoted-empty on
      // the null branch — both exact bytes, no writer mediation
      when(col("k") % 5 === 0, lit(""))
        .otherwise(concat(lit("\"camp,"), (col("k") % 7).cast("string"), lit("\""))),
      lit(","),
      when(col("k") % 2 === 0, date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .otherwise(date_format(ts, "yyyy-MM-dd'T'HH:mm'Z'"))).as("value"))
  }

  /** Shared oracle CTE fragment: the cleaned-column derivations from a
    * `k`/`o_orderdate` source — one definition interpolated into BOTH
    * the q159 and q161 oracle strings, so the hazard arithmetic (which
    * must mirror [[linesFrom]] exactly) cannot drift between the two
    * judged replays. A def, not a val: oracle strings are vals built at
    * object init and must never read a forward val reference.
    * shipping_cost's divisor is cast to DOUBLE explicitly: the
    * cent-floor aggregates require double division (29/100.0 in double
    * floors to 28 cents exactly as Spark computes it), and an implicit
    * bigint/decimal resolution would silently flip that — the explicit
    * cast makes the requirement independent of DuckDB's literal typing.
    */
  private def hazardColsSql: String =
    """CASE WHEN k % 5 = 0 THEN NULL
      |         ELSE 'camp,' || cast(k % 7 AS varchar) END AS campaign,
      |    cast(k % 50 + 1 AS integer) AS quantity,
      |    (k % 2000) / cast(100.0 AS double) AS shipping_cost,
      |    o_orderdate + (k % 1440) * INTERVAL 1 minute
      |      + (CASE WHEN k % 2 = 0 THEN k % 60 ELSE 0 END) * INTERVAL 1 second
      |      AS date_time""".stripMargin

  /** Landing-dir staging mechanics shared by every CSV fixture: N part
    * files, each carrying its own header line (the CSV reader skips one
    * header per FILE — a multi-file landing dir is the production
    * shape), header prepended per partition so the staging itself is
    * distributed (no driver loop). ONE writer so the orders and
    * inventories fixtures can never drift to different staging
    * conventions.
    */
  private def stageLandingDir(spark: SparkSession, lines: DataFrame,
      header: String, out: String): Unit = {
    import spark.implicits._
    lines.as[String]
      .mapPartitions(it => Iterator(header) ++ it)
      .write.mode("overwrite").text(out)
  }

  /** Deterministic nFiles-way split of a fixture SOURCE frame by hash
    * of its `k` column — applied BEFORE the CSV line formatting, so:
    * (1) no round-robin `repartition(n)`, whose retry-determinism
    * local sort (`spark.sql.execution.sortBeforeRepartition`) would
    * sort every row — xxhash64(k) is a pure row function and needs no
    * sort (guide §2.5); (2) the exchange moves the NARROW source
    * columns, not formatted line strings (guide §2.3, project-late);
    * (3) the expression-heavy line formatting runs on nFiles tasks
    * after the exchange instead of on the source's 1–2 scan splits.
    * 64×nFiles distinct key values spread evenly over nFiles
    * partitions; duplicate-key rows co-locate, which the landing
    * protocol tolerates (files just need to cover the line multiset).
    */
  private def splitForStaging(src: DataFrame, nFiles: Int): DataFrame =
    src.repartition(nFiles, pmod(xxhash64(col("k")), lit(nFiles * 64)))

  /** Stage the fixture as a 4-file landing dir via [[stageLandingDir]].
    * `transform` reshapes the hazard source before line building (q161's
    * batch slices); the default identity keeps q159's fixture
    * byte-identical to its oracle's replay.
    */
  private[graft] def stageOrdersCsv(
      spark: SparkSession, dir: String, out: String,
      transform: DataFrame => DataFrame = identity): Unit =
    stageLandingDir(spark,
      linesFrom(splitForStaging(transform(hazardSource(spark, dir)), 4)),
      Header, out)

  val q159CsvIngestCert: QuerySpec = QuerySpec(
    (s, dir) => {
      val staged = graft.core.Staging.invocationDir("graft_q159_csv", dir)
      stageOrdersCsv(s, dir, staged)
      val ing = Ingest.readOrdersCsv(s, staged)
      ing.groupBy(col("channel_group"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(when(col("campaign").isNull, 1)).as("null_campaigns"),
          sum(length(col("campaign"))).cast("long").as("campaign_chars"),
          count(when(col("currency") === "EUR", 1)).as("n_eur"),
          sum(col("quantity")).as("qty_sum"),
          sum(floor(col("shipping_cost") * 100).cast("long")).as("ship_cents"),
          sum(floor(col("amount") * 100).cast("long")).as("amount_cents"),
          sum(unix_timestamp(col("date_time"))).as("ts_epoch_sum"),
          count(when(col("date_time").isNull, 1)).as("n_ts_null"))
        .orderBy(col("channel_group"))
    },
    s"""WITH src AS (
       |  SELECT o_orderkey AS k, o_custkey, o_totalprice, o_orderdate,
       |         o_orderpriority, o_orderstatus
       |  FROM orders),
       |dup AS (SELECT * FROM src UNION ALL SELECT * FROM src WHERE k % 11 = 0),
       |ing AS (
       |  SELECT o_orderstatus AS channel_group,
       |    CASE WHEN k % 3 = 0 THEN 'EUR' ELSE 'USD' END AS currency,
       |    o_totalprice AS amount,
       |    $hazardColsSql
       |  FROM dup)
       |SELECT channel_group,
       |  cast(count(*) AS bigint) AS n_rows,
       |  cast(count(*) FILTER (campaign IS NULL) AS bigint) AS null_campaigns,
       |  cast(sum(length(campaign)) AS bigint) AS campaign_chars,
       |  cast(count(*) FILTER (currency = 'EUR') AS bigint) AS n_eur,
       |  cast(sum(quantity) AS bigint) AS qty_sum,
       |  cast(sum(cast(floor(shipping_cost * 100) AS bigint)) AS bigint) AS ship_cents,
       |  cast(sum(cast(floor(amount * 100) AS bigint)) AS bigint) AS amount_cents,
       |  cast(sum(cast(epoch(date_time) AS bigint)) AS bigint) AS ts_epoch_sum,
       |  cast(count(*) FILTER (date_time IS NULL) AS bigint) AS n_ts_null
       |FROM ing GROUP BY channel_group ORDER BY channel_group""".stripMargin)

  /** q161: the reference main-flow certificate — `main.py`'s complete
    * user story composed through the REAL components and judged as one
    * row set: schema sync BEFORE ingest (R4 sequencing,
    * `main.py:20–24`), CSV landing dirs through the hazard-bearing
    * reader (S1/P1–P5), a first load whose within-batch duplicate keys
    * are APPENDED (§2.4 first-load semantics,
    * `flows/data_ingestion.py:116,146`), a re-run batch whose matched
    * keys overwrite only the latest state row (LWW,
    * `:50–65` + `:197–206`) while unseen keys append — both through
    * [[graft.state.StateTable.upsert]] on the reference's COMPOSITE
    * (order_id, product_id) key — and a final report rollup off the
    * store (S8 shape). Individually these operators are judged by
    * q159/q10/q11/q156-q160; what no other query certifies is the
    * COMPOSITION: the cleaned CSV values survive the store round-trip,
    * the duplicate-key multiplicity survives BOTH upserts, and the LWW
    * overwrite lands on exactly one copy of a duplicated key (the
    * oracle's weighted-arms replay: matched keys contribute copies−1
    * v1-rows plus one v2-row). The sync leg judges `CreateTable` — the
    * one SchemaSync branch q160 leaves spec-only (the applied change is
    * require-pinned, so a drift is a named failure).
    *
    * Determinism note: the duplicate lines are byte-identical, so
    * last-write-wins over a multi-file (nondeterministically ordered)
    * scan is value-deterministic — the same property the reference
    * relies on when pandas iterates its CSV in file order.
    *
    * Scale: two scan-parallel landing-dir reads, two key-window upsert
    * passes (the store's own algebra), one store-scan rollup — each leg
    * already individually plan-audited; the composition adds no new
    * shuffle class. The judged plan is the final store scan + 3-group
    * rollup + 3-row sort.
    */
  /** q161's batch slices over [[hazardSource]] — shared with
    * IngestCertSpec's lifecycle guard so the guarded flow can never
    * drift from the judged one (the hazardSource discipline).
    */
  private[graft] val q161Batch1: DataFrame => DataFrame =
    _.filter(col("k") % 3 =!= 0)
  private[graft] val q161Batch2: DataFrame => DataFrame =
    df => df.filter(col("k") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))

  /** The steps staging both flow batches into dirs `b1` and `b2` —
    * shared by the batch and streamed flows so the two legs always
    * ingest identically-derived landing dirs.
    */
  private def flowBatches(lc: Lifecycle): Seq[Lifecycle.Step[Unit]] =
    Seq(lc.stageOrders("b1", q161Batch1), lc.stageOrders("b2", q161Batch2))

  /** Creates the flow's orders store `orders`. */
  private def ordersStore(lc: Lifecycle): Lifecycle.Step[Unit] =
    lc.create("orders", graft.core.Schemas.orders, graft.core.Schemas.ordersKey)

  /** Creates the inventories store `inv`. */
  private def invStore(lc: Lifecycle): Lifecycle.Step[Unit] =
    lc.create("inv", graft.core.Schemas.inventories, graft.core.Schemas.inventoriesKey)

  /** Stage both landing dirs and run the full flow (sync → first load →
    * re-run) through a fresh store; returns the store with its three
    * retained versions (empty CreateTable, first load, re-run). Shared
    * by the judged query and the lifecycle guard.
    */
  private[graft] def q161BuildStore(lc: Lifecycle): graft.state.StateTable = {
    lc.par(flowBatches(lc) :+ ordersStore(lc): _*)
    lc.run(lc.load("orders", Ingest.readOrdersCsv, "b1")) // first load: append, dups kept
    lc.run(lc.load("orders", Ingest.readOrdersCsv, "b2")) // re-run: LWW + unseen appends
    lc.store("orders")
  }

  /** The flow's report rollup over a store's cleaned contents — shared
    * by q161 (batch store) and q162 (streamed store), so the two judged
    * certificates aggregate identically by construction.
    */
  private def flowRollup(contents: DataFrame): DataFrame =
    contents.groupBy(col("channel_group"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("campaign").isNull, 1)).as("null_campaigns"),
        sum(length(col("campaign"))).cast("long").as("campaign_chars"),
        sum(col("quantity")).as("qty_sum"),
        sum(floor(col("shipping_cost") * 100).cast("long")).as("ship_cents"),
        sum(floor(col("amount") * 100).cast("long")).as("amount_cents"),
        sum(unix_timestamp(col("date_time"))).as("ts_epoch_sum"))

  /** The weighted-arms LWW replay of the flow-built ORDERS store — the
    * `WITH … fin` CTE prefix shared verbatim by q161, q162, and q163
    * (the streamed store must equal the batch one and the A4 report
    * reads the same store, so one replay predicts all three; a drift
    * in the LWW weights would have to break every consumer at once).
    * `fin` carries o_custkey — the flow's product_id — so store-level
    * consumers can group by product as well as by channel_group.
    * A def for the object-init ordering rule.
    */
  private def flowStoreReplaySql: String =
    s"""WITH src AS (
       |  SELECT o_orderkey AS k, o_custkey, o_totalprice, o_orderdate,
       |         o_orderpriority, o_orderstatus FROM orders),
       |keyed AS (
       |  SELECT *, CASE WHEN k % 11 = 0 THEN 2 ELSE 1 END AS copies,
       |    $hazardColsSql
       |  FROM src),
       |-- weighted-arms LWW replay: batch-1 rows keep all copies on
       |-- unmatched keys and copies-1 on matched keys (the overwrite
       |-- absorbs exactly one), matched keys add one v2-amount row,
       |-- unseen batch-2 keys append all copies
       |arm_old AS (
       |  SELECT o_orderstatus, o_custkey, campaign, quantity, shipping_cost,
       |         date_time, o_totalprice AS amount,
       |         copies - (CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS w
       |  FROM keyed WHERE k % 3 <> 0),
       |arm_upd AS (
       |  SELECT o_orderstatus, o_custkey, campaign, quantity, shipping_cost,
       |         date_time, o_totalprice * cast(1.1 AS double) AS amount, 1 AS w
       |  FROM keyed WHERE k % 3 <> 0 AND k % 2 = 0),
       |arm_ins AS (
       |  SELECT o_orderstatus, o_custkey, campaign, quantity, shipping_cost,
       |         date_time, o_totalprice * cast(1.1 AS double) AS amount, copies AS w
       |  FROM keyed WHERE k % 3 = 0 AND k % 2 = 0),
       |fin AS (SELECT * FROM arm_old WHERE w > 0
       |        UNION ALL SELECT * FROM arm_upd
       |        UNION ALL SELECT * FROM arm_ins)""".stripMargin

  /** The flow oracle: [[flowStoreReplaySql]] rolled up by channel_group
    * — shared by q161 and q162; `extraCols` appends the per-query
    * contract columns.
    */
  private def flowOracleSql(extraCols: String): String =
    s"""$flowStoreReplaySql
       |SELECT o_orderstatus AS channel_group,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(CASE WHEN campaign IS NULL THEN w ELSE 0 END) AS bigint) AS null_campaigns,
       |  cast(sum(CASE WHEN campaign IS NULL THEN 0
       |                ELSE w * length(campaign) END) AS bigint) AS campaign_chars,
       |  cast(sum(w * quantity) AS bigint) AS qty_sum,
       |  cast(sum(w * cast(floor(shipping_cost * 100) AS bigint)) AS bigint) AS ship_cents,
       |  cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS amount_cents,
       |  cast(sum(w * cast(epoch(date_time) AS bigint)) AS bigint) AS ts_epoch_sum,
       |  $extraCols
       |FROM fin GROUP BY channel_group ORDER BY channel_group""".stripMargin

  val q161ReferenceFlowE2e: QuerySpec = QuerySpec(
    (s, dir) => {
      val st = q161BuildStore(new Lifecycle(s, dir, "q161"))
      val versions = st.history().size.toLong
      flowRollup(st.current().get)
        .withColumn("n_versions", lit(versions))
        .orderBy(col("channel_group"))
    },
    flowOracleSql("cast(3 AS bigint) AS n_versions"))

  /** The streamed flow's handles: the store plus a re-drain thunk over
    * the same landing dir + checkpoint, so IngestCertSpec can prove the
    * exactly-once file log covers every landed file (a third drain with
    * nothing new must not write a version).
    */
  private[graft] final case class StreamedFlow(
      st: graft.state.StateTable, drain: () => Unit)

  /** One `AvailableNow` drain of the streamed flow's landing dir `b1`
    * into store `orders` under checkpoint `ckpt`. A certificate can land
    * more files in `b1` after the build and drain them through the same
    * checkpoint (q176's late-arriving batch).
    */
  private def drain(lc: Lifecycle): Unit = lc.run(lc.step("drain")(
    graft.streaming.StreamingIngest.runOrdersIngest(lc.spark, lc.dir("b1"),
      lc.store("orders"), lc.dir("ckpt")).awaitTermination()))

  /** Move a staged dir's part files into a landing dir under fresh
    * `tag`-prefixed names — the file source keys its processed-file log
    * on PATH, so later-landed files must never collide with an earlier
    * landing's names. ONE definition for the builder's re-run landing
    * and any certificate that lands extra batches (q176).
    */
  private[graft] def landStagedFiles(stageDir: String, landing: String,
      tag: String): Unit =
    graft.core.Fs.listDir(java.nio.file.Paths.get(stageDir))
      .filter(_.getFileName.toString.startsWith("part-"))
      .zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.move(p,
          java.nio.file.Paths.get(landing, s"$tag-$i-${p.getFileName}")): Unit
      }

  /** The streamed reference flow, shared by q162 (parity certificate)
    * and q165–q176 (maintained reports): stage both batches, create
    * the `orders` store, drain the landing dir twice under ONE checkpoint — phase 1
    * the first-load files, phase 2 the re-run files landed into the
    * SAME directory. `afterDrain` fires after each drain with the store
    * (q165 folds its maintenance step there); the final history require
    * pins exactly one micro-batch version per drain, so a hook that
    * reads `history` sees the pre-drain version at size−2. ONE builder
    * so the streamed certificates can never drift to different
    * drain protocols. `finalVersions` is the expected RETAINED history
    * size after both drains — 3 (CreateTable + one micro-batch per
    * drain) unless the hook itself vacuums (q168's continuous
    * retention reclaims everything below the fold watermark, leaving
    * 1); a hook that vacuums also pins per-drain fold counts in its
    * guard spec, which carries the one-version-per-drain assumption
    * this require can then no longer see.
    */
  private def buildStreamedFlowStore(lc: Lifecycle,
      afterDrain: graft.state.StateTable => Unit = _ => (),
      finalVersions: Int = 3): StreamedFlow = {
    // the phase-1 files stage directly into the landing dir; phase-2
    // files stage aside and land between the drains
    lc.par(flowBatches(lc) :+ ordersStore(lc): _*)
    val st = lc.store("orders")
    drain(lc) // phase 1: the first-load files
    afterDrain(st)
    // phase 2: the re-run files land in the SAME directory (fresh names;
    // the file source keys its processed-log on path)
    landStagedFiles(lc.dir("b2"), lc.dir("b1"), "rerun")
    drain(lc) // phase 2: only the newly-landed files
    afterDrain(st)
    require(st.history().size == finalVersions,
      s"${lc.prefix} precondition: expected $finalVersions retained version(s) " +
        s"after both drains, got ${st.history().size} — trigger chunking, " +
        "the checkpoint file log, or the hook's retention drifted")
    StreamedFlow(st, () => drain(lc))
  }

  private[graft] def q162BuildStreamedStore(lc: Lifecycle): StreamedFlow =
    buildStreamedFlowStore(lc)

  /** q162: the STREAMING twin of q161 — the reference's "re-run when a
    * new file lands" semantics (`main.py:29–32`) as a file-source
    * stream, judged equal to the shared batch flow. Two `AvailableNow`
    * drains over ONE landing directory under ONE checkpoint: phase 1
    * drains the first-load files; the re-run files then LAND in the
    * same directory and phase 2 drains them — the checkpoint's
    * file-source log must skip every already-processed file, so the
    * judged `equiv_diff = 0` against [[q161BuildStore]]'s contents is
    * also an exactly-once certificate (a reprocessed first-load file
    * would LWW matched keys back to their v1 amounts and break the
    * multiset diff across ~half the key space). Each drain's upsert
    * goes through `foreachBatch` into the SAME `StateTable.upsert` the
    * batch flow calls — batch–stream parity by construction, judged
    * rather than assumed (the q117/q157 convention applied to the
    * reference's own flow).
    *
    * Determinism: a drain with no `maxFilesPerTrigger` bound processes
    * all available files in ONE micro-batch, so the store sees exactly
    * two upserts; the `history == 3` require names that assumption
    * (CreateTable + 2 micro-batches) instead of letting a trigger-
    * chunking change surface as an oracle mismatch. Within a
    * micro-batch the duplicate lines are byte-identical, so LWW is
    * value-deterministic under any file order (q161's argument).
    *
    * Scale: the file source tracks processed files in the checkpoint
    * (exactly-once per file at any corpus size); each micro-batch is an
    * ordinary distributed upsert. The judged plan is the streamed
    * store's scan-rollup plus the full-row multiset diff against the
    * batch store — two store scans, the honest price of an equivalence
    * certificate (q141/q151/q157 convention).
    */
  /** Per-group full-row multiset symmetric difference (q156's
    * convention): every column of `a` participates, so any value
    * produced differently in either leg breaks it. Computed as a
    * ±1-weighted union-groupBy, NOT a count join — rows legitimately
    * carry NULLs (cleaned campaigns), and a join on the column list can
    * never match NULL keys (NULL = NULL is not true), which would
    * report every NULL-bearing row as a spurious two-sided diff;
    * grouping treats NULLs as equal. One shuffle instead of
    * two-plus-join, too. ONE definition for every equivalence
    * certificate in this family (q162, q164), so the arithmetic cannot
    * drift between them.
    */
  private def multisetEquivDiff(a: DataFrame, b: DataFrame,
      groupKey: String): DataFrame = {
    val cols = a.columns.toIndexedSeq
    a.withColumn("_w", lit(1L)).unionByName(b.withColumn("_w", lit(-1L)))
      .groupBy(cols.map(col): _*).agg(sum(col("_w")).as("_imb"))
      .groupBy(col(groupKey)).agg(sum(abs(col("_imb"))).as("equiv_diff"))
  }

  val q162StreamingFlowE2e: QuerySpec = QuerySpec(
    (s, dir) => {
      val streamed = q162BuildStreamedStore(new Lifecycle(s, dir, "q162")).st
      val batch = q161BuildStore(new Lifecycle(s, dir, "q162_batch"))
      val a = streamed.current().get
      val b = batch.current().get
      val versions = streamed.history().size.toLong
      val diff = multisetEquivDiff(a, b, "channel_group")
      // inner join: diff is grouped from the UNION of both stores, so
      // its channel_group set is a superset of the rollup's by
      // construction — there is no unmatched-row case to coalesce (and
      // a group present in only one store still surfaces, as a nonzero
      // equiv_diff on the side that has it or a missing rollup row
      // against the oracle's shape)
      flowRollup(a)
        .withColumn("n_versions", lit(versions))
        .join(diff, Seq("channel_group"))
        .orderBy(col("channel_group"))
    },
    flowOracleSql(
      "cast(3 AS bigint) AS n_versions,\n  cast(0 AS bigint) AS equiv_diff"))

  // ------------------------------------------------------------------
  // q163: the inventories flow leg + the A4 report off TWO flow-built
  // stores — the last literal leg of the reference user story
  // ------------------------------------------------------------------

  private[graft] val InvHeader = "productId,name,quantity,category,subCategory"

  /** The inventories fixture source: the product catalog derived from
    * the customer table (its key space is exactly the orders fixture's
    * productId space — [[linesFrom]] emits o_custkey as productId — so
    * catalog/sales overlap is structural, not coincidental). `quant` is
    * the batch-1 base quantity; batch transforms reshape it. Every
    * k ≡ 0 mod 10 row maps to a DISJOINT 'new_'-prefixed product id — a
    * just-listed product no order can reference — which makes A4's NULL
    * branch (never-sold products) load-bearing by construction rather
    * than by corpus accident. (Scale note: at sf0.001/sf0.01 every
    * customer has surviving orders, so the ghosts are the ONLY NULL
    * source; the NULL-rows-are-exactly-ghosts invariant the guard pins
    * is scale-checked, not structural — a corpus where a non-mod-10
    * customer had no orders would legitimately add non-ghost NULLs.)
    */
  private[graft] def invSource(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey").as("k"), col("c_name"), col("c_mktsegment"))
      .withColumn("quant", (col("k") % 500 + 1).cast("int"))

  /** Inventory CSV lines (header NOT included) — no new byte hazards by
    * design: the S2 reader is the S1 path minus the timestamp parse
    * (q159 judges the cleaning contract); this fixture's job is the
    * simple-key store flow and the store-to-store report.
    */
  private[graft] def invLinesFrom(src: DataFrame): DataFrame =
    src.select(concat(
      when(col("k") % 10 === 0, concat(lit("new_"), col("k").cast("string")))
        .otherwise(col("k").cast("string")), lit(","),
      col("c_name"), lit(","),
      col("quant").cast("string"), lit(","),
      col("c_mktsegment"), lit(","),
      concat(lit("sub_"), (col("k") % 13).cast("string"))).as("value"))

  /** Stage an inventories landing dir (2 part files, camelCase header
    * per file) via [[stageLandingDir]].
    */
  private[graft] def stageInventoriesCsv(
      spark: SparkSession, dir: String, out: String,
      transform: DataFrame => DataFrame = identity): Unit =
    stageLandingDir(spark,
      invLinesFrom(splitForStaging(transform(invSource(spark, dir)), 2)),
      InvHeader, out)

  /** q163's inventory batch slices — batch 1 is the catalog minus the
    * k ≡ 0 mod 7 block (those arrive later), batch 2 re-lists every
    * even-k product with a restock of +7 units: matched even keys are
    * LWW-updated, unseen even multiples of 7 are inserted, odd
    * multiples of 7 never reach the store. Shared with IngestCertSpec's
    * lifecycle guard (the hazardSource discipline).
    */
  private[graft] val q163InvBatch1: DataFrame => DataFrame =
    _.filter(col("k") % 7 =!= 0)
  private[graft] val q163InvBatch2: DataFrame => DataFrame =
    df => df.filter(col("k") % 2 === 0)
      .withColumn("quant", (col("quant") + 7).cast("int"))

  /** The inventories flow leg (`flows/data_ingestion.py:250–272` runs it
    * after the orders leg, same task shapes: read → split → upsert):
    * sync CreateTable on the SIMPLE product_id key, first load, re-run.
    * Shared by the judged query and the lifecycle guard.
    */
  private[graft] def q163BuildInvStore(lc: Lifecycle): graft.state.StateTable = {
    lc.par(lc.stageInventories("inv_b1", q163InvBatch1),
      lc.stageInventories("inv_b2", q163InvBatch2), invStore(lc))
    lc.run(lc.load("inv", Ingest.readInventoriesCsv, "inv_b1"))
    lc.run(lc.load("inv", Ingest.readInventoriesCsv, "inv_b2"))
    lc.store("inv")
  }

  /** q163: the store-to-store report certificate — the reference's
    * reports read POSTGRES TABLES the flow built, not raw extracts
    * (`README.md:31`, the psql surface), and the flow ingests BOTH
    * datasets (`flows/data_ingestion.py:250–272`). q161 judged the
    * orders leg + a rollup off its store; q00–q09 judge the report
    * algebra off raw corpus parquet. What no query certified is the
    * production read path END TO END: CSV landing dirs → the orders
    * store (composite key, LWW) AND the inventories store (simple key,
    * LWW restock) → A4's LEFT JOIN report (`README.md:112–130`)
    * computed off the two StateTables — catalog joined to sales with
    * NULL total_sold/remaining_stock propagating for never-sold
    * products (no coalesce, the reference's own semantics, generalized
    * from its single-product WHERE to the full catalog as in q04).
    *
    * The judged frame pins, per catalog row: the LWW-final stock
    * (batch-2 restock on even keys, batch-1 base on odd, absent for
    * odd multiples of 7), the orders store's per-product quantity sum
    * through ITS two-upsert lifecycle (q161's weighted-arms replay,
    * grouped by product instead of channel), and the NULL branch
    * (every 'new_' ghost product and nothing else).
    *
    * Scale: aggregate-before-join (the fact side collapses to one row
    * per product BEFORE the join — q04's discipline); the catalog side
    * is corpus-proportional, so no broadcast hint — the house rule —
    * and the join shuffles on the key both sides are already
    * aggregated/unique on. Store builds are construction (q74/q103
    * convention); the judged plan is two store scans, one partial-agg
    * shuffle, one key-exchange join, the output sort.
    */
  val q163StoreReportCert: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q163")
      val Seq(ordersSt, invSt) = lc.par(
        lc.step("orders_flow", Seq("b1", "b2", "orders").map(lc.dir): _*)(q161BuildStore(lc)),
        lc.step("inv_flow", Seq("inv_b1", "inv_b2", "inv").map(lc.dir): _*)(
          q163BuildInvStore(lc)))
      require(invSt.history().size == 3,
        s"q163 precondition: expected CreateTable + 2 load versions on " +
          s"the inventories store, got ${invSt.history().size}")
      val sold = ordersSt.current().get
        .groupBy(col("product_id"))
        .agg(sum(col("quantity")).as("total_sold"))
      invSt.current().get
        .select(col("product_id"), col("name"), col("quantity").as("current_stock"))
        .join(sold, Seq("product_id"), "left_outer")
        .select(col("product_id"), col("name"), col("current_stock"),
          col("total_sold"),
          (col("current_stock") - col("total_sold")).as("remaining_stock"))
        .orderBy(col("product_id"))
    },
    s"""$flowStoreReplaySql,
       |sold AS (
       |  SELECT cast(o_custkey AS varchar) AS product_id,
       |         cast(sum(w * quantity) AS bigint) AS total_sold
       |  FROM fin GROUP BY 1),
       |-- the inventories store replay: even keys carry the batch-2
       |-- restock (+7 over the base k % 500 + 1), odd non-multiples of 7
       |-- keep their batch-1 base, odd multiples of 7 never landed;
       |-- k ≡ 0 mod 10 products carry the disjoint 'new_' id space
       |inv AS (
       |  SELECT CASE WHEN c_custkey % 10 = 0
       |              THEN 'new_' || cast(c_custkey AS varchar)
       |              ELSE cast(c_custkey AS varchar) END AS product_id,
       |         c_name AS name,
       |         cast(CASE WHEN c_custkey % 2 = 0 THEN c_custkey % 500 + 8
       |                   ELSE c_custkey % 500 + 1 END AS integer) AS current_stock
       |  FROM customer
       |  WHERE NOT (c_custkey % 7 = 0 AND c_custkey % 2 = 1))
       |SELECT i.product_id, i.name, i.current_stock, s.total_sold,
       |       cast(i.current_stock - s.total_sold AS bigint) AS remaining_stock
       |FROM inv i LEFT JOIN sold s ON i.product_id = s.product_id
       |ORDER BY i.product_id""".stripMargin)

  /** The per-product sales report maintained by q164 — one definition
    * for the base snapshot, both delta arms, and the full-recompute
    * certificate leg, so the maintained aggregate and its oracle twin
    * cannot drift from the recomputed one.
    */
  private def productContrib(contents: DataFrame): DataFrame =
    contents.select(col("product_id"), lit(1L).as("n_rows"),
      floor(col("amount") * 100).cast("long").as("amount_cents"))

  /** A maintained SUM-shaped report family as ONE object: the
    * aggregate definition, its view over the source stores, the
    * columns its fold prunes by, and — derived, never hand-written —
    * the durable report-store schema (group columns as strings unless
    * `groupTypes` declares otherwise, measures as longs). Bundling
    * them means a consumer ([[resumeMaintenance]],
    * [[reportStoreHandle]]) can never pair one family's fold with
    * another's declared schema. Instances:
    * [[productShape]] (q164–q168's per-product report),
    * [[categoryShape]] (q169/q170's level-1 per-(group, product)
    * report; q171's second consumer), [[monthlyShape]] (q176's
    * time-bucketed report — its DERIVED integer group keys are why
    * `groupTypes` exists), all over the orders store alone, and
    * [[joinedShape]] (q175/q177's per-category report over orders ⋈
    * inventories — the one shape whose view and prune columns
    * differ).
    */
  private[graft] final case class MaintainedShape(
      /** Per-row measure contributions: maps the view's rows to
        * `groupCols ++ measureCols` rows whose measures are exact LONG
        * per-row contributions (counts as `lit(1L)`) — [[report]] is
        * DERIVED from it (group-by + SUM), so the aggregate a consumer
        * materializes and the fold's ± arms can never drift.
        */
      contrib: DataFrame => DataFrame,
      groupCols: Seq[String], measureCols: Seq[String],
      groupTypes: Seq[DataType] = Nil,
      /** The rows the report aggregates, from one contents frame per
        * source store, in the walk's source order. It must be empty
        * whenever a source is — the durable bootstrap relies on it.
        */
      view: Seq[DataFrame] => DataFrame = _.head,
      /** The columns a source's change feed is projected to and every
        * source is pruned by; every source carries them.
        */
      pruneCols: Seq[String] = graft.core.Schemas.ordersKey) {
    require(groupTypes.isEmpty || groupTypes.size == groupCols.size,
      "groupTypes must be empty (all strings) or one per group column")
    /** The full aggregate over the view's rows — the recompute legs'
      * and base materializations' shape: one group-by exchange over the
      * per-row contributions (SUM of `lit(1L)` replaces COUNT — same
      * long values, and the shared definition is what makes the fused
      * fold provably the same aggregate).
      */
    def report(df: DataFrame): DataFrame = {
      val aggs = measureCols.map(c => sum(col(c)).as(c))
      contrib(df).groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }

    /** The ± fold behind every maintained report: `base` is the report
      * over `before` (one contents frame per source), and the result is
      * the report over `after`. Each arm prunes every source to `keys`
      * (a left-semi join on [[pruneCols]]), applies the view, and the
      * ±1-SIGNED row contributions of both arms are unioned onto `base`
      * and aggregated ONCE — one aggregation exchange per fold (SUM
      * distributes over exact longs: every measure is an integer
      * contribution). A group whose rows ALL retracted leaves a zero
      * shell, filtered on `n_rows`; SUM/COUNT are self-maintainable,
      * MIN/MAX needs a per-group recompute on retraction (q169's
      * [[maintainTopSellers]]). Inserts and updates land via the
      * `after ⊖ before` arms; a DELETED key's rows appear only in the
      * before arm. Over two sources the same algebra is the two-table
      * expansion `Δ(O⋈I) = ΔO⋈I ∪ O⋈ΔI ∪ ΔO⋈ΔI`: rows outside the
      * pruned keys contribute identically to both arms and cancel.
      *
      * PRECONDITION on the change feed: `keys` must cover every key
      * whose row MULTISET differs between the versions. The walk feeds
      * [[graft.state.StateTable.changedKeys]], whose key set is
      * [[graft.state.StateTable.diff]]'s: key-level (latest row per
      * key), so a transition that added or removed value-identical
      * COPIES of an existing key would slip past it — but transitions
      * produced by [[graft.state.StateTable.upsert]] can never do that:
      * the LWW arm rewrites an existing key's latest row IN PLACE and
      * the insert arm appends only UNSEEN keys, so an existing key's
      * multiplicity is invariant across an upsert (IngestCertSpec pins
      * this on the judged flow's own version pair). Feeding this fold
      * from a store mutated by raw `overwrite` with multiset edits
      * invisible at key level needs a multiset-aware change feed.
      */
    def fold(base: DataFrame, before: Seq[DataFrame], after: Seq[DataFrame],
        keys: DataFrame): DataFrame = {
      def arm(sources: Seq[DataFrame], sign: Long) =
        contrib(view(sources.map(_.join(keys, pruneCols, "left_semi"))))
          .select(groupCols.map(col) ++
            measureCols.map(c => (col(c) * lit(sign)).as(c)): _*)
      val aggs = measureCols.map(c => sum(col(c)).as(c))
      base
        .unionByName(arm(after, 1L)).unionByName(arm(before, -1L))
        .groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .filter(col("n_rows") > 0)
    }

    def schema: StructType = StructType(
      groupCols.zip(if (groupTypes.isEmpty) groupCols.map(_ => StringType) else groupTypes)
        .map { case (c, t) => StructField(c, t) } ++ measureCols.map(StructField(_, LongType)))
  }

  private[graft] val productShape: MaintainedShape =
    MaintainedShape(productContrib, Seq("product_id"),
      Seq("n_rows", "amount_cents"))

  /** The judged frame of a maintained report: its rows, then `counts`
    * as constant long columns in order, then the per-group `equiv_diff`
    * against the recompute off `contents` (grouped by the shape's first
    * group column), ordered by the group columns. Inner join: the diff
    * groups over the UNION of both report legs, a superset of the
    * maintained report's groups by construction.
    */
  private def maintainedCert(shape: MaintainedShape, maintained: DataFrame,
      contents: DataFrame, counts: (String, Long)*): DataFrame = {
    val key = shape.groupCols.head
    counts.foldLeft(maintained) { case (df, (c, n)) => df.withColumn(c, lit(n)) }
      .join(multisetEquivDiff(maintained, shape.report(contents), key), Seq(key))
      .orderBy(shape.groupCols.map(col): _*)
  }

  /** The oracle of a maintained [[productShape]] report over the flow
    * store: the weighted-arms replay per product, then `counts` as
    * constant columns in order, then `equiv_diff = 0`.
    */
  private def productReportOracle(counts: (String, Long)*): String =
    s"""$flowStoreReplaySql
       |SELECT cast(o_custkey AS varchar) AS product_id,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS amount_cents,
       |${counts.map { case (c, n) => s"  cast($n AS bigint) AS $c,\n" }.mkString}  cast(0 AS bigint) AS equiv_diff
       |FROM fin GROUP BY product_id ORDER BY product_id""".stripMargin

  /** The judged frame of two consumers of one maintained report,
    * report stores `report` and `report_b` over the stores `sources`:
    * report `report`'s rows, then `counts` as constant long columns in
    * order, then the per-group `b_equiv_diff` against `report_b` and
    * `recompute_equiv_diff` against the recompute off the sources'
    * current contents, ordered by the shape's group column.
    */
  private def twoConsumerCert(lc: Lifecycle, shape: MaintainedShape,
      sources: Seq[String], counts: (String, Long)*): DataFrame = {
    val key = shape.groupCols.head
    def rows(name: String) = lc.report(name, shape).current().get
    val a = rows("report")
    val recompute = shape.report(shape.view(sources.map(lc.store(_).current().get)))
    counts.foldLeft(a) { case (df, (c, n)) => df.withColumn(c, lit(n)) }
      .join(multisetEquivDiff(a, rows("report_b"), key)
        .withColumnRenamed("equiv_diff", "b_equiv_diff"), Seq(key))
      .join(multisetEquivDiff(a, recompute, key)
        .withColumnRenamed("equiv_diff", "recompute_equiv_diff"), Seq(key))
      .orderBy(col(key))
  }

  /** One fold step of a maintained report: source store `source`
    * advanced from watermark `from(source)` to `to(source)` with every
    * other source held at its watermark. `keys` is the step's change
    * feed projected to the shape's prune columns; `base` and `report`
    * read the report versions before and after the step.
    */
  private[graft] final case class FoldStep(source: Int,
      from: Seq[String], to: Seq[String],
      keys: DataFrame, base: DataFrame, report: DataFrame)

  private def frames(stores: Seq[graft.state.StateTable],
      versions: Seq[String]): Seq[DataFrame] =
    stores.zip(versions).map { case (st, v) => st.readVersion(v) }

  /** Resume a maintained report from its report store alone: the ONE
    * walk for every maintained report, single-store or joined. The
    * walk reads the report's per-source watermarks off its current
    * version's commit-log entry ([[reportWatermarks]]), then folds each
    * source's pending version pairs in turn with every other source
    * held at its watermark, one [[MaintainedShape.fold]] per pair, and
    * writes each step's report as one version of the report store whose
    * entry records the source versions it reflects — so a fresh handle
    * recovers everything from disk, whether or not the report has rows
    * (the Structured Streaming model, SIGMOD 2018: every consumer
    * advances from the offsets it committed durably). Phases
    * compose exactly by telescoping: over orders O and inventories I,
    * the orders phase accumulates `report(O_cur ⋈ I_wm) ⊖ report(O_wm ⋈
    * I_wm)` and the inventories phase `report(O_cur ⋈ I_cur) ⊖
    * report(O_cur ⋈ I_wm)` — the middle terms cancel, and no
    * cross-store ordering of the two histories is assumed (version
    * names compare only within a store).
    *
    * The durable write is each step's lineage truncation: neither the
    * keys nor the report are pinned (the change-key subtree in both ±
    * arms is deterministic, and any exchanges it has are reused within
    * the write job), and a step's `report` reads the version it wrote,
    * whose schema the write cached. Versioned immutability makes the
    * read-while-write safe: each step's base is read from the CURRENT
    * version while the next version writes to a fresh dir.
    *
    * FRESH-CONSUMER BOOTSTRAP: an empty report resumes from the OLDEST
    * retained versions. Once retention has reclaimed the stores' empty
    * CreateTable versions, folding only the pairs after them would miss
    * those versions' contents while the watermarks read caught up. So
    * when every oldest version carries rows, the base is first written
    * as the recomputed report there, recording those versions. When
    * any is empty, the view — and so the base — is empty, and the walk
    * alone is correct; the bounded isEmpty reads gate the write.
    *
    * Returns the steps applied: none on a restart with nothing new
    * (idempotence), one per landed version in steady state, more when
    * catching up after missed folds.
    */
  private[graft] def resumeMaintenance(shape: MaintainedShape,
      stores: Seq[graft.state.StateTable],
      reportSt: graft.state.StateTable): Seq[FoldStep] = {
    val hs = stores.map(_.history())
    stores.zip(hs).foreach { case (st, h) =>
      require(h.nonEmpty,
        s"report ${reportSt.root}: source store ${st.root} has no versions to fold")
    }
    val start = reportWatermarks(reportSt).getOrElse {
      val oldest = hs.map(_.head)
      if (stores.zip(oldest).forall { case (st, v) => !st.readVersion(v).isEmpty })
        reportSt.overwrite(shape.report(shape.view(frames(stores, oldest))), oldest)
      oldest
    }
    require(start.size == stores.size,
      s"report ${reportSt.root}: records ${start.size} source offsets for ${stores.size} stores")
    val pending = stores.indices.flatMap { j =>
      val idx = hs(j).indexOf(start(j))
      require(idx >= 0,
        s"report ${reportSt.root}: watermark ${start(j)} is not in the history " +
          s"of source store ${stores(j).root} — the store was vacuumed past the " +
          "report's resume point")
      hs(j).drop(idx).sliding(2).collect { case Seq(_, to) => j -> to }
    }
    pending.foldLeft(Vector.empty[FoldStep]) { case (done, (j, to)) =>
      val from = done.lastOption.fold(start)(_.to)
      val at = from.updated(j, to)
      val keys = stores(j).changedKeys(from(j), to).select(shape.pruneCols.map(col): _*)
      val base = reportSt.current().get
      reportSt.overwrite(shape.fold(base, frames(stores, from), frames(stores, at), keys), at)
      done :+ FoldStep(j, from, at, keys, base, reportSt.current().get)
    }
  }

  /** q164: incremental report maintenance off the store's CDC feed —
    * judged equal to a full recompute. At 100 TB the reference's
    * reports cannot be recomputed per run; the scale answer is a
    * materialized report plus a delta derived from what CHANGED. The
    * store's versioned CDC is exactly that change feed: the consumer
    * reads [[graft.state.StateTable.changedKeys]], the key set of
    * [[graft.state.StateTable.diff]] (judged by q158), which for an
    * upsert's version is one filtered scan of it. q164 closes the loop
    * on the reference's own report surface:
    *
    *  1. build the flow store ([[q161BuildStore]]: first load v2,
    *     LWW re-run v3) and reclaim its empty CreateTable version, as
    *     retention would;
    *  2. a fresh durable consumer bootstraps at the oldest retained
    *     version, v2, with the per-product report recomputed there as
    *     its base;
    *  3. it folds the one pending pair v2→v3: the CDC keys (inserts +
    *     LWW updates here; the fold also absorbs deletes) prune both
    *     arms — on a key-partitioned store both semi-joined scans prune
    *     to the changed keys' partitions, so the maintenance cost
    *     tracks the CHANGE volume, not the store size;
    *  4. merge: `report(v3) ≡ report(v2) ⊎ delta` under group-wise sum.
    *
    * The judged rows carry the MAINTAINED report (so its values meet
    * the weighted-arms oracle replay) plus a per-product `equiv_diff`
    * against the full recompute (q162's ±1-weighted union-groupBy
    * multiset certificate) — 0 everywhere means the incremental path
    * reproduced the recompute exactly, row for row. A change the CDC
    * missed, a delta arm double-counting a duplicated key's copies, or
    * a retraction applied to the wrong group all break it.
    *
    * What the replayed oracle cannot see — that the delta path really
    * prunes (changedKeys a proper nonempty subset), really moves the
    * report (v2 report ≠ v3 report), and that the consumer bootstrapped
    * at v2 and folded one step — IngestCertSpec pins.
    *
    * Scale: one filtered scan of v3 for the change keys, two
    * semi-joined pruned arms and one group-sum on the report key, the
    * certificate's recompute leg (the honest price, q141/q162
    * convention), one output sort.
    */
  val q164IncrementalReportCert: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q164")
      val st = q164BuildMaintainedReport(lc)
      maintainedCert(productShape,
        lc.report("report", productShape).current().get,
        st.current().get)
    },
    productReportOracle())

  /** q164's construction: the q161 flow store with its empty
    * CreateTable version reclaimed, then one resume of [[productShape]]
    * report `report` (logged as `fold`) — the fresh consumer bootstraps
    * its base at the first load and folds the re-run. Returns the
    * store.
    */
  private[graft] def q164BuildMaintainedReport(lc: Lifecycle): graft.state.StateTable = {
    val st = q161BuildStore(lc)
    st.vacuumBefore(st.history()(1))
    lc.run(productFold(lc, "fold", "report"))
    st
  }

  /** q165's and q167's construction: the q162 streamed flow with the
    * [[productShape]] report `report` resumed durably after each drain,
    * every fold performed by a FRESH-HANDLE "process" that recovers all
    * its state from disk. Logs each drain's applied-step count under
    * `fold`; returns the steps, in order.
    */
  private[graft] def q165BuildMaintainedFlow(lc: Lifecycle): Seq[FoldStep] = {
    val steps = scala.collection.mutable.ArrayBuffer.empty[FoldStep]
    buildStreamedFlowStore(lc, _ => steps ++= lc.run(productFold(lc, "fold", "report")))
    steps.toSeq
  }

  /** q165: the maintained report under STREAMING ingest — the 100 TB
    * report-freshness story end to end. q164 proved one CDC
    * maintenance step in batch; the production shape is the reference's
    * re-run-on-new-file loop (`main.py:29–32`,
    * `flows/data_ingestion.py:219–279`) keeping the report fresh as
    * the stream drains WITHOUT recomputing it: two `AvailableNow`
    * drains under ONE checkpoint (the q162 protocol, so the file
    * source's exactly-once log is in scope), and after EACH drain the
    * maintained report absorbs the pruned CDC delta of that micro-batch.
    * The judged rows are the final maintained report — its values meet
    * the weighted-arms oracle replay, so the fold reproduced the full
    * ingest arithmetic — plus a per-product `equiv_diff` against the
    * recompute off the drained store (the q162/q164 multiset
    * certificate) and the applied step count. A drain the maintenance
    * missed, a delta folded twice across the checkpoint boundary, or a
    * reprocessed first-load file all break it.
    *
    * What the replayed oracle cannot see — that BOTH steps applied
    * nonempty, distinct CDC key sets (a degenerate fold that only ran
    * once over the union would replay green) — IngestCertSpec pins off
    * the steps [[q165BuildMaintainedFlow]] returns.
    *
    * Scale: maintenance cost per drain tracks the micro-batch's CHANGE
    * volume (semi-join-pruned arms, a group-sum over the report key),
    * not the store size; each step's durable report version truncates
    * its lineage, so plan depth stays O(1) in drain count. The judged
    * plan is the report scan, the recompute certificate leg's scan-agg
    * (the honest price, q141/q162/q164 convention), the ±1-weighted
    * union-groupBy pair, and the output sort.
    */
  val q165StreamingReportMaintCert: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q165")
      val steps = q165BuildMaintainedFlow(lc)
      maintainedCert(productShape,
        lc.report("report", productShape).current().get,
        lc.store("orders").current().get, "n_steps" -> steps.size.toLong)
    },
    productReportOracle("n_steps" -> 2))

  /** q166: the A2 report (orders per product per month,
    * `README.md:79–92` over `flows/data_ingestion.py:86–91` data) off
    * the flow-built store — the one reference-report axis that had no
    * judged row through the production path: a TIMESTAMP that survived
    * CSV parse (dual-format, q159) → store round-trip (q161) → month/
    * year EXTRACT (q02's shape, UTC-pinned). q02 judges the EXTRACT
    * off raw corpus DATE columns; this certifies it off the ingested
    * TimestampType, where a tz or precision drift in the store
    * round-trip would move rows between months.
    *
    * Scale: the store build is construction (q74/q103 convention); the
    * judged plan is one store scan into the (product, year, month)
    * rollup — one hash exchange — and the output sort.
    */
  val q166StoreMonthlyCert: QuerySpec = QuerySpec(
    (s, dir) => {
      val st = q161BuildStore(new Lifecycle(s, dir, "q166"))
      st.current().get
        .groupBy(col("product_id"),
          year(col("date_time")).as("sale_year"),
          month(col("date_time")).as("sale_month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("quantity")).as("qty_sum"))
        .orderBy(col("product_id"), col("sale_year"), col("sale_month"))
    },
    s"""$flowStoreReplaySql
       |SELECT cast(o_custkey AS varchar) AS product_id,
       |  cast(year(date_time) AS integer) AS sale_year,
       |  cast(month(date_time) AS integer) AS sale_month,
       |  cast(sum(w) AS bigint) AS n_orders,
       |  cast(sum(w * quantity) AS bigint) AS qty_sum
       |FROM fin GROUP BY 1, 2, 3
       |ORDER BY product_id, sale_year, sale_month""".stripMargin)

  // ------------------------------------------------------------------
  // q167: DURABLE, resumable report maintenance — the process-failure
  // story of q165's lifecycle
  // ------------------------------------------------------------------

  /** A (possibly fresh-process) handle to the durable report table at
    * `root` for one maintained `shape`: first call CreateTables it via
    * the same SchemaSync leg every flow store uses (R4 sequencing),
    * later calls must find it already in sync — any other applied
    * change is a named failure.
    */
  private[graft] def reportStoreHandle(
      s: SparkSession, root: String,
      shape: MaintainedShape = productShape): graft.state.StateTable = {
    val st = new graft.state.StateTable(s, root, shape.groupCols)
    val changes = graft.schemasync.SchemaSync.sync(s, st, shape.schema)
    require(changes.isEmpty ||
      changes == Seq(graft.schemasync.SchemaSync.CreateTable(shape.schema)),
      s"report store $root: sync applied $changes")
    st
  }

  /** A durable consumer's resume point: the source versions its
    * current version records ([[graft.state.StateTable.offsets]]), one
    * per source — read off the commit log, no Spark job. None means no
    * consumer progress recorded, as for the report store's CreateTable
    * version (the bootstrap-vs-caught-up distinction
    * [[resumeMaintenance]] needs on a retention-vacuumed store).
    */
  private[graft] def reportWatermarks(
      reportSt: graft.state.StateTable): Option[Seq[String]] =
    reportSt.currentVersion.map(reportSt.offsets).filter(_.nonEmpty)

  /** A single-source report's watermark, falling back to `oldest` (the
    * store's first retained version) before any progress: an
    * un-started consumer bounds retention at the oldest version, so a
    * resume can still fold everything and a bounded vacuum reclaims
    * nothing. ONE definition for the q168/q171 retention hooks and the
    * specs, so the convention cannot drift.
    */
  private[graft] def reportWatermark(
      reportSt: graft.state.StateTable, oldest: => String): String =
    reportWatermarks(reportSt).fold(oldest)(_.head)

  /** [[resumeMaintenance]] over the orders store alone, returning the
    * number of steps applied. `keyCols` is the orders store's key, which
    * a single-source shape's fold prunes by.
    */
  private[graft] def resumeReportMaintenance(
      ordersSt: graft.state.StateTable,
      reportSt: graft.state.StateTable,
      keyCols: Seq[String]): Int = {
    require(keyCols == productShape.pruneCols,
      s"report ${reportSt.root}: the fold prunes by ${productShape.pruneCols}, not $keyCols")
    resumeMaintenance(productShape, Seq(ordersSt), reportSt).size
  }

  /** Retention bounded by the MINIMUM consumer watermark: each report's
    * durable watermark is re-read through a fresh handle
    * ([[reportWatermark]] — a consumer with no progress holds the
    * vacuum at the oldest version), then the orders store vacuums below
    * the minimum; logs the reclaimed count under `step`.
    */
  private def retain(lc: Lifecycle, step: String,
      reports: Seq[(String, MaintainedShape)]): Unit = {
    val orders = lc.store("orders")
    val oldest = orders.history().head
    val wms = reports.map { case (r, shape) => reportWatermark(lc.report(r, shape), oldest) }
    lc.log(step, orders.vacuumBefore(wms.min).size.toLong)
  }

  /** The durable fold of the orders store into [[productShape]] report
    * `report`, as q165/q167 run it after each drain.
    */
  private def productFold(lc: Lifecycle, name: String,
      report: String): Lifecycle.Step[Seq[FoldStep]] =
    lc.resume(name, productShape, Seq("orders"), report)

  /** q167: durable, RESUMABLE report maintenance — the
    * process-failure story. q165 judges the maintained report's values;
    * at 100 TB the maintenance loop runs for days and WILL be
    * restarted, so the production shape persists the maintained report
    * in its own versioned table with a resume watermark, and a
    * restarted process recovers everything from durable state. q167
    * judges that lifecycle on q165's construction: the q162 streamed
    * flow (two drains, one checkpoint) with each fold performed by a
    * fresh-handle "process" —
    * [[reportStoreHandle]] re-syncs, [[resumeReportMaintenance]]
    * recovers the watermark off the report's commit log, folds
    * the orders versions landed since (CDC-pruned, one durable report
    * version per step), and a restart with nothing new applies ZERO
    * steps (idempotence, IngestCertSpec's third-handle guard). The
    * judged rows are the report table's CURRENT contents (values meet
    * the weighted-arms replay), the report version count (CreateTable
    * + one per fold), the total applied steps, and the per-product
    * `equiv_diff` against the recompute off the drained store. A
    * fold that re-applied an already-folded version (watermark broken),
    * a missed version (sliding walk broken), or a report row lost in
    * the durable round-trip all break it.
    *
    * Scale: q165's maintenance (cost tracks change volume), one
    * small-table write per step — the durable write is the lineage
    * truncation, and the report table's atomic version swap gives
    * readers a consistent report at every instant (R3's transaction
    * discipline applied to the DERIVED artifact, not just the ingested
    * one).
    */
  val q167DurableReportResume: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q167")
      q165BuildMaintainedFlow(lc)
      val reportSt = lc.report("report", productShape)
      maintainedCert(productShape, reportSt.current().get,
        lc.store("orders").current().get,
        "n_steps" -> lc.counts("fold").sum,
        "n_report_versions" -> reportSt.history().size.toLong)
    },
    productReportOracle("n_steps" -> 2, "n_report_versions" -> 3))

  // ------------------------------------------------------------------
  // q168: retention running NEXT TO durable maintenance — vacuum
  // bounded by the consumer watermark, judged together with resume
  // ------------------------------------------------------------------

  /** q167's durable flow with the production retention policy running
    * inside the loop: after each fresh-handle fold, vacuum the orders
    * store bounded by the MINIMUM CONSUMER WATERMARK — here the
    * report's own durable watermark, re-read from disk rather than
    * trusted from memory (the same restart realism as the fold). Every
    * version a resume could still fold from survives by construction
    * ([[graft.state.StateTable.vacuumBefore]] keeps `≥ watermark`),
    * while fully-absorbed history is reclaimed immediately. Logs per
    * drain the fold's step count (`fold`) and the reclaimed count
    * (`reclaimed`).
    */
  private[graft] def q168BuildRetainedFlow(lc: Lifecycle): Unit =
    buildStreamedFlowStore(lc, _ => {
      lc.run(productFold(lc, "fold", "report"))
      retain(lc, "reclaimed", Seq("report" -> productShape))
    },
      // continuous retention converges the store to the single current
      // version: each vacuum reclaims everything below that drain's
      // fold watermark (see the builder's finalVersions note)
      finalVersions = 1): Unit

  /** q168: retention and resumable maintenance judged TOGETHER — the
    * store-lifecycle completion of q167. q158 proves vacuum on a
    * store; q167 proves resume off the report's durable watermark;
    * at 100 TB the two run CONCURRENTLY for days, and an unbounded
    * vacuum would strand the resume point (q167's
    * [[resumeReportMaintenance]] require is the crash, not the
    * answer). The production policy judged here: vacuum bounded by
    * min(consumer watermarks) — each drain's fold is followed by
    * `vacuumBefore(watermark)`, so retention reclaims exactly the
    * history every consumer has absorbed and nothing a resume could
    * still need. The judged rows are the maintained report's durable
    * contents (values meet the weighted-arms replay — the SECOND fold
    * ran off a post-vacuum history, so a reclaim that broke the walk
    * would surface), the total fold count, the total versions
    * reclaimed (2 — the vacuum must actually BITE, once per drain),
    * the retained version count (1 — retention converged to minimal),
    * and the per-product `equiv_diff` against the recompute. The
    * negative path — an UNSAFE keep-current-only vacuum while the
    * watermark is behind must still fail the resume loudly — is
    * guard-pinned in IngestCertSpec, as are the per-drain reclaim
    * counts the judged totals cannot distinguish.
    *
    * Reference leg: R3's transactional hygiene extended to the full
    * store lifecycle the reference delegates to Postgres MVCC +
    * autovacuum (SURVEY §2.9) — versioned immutability gives the MVCC
    * read side, the watermark-bounded vacuum is the autovacuum that
    * never reclaims a row an open consumer still needs.
    *
    * Scale: identical maintenance algebra to q167 (cost tracks change
    * volume); the vacuum itself is a driver-side directory delete of
    * versions no reader can be entering (readers come in via the
    * current version or a consumer watermark, both ≥ the reclaim bound),
    * so retention adds no executor work at all — the judged plan is
    * exactly q167's consumer shape (report scan ⋈ recompute
    * certificate leg via the ±1-weighted union-groupBy).
    */
  val q168RetentionSafeResume: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q168")
      q168BuildRetainedFlow(lc)
      val ordersSt = lc.store("orders")
      maintainedCert(productShape,
        lc.report("report", productShape).current().get,
        ordersSt.current().get,
        "n_steps" -> lc.counts("fold").sum,
        "n_reclaimed" -> lc.counts("reclaimed").sum,
        "n_retained" -> ordersSt.history().size.toLong)
    },
    productReportOracle("n_steps" -> 2, "n_reclaimed" -> 2, "n_retained" -> 1))

  // ------------------------------------------------------------------
  // q169: maintained TOP-SELLER report — the MIN/MAX-shaped aggregate
  // family, with the per-group recompute fallback on retraction
  // ------------------------------------------------------------------

  /** Level 1 of the top-seller maintenance: per (channel_group,
    * product_id) revenue and row count. SUM-shaped, so the ± delta
    * algebra maintains it exactly like [[productShape]] — one
    * definition for the base snapshot, both delta arms, and the
    * recompute certificate leg.
    */
  private def categoryContrib(contents: DataFrame): DataFrame =
    contents.select(col("channel_group"), col("product_id"),
      lit(1L).as("n_rows"),
      floor(col("amount") * 100).cast("long").as("revenue_cents"))

  /** The ± fold at the two-level (channel_group, product_id) key. Group
    * MOVES are absorbed for free: an LWW update that rewrites
    * channel_group retracts the key's rows from the old group via the
    * before arm and adds them to the new one via the after arm.
    */
  private[graft] val categoryShape: MaintainedShape =
    MaintainedShape(categoryContrib, Seq("channel_group", "product_id"),
      Seq("n_rows", "revenue_cents"))

  /** Level 2: the best-selling product per channel group off a level-1
    * frame — deterministic argmax (revenue ties broken by LARGEST
    * product_id via the struct ordering; the oracle mirrors with
    * `ORDER BY revenue_cents DESC, product_id DESC`).
    */
  private[graft] def topSellers(lvl1: DataFrame): DataFrame =
    lvl1.groupBy(col("channel_group"))
      .agg(max(struct(col("revenue_cents"), col("product_id"))).as("_t"))
      .select(col("channel_group"),
        col("_t").getField("product_id").as("top_product_id"),
        col("_t").getField("revenue_cents").as("top_revenue_cents"))

  /** The channel groups whose level-1 rows a change step can move: the
    * groups of the changed keys' rows on EITHER side of the transition
    * (before-side catches retractions and moves-out, after-side
    * inserts and moves-in).
    */
  private[graft] def touchedGroups(before: DataFrame, after: DataFrame,
      changedKeys: DataFrame, keyCols: Seq[String]): DataFrame =
    before.join(changedKeys, keyCols, "left_semi").select(col("channel_group"))
      .unionByName(
        after.join(changedKeys, keyCols, "left_semi").select(col("channel_group")))
      .distinct()

  /** The MIN/MAX maintenance step (the fold's documented retraction
    * fallback): an argmax is NOT self-maintainable
    * under retraction — a revenue decrease or a deleted row can
    * dethrone a group's leader, and no ± algebra on the TOP row alone
    * can recover the runner-up. The fallback recomputes level 2 ONLY
    * for the `touched` groups, and off the MAINTAINED level-1
    * aggregate — not the store — so the recompute reads
    * |touched groups| × products-per-group AGGREGATED rows: the step
    * cost stays proportional to the change volume, never the store
    * size. Untouched groups keep their carried top row verbatim.
    */
  private[graft] def maintainTopSellers(baseTop: DataFrame,
      lvl1Maintained: DataFrame, touched: DataFrame): DataFrame =
    baseTop.join(touched, Seq("channel_group"), "left_anti")
      .unionByName(topSellers(
        lvl1Maintained.join(touched, Seq("channel_group"), "left_semi")))

  /** One two-level step of q169/q170: the level-1 report version a
    * fold step wrote, the groups that step touched, and the top rows
    * (touched and top pinned).
    */
  private[graft] final case class TopStep(lvl1: DataFrame, touched: DataFrame,
      top: DataFrame)

  /** Level 2 on top of one [[categoryShape]] fold step of store `st`:
    * recompute the top row of the groups the step touched
    * ([[maintainTopSellers]]) onto the previous step's top rows (the
    * recomputed top of the step's base before the first step).
    */
  private[graft] def topStep(st: graft.state.StateTable, step: FoldStep,
      last: Option[TopStep]): TopStep = {
    val touched = graft.core.Checkpoints.pin(touchedGroups(
      st.readVersion(step.from.head), st.readVersion(step.to.head),
      step.keys, categoryShape.pruneCols))
    TopStep(step.report, touched, graft.core.Checkpoints.pin(maintainTopSellers(
      last.fold(topSellers(step.base))(_.top), step.report, touched)))
  }

  /** Both levels after a drain of store `st`: resume the
    * [[categoryShape]] report `lvl1` (logged as `fold`), then apply one
    * [[topStep]] per fold step onto `steps` (step `top`).
    */
  private def foldTop(lc: Lifecycle, st: graft.state.StateTable,
      steps: scala.collection.mutable.Buffer[TopStep]): Unit = {
    val folds = lc.run(lc.resume("fold", categoryShape, Seq("orders"), "lvl1"))
    lc.run(lc.step("top")(folds.foreach(f => steps += topStep(st, f, steps.lastOption))))
  }

  /** q169's construction: the q165 drain loop with both levels folded
    * after each drain ([[foldTop]]); returns the two-level steps.
    */
  private[graft] def q169BuildMaintainedTop(lc: Lifecycle): Seq[TopStep] = {
    val steps = scala.collection.mutable.ArrayBuffer.empty[TopStep]
    buildStreamedFlowStore(lc, st => foldTop(lc, st, steps))
    steps.toSeq
  }

  /** The judged frame of a maintained top-seller report over store
    * `orders`: the last step's top row per channel group and its
    * level-1 product count, then `counts` as constant long columns in
    * order, then both level equivalence certificates against the
    * recompute off the store, ordered by channel group.
    */
  private def topSellersCert(lc: Lifecycle, steps: Seq[TopStep],
      counts: (String, Long)*): DataFrame = {
    val TopStep(lvl1, _, top) = steps.last
    val lvl1Re = categoryShape.report(lc.store("orders").current().get)
    val lvl1Equiv = multisetEquivDiff(lvl1, lvl1Re, "channel_group")
      .withColumnRenamed("equiv_diff", "lvl1_equiv_diff")
    val topEquiv = multisetEquivDiff(top, topSellers(lvl1Re), "channel_group")
      .withColumnRenamed("equiv_diff", "top_equiv_diff")
    val nProducts = lvl1.groupBy(col("channel_group"))
      .agg(count(lit(1)).as("n_products"))
    counts.foldLeft(top.join(nProducts, Seq("channel_group"))) {
      case (df, (c, n)) => df.withColumn(c, lit(n)) }
      .join(lvl1Equiv, Seq("channel_group"))
      .join(topEquiv, Seq("channel_group"))
      .orderBy(col("channel_group"))
  }

  /** q169: the maintained TOP-SELLER report (A5's argmax shape,
    * `README.md:132–148`) under streaming ingest — the capability step
    * beyond q165/q167, whose maintained reports are SUM/COUNT-shaped
    * and so self-maintainable. MIN/MAX/argmax is the documented hole
    * ([[MaintainedShape.fold]]'s limitation note): retraction can dethrone
    * a leader, and the production answer is the two-level design
    * judged here — a ±-maintained per-(group, product) revenue
    * aggregate (level 1) plus an argmax recomputed per step ONLY for
    * the touched groups, off the maintained aggregate (level 2). The
    * judged rows are the final maintained top row per channel group
    * (values meet the weighted-arms oracle replay with the argmax
    * re-derived in DuckDB), the per-group product count, the step
    * count, and BOTH equivalence certificates against the recompute
    * off the drained store (level-1 multiset and top-row multiset —
    * 0 everywhere means both maintained artifacts reproduced their
    * recomputes exactly). A delta folded twice, a touched group the
    * recompute missed, or a stale top row surviving a touched step all
    * break it.
    *
    * What the replayed oracle cannot see, IngestCertSpec pins: each
    * step touched a nonempty group set, the maintained top actually
    * MOVED between the drains (a fold that never updated the carried
    * row would replay green if the final state happened to match), and
    * — on a hand-built retraction pair, where the judged flow can't
    * reach — a deleted leader IS dethroned by the per-group fallback
    * while untouched groups' rows are carried verbatim (the
    * proper-subset pruning this corpus's 3 channel groups cannot
    * demonstrate end-to-end).
    *
    * Scale: level-1 arms are CDC-pruned semi-joins (change-volume
    * cost); level-2 recompute reads only touched groups' AGGREGATED
    * rows — at production group counts the semi-join prunes the argmax
    * to the changed slice; level 1 is a durable report version per step
    * and level 2 is pinned per step, so plan depth stays O(1) in drain
    * count. The judged plan is the two artifact scans, the recompute
    * certificate legs
    * (store scan → level-1 rollup → argmax), the two ±1-weighted
    * union-groupBy pairs, and the 3-row output sort.
    */
  val q169MaintainedTopSellers: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q169")
      val steps = q169BuildMaintainedTop(lc)
      topSellersCert(lc, steps, "n_steps" -> steps.size.toLong)
    },
    s"""$flowStoreReplaySql,
       |-- the zero-net filter mirrors the Spark fold's n_rows > 0 shell
       |-- filter (MaintainedShape.fold): a product whose weighted rows net to
       |-- zero must not appear on either side (unreachable at this
       |-- upsert-only corpus, load-bearing under deletions — q170)
       |lvl1 AS (
       |  SELECT o_orderstatus AS channel_group,
       |    cast(o_custkey AS varchar) AS product_id,
       |    cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS revenue_cents
       |  FROM fin GROUP BY 1, 2 HAVING cast(sum(w) AS bigint) > 0),
       |ranked AS (
       |  SELECT channel_group, product_id, revenue_cents,
       |    row_number() OVER (PARTITION BY channel_group
       |      ORDER BY revenue_cents DESC, product_id DESC) AS rn,
       |    count(*) OVER (PARTITION BY channel_group) AS n_products
       |  FROM lvl1)
       |SELECT channel_group, product_id AS top_product_id,
       |  revenue_cents AS top_revenue_cents,
       |  cast(n_products AS bigint) AS n_products,
       |  cast(2 AS bigint) AS n_steps,
       |  cast(0 AS bigint) AS lvl1_equiv_diff,
       |  cast(0 AS bigint) AS top_equiv_diff
       |FROM ranked WHERE rn = 1 ORDER BY channel_group""".stripMargin)

  // ------------------------------------------------------------------
  // q170: the argmax DETHRONEMENT judged through the store — q169's
  // retraction fallback reached by a real mid-loop deletion
  // ------------------------------------------------------------------

  /** q170's handles: the two-level steps (the second is the pre-purge
    * state) and the victim identity, for the guards.
    */
  private[graft] final case class PurgedTopStream(
      steps: Seq[TopStep], victimGroup: String, victimProduct: String)

  /** q170's construction: the q169 streamed flow with a REAL DELETION
    * landed mid-loop and folded through the same consumer —
    * after the second drain's fold, the maintained top's leader of the
    * FIRST channel group (one bounded single-row read off the pinned
    * 3-row artifact) is purged from the store (q158's deletion-slice
    * convention: `overwrite` of the filtered current version, the
    * GDPR-shaped path), and a third fold absorbs the purge transition
    * via the CDC delete arm. The victim predicate is
    * (channel_group, product_id) — whole keys by construction (a key's
    * copies are byte-identical, so every copy matches or none does),
    * and scoped to ONE group so the touched-group pruning is a proper
    * subset the guards and the judged count can SEE.
    */
  private[graft] def q170BuildPurgedTop(lc: Lifecycle): PurgedTopStream = {
    val steps = scala.collection.mutable.ArrayBuffer.empty[TopStep]
    var victim = ("", "")
    buildStreamedFlowStore(lc, st => {
      foldTop(lc, st, steps)
      if (steps.size == 2) {
        // the purge victim: the pre-purge leader of the first channel
        // group, read off the maintained top (pinned, 3 rows — one
        // bounded single-row read, the sanctioned shape)
        val leader = steps.last.top.orderBy(col("channel_group")).limit(1).head()
        victim = (leader.getAs[String]("channel_group"),
          leader.getAs[String]("top_product_id"))
        // non-degeneracy: a runner-up must exist, else the purge would
        // EMPTY the group instead of dethroning its leader and the
        // judged 3-row shape would silently change
        require(steps.last.lvl1.filter(col("channel_group") === victim._1)
            .limit(2).count() == 2L,
          s"q170 precondition: group ${victim._1} has no runner-up — " +
            "the dethronement certificate would be vacuous")
        lc.run(lc.step("purge")(st.overwrite(st.read().get.filter(
          !(col("channel_group") === victim._1 &&
            col("product_id") === victim._2)))))
        foldTop(lc, st, steps)
      }
    }, finalVersions = 4)
    PurgedTopStream(steps.toSeq, victim._1, victim._2)
  }

  /** q170: the maintained top-seller report under DATA DELETION — the
    * judged row for q169's retraction fallback through the store. q169
    * certifies the two-level design under an upsert-only flow, where
    * level 2's recompute never faces the one event it exists for: a
    * retraction that DETHRONES a leader (no ± algebra on the top row
    * recovers the runner-up). q170 composes machinery the repo already
    * owns — the q169 maintained top (the same walk and [[topStep]])
    * over the streamed flow, plus a real deletion landed mid-loop
    * (q136/q158's purge convention): after both drains, the leader of
    * the first channel group is purged from the store and a THIRD fold
    * absorbs the transition through the CDC delete arm. The judged
    * rows are the post-purge maintained top per channel group — the
    * dethroned group MUST show the runner-up, which the oracle
    * re-derives by replaying the purge (victim = the pre-purge argmax
    * of the first group, removed from the weighted replay) — plus the
    * per-group product count (the victim's lvl1 row is GONE, a zero
    * shell would off-by-one it), the step count (3), the count of
    * groups the purge fold recomputed (1 — the touched-group pruning
    * judged visible: 1 < the 3 judged rows), and BOTH level
    * equivalence certificates against the recompute off the purged
    * store. A delete the CDC missed, a stale carried top surviving the
    * touched step, a zero shell escaping the fold's n_rows filter, or
    * a recompute that read untouched groups all break it.
    *
    * What the replayed oracle cannot see, IngestCertSpec pins: the
    * purged product really LED its group pre-purge (and its rows
    * really left the store), the untouched groups' top rows carried
    * VERBATIM across the purge fold (never recomputed), and the purge
    * step's touched set is exactly the victim group.
    *
    * Reference leg: A5's best-seller report (`README.md:132–148`)
    * under data deletion — the right-to-be-forgotten path a 100 TB
    * curation store cannot avoid.
    *
    * Scale: the purge is one store-version rewrite (q158's class); the
    * purge fold's arms are CDC-pruned to the deleted keys and the
    * level-2 recompute reads ONE touched group's AGGREGATED rows — the
    * change-volume-proportional property, now judged under retraction.
    * The judged plan is q169's consumer shape exactly (two artifact
    * scans, the recompute certificate legs, two ±1-weighted
    * union-groupBy pairs, the 3-row sort).
    */
  val q170PurgedTopSellers: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q170")
      val steps = q170BuildPurgedTop(lc).steps
      // the purge fold's recomputed-group count: a single-row aggregate
      // read on the pinned ≤3-row touched frame
      topSellersCert(lc, steps, "n_steps" -> steps.size.toLong,
        "n_purge_touched" -> steps.last.touched.count())
    },
    s"""$flowStoreReplaySql,
       |-- pre-purge level-1 off the FULL flow (both drains); the
       |-- zero-net filter mirrors the fold's n_rows > 0 shell filter
       |lvl1_pre AS (
       |  SELECT o_orderstatus AS channel_group,
       |    cast(o_custkey AS varchar) AS product_id,
       |    cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS revenue_cents
       |  FROM fin GROUP BY 1, 2 HAVING cast(sum(w) AS bigint) > 0),
       |-- the purge victim: the pre-purge leader (q169's tie-break) of
       |-- the first channel group
       |victim AS (
       |  SELECT channel_group, product_id FROM lvl1_pre
       |  WHERE channel_group = (SELECT min(channel_group) FROM lvl1_pre)
       |  ORDER BY revenue_cents DESC, product_id DESC LIMIT 1),
       |fin2 AS (
       |  SELECT f.* FROM fin f
       |  WHERE NOT (f.o_orderstatus = (SELECT channel_group FROM victim)
       |    AND cast(f.o_custkey AS varchar) = (SELECT product_id FROM victim))),
       |lvl1 AS (
       |  SELECT o_orderstatus AS channel_group,
       |    cast(o_custkey AS varchar) AS product_id,
       |    cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS revenue_cents
       |  FROM fin2 GROUP BY 1, 2 HAVING cast(sum(w) AS bigint) > 0),
       |ranked AS (
       |  SELECT channel_group, product_id, revenue_cents,
       |    row_number() OVER (PARTITION BY channel_group
       |      ORDER BY revenue_cents DESC, product_id DESC) AS rn,
       |    count(*) OVER (PARTITION BY channel_group) AS n_products
       |  FROM lvl1)
       |SELECT channel_group, product_id AS top_product_id,
       |  revenue_cents AS top_revenue_cents,
       |  cast(n_products AS bigint) AS n_products,
       |  cast(3 AS bigint) AS n_steps,
       |  cast(1 AS bigint) AS n_purge_touched,
       |  cast(0 AS bigint) AS lvl1_equiv_diff,
       |  cast(0 AS bigint) AS top_equiv_diff
       |FROM ranked WHERE rn = 1 ORDER BY channel_group""".stripMargin)

  // ------------------------------------------------------------------
  // q171: MULTI-CONSUMER retention — the laggard holds the vacuum,
  // catching up releases exactly the absorbed history (judged)
  // ------------------------------------------------------------------

  /** q168's retained flow with TWO durable consumers at STAGGERED
    * paces over one orders store: consumer A (the [[productShape]]
    * report) folds after every drain; consumer B (the
    * [[categoryShape]] report — a genuinely different maintained
    * aggregate, not a copy) is a LAGGARD that does not run at all in
    * phase 1 and catches up over both pending versions in phase 2.
    * Retention runs after each phase bounded by the MINIMUM consumer
    * watermark — [[reportWatermark]]'s no-progress fallback makes the
    * un-started laggard hold the vacuum at the store's oldest version.
    * Logs A's per-drain folds (`fold_a`), B's catch-up (`catchup_b`)
    * and each phase's reclaimed count (`reclaimed`).
    */
  private[graft] def q171BuildMultiConsumerFlow(lc: Lifecycle): Unit = {
    var drains = 0
    buildStreamedFlowStore(lc, _ => {
      drains += 1
      // the laggard: no phase-1 fold at all — its durable watermark
      // stays the empty-report fallback until the phase-2 catch-up
      val foldA = productFold(lc, "fold_a", "report_a")
      if (drains == 2)
        lc.par(foldA, lc.resume("catchup_b", categoryShape, Seq("orders"), "report_b"))
      else lc.run(foldA)
      retain(lc, "reclaimed", Seq("report_a" -> productShape, "report_b" -> categoryShape))
    },
      // phase 2's vacuum (both consumers caught up) converges the store
      // to the single current version; phase 1's reclaims nothing
      finalVersions = 1): Unit
  }

  /** q171: multi-consumer retention judged — the policy q168 certifies
    * with ONE consumer (where min(consumer watermarks) is trivial) run
    * with TWO, at staggered paces, so the min actually DECIDES (the
    * laggard spec in IngestCertSpec is this row's guard layer). The
    * streamed flow drains twice;
    * consumer A (per-product report) folds after every drain, consumer
    * B (the per-(group, product) category report — a different
    * maintained shape, so the policy is judged across heterogeneous
    * consumers) skips phase 1 entirely and catches up in phase 2; each
    * phase ends with `vacuumBefore(min(watermarks))`. Judged (metric,
    * value) rows: the per-phase reclaim counts — 0 while the laggard
    * is behind (an un-started consumer's empty-report watermark holds
    * the vacuum at the oldest version), then EXACTLY the 2 absorbed
    * versions once it catches up — the retained version count (1),
    * both consumers' fold counts (A: 1 per drain; B: one 2-step
    * catch-up), both consumers' post-reclaim resumability (a fresh
    * handle applies 0 steps — run INSIDE the judged query, after the
    * reclaim), both content totals off the durable rows (row counts
    * and cent sums, replayed by the oracle from the flow arithmetic),
    * and both equiv_diff = 0 against the recomputes off the drained
    * store. A vacuum that ignored the laggard would fail its catch-up
    * resume loudly BEFORE the judged rows could even form (q167's
    * require); a laggard watermark misread as caught-up flips
    * phase1_reclaimed; a fold the laggard missed breaks b_equiv_diff.
    *
    * Reference leg: the reference's reports are INDEPENDENT consumers
    * of one ingested store (`README.md:79–148` — each psql report
    * reads the tables at its own cadence); retention that respects the
    * slowest reader is what Postgres gives them via MVCC horizon +
    * autovacuum (SURVEY §2.9), judged here over versioned parquet.
    *
    * Scale: maintenance cost per consumer tracks ITS change volume
    * (the q167 algebra); the vacuum is a driver-side directory delete;
    * adding consumers adds one watermark read each — one commit-log
    * entry — so the policy's cost is O(consumers) small file reads per
    * cycle, zero executor work. The judged plan is two q167-shaped
    * certificate legs (one per consumer: report scan ⋈ recompute via
    * the ±1-weighted union-groupBy) collapsed to 1-row aggregates,
    * plus the metric explode union and the 14-row sort.
    */
  val q171MultiConsumerRetention: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q171")
      q171BuildMultiConsumerFlow(lc)
      // post-reclaim resumability: fresh handles against the vacuumed
      // store apply ZERO steps (idempotence judged, not just spec'd)
      lc.par(productFold(lc, "resume_a", "report_a"),
        lc.resume("resume_b", categoryShape, Seq("orders"), "report_b"))
      val orders = lc.store("orders")
      val repA = lc.report("report_a", productShape)
      val repB = lc.report("report_b", categoryShape)
      val current = orders.current().get
      def kv(pairs: (String, Column)*) : Column =
        explode(map(pairs.flatMap { case (k, v) =>
          Seq(lit(k), v.cast("long")) }: _*))
      val aRows = repA.current().get
        .agg(count(lit(1)).as("n"), sum(col("amount_cents")).as("cents"))
        .select(kv("a_n_products" -> col("n"),
          "a_amount_cents_total" -> col("cents")).as(Seq("metric", "value")))
      val bRows = repB.current().get
        .agg(count(lit(1)).as("n"), sum(col("revenue_cents")).as("cents"))
        .select(kv("b_n_rows" -> col("n"),
          "b_revenue_cents_total" -> col("cents")).as(Seq("metric", "value")))
      val aEquiv = multisetEquivDiff(repA.current().get,
          productShape.report(current), "product_id")
        .agg(sum(col("equiv_diff")).as("d"))
        .select(kv("a_equiv_diff" -> col("d")).as(Seq("metric", "value")))
      val bEquiv = multisetEquivDiff(repB.current().get,
          categoryShape.report(current), "channel_group")
        .agg(sum(col("equiv_diff")).as("d"))
        .select(kv("b_equiv_diff" -> col("d")).as(Seq("metric", "value")))
      val Seq(phase1, phase2) = lc.counts("reclaimed")
      val Seq(aDrain1, aDrain2) = lc.counts("fold_a")
      val consts = s.range(1).select(kv(
        "phase1_reclaimed" -> lit(phase1),
        "phase2_reclaimed" -> lit(phase2),
        "retained_versions" -> lit(orders.history().size),
        "a_steps_drain1" -> lit(aDrain1),
        "a_steps_drain2" -> lit(aDrain2),
        "b_catchup_steps" -> lit(lc.counts("catchup_b").sum),
        "a_resume_steps" -> lit(lc.counts("resume_a").sum),
        "b_resume_steps" -> lit(lc.counts("resume_b").sum)).as(Seq("metric", "value")))
      aRows.unionByName(bRows).unionByName(aEquiv).unionByName(bEquiv)
        .unionByName(consts).orderBy(col("metric"))
    },
    s"""$flowStoreReplaySql,
       |prodrep AS (
       |  SELECT cast(o_custkey AS varchar) AS product_id,
       |    cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS cents
       |  FROM fin GROUP BY 1),
       |catrep AS (
       |  SELECT o_orderstatus, cast(o_custkey AS varchar) AS product_id,
       |    cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS cents
       |  FROM fin GROUP BY 1, 2)
       |SELECT metric, value FROM (
       |  SELECT 'a_n_products' AS metric, cast(count(*) AS bigint) AS value FROM prodrep
       |  UNION ALL SELECT 'a_amount_cents_total', cast(sum(cents) AS bigint) FROM prodrep
       |  UNION ALL SELECT 'b_n_rows', cast(count(*) AS bigint) FROM catrep
       |  UNION ALL SELECT 'b_revenue_cents_total', cast(sum(cents) AS bigint) FROM catrep
       |  UNION ALL SELECT 'a_equiv_diff', cast(0 AS bigint)
       |  UNION ALL SELECT 'b_equiv_diff', cast(0 AS bigint)
       |  UNION ALL SELECT 'phase1_reclaimed', cast(0 AS bigint)
       |  UNION ALL SELECT 'phase2_reclaimed', cast(2 AS bigint)
       |  UNION ALL SELECT 'retained_versions', cast(1 AS bigint)
       |  UNION ALL SELECT 'a_steps_drain1', cast(1 AS bigint)
       |  UNION ALL SELECT 'a_steps_drain2', cast(1 AS bigint)
       |  UNION ALL SELECT 'b_catchup_steps', cast(2 AS bigint)
       |  UNION ALL SELECT 'a_resume_steps', cast(0 AS bigint)
       |  UNION ALL SELECT 'b_resume_steps', cast(0 AS bigint)
       |) ORDER BY metric""".stripMargin)

  // ------------------------------------------------------------------
  // q172: a NEW consumer joins a retention-managed store — the
  // bootstrap path judged, then both consumers fold a real purge
  // ------------------------------------------------------------------

  /** q172's construction: the q168 retained flow (store converged to
    * ONE non-empty version — retention already reclaimed the empty
    * CreateTable bootstrap version, the precondition of the durable
    * consumer's fresh-consumer bootstrap), then
    *
    *  1. a NEW consumer joins: a fresh [[productShape]] report store
    *     resumes against the vacuumed single-version history —
    *     the durable consumer's bootstrap materializes its base
    *     from the current version's CONTENTS (0 pairs to fold);
    *  2. a real purge lands: every product ≡ 0 (mod 17) is forgotten
    *     (q136/q158's right-to-be-forgotten convention; whole keys by
    *     construction — product_id is part of the composite key);
    *  3. BOTH consumers resume one purge fold each — the veteran off
    *     its drain watermark, the newcomer off its bootstrap stamp —
    *     driving [[MaintainedShape.fold]]'s delete arm (retraction +
    *     whole-group zero-shell filtering) through a REAL store
    *     transition;
    *  4. retention reclaims exactly the absorbed pre-purge version.
    *
    * Logs the steps as `bootstrap_b`, `purge_a`, `purge_b` and
    * `purge_reclaimed`, after q168's own entries.
    */
  private[graft] def q172BuildBootstrapFlow(lc: Lifecycle): Unit = {
    q168BuildRetainedFlow(lc)
    lc.run(productFold(lc, "bootstrap_b", "report_b"))
    val orders = lc.store("orders")
    lc.run(lc.step("purge")(orders.overwrite(orders.read().get
      .filter(col("product_id").cast("long") % 17 =!= 0))))
    lc.par(productFold(lc, "purge_a", "report"), productFold(lc, "purge_b", "report_b"))
    retain(lc, "purge_reclaimed", Seq("report" -> productShape, "report_b" -> productShape))
  }

  /** q172: consumer ONBOARDING on a retention-managed store, judged —
    * the fresh-consumer bootstrap as a CORRECTNESS row, composed with the one maintained-product-report branch no judged
    * flow had driven: the delete arm. q168 proves retention next to
    * maintenance; its converged store has ALREADY reclaimed the empty
    * CreateTable version — so a new consumer joining later (teams add
    * report consumers to a years-old 100 TB store all the time) cannot
    * fold from the beginning of history: it must materialize its base
    * from the oldest RETAINED version's contents, or silently maintain
    * an empty report that reads as caught up.
    * q172 judges that bootstrap end to end, then lands a real
    * forget-these-products purge and has BOTH consumers — the veteran
    * and the newcomer — fold it incrementally: the CDC delete arm
    * retracts the purged products' contributions and their
    * fully-retracted groups vanish through the zero-shell filter
    * (q164's spec-only delete claim, now judged through a real store
    * transition). The judged rows are the veteran's post-purge report
    * (values meet the weighted-arms replay restricted to surviving
    * products — a purged group leaving a zero shell, a retraction
    * applied to the wrong group, or a bootstrap that missed base
    * contents all break it), the newcomer's per-product equiv_diff
    * against it (0 — two consumers at different join times converge on
    * identical durable rows), the recompute equiv_diff (0), the
    * bootstrap step count (0 — materialized, not folded), both purge
    * fold counts (1 each), and the retention accounting (1 reclaimed,
    * 1 retained).
    *
    * What the replay cannot see, IngestCertSpec pins: the newcomer's
    * pre-purge base really carried the FULL report (bootstrap
    * non-degenerate), the purge transition's CDC is pure deletes, and
    * report groups really VANISHED across the purge fold.
    *
    * Scale: the bootstrap is one aggregation over the store's current
    * version — the unavoidable one-time cost of joining late, after
    * which the newcomer pays change-volume prices like everyone else;
    * the purge folds are CDC-pruned to the deleted keys; retention
    * stays a driver-side directory delete. The judged plan is the
    * veteran's report scan joined to the newcomer-equiv and
    * recompute-equiv certificate legs (±1-weighted union-groupBy
    * pairs) plus the output sort.
    */
  val q172ConsumerBootstrap: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q172")
      q172BuildBootstrapFlow(lc)
      twoConsumerCert(lc, productShape, Seq("orders"),
        "bootstrap_steps" -> lc.counts("bootstrap_b").sum,
        "a_purge_steps" -> lc.counts("purge_a").sum,
        "b_purge_steps" -> lc.counts("purge_b").sum,
        "n_reclaimed" -> lc.counts("purge_reclaimed").sum,
        "n_retained" -> lc.store("orders").history().size.toLong)
    },
    s"""$flowStoreReplaySql
       |SELECT cast(o_custkey AS varchar) AS product_id,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS amount_cents,
       |  cast(0 AS bigint) AS bootstrap_steps,
       |  cast(1 AS bigint) AS a_purge_steps,
       |  cast(1 AS bigint) AS b_purge_steps,
       |  cast(1 AS bigint) AS n_reclaimed,
       |  cast(1 AS bigint) AS n_retained,
       |  cast(0 AS bigint) AS b_equiv_diff,
       |  cast(0 AS bigint) AS recompute_equiv_diff
       |-- the purge: every product ≡ 0 (mod 17) forgotten — surviving
       |-- rows only (whole keys; product_id is part of the upsert key)
       |FROM fin WHERE o_custkey % 17 <> 0
       |GROUP BY product_id ORDER BY product_id""".stripMargin)

  // ------------------------------------------------------------------
  // q173: COMPACTION under a live maintained consumer — the layout
  // rewrite is CDC-invisible, the consumer absorbs it, retention
  // reclaims the pre-compact history
  // ------------------------------------------------------------------

  /** q173's construction: the q161 flow store with a caught-up durable
    * report (`flow_fold`), then a compaction that consumer folds
    * (`compact_fold`), the compaction transition's MEASURED CDC row
    * count (`compact_cdc`) and the watermark-bounded reclaim
    * (`reclaimed`).
    */
  private[graft] def q173BuildCompactionFlow(lc: Lifecycle): Unit = {
    val orders = q161BuildStore(lc)
    lc.run(productFold(lc, "flow_fold", "report"))
    // fragmentation precondition (q156's convention): the compaction
    // must have real work, or the transparency certificate is vacuous
    val preFiles = orders.read().get
      .select(countDistinct(col("_metadata.file_path"))).head().getLong(0)
    require(preFiles >= 2,
      s"q173 precondition: pre-compact version has $preFiles file(s); " +
        "the upsert writer no longer fragments and the compaction " +
        "certificate would be vacuous")
    val preCompact = orders.currentVersion.get
    lc.run(lc.step("compact")(orders.compact()))
    val postCompact = orders.currentVersion.get
    // the transition's CDC row count is read BEFORE the vacuum below
    // deletes the pre-compact dir the lazy diff plan reads (the q158
    // drain-before-retention contract)
    lc.par(lc.step("compact_cdc")(
        lc.log("compact_cdc", orders.diff(preCompact, postCompact).count())),
      productFold(lc, "compact_fold", "report"))
    retain(lc, "reclaimed", Seq("report" -> productShape))
  }

  /** q173: small-files COMPACTION under a live maintained consumer —
    * the one store-lifecycle op (q156) that had never met the
    * maintenance loop (q167) in a judged row, though at 100 TB the two
    * run concurrently by construction: every upsert writes a full new
    * version whose union plan fragments the layout, so compaction runs
    * CONTINUOUSLY next to maintenance, and it must be invisible to CDC
    * consumers — a pure layout rewrite, never a data change. q173
    * certifies the composition end to end: the q161 flow store with a
    * caught-up durable report (2 folds), then `compact()`
    * lands a new version, the consumer resumes ONE more fold over the
    * compaction transition whose CDC is EMPTY (the judged
    * `compact_cdc_rows = 0` — a compaction that perturbed any latest
    * row, e.g. by breaking `_seq` preservation, would surface here and
    * in the report values), the fold is a value no-op that still
    * ADVANCES the consumer watermark, and retention bounded by that
    * watermark reclaims ALL pre-compact history (3 versions) — the
    * full point of absorbing the compaction: without the fold, the
    * min-watermark vacuum could never reclaim the fragmented versions
    * behind a live consumer. Judged rows: the maintained report
    * (values meet the weighted-arms replay — unchanged across the
    * compaction fold), the fold counts (2 flow + 1 compaction), the
    * measured compaction-CDC row count (0), the retention accounting
    * (3 reclaimed / 1 retained), the post-compact file count (1 — the
    * layout really changed, so the no-op claim is non-vacuous), and
    * `equiv_diff = 0` against the recompute off the compacted store.
    *
    * What the replay cannot see, IngestCertSpec pins: the report
    * VERSION the compaction fold wrote is value-identical to its
    * predecessor, a further restart applies zero
    * steps, and the report lifecycle is CreateTable + exactly 3 folds.
    *
    * Reference leg: the reference delegates layout maintenance to
    * Postgres (autovacuum/CLUSTER, SURVEY §2.9) while its reports keep
    * reading — the same transparency contract over versioned parquet.
    *
    * Scale: compaction cost is the one-version rewrite (q156's
    * class); the consumer's extra fold
    * costs one EMPTY-delta pass (semi-joins against an empty key
    * frame); retention stays a driver-side delete. The judged plan is
    * q167's consumer shape: the report scan joined to the recompute
    * certificate leg via the ±1-weighted union-groupBy, plus the
    * output sort.
    */
  val q173CompactionMaintenance: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q173")
      q173BuildCompactionFlow(lc)
      val orders = lc.store("orders")
      // post-compact layout: a single-row aggregate read off the
      // writer's actual file metadata (q156's accounting convention)
      val nFiles = orders.read().get
        .select(countDistinct(col("_metadata.file_path"))).head().getLong(0)
      maintainedCert(productShape,
        lc.report("report", productShape).current().get,
        orders.current().get,
        "n_steps_flow" -> lc.counts("flow_fold").sum,
        "n_steps_compact" -> lc.counts("compact_fold").sum,
        "compact_cdc_rows" -> lc.counts("compact_cdc").sum,
        "n_reclaimed" -> lc.counts("reclaimed").sum,
        "n_retained" -> orders.history().size.toLong,
        "n_files" -> nFiles)
    },
    productReportOracle("n_steps_flow" -> 2, "n_steps_compact" -> 1,
      "compact_cdc_rows" -> 0, "n_reclaimed" -> 3, "n_retained" -> 1, "n_files" -> 1))

  // ------------------------------------------------------------------
  // q174: SCHEMA EVOLUTION under a live maintained consumer — the
  // evolution rewrite is CDC-invisible, later folds cross the
  // schema boundary correctly
  // ------------------------------------------------------------------

  /** The evolved orders schema: the declared base plus a `discount`
    * column the CSV sources don't carry yet — the reference's
    * declare-first, ingest-later evolution order (`main.py:20–24`
    * syncs before every ingest run).
    */
  private[graft] val evolvedOrdersSchema: StructType =
    StructType(graft.core.Schemas.orders.fields :+ StructField("discount", DoubleType))

  /** q174's construction: per-phase folds (`load_fold`, `evo_fold`,
    * `rerun_fold`), the MEASURED CDC row count of the evolution
    * transition (`evo_cdc`) and the retention accounting (`reclaimed`).
    */
  private[graft] def q174BuildEvolutionFlow(lc: Lifecycle): Unit = {
    lc.par(flowBatches(lc): _*)
    lc.run(ordersStore(lc))
    val orders = lc.store("orders")
    // phase 1: first load, consumer catches up (CreateTable + load)
    lc.run(lc.load("orders", Ingest.readOrdersCsv, "b1"))
    lc.run(productFold(lc, "load_fold", "report"))
    // phase 2: the declared schema evolves — sync rewrites the store
    // with the new column as typed nulls (q160's AddColumn branch),
    // landing a version the consumer must fold OVER
    val preEvo = orders.currentVersion.get
    val changes = lc.run(lc.step("evolve")(
      graft.schemasync.SchemaSync.sync(lc.spark, orders, evolvedOrdersSchema)))
    require(changes == Seq(graft.schemasync.SchemaSync.AddColumn(
        evolvedOrdersSchema("discount"))),
      s"q174 precondition: evolution sync applied $changes")
    val postEvo = orders.currentVersion.get
    // the transition's CDC row count, read BEFORE retention reclaims the
    // pre-evolution dir the lazy diff plan reads (the q158 ordering).
    // diff aligns the schemas (typed nulls on the missing side), so an
    // all-null added column must produce ZERO change rows — a naive
    // differ would mark EVERY key updated here and the "incremental"
    // fold would recompute the world on each evolution
    lc.par(lc.step("evo_cdc")(lc.log("evo_cdc", orders.diff(preEvo, postEvo).count())),
      productFold(lc, "evo_fold", "report"))
    // phase 3: the re-run batch lands through the UNCHANGED reader —
    // the source doesn't carry `discount` yet; upsert aligns it as
    // typed nulls (the evolve-then-ingest path) — and the fold crosses
    // the schema boundary (before arm reads the evolved version, the
    // walk's earlier pairs read pre-evolution versions)
    lc.run(lc.load("orders", Ingest.readOrdersCsv, "b2"))
    lc.run(productFold(lc, "rerun_fold", "report"))
    retain(lc, "reclaimed", Seq("report" -> productShape))
  }

  /** q174: schema EVOLUTION under a live maintained consumer — the
    * last store-lifecycle transition (q160) that had never met the
    * maintenance loop (q167) in a judged row. Long-lived stores evolve
    * while their report consumers keep folding; the production
    * contract has three parts, all judged here on the reference flow
    * with the evolution landed BETWEEN the two loads:
    *
    *  1. the evolution rewrite is CDC-INVISIBLE (`evo_cdc_rows = 0`):
    *     [[graft.state.StateTable.diff]] aligns schemas with typed
    *     nulls, so adding an all-null column changes no key — a naive
    *     differ would mark EVERY key updated and turn each evolution
    *     into a full-store maintenance step;
    *  2. the consumer's fold over the evolution version is a value
    *     no-op that still ADVANCES the watermark, so retention can
    *     reclaim pre-evolution history behind the live consumer;
    *  3. later folds CROSS the schema boundary correctly: the re-run
    *     batch arrives through the unchanged reader (no `discount`
    *     yet — upsert lands it as typed nulls, the evolve-then-ingest
    *     path), and its fold's delta arms read versions of DIFFERENT
    *     schemas (before = evolved, walk start = pre-evolution).
    *
    * The judged rows are the maintained report (values meet the SAME
    * weighted-arms replay as the un-evolved flow — the evolution must
    * not move a single cent), the per-phase fold counts (1/1/1), the
    * measured evolution-CDC row count (0), the retention accounting
    * (3 reclaimed / 1 retained), and `equiv_diff = 0` against the
    * recompute off the evolved store. IngestCertSpec pins what the
    * replay can't see: the evolved column physically exists (all-null)
    * in the final store, the evolution-fold report version is
    * value-identical to its predecessor, and a restart
    * applies zero steps.
    *
    * Reference leg: `main.py:20–24` — schema sync runs BEFORE every
    * ingest, so evolution-between-runs is the reference's normal
    * cadence, not an edge case; its reports (psql views) keep reading
    * across it via Postgres's relaxed-nullability ALTER. Same contract
    * over versioned parquet.
    *
    * Scale: the evolution rewrite is one column-pruned scan→write pass
    * (no shuffle, SchemaSync's doc); the consumer's extra fold costs
    * one empty-delta pass; everything else is the standard
    * change-volume maintenance algebra. The judged plan is q167's
    * consumer shape (report scan ⋈ recompute certificate leg via the
    * ±1-weighted union-groupBy, plus the output sort).
    */
  val q174EvolutionMaintenance: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q174")
      q174BuildEvolutionFlow(lc)
      val orders = lc.store("orders")
      maintainedCert(productShape,
        lc.report("report", productShape).current().get,
        orders.current().get,
        "n_steps_load" -> lc.counts("load_fold").sum,
        "n_steps_evo" -> lc.counts("evo_fold").sum,
        "n_steps_rerun" -> lc.counts("rerun_fold").sum,
        "evo_cdc_rows" -> lc.counts("evo_cdc").sum,
        "n_reclaimed" -> lc.counts("reclaimed").sum,
        "n_retained" -> orders.history().size.toLong)
    },
    productReportOracle("n_steps_load" -> 1, "n_steps_evo" -> 1, "n_steps_rerun" -> 1,
      "evo_cdc_rows" -> 0, "n_reclaimed" -> 3, "n_retained" -> 1))

  // ------------------------------------------------------------------
  // q175: maintained JOIN report — incremental view maintenance of a
  // TWO-table joined report (orders ⋈ inventories) under changes to
  // BOTH stores, including a mid-loop dimension move
  // ------------------------------------------------------------------

  /** The joined fact⋈dimension view behind A3's revenue-per-category
    * report (`README.md:103–106`) read off the TWO flow-built stores:
    * orders rows inner-joined to their catalog row's category. The
    * dimension side is projected to (product_id, category) before the
    * join — at 100 TB the catalog's payload columns must never ride
    * the fact shuffle.
    */
  private[graft] def joinedView(orders: DataFrame, inv: DataFrame): DataFrame =
    orders.join(inv.select(col("product_id"), col("category")),
      Seq("product_id"))

  /** Revenue per category off the joined view — SUM-shaped, so the ±
    * fold maintains it; one definition for the base snapshot, both
    * delta arms, and the recompute certificate leg.
    */
  private def joinedContrib(joined: DataFrame): DataFrame =
    joined.select(col("category"), lit(1L).as("n_rows"),
      floor(col("amount") * 100).cast("long").as("revenue_cents"))

  /** The per-category report over (orders, inventories): its view is
    * [[joinedView]], both sources are pruned by `product_id` (the
    * products whose joined slice a step can change — an order-side step
    * prices at its changed products' fact slices, a dimension step at
    * the moved products' fact slices plus their catalog rows), and its
    * report versions record two offsets: orders, then inventories.
    */
  private[graft] val joinedShape: MaintainedShape =
    MaintainedShape(joinedContrib, Seq("category"),
      Seq("n_rows", "revenue_cents"),
      view = sources => joinedView(sources(0), sources(1)),
      pruneCols = Seq("product_id"))

  /** q175's dimension-move batch: every real catalog product with
    * k ≡ 0 (mod 3) is re-listed under a brand-new category with name/
    * stock/sub-category unchanged — a PURE dimension move (the LWW
    * rewrite changes only the grouping attribute). Ghost ids
    * (k ≡ 0 mod 10) and the never-listed k ≡ 0 (mod 7) block are
    * excluded, so the moved set is exactly the products that can
    * influence the joined report, and the judged affected-count
    * replays from the generator.
    */
  private[graft] val q175MoveBatch: DataFrame => DataFrame =
    df => df.filter(col("k") % 3 === 0 && col("k") % 7 =!= 0 &&
        col("k") % 10 =!= 0)
      .withColumn("c_mktsegment", lit("RELOCATED"))

  /** q175's construction: the inventories store loads its catalog
    * (q163's batch-1 leg) and retention reclaims its empty CreateTable
    * version, then the q169-convention streamed orders flow runs with
    * the [[joinedShape]] report `report` resumed after each drain — the
    * fresh consumer starts at the orders CreateTable version and the
    * catalog version, the oldest retained ones. MID-LOOP, after the
    * second drain's fold, the dimension update lands: [[q175MoveBatch]]
    * re-lists every k ≡ 0 (mod 3) real product under a new category
    * through the same CSV→LWW-upsert leg, and a third fold absorbs the
    * move with the ORDERS side unchanged (the pure-dimension-change
    * path). Returns the fold steps (source 0 = orders, 1 =
    * inventories).
    */
  private[graft] def q175BuildJoinedFlow(lc: Lifecycle): Seq[FoldStep] = {
    lc.par(lc.stageInventories("inv_b1", q163InvBatch1),
      lc.stageInventories("inv_move", q175MoveBatch), invStore(lc))
    lc.run(lc.load("inv", Ingest.readInventoriesCsv, "inv_b1"))
    lc.store("inv").vacuum()
    val steps = scala.collection.mutable.ArrayBuffer.empty[FoldStep]
    def fold(): Unit =
      steps ++= lc.run(lc.resume("fold", joinedShape, Seq("orders", "inv"), "report"))
    buildStreamedFlowStore(lc, _ => {
      fold()
      if (steps.size == 2) {
        lc.run(lc.load("inv", Ingest.readInventoriesCsv, "inv_move"))
        fold()
      }
    })
    steps.toSeq
  }

  /** q175: the maintained JOIN report — incremental view maintenance
    * of a TWO-table joined report, the one IVM step no judged row had
    * taken (every maintained report q164–q174 folds changes of the
    * orders store alone, while the reference's reports 1, 3, 4, 5 all
    * JOIN orders ⋈ inventories — `README.md:47–50, 103–106, 122–125,
    * 141–148`). At 100 TB the gap bites from the dimension side: an
    * inventory recategorization is a tiny update to a small table, but
    * without join maintenance it forces a full joined-report recompute
    * over the fact store. q175 certifies the production answer: A3's
    * revenue-per-category (category sourced from the inventories
    * STORE, not the fact rows) maintained under changes to BOTH stores
    * via a [[joinedShape]] report consumer — two order-side folds
    * (the streamed drains) and one dimension-side fold (a real
    * mid-loop category move through the CSV→LWW leg). The judged rows
    * are the final maintained report per category — the moved
    * products' revenue must sit under the NEW category, which the
    * oracle re-derives by replaying the move against the weighted-arms
    * flow replay — plus the step counts per side (2 order + 1 dim),
    * the dimension fold's affected-product count (mod-3 of the real
    * catalog — judged PROPER subset: n_dim_affected < n_catalog, the
    * change-volume pruning made visible, q170's convention), the
    * catalog size, and `equiv_diff = 0` against the full joined
    * recompute off both stores' current versions. A dimension change
    * the fold missed, a retraction left under the old category, a
    * double-counted ΔO⋈ΔI overlap, or an affected set that silently
    * widened to the whole catalog all break it.
    *
    * What the replayed oracle cannot see, IngestCertSpec pins: the
    * moved products' category really CHANGED between the inventory
    * versions (the move is physically in the store), the dim step's
    * affected set is EXACTLY the moved products, the order-side steps
    * each touched a nonempty product set, and the report really MOVED
    * across the dimension fold (retraction + addition, not a no-op).
    *
    * Reference leg: `flows/data_ingestion.py:250–272` ingests both
    * datasets; reports 1/3/4/5 join them (`README.md:47–148`). The
    * reference recomputes each report per run — the maintained form is
    * the 100 TB answer to the same surface.
    *
    * Scale: each fold arm reads |P| products' fact slices (semi-join-
    * pruned on the key the store partitions by) joined to |P| catalog
    * rows — change-volume cost on either side's update; each step's
    * durable report version truncates its lineage (O(1) plan depth in
    * step count). The judged plan is the report scan, the recompute
    * certificate
    * leg (both store scans → projected join → category rollup — the
    * honest price, q141/q162 convention), the ±1-weighted
    * union-groupBy pair, and the ≤6-row output sort.
    */
  val q175MaintainedJoinReport: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q175")
      val steps = q175BuildJoinedFlow(lc)
      val inv = lc.store("inv").current().get
      val report = steps.last.report
      val recompute = joinedShape.report(joinedView(
        lc.store("orders").current().get, inv))
      val equiv = multisetEquivDiff(report, recompute, "category")
      // the dimension fold's affected-product count (a single-row
      // aggregate read on its change feed) and the catalog row count it
      // must stay a proper subset of
      val Seq(nDimAffected, nCatalog) = lc.par(
        lc.step("dim_affected")(steps.last.keys.count()),
        lc.step("catalog")(inv.count()))
      report
        .withColumn("n_steps", lit(steps.size.toLong))
        .withColumn("n_order_steps",
          lit(steps.count(_.source == 0).toLong))
        .withColumn("n_dim_steps",
          lit(steps.count(_.source == 1).toLong))
        .withColumn("n_dim_affected", lit(nDimAffected))
        .withColumn("n_catalog", lit(nCatalog))
        .join(equiv, Seq("category"))
        .orderBy(col("category"))
    },
    s"""$flowStoreReplaySql,
       |-- the final catalog replay: batch-1 rows (k % 7 <> 0) with the
       |-- move batch's LWW category rewrite on k % 3 = 0 real keys;
       |-- ghost rows (k % 10 = 0 carry disjoint 'new_' ids) never match
       |-- a numeric o_custkey, so they are omitted from the join replay
       |inv AS (
       |  SELECT cast(c_custkey AS varchar) AS product_id,
       |         CASE WHEN c_custkey % 3 = 0 THEN 'RELOCATED'
       |              ELSE c_mktsegment END AS category
       |  FROM customer
       |  WHERE c_custkey % 7 <> 0 AND c_custkey % 10 <> 0),
       |joined AS (
       |  SELECT i.category, f.w,
       |         cast(floor(f.amount * 100) AS bigint) AS cents
       |  FROM fin f JOIN inv i ON cast(f.o_custkey AS varchar) = i.product_id)
       |SELECT category,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * cents) AS bigint) AS revenue_cents,
       |  cast(3 AS bigint) AS n_steps,
       |  cast(2 AS bigint) AS n_order_steps,
       |  cast(1 AS bigint) AS n_dim_steps,
       |  (SELECT cast(count(*) AS bigint) FROM customer
       |   WHERE c_custkey % 3 = 0 AND c_custkey % 7 <> 0
       |     AND c_custkey % 10 <> 0) AS n_dim_affected,
       |  (SELECT cast(count(*) AS bigint) FROM customer
       |   WHERE c_custkey % 7 <> 0) AS n_catalog,
       |  cast(0 AS bigint) AS equiv_diff
       |FROM joined GROUP BY category ORDER BY category""".stripMargin)

  // ------------------------------------------------------------------
  // q177: DURABLE two-store join maintenance — the q167/q168/q172
  // lifecycle story (watermark resume, bounded retention, consumer
  // onboarding) for the JOINED report family
  // ------------------------------------------------------------------

  /** q177's construction: the reference flow on BOTH stores (orders
    * q161 batches; inventories catalog + [[q175MoveBatch]] category
    * move) with a durable joined-report consumer resuming from disk
    * after each load cycle (fresh handles — q167's restart realism),
    * then retention bounded PER STORE by its component of the durable
    * watermark pair. Logs per cycle the fold steps of each source
    * (`order_steps`, `dim_steps`) and per store the reclaimed count.
    */
  private[graft] def q177BuildDurableJoinFlow(lc: Lifecycle): Unit = {
    lc.par(flowBatches(lc) ++ Seq(lc.stageInventories("inv_b1", q163InvBatch1),
      lc.stageInventories("inv_move", q175MoveBatch)): _*)
    lc.par(ordersStore(lc), invStore(lc))
    def resume(): Unit = {
      val steps = lc.run(lc.resume("resume", joinedShape, Seq("orders", "inv"), "report"))
      lc.log("order_steps", steps.count(_.source == 0).toLong)
      lc.log("dim_steps", steps.count(_.source == 1).toLong)
    }
    // cycle 1: first loads on both stores, one resume
    lc.par(lc.load("orders", Ingest.readOrdersCsv, "b1"),
      lc.load("inv", Ingest.readInventoriesCsv, "inv_b1"))
    resume()
    // cycle 2: the orders re-run AND the dimension category move land,
    // one resume absorbs both feeds
    lc.par(lc.load("orders", Ingest.readOrdersCsv, "b2"),
      lc.load("inv", Ingest.readInventoriesCsv, "inv_move"))
    resume()
    // retention: each store vacuums bounded by ITS durable watermark
    val Seq(wmO, wmI) = reportWatermarks(lc.report("report", joinedShape)).get
    lc.log("o_reclaimed", lc.store("orders").vacuumBefore(wmO).size.toLong)
    lc.log("i_reclaimed", lc.store("inv").vacuumBefore(wmI).size.toLong)
  }

  /** q177: the DURABLE two-store joined-report lifecycle — q175 proves
    * the join-maintenance algebra; the production consumer of a
    * years-long 100 TB store pair is durable, resumable,
    * retention-compatible, and joinable late, and every one of those
    * properties needs the TWO-watermark generalization judged here:
    * each report version records the (orders, inventories) version
    * pair it reflects, a restarted process recovers the pair off the
    * report's commit log and absorbs each feed's pending versions in
    * telescoping phases
    * ([[resumeMaintenance]] — no cross-store version ordering
    * assumed, because none exists), retention runs PER STORE bounded
    * by that store's watermark component, and a NEW consumer joining
    * the already-vacuumed stores bootstraps its base from both current
    * versions (q172's onboarding certificate, two-store form). The
    * judged flow is the reference cadence on both datasets
    * (`flows/data_ingestion.py:250–272`): first loads + resume, then
    * the orders LWW re-run AND the category move land together +
    * resume, then per-store vacuums; the judged query itself runs the
    * post-reclaim restart (0 steps) and the newcomer onboarding.
    * Judged rows: the veteran's per-category report (values meet
    * q175's joined replay — the dimension move folded durably), fold
    * counts per side (2 orders + 2 dim), per-store retention
    * accounting (2 reclaimed / 1 retained each), the restart and
    * bootstrap step counts (0), the newcomer equivalence
    * (`b_equiv_diff = 0` — two consumers at different join times
    * converge on identical durable rows), and `equiv_diff = 0` against
    * the recompute off both current versions. A watermark component
    * misread, a phase folded against the wrong pinned version, a
    * vacuum that outran its store's consumer, or a bootstrap that
    * missed either side's contents all break it.
    *
    * What the replay cannot see, IngestCertSpec pins: the durable
    * stamps equal the stores' current versions, the report lifecycle
    * is CreateTable + exactly 4 folds, the newcomer REALLY took the
    * materialize path (2 report versions, stamps = the vacuumed
    * stores' single retained versions), and a dimension-only change
    * resumes as one inventories step with the report still meeting
    * the recompute.
    *
    * Scale: phase cost tracks each feed's change volume (the q175
    * arms); the durable write per fold truncates lineage; retention
    * stays a driver-side delete per store; the watermark pair costs
    * one two-column single-row read. The judged plan is the veteran's
    * report scan joined to the newcomer-equiv and recompute-equiv
    * certificate legs (the recompute leg is the honest two-store
    * scan ⋈ scan → rollup price) plus the ≤6-row sort.
    */
  val q177DurableJoinResume: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q177")
      q177BuildDurableJoinFlow(lc)
      // post-reclaim restart (a fresh handle applies ZERO steps on
      // both feeds — idempotence judged, q171's convention) and the
      // newcomer onboarding (a NEW joined consumer bootstraps from
      // both current versions)
      val sources = Seq("orders", "inv")
      lc.par(lc.resume("restart", joinedShape, sources, "report"),
        lc.resume("bootstrap_b", joinedShape, sources, "report_b"))
      twoConsumerCert(lc, joinedShape, sources,
        "n_order_steps" -> lc.counts("order_steps").sum,
        "n_dim_steps" -> lc.counts("dim_steps").sum,
        "o_reclaimed" -> lc.counts("o_reclaimed").sum,
        "i_reclaimed" -> lc.counts("i_reclaimed").sum,
        "o_retained" -> lc.store("orders").history().size.toLong,
        "i_retained" -> lc.store("inv").history().size.toLong,
        "restart_steps" -> lc.counts("restart").sum,
        "bootstrap_steps" -> lc.counts("bootstrap_b").sum)
    },
    s"""$flowStoreReplaySql,
       |-- q175's final-catalog replay: batch-1 rows with the LWW
       |-- category rewrite on moved keys; ghost rows never join
       |inv AS (
       |  SELECT cast(c_custkey AS varchar) AS product_id,
       |         CASE WHEN c_custkey % 3 = 0 THEN 'RELOCATED'
       |              ELSE c_mktsegment END AS category
       |  FROM customer
       |  WHERE c_custkey % 7 <> 0 AND c_custkey % 10 <> 0),
       |joined AS (
       |  SELECT i.category, f.w,
       |         cast(floor(f.amount * 100) AS bigint) AS cents
       |  FROM fin f JOIN inv i ON cast(f.o_custkey AS varchar) = i.product_id)
       |SELECT category,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * cents) AS bigint) AS revenue_cents,
       |  cast(2 AS bigint) AS n_order_steps,
       |  cast(2 AS bigint) AS n_dim_steps,
       |  cast(2 AS bigint) AS o_reclaimed,
       |  cast(2 AS bigint) AS i_reclaimed,
       |  cast(1 AS bigint) AS o_retained,
       |  cast(1 AS bigint) AS i_retained,
       |  cast(0 AS bigint) AS restart_steps,
       |  cast(0 AS bigint) AS bootstrap_steps,
       |  cast(0 AS bigint) AS b_equiv_diff,
       |  cast(0 AS bigint) AS recompute_equiv_diff
       |FROM joined GROUP BY category ORDER BY category""".stripMargin)

  // ------------------------------------------------------------------
  // q176: maintained TIME-BUCKETED report — derived (year, month)
  // group keys, judged with a LATE-arriving batch folding into
  // already-reported months
  // ------------------------------------------------------------------

  /** A2's orders-per-product-per-month rollup (`README.md:79–92`,
    * q166's shape) as a maintainable report: the group keys are
    * DERIVED (`year(date_time)`, `month(date_time)`), not stored
    * columns — the ± fold's arms recompute them per slice, so a row's
    * bucket is always derived from its own event time and a
    * boundary-crossing late row lands in ITS month, never the
    * processing-time one. One definition for the base snapshot, both
    * delta arms, and the recompute certificate leg.
    */
  private def monthlyContrib(contents: DataFrame): DataFrame =
    contents.select(col("product_id"),
      year(col("date_time")).as("sale_year"),
      month(col("date_time")).as("sale_month"),
      lit(1L).as("n_rows"), col("quantity").cast("long").as("qty_sum"))

  private[graft] val monthlyShape: MaintainedShape =
    MaintainedShape(monthlyContrib,
      Seq("product_id", "sale_year", "sale_month"),
      Seq("n_rows", "qty_sum"),
      Seq(StringType, IntegerType, IntegerType))

  /** q176's late-arriving batch: every k ≡ 0 (mod 5) source row
    * re-landed under a DISJOINT order-id space (k + 10⁷ — far above
    * any corpus orderkey at every judged SF, so the upsert's insert
    * arm appends all copies), with `o_orderdate` untouched: the
    * derived event times fall in the months the report has ALREADY
    * folded — late data in the event-time sense, arriving after its
    * month was reported. The shift preserves k's parity (10⁷ is
    * even), so each line keeps its original timestamp FORMAT arm; all
    * other hazard columns re-derive from the shifted k, which the
    * oracle replays.
    */
  private[graft] val q176LateBatch: DataFrame => DataFrame =
    df => df.filter(col("k") % 5 === 0)
      .withColumn("k", col("k") + lit(10000000L))

  /** q176's construction: the q167 durable-consumer loop run with
    * [[monthlyShape]] (fresh handles per fold — restart realism), then
    * the LATE batch lands in the SAME landing directory and a third
    * `AvailableNow` drain under the SAME checkpoint absorbs it (the
    * file-source log must skip every already-processed file), followed
    * by one more durable fold over the late transition. Logs each
    * fold's applied-step count (`fold`) and the number of (product,
    * year, month) groups the late fold touched (`late_touched`).
    */
  private[graft] def q176BuildMonthlyFlow(lc: Lifecycle): Unit = {
    val keyCols = graft.core.Schemas.ordersKey
    val fold = lc.resume("fold", monthlyShape, Seq("orders"), "report")
    // the late batch's STAGING touches only its own side dir — it can
    // overlap the whole flow build; only the LANDING must wait for
    // drain 2 (the files must arrive late)
    lc.par(
      lc.step("flow", Seq("b1", "b2", "orders", "ckpt", "report").map(lc.dir): _*)(
        buildStreamedFlowStore(lc, _ => lc.run(fold)): Unit),
      lc.stageOrders("late", q176LateBatch))
    landStagedFiles(lc.dir("late"), lc.dir("b1"), "late")
    drain(lc)
    val orders = lc.store("orders")
    val h = orders.history()
    require(h.size == 4,
      s"q176: expected 4 retained versions after the late drain, got ${h.size}")
    // the groups the late fold touched: the changed keys' rows exist
    // only on the after side (pure inserts), so their derived
    // (product, year, month) buckets off the current version ARE the
    // fold's touched set
    lc.par(fold, lc.step("late_touched")(lc.log("late_touched",
      monthlyShape.report(orders.current().get
        .join(orders.changedKeys(h(2), h(3)), keyCols, "left_semi")).count())))
  }

  /** q176: the maintained TIME-BUCKETED report — A2 was the one
    * reference report with no maintained judged row (q166 recomputes
    * it off the store). The new surface is DERIVED group keys: every
    * prior maintained family groups by stored string columns, while
    * A2's buckets are `year(date_time)`/`month(date_time)` expressions
    * — and the late-data hazard that comes with them: rows can arrive
    * AFTER their month was folded and reported, and must fold into the
    * OLD month's groups (event-time bucketing), touching only those.
    * q176 judges both on the production path: the q167 durable
    * consumer loop (fresh handles, watermark resume, one report
    * version per fold) running [[monthlyShape]] over the streamed
    * flow's two drains, then a LATE batch — new order ids whose event
    * times sit in already-folded months ([[q176LateBatch]]) — lands in
    * the same landing dir, drains through the same checkpoint, and a
    * third durable fold absorbs it. The judged rows are the final
    * maintained monthly report (values meet the weighted-arms replay
    * plus the late arm — a late row bucketed by fold time instead of
    * event time, a double-folded late file, or a derived-key drift in
    * the durable round-trip all break it), the fold-step count (3),
    * the report version count (4), the count of groups the late fold
    * touched (judged visibly smaller than the report's group set — the
    * judged output itself is the group set), and `equiv_diff = 0`
    * against the recompute off the drained store.
    *
    * What the replayed oracle cannot see, IngestCertSpec pins: the
    * late keys are disjoint inserts whose months were ALREADY in the
    * pre-late report (really late, not just new), and the late fold's
    * durable report version differs from its predecessor ONLY within
    * the touched groups — every other (product, year, month) row
    * carried byte-identical (the expression-key pruning, q170's
    * convention).
    *
    * Scale: the fold arms derive buckets from the changed keys' rows
    * only (semi-join-pruned on the store key), so a late batch prices
    * at its own row count regardless of how many historical months the
    * report holds; the durable write truncates lineage per fold. The
    * judged plan is q167's consumer shape at the finer group key — the
    * report table's parquet scan joined to the recompute certificate
    * leg via the ±1-weighted union-groupBy pair, plus the output sort.
    */
  val q176MaintainedMonthly: QuerySpec = QuerySpec(
    (s, dir) => {
      val lc = new Lifecycle(s, dir, "q176")
      q176BuildMonthlyFlow(lc)
      val reportSt = lc.report("report", monthlyShape)
      maintainedCert(monthlyShape, reportSt.current().get,
        lc.store("orders").current().get,
        "n_steps" -> lc.counts("fold").sum,
        "n_report_versions" -> reportSt.history().size.toLong,
        "n_late_touched" -> lc.counts("late_touched").sum)
    },
    s"""$flowStoreReplaySql,
       |-- the late batch replay: k ≡ 0 (mod 5) source rows re-landed
       |-- under the shifted (disjoint) order-id space; the verbatim
       |-- duplicate convention (k % 11, on the ORIGINAL key) rides
       |-- along, and every late row inserts with weight 1 per line
       |late AS (
       |  SELECT o_orderkey + 10000000 AS k, o_custkey, o_totalprice,
       |         o_orderdate, o_orderpriority, o_orderstatus
       |  FROM orders WHERE o_orderkey % 5 = 0
       |  UNION ALL
       |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice,
       |         o_orderdate, o_orderpriority, o_orderstatus
       |  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 11 = 0),
       |lkeyed AS (
       |  SELECT *, $hazardColsSql
       |  FROM late),
       |mfin AS (
       |  SELECT o_custkey, quantity, date_time, w FROM fin
       |  UNION ALL
       |  SELECT o_custkey, quantity, date_time, 1 AS w FROM lkeyed),
       |lgroups AS (
       |  SELECT DISTINCT o_custkey, year(date_time) AS y,
       |         month(date_time) AS m
       |  FROM lkeyed)
       |SELECT cast(o_custkey AS varchar) AS product_id,
       |  cast(year(date_time) AS integer) AS sale_year,
       |  cast(month(date_time) AS integer) AS sale_month,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * quantity) AS bigint) AS qty_sum,
       |  cast(3 AS bigint) AS n_steps,
       |  cast(4 AS bigint) AS n_report_versions,
       |  (SELECT cast(count(*) AS bigint) FROM lgroups) AS n_late_touched,
       |  cast(0 AS bigint) AS equiv_diff
       |FROM mfin GROUP BY 1, 2, 3
       |ORDER BY product_id, sale_year, sale_month""".stripMargin)

  val all: Map[String, QuerySpec] = Map(
    "q159_csv_ingest_cert" -> q159CsvIngestCert,
    "q161_reference_flow_e2e" -> q161ReferenceFlowE2e,
    "q162_streaming_flow_e2e" -> q162StreamingFlowE2e,
    "q163_store_report_cert" -> q163StoreReportCert,
    "q164_incremental_report_cert" -> q164IncrementalReportCert,
    "q165_streaming_report_maint" -> q165StreamingReportMaintCert,
    "q166_store_monthly_cert" -> q166StoreMonthlyCert,
    "q167_durable_report_resume" -> q167DurableReportResume,
    "q168_retention_safe_resume" -> q168RetentionSafeResume,
    "q169_maintained_top_sellers" -> q169MaintainedTopSellers,
    "q170_purged_top_sellers" -> q170PurgedTopSellers,
    "q171_multi_consumer_retention" -> q171MultiConsumerRetention,
    "q172_consumer_bootstrap" -> q172ConsumerBootstrap,
    "q173_compaction_maintenance" -> q173CompactionMaintenance,
    "q174_evolution_maintenance" -> q174EvolutionMaintenance,
    "q175_maintained_join_report" -> q175MaintainedJoinReport,
    "q176_maintained_monthly" -> q176MaintainedMonthly,
    "q177_durable_join_resume" -> q177DurableJoinResume)
}
