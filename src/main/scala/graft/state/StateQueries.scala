package graft.state

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.tables.Tables

/** Judged certificates for the [[StateTable]] lifecycle ops that the
  * SURVEY §2 upsert queries (q10/q11 — pure frame algebra) don't reach:
  * the maintenance legs that run against the REAL versioned store.
  *
  * q156 is the compaction certificate, the q136 purge-certificate
  * convention applied to the small-files maintenance path
  * ([[StateTable.compact]]): an upsert-heavy table is built through the
  * real `upsert` path (first-load append + §2.4 last-write-wins re-run,
  * `flows/data_ingestion.py:99–216` semantics), compacted, and the
  * judged row certifies BOTH directions of the contract —
  *
  *  - contents are invariant: the per-part content aggregates replay in
  *    the oracle from the upsert semantics alone (so a compaction that
  *    dropped, duplicated or reordered-into-wrongness any row breaks
  *    the hash), and `equiv_diff` is the measured full-row multiset
  *    symmetric difference between the pre-compact and post-compact
  *    versions (both retained — versions are immutable until vacuum),
  *    judged 0;
  *  - the layout actually changed: `n_files` is the MEASURED post-
  *    compact file count per partition directory (distinct
  *    `_metadata.file_path` — computed distributed, no filesystem
  *    walk), judged against the oracle's contract value 1 (the `part`
  *    repartition puts each directory's rows in exactly one task);
  *    `frag_before` certifies the scenario is
  *    non-degenerate — the pre-compact version really was fragmented
  *    (the upsert's updated ∪ inserts union writes ≥ 2 files into
  *    every directory both branches touch), so the certificate cannot
  *    pass vacuously on an already-compact table.
  *
  * Scale: the store round-trip is the measured operator (the q74/q103
  * staging convention, invocation-scoped dir). The certificate costs
  * FOUR scans of the (bounded) store, and honestly so: one full-row
  * scan per version feeding the multiset groupBy pair + full-outer
  * diff — the irreducible price of a content-invariance proof — plus
  * the post version's part-grain rollup (content aggregates and
  * `countDistinct(_metadata.file_path)` riding ONE scan) and the pre
  * version's column-pruned (part, file) accounting scan. At 100 TB the
  * same compact() runs per partition directory, and the two full-row
  * certificate scans are what any rebuild-vs-maintenance proof pays
  * (the q136/q153 convention).
  */
object StateQueries {

  /** The shared fixture arithmetic: 5 hive partitions keyed off the
    * order key, base = keys ≢ 0 (mod 3) (first load), re-run batch =
    * even keys at 1.1× price — so the batch both UPDATES live keys
    * (even, ≢0 mod 3) and INSERTS unseen ones (≡ 0 mod 6), exercising
    * the §2.4 split through the real store.
    */
  private def withPart(df: DataFrame): DataFrame =
    df.withColumn("part", (col("o_orderkey") % 5).cast("int"))

  val q156CompactionCert: QuerySpec = QuerySpec(
    (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      val base = withPart(o.filter(col("o_orderkey") % 3 =!= 0))
        .withColumn("ord", col("o_orderkey"))
      val batch = withPart(o.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * lit(1.1)))
        .withColumn("ord", col("o_orderkey"))
      val st = new StateTable(s,
        graft.core.Staging.invocationDir("graft_q156_state", dir),
        Seq("o_orderkey"), partitionCols = Seq("part"))
      st.upsert(base, Some("ord"))
      st.upsert(batch, Some("ord"))
      val preV = st.currentVersion.get
      st.compact()
      val postV = st.currentVersion.get

      def version(v: String): DataFrame =
        s.read.parquet(java.nio.file.Paths.get(st.root).resolve(v).toString)
      // full-row multiset counts (o_orderkey, o_totalprice, part, _seq
      // — compaction must preserve even the bookkeeping column)
      def rowCounts(v: String, as: String): DataFrame = {
        val df = version(v)
        df.groupBy(df.columns.map(col).toIndexedSeq: _*)
          .agg(count(lit(1)).as(as))
      }
      val keyCols = version(postV).columns.toSeq
      val equiv = rowCounts(preV, "c_pre")
        .join(rowCounts(postV, "c_post"), keyCols, "full_outer")
        .groupBy(col("part"))
        .agg(sum(abs(coalesce(col("c_pre"), lit(0L)) - coalesce(col("c_post"), lit(0L))))
          .as("equiv_diff"))
      // content aggregates and the post-compact file accounting share
      // ONE part-grain rollup (distinct _metadata.file_path rides the
      // same scan — the writer's actual layout, no directory walk); the
      // pre version needs only its pruned (part, file) accounting scan
      val content = version(postV).groupBy(col("part"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(floor(col("o_totalprice") * lit(100)).cast("long")).as("price_cents"),
          countDistinct(col("_metadata.file_path")).as("n_files"))
      // Pinned (≤5 rows) so the fragmentation PRECONDITION can be
      // asserted here with a named error: the oracle pins frag_before
      // = 1, which holds only while the upsert's updated ∪ inserts
      // union physically writes ≥ 2 files into every directory. A
      // writer-layout change (single-task union, AQE rebalance) must
      // surface as this precondition failure, not as an opaque judged
      // hash mismatch. The join below reuses the pinned frame — same
      // single accounting scan as before.
      val preFiles = graft.core.Checkpoints.pin(version(preV).groupBy(col("part"))
        .agg(countDistinct(col("_metadata.file_path")).as("nf_pre")))
      val minPre = preFiles.agg(min(col("nf_pre"))).head().getLong(0)
      require(minPre >= 2,
        s"q156 fixture precondition: pre-compact version $preV has a " +
          s"partition directory with only $minPre file(s); the upsert " +
          "writer no longer fragments (updated ∪ inserts must write ≥ 2 " +
          "files per touched directory) — the compaction certificate " +
          "would be vacuous")
      content
        .join(preFiles, Seq("part"))
        .join(equiv, Seq("part"))
        .select(col("part"), col("n_rows"), col("key_sum"), col("price_cents"),
          col("n_files"),
          when(col("nf_pre") > col("n_files"), 1L).otherwise(0L).as("frag_before"),
          col("equiv_diff"))
        .orderBy(col("part"))
    },
    s"""WITH base AS (SELECT o_orderkey, o_totalprice,
       |                     cast(o_orderkey % 5 AS integer) AS part
       |              FROM orders WHERE o_orderkey % 3 <> 0),
       |batch AS (SELECT o_orderkey, o_totalprice * cast(1.1 AS double) AS o_totalprice,
       |                 cast(o_orderkey % 5 AS integer) AS part
       |          FROM orders WHERE o_orderkey % 2 = 0),
       |state AS (SELECT b.o_orderkey,
       |                 coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice,
       |                 b.part
       |          FROM base b LEFT JOIN batch u ON b.o_orderkey = u.o_orderkey
       |          UNION ALL
       |          SELECT o_orderkey, o_totalprice, part FROM batch
       |          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base))
       |SELECT part, cast(count(*) AS bigint) AS n_rows,
       |  ${graft.ext.OracleSql.bigSum("o_orderkey")} AS key_sum,
       |  ${graft.ext.OracleSql.bigSum("cast(floor(o_totalprice * 100) AS bigint)")} AS price_cents,
       |  cast(1 AS bigint) AS n_files,
       |  cast(1 AS bigint) AS frag_before,
       |  cast(0 AS bigint) AS equiv_diff
       |FROM state GROUP BY part ORDER BY part""".stripMargin)

  /** q158: VERSION-CDC + VACUUM certificate — the two [[StateTable]]
    * lifecycle ops q156 left spec-only, judged together because they
    * are two sides of the same versioned-store contract: CDC is what
    * retained versions BUY (change capture as a pure join — no log, no
    * triggers), vacuum is what bounds their cost, and vacuum must
    * never touch the version CDC just read.
    *
    * Three real versions through the store: v1 = first load (append
    * semantics), v2 = the §2.4 LWW re-run (updates + inserts), v3 = a
    * deletion-slice purge (`o_orderkey % 83`, q136's right-to-be-
    * forgotten convention applied to the STATE STORE). The judged
    * (metric, value) rows carry [[StateTable.diff]]'s per-`_change`
    * key counts and key sums for BOTH hops — v1→v2 must surface
    * exactly the LWW updates and the unseen-key inserts (and zero
    * deletes), v2→v3 exactly the purged keys (and zero
    * inserts/updates) — plus the vacuum accounting: versions 3 → 1
    * (measured from the store, contract-pinned by the oracle) and the
    * post-vacuum CURRENT contents replayed by the oracle from the
    * upsert+purge semantics, proving the destructive op removed only
    * history.
    *
    * Harness note: the CDC aggregates are PINNED (eagerly
    * materialized, ≤3 rows each) BEFORE vacuum runs — the diff frames
    * read the version directories lazily, and vacuum deletes exactly
    * those directories; an unpinned plan would fail (or silently read
    * nothing) at materialization. That ordering constraint is itself
    * part of the production contract this query certifies (CDC
    * consumers must drain before retention runs) and is what
    * StateQueriesSpec's lifecycle test pins.
    *
    * Scale: each diff is one key-keyed full-outer join between two
    * latest-per-key frames (two scans per hop — the CDC price); the
    * judged assembly moves ≤ a dozen 1-row aggregates; vacuum is
    * filesystem-only. The store is unpartitioned here, covering the
    * non-hive path q156's fixture doesn't.
    */
  val q158StateCdcVacuum: QuerySpec = QuerySpec(
    (s, dir) => {
      // Positive-price fixture filter, mirrored in the oracle: the
      // oracle equates cdc12 updates with base ∩ batch, which relies on
      // o_totalprice * 1.1 ≠ o_totalprice for every fixture row. True
      // for all TPC-H data, but make it structural rather than assumed —
      // a zero-price row would silently drop its key from diff's update
      // set and fail the judged row for a non-CDC reason.
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
        .filter(col("o_totalprice") > 0)
      def ord(df: DataFrame): DataFrame = df.withColumn("ord", col("o_orderkey"))
      val st = new StateTable(s,
        graft.core.Staging.invocationDir("graft_q158_state", dir),
        Seq("o_orderkey"))
      st.upsert(ord(o.filter(col("o_orderkey") % 3 =!= 0)), Some("ord"))
      val v1 = st.currentVersion.get
      st.upsert(ord(o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))), Some("ord"))
      val v2 = st.currentVersion.get
      st.overwrite(st.read().get.filter(col("o_orderkey") % 83 =!= 0))
      val v3 = st.currentVersion.get

      def cdc(from: String, to: String, tag: String): DataFrame =
        graft.core.Checkpoints.pin(st.diff(from, to)
          .groupBy(col("_change"))
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("ks"))
          .select(concat(lit(s"${tag}_"), col("_change")).as("m"),
            col("n"), col("ks")))
      // pinned BEFORE vacuum (see scaladoc: vacuum deletes the very
      // directories the lazy diff plans read)
      val d12 = cdc(v1, v2, "cdc12")
      val d23 = cdc(v2, v3, "cdc23")
      val versionsBefore = st.history().size.toLong
      st.vacuum()
      val versionsAfter = st.history().size.toLong
      require(st.currentVersion.contains(v3), "vacuum changed the current version")

      val post = st.current().get
      val postAgg = post.agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("ks"))
      val cdcRows = d12.unionByName(d23)
        .select(explode(map(
          concat(col("m"), lit("_keys")), col("n"),
          concat(col("m"), lit("_keysum")), col("ks"))).as(Seq("metric", "value")))
      val vacRows = postAgg.select(explode(map(
        lit("post_vacuum_rows"), col("n"),
        lit("post_vacuum_keysum"), col("ks"),
        lit("versions_before_vacuum"), lit(versionsBefore),
        lit("versions_after_vacuum"), lit(versionsAfter))).as(Seq("metric", "value")))
      cdcRows.unionByName(vacRows).orderBy(col("metric"))
    },
    s"""WITH base AS (SELECT o_orderkey FROM orders
       |              WHERE o_orderkey % 3 <> 0 AND o_totalprice > 0),
       |batch AS (SELECT o_orderkey FROM orders
       |          WHERE o_orderkey % 2 = 0 AND o_totalprice > 0),
       |-- v1->v2: LWW updates are the keys present in both (the 1.1x
       |-- price always differs on positive prices); inserts are the
       |-- batch keys unseen by the first load
       |upd AS (SELECT o_orderkey FROM base INTERSECT SELECT o_orderkey FROM batch),
       |ins AS (SELECT o_orderkey FROM batch EXCEPT SELECT o_orderkey FROM base),
       |s2 AS (SELECT o_orderkey FROM base UNION SELECT o_orderkey FROM batch),
       |del AS (SELECT o_orderkey FROM s2 WHERE o_orderkey % 83 = 0),
       |s3 AS (SELECT o_orderkey FROM s2 WHERE o_orderkey % 83 <> 0)
       |SELECT metric, value FROM (
       |  SELECT 'cdc12_update_keys' AS metric, cast(count(*) AS bigint) AS value FROM upd
       |  UNION ALL SELECT 'cdc12_update_keysum', ${graft.ext.OracleSql.bigSum("o_orderkey")} FROM upd
       |  UNION ALL SELECT 'cdc12_insert_keys', cast(count(*) AS bigint) FROM ins
       |  UNION ALL SELECT 'cdc12_insert_keysum', ${graft.ext.OracleSql.bigSum("o_orderkey")} FROM ins
       |  UNION ALL SELECT 'cdc23_delete_keys', cast(count(*) AS bigint) FROM del
       |  UNION ALL SELECT 'cdc23_delete_keysum', ${graft.ext.OracleSql.bigSum("o_orderkey")} FROM del
       |  UNION ALL SELECT 'post_vacuum_rows', cast(count(*) AS bigint) FROM s3
       |  UNION ALL SELECT 'post_vacuum_keysum', ${graft.ext.OracleSql.bigSum("o_orderkey")} FROM s3
       |  UNION ALL SELECT 'versions_before_vacuum', cast(3 AS bigint)
       |  UNION ALL SELECT 'versions_after_vacuum', cast(1 AS bigint)
       |) ORDER BY metric""".stripMargin)

  val all: Map[String, QuerySpec] = Map(
    "q156_compaction_cert" -> q156CompactionCert,
    "q158_state_cdc_vacuum" -> q158StateCdcVacuum)
}
