package graft.state

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Fs

/** Parquet-backed keyed state table with committed immutable versions
  * and the reference's upsert semantics (SURVEY.md §2.4, `flows/data_ingestion
  * .py:99–216`).
  *
  * Layout: `root/v-<seq>-<id>/` immutable parquet versions plus an
  * append-only commit log `root/_log/<seq>`, one entry per committed
  * version — the offset/commit log of Structured Streaming (SIGMOD
  * 2018) and Spark's `HDFSMetadataLog`. `<seq>` is 16 hex digits, so
  * name order is commit order; `<id>` is random, so no version path is
  * ever reused. A version exists once its log entry does: [[history]]
  * and [[currentVersion]] read only the log, so a directory left by a
  * crashed write or an interrupted vacuum is never visible (the
  * reference's per-batch transaction + rollback, R3, without an
  * external store; on a cluster, Delta/Iceberg ACID commits play the
  * same role).
  *
  * The entry is the version's only metadata, committed with it by one
  * link: its name; for a version written by [[upsert]] or [[compact]],
  * its change record — the version the write read (`from`) and what
  * changed against it, the rows with `_seq` above a floor or no row at
  * all (a compaction); and, for a consumer's version, the source
  * versions it reflects ([[offsets]]), as Structured Streaming keeps a
  * batch's source offsets in the entry that commits it.
  * [[changedKeys]] reads the change record so a consumer's change feed
  * for `(from, to)` is one filtered scan of `to` instead of [[diff]]
  * over both versions.
  *
  * Upsert semantics (duplicate-key behavior replicated exactly):
  *  - first load: *append all rows* — within-batch duplicate keys are NOT
  *    collapsed (`flows/data_ingestion.py:116,146` check only DB-existing
  *    keys);
  *  - re-run: for each key already present, the *latest* state row for
  *    that key (max `_seq`) is overwritten with the *last* batch row for
  *    that key in file order (dict overwrite at `flows/data_ingestion
  *    .py:50–65` + sequential per-row UPDATE at `:197–206` ⇒
  *    last-write-wins); earlier duplicate state rows stay untouched;
  *  - batch rows with unseen keys are appended as-is (duplicates
  *    included).
  *
  * Everything is join/window algebra — no driver-side row loops — so the
  * same code runs on a 1000-executor cluster; the only driver action is a
  * scalar max(_seq) lookup.
  */
final class StateTable(
    spark: SparkSession,
    val root: String,
    keyCols: Seq[String],
    /** Optional hive-style partition columns for every version write —
      * e.g. year/month derivatives — so time-ranged reads prune
      * partitions at the scan (SURVEY.md §4 partitioning strategy).
      */
    partitionCols: Seq[String] = Nil) {
  import StateTable._

  private val rootPath = Paths.get(root)
  private val logDir = rootPath.resolve("_log")

  /** Commit-log entries, oldest first (`.`-prefixed names are entries
    * still being written).
    */
  private def entries(): Seq[Path] =
    if (!Files.isDirectory(logDir)) Nil
    else Fs.listDir(logDir).filterNot(_.getFileName.toString.startsWith("."))
      .sortBy(_.getFileName.toString)

  /** Decodes log entry `e` ([[StateTable.Entry]]'s layout). */
  private def readEntry(e: Path): Entry = {
    val text = Files.readString(e)
    def malformed = new IllegalStateException(
      s"$root: malformed commit-log entry ${e.getFileName}: ${text.take(200)}")
    text.linesIterator.toList match {
      case version :: rest if version.startsWith("v-") =>
        rest.map(_.split(' ').toList).foldLeft(Entry(version, None, Nil)) {
          case (en, List("changes", from, floor)) => en.copy(changes = Some(from ->
            Option.when(floor != "none")(floor.toLongOption.getOrElse(throw malformed))))
          case (en, "offsets" :: vs) => en.copy(offsets = vs)
          case _ => throw malformed
        }
      case _ => throw malformed
    }
  }

  /** Committed versions, oldest first. */
  def history(): Seq[String] = entries().map(readEntry(_).version)

  /** The newest committed version, or None before the first write. */
  def currentVersion: Option[String] = entries().lastOption.map(readEntry(_).version)

  /** The log entry of committed `version`, found by the `<seq>` in its
    * name.
    */
  private def entry(version: String): Entry =
    Some(logDir.resolve(version.slice(2, 18))).filter(Files.isRegularFile(_))
      .map(readEntry).filter(_.version == version)
      .getOrElse(throw new IllegalStateException(s"$root: version $version is not committed"))

  /** The source versions committed `version` reflects, as its writer
    * recorded them ([[overwrite]]`(df, offsets)`); empty when it
    * recorded none.
    */
  def offsets(version: String): Seq[String] = entry(version).offsets

  private def readDir(version: String): DataFrame =
    readVersionDir(spark, rootPath.resolve(version).toString)

  /** Current contents, or None before the first write. */
  def read(): Option[DataFrame] = currentVersion.map(readDir)

  /** Write `df` as a fresh immutable version, then commit it by linking
    * its log entry into place. The link fails if the entry exists, so a
    * second writer of the same sequence number fails here instead of
    * replacing a commit; its version directory stays uncommitted.
    */
  def overwrite(df: DataFrame): Unit = write(df, None, Nil)

  /** [[overwrite]], committing `offsets` — the versions of the sources
    * `df` was computed from — in the same entry.
    */
  def overwrite(df: DataFrame, offsets: Seq[String]): Unit = write(df, None, offsets)

  private def write(df: DataFrame, changes: Option[(String, Option[Long])],
      offsets: Seq[String]): Unit = {
    val next = entries().lastOption
      .fold(0L)(e => java.lang.Long.parseLong(e.getFileName.toString, 16) + 1L)
    val seq = f"$next%016x"
    val v = s"v-$seq-${UUID.randomUUID().toString.take(8)}"
    val writer = df.write.mode("overwrite")
    val versionDir = rootPath.resolve(v).toString
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(versionDir)
    // seed the process-wide schema cache at WRITE time: the writer
    // KNOWS the schema it just wrote, and the very next step (a fold's
    // readDir of the fresh version) otherwise pays a footer-inference
    // job for it — one small sequential job after every version write
    // (guide §6 small-read overhead). Unpartitioned dirs only: a
    // partitioned read re-derives partition columns from dir names and
    // reorders them last, so its inferred schema is not df.schema.
    if (partitionCols.isEmpty) versionSchemas.put(versionDir, df.schema): Unit
    Files.createDirectories(logDir)
    val tmp = logDir.resolve(s".$v")
    Files.writeString(tmp, Entry(v, changes, offsets).encode)
    try Files.createLink(logDir.resolve(seq), tmp)
    catch {
      case _: FileAlreadyExistsException => throw new IllegalStateException(
        s"$root: version $seq was already committed by another writer; $v is not committed")
    } finally Files.delete(tmp)
  }

  /** Delete a version directory with no log entry, and its schema-cache
    * entry.
    */
  private def dropDir(v: String): Unit = {
    val dir = rootPath.resolve(v)
    versionSchemas.remove(dir.toString)
    Fs.deleteRecursively(dir)
  }

  /** Drop every version but the current one, and any directory a
    * crashed write or vacuum left uncommitted. Log entries go first, so
    * an interrupted vacuum never leaves a committed, half-deleted
    * version.
    */
  def vacuum(): Unit = currentVersion.foreach { keep =>
    entries().init.foreach(Files.delete)
    Fs.listDir(rootPath).map(_.getFileName.toString)
      .filter(n => n.startsWith("v-") && n != keep)
      .foreach(dropDir)
  }

  /** Retention-bounded vacuum: drop committed versions STRICTLY OLDER
    * than `watermark` (name order is commit order), never the current
    * version. `watermark` is the minimum consumer resume point — e.g.
    * the oldest offset the maintained reports recorded (q168) — so retention
    * can run continuously next to maintenance without stranding a
    * resumable consumer: every version a resume could still fold from
    * survives, while history the consumers have all absorbed is
    * reclaimed. Log entries are deleted before directories, as in
    * [[vacuum]]. Returns the reclaimed version names so callers can
    * judge that retention actually bit (and how much).
    */
  def vacuumBefore(watermark: String): Seq[String] = {
    val reclaimed = entries().dropRight(1).map(e => e -> readEntry(e).version)
      .filter(_._2 < watermark)
    reclaimed.foreach(e => Files.delete(e._1))
    reclaimed.map { case (_, v) => dropDir(v); v }
  }

  /** Upsert a batch. `orderCol` names a column of `batch` that is
    * monotone in source order (it decides last-write-wins
    * deterministically, §7.5 risk 1) and is consumed here; when absent,
    * `monotonically_increasing_id()` is used — monotone in file order for
    * a single-source read.
    *
    * `_seq` marks what the write changed: an inserted row, and an
    * updated row whose values differ (null-safe) from the row it
    * overwrites, take their batch row's `_seq` shifted past the read
    * version's max `_seq`; a no-op update and every untouched row keep
    * theirs. The new version's change record names the read version and
    * that max as the floor, so the rows above it are exactly the new or
    * changed ones — and, as upserts never delete, their keys are exactly
    * `diff(read version, new version)`'s.
    */
  def upsert(batch: DataFrame, orderCol: Option[String] = None): Unit = {
    val b0 = orderCol match {
      case Some(c) => batch.withColumn(SeqCol, col(c).cast("long")).drop(c)
      case None => batch.withColumn(SeqCol, monotonically_increasing_id())
    }
    currentVersion match {
      case None =>
        overwrite(b0)
      case Some(from) =>
        val state = readDir(from)
        val valueCols = state.columns.filterNot(c => keyCols.contains(c) || c == SeqCol)
        // align the batch to the state schema: schema sync may have added
        // declared columns the source doesn't carry yet (evolve-then-
        // ingest) — they land as typed nulls
        val b = valueCols.filterNot(b0.columns.contains).foldLeft(b0) { (d, c) =>
          d.withColumn(c, lit(null).cast(state.schema(c).dataType))
        }
        val outCols = (keyCols ++ valueCols :+ SeqCol).map(col)
        // ONE scalar read serves the empty-state test, the _seq offset
        // of inserted and changed rows, and the change record's floor
        // (coalesce: state may exist but be empty — schema-sync
        // CreateTable)
        val agg = state.agg(coalesce(max(col(SeqCol)), lit(0L)), count(lit(1L))).head()
        val maxSeq = agg.getLong(0)
        if (agg.getLong(1) == 0L) {
          // First load into a synced-but-empty store (§2.4: append ALL
          // rows, within-batch duplicate keys kept): the general path
          // below would window, join and anti-join against zero state
          // rows — two shuffles of pure overhead on exactly the largest
          // batch a store ever sees (the initial corpus). Same rows,
          // same column order, same +1 _seq shift as the general path's
          // insert arm produces over empty state.
          write(b
            .withColumn(SeqCol, col(SeqCol) + lit(maxSeq) + lit(1L))
            .select(outCols: _*), Some(from -> Some(maxSeq)), Nil)
        } else {
          // Pin the batch before the key algebra: _seq defaults to
          // monotonically_increasing_id(), a NONDETERMINISTIC
          // expression, so the update and insert arms below — though
          // they share one logical frame — can never share a physical
          // exchange (non-same-result subtrees), so the batch source
          // would be scanned AND shuffled once per arm. Pinning materializes
          // the batch (and its _seq) exactly once; both arms then reuse
          // one deterministic exchange, and _seq stops depending on two
          // scans happening to enumerate files identically. The pinned
          // frame is the ingest batch — change-volume-, not store-sized.
          val bP = graft.core.Checkpoints.pin(b)
          // last batch row per key (the surviving update value); the
          // SAME windowed frame feeds the insert arm below, so the batch
          // is scanned and shuffled by key ONCE (ReusedExchange), not
          // once per arm
          val wB = Window.partitionBy(keyCols.map(col): _*).orderBy(col(SeqCol).desc)
          val bW = bP.withColumn("_rn", row_number().over(wB))
          val lastPerKey = bW.filter(col("_rn") === 1)
            .select(keyCols.map(col) ++ valueCols.map(c => col(c).as(s"_u_$c")) :+
              col(SeqCol).as("_u_seq") :+ lit(true).as("_matched"): _*)
          // the state row that absorbs the update: max _seq per key; the
          // _srn === 1 frame doubles as the DISTINCT state-key set for
          // the insert arm's anti join — one shuffle of the state,
          // reused, instead of a window pass plus a separate distinct
          val wS = Window.partitionBy(keyCols.map(col): _*).orderBy(col(SeqCol).desc)
          val target = state.withColumn("_srn", row_number().over(wS))
          val hit = col("_srn") === 1 && col("_matched")
          val changed = valueCols.map(c => !(col(c) <=> col(s"_u_$c")))
            .reduceOption(_ || _).getOrElse(lit(false))
          val updated = target.join(lastPerKey, keyCols, "left")
            .select(keyCols.map(col) ++ valueCols.map { c =>
              when(hit, col(s"_u_$c")).otherwise(col(c)).as(c)
            } :+ when(hit && changed, col("_u_seq") + lit(maxSeq) + lit(1L))
              .otherwise(col(SeqCol)).as(SeqCol): _*)
          // unseen keys: append every batch row (within-batch dups kept)
          val stateKeys = target.filter(col("_srn") === 1).select(keyCols.map(col): _*)
          val inserts = bW.join(stateKeys, keyCols, "left_anti")
            .withColumn(SeqCol, col(SeqCol) + lit(maxSeq) + lit(1L))
            .select(outCols: _*)
          write(updated.unionByName(inserts), Some(from -> Some(maxSeq)), Nil)
        }
    }
  }

  /** Compact the current version into one file per partition
    * directory (the small-files problem: every upsert writes a full new
    * version, and long-lived tables accrete many small parquet files
    * whose per-file open/footer cost dominates scans at scale). Contents
    * are byte-identical rows — only the file layout changes; readers see
    * the compacted version once it commits. Each partition directory's
    * rows go through one task; an unpartitioned table goes through one
    * task in all. Its change record says no row changed.
    */
  def compact(): Unit =
    currentVersion.foreach { from =>
      val df = readDir(from)
      write(
        if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*)
        else df.repartition(1),
        Some(from -> None), Nil)
    }

  /** Reader view without internal bookkeeping columns. */
  def current(): Option[DataFrame] = read().map(_.drop(SeqCol))

  /** Time travel: read a specific retained version (versions are
    * immutable until [[vacuum]]).
    */
  def readVersion(version: String): DataFrame =
    readDir(version).drop(SeqCol)

  /** Change-data-capture between two retained versions: one row per
    * changed KEY with `_change ∈ {insert, update, delete}` and the
    * after-image columns (before-image for deletes). Key-level — a key
    * whose latest row's values are byte-equal in both versions emits
    * nothing. Versioned immutable state makes CDC a pure join: no change
    * log, no triggers; both versions are scanned and aggregated to their
    * latest row per key (two aggregation exchanges), then full-outer
    * joined on the key (one more exchange). A consumer that needs only
    * the changed keys reads [[changedKeys]].
    */
  def diff(fromVersion: String, toVersion: String): DataFrame = {
    def latestPerKey(v: String): DataFrame = {
      val raw = readDir(v)
      // versions written via bare overwrite() (sketches, compacted
      // snapshots) carry no _seq — their rows are already key-level
      if (!raw.columns.contains(SeqCol)) raw
      else {
        // hash aggregate (max_by on the unique-per-row _seq), not a
        // row_number window: the window sorts the ENTIRE version by
        // (key, _seq) before keeping one row per key, while max_by
        // folds to key grain in a partial-aggregate pass before the
        // exchange — no sort, and map-side reduction shuffles key-grain
        // rows instead of every row (guide §2.3). Deterministic: _seq
        // is unique per row within a version (a batch row's, shifted
        // past every existing row's, for an inserted or changed row;
        // kept otherwise), so max_by has no ties.
        val vals = raw.columns.filterNot(c => keyCols.contains(c) || c == SeqCol)
        if (vals.isEmpty) raw.select(keyCols.map(col): _*).distinct()
        else raw.groupBy(keyCols.map(col): _*)
          .agg(max_by(struct(vals.map(col).toIndexedSeq: _*), col(SeqCol)).as("_latest"))
          .select(keyCols.map(col) ++ vals.map(c => col(s"_latest.$c").as(c)): _*)
      }
    }
    // align schemas across an evolution boundary: a column present in
    // only one version appears as typed nulls on the other side, so an
    // added/dropped column surfaces as updates instead of crashing
    // (forward) or silently vanishing from the CDC stream (reverse)
    val before0 = latestPerKey(fromVersion)
    val after0 = latestPerKey(toVersion)
    def aligned(df: DataFrame, other: DataFrame): DataFrame =
      other.schema.fields.filterNot(f => df.columns.contains(f.name))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val before = aligned(before0, after0)
    val after = aligned(after0, before0)
    val valueCols = after.columns.filterNot(keyCols.contains).toSeq
    val b = before.select(keyCols.map(col) ++ valueCols.map(c => col(c).as(s"_b_$c")) :+ lit(true).as("_in_b"): _*)
    val a = after.select(keyCols.map(col) ++ valueCols.map(col) :+ lit(true).as("_in_a"): _*)
    val j = a.join(b, keyCols.toSeq, "full_outer")
    val changed = valueCols
      .map(c => !(col(c) <=> col(s"_b_$c"))) // null-safe per-column compare
      .reduceOption(_ || _).getOrElse(lit(false))
    j.withColumn("_change",
        when(col("_in_b").isNull, lit("insert"))
          .when(col("_in_a").isNull, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("_change").isNotNull)
      .select(keyCols.map(col) ++ valueCols.map { c =>
        // after-image; before-image for deletes. NOT coalesce — an
        // update TO null must surface as null, not the old value.
        when(col("_in_a").isNotNull, col(c)).otherwise(col(s"_b_$c")).as(c)
      } :+ col("_change"): _*)
  }

  /** The keys [[diff]]`(fromVersion, toVersion)` reports, as a frame of
    * the key columns (a key may repeat: within-batch duplicates of an
    * unseen key are all new rows). When `toVersion`'s change record
    * names `fromVersion`, the answer comes from `toVersion` alone: its
    * rows with `_seq` above the recorded floor — one filtered scan, no
    * exchange — or, for a compaction, an empty local frame, which the
    * optimizer propagates so plans pruned by it read no version. Any
    * other pair — a raw [[overwrite]], a schema-sync version, versions
    * further apart, a version written without a record — falls back to
    * [[diff]].
    */
  def changedKeys(fromVersion: String, toVersion: String): DataFrame =
    entry(toVersion).changes.filter(_._1 == fromVersion) match {
      case Some((_, Some(floor))) =>
        readDir(toVersion).filter(col(SeqCol) > floor).select(keyCols.map(col): _*)
      case Some((_, None)) =>
        val schema = readDir(toVersion).schema
        spark.createDataFrame(java.util.Collections.emptyList[Row](),
          StructType(keyCols.map(schema(_))))
      case None =>
        diff(fromVersion, toVersion).select(keyCols.map(col): _*)
    }
}

object StateTable {
  /** Internal monotone sequence column (persisted). */
  val SeqCol = "_seq"

  /** A commit-log entry: the version's name line, then, each only when
    * present, its change record as `changes <from> <floor|none>` — the
    * version was computed from version `from`, and its rows with
    * `_seq > floor` are exactly the new or changed ones (`none`: no row
    * changed) — and its offsets as `offsets <version>...`.
    */
  private final case class Entry(version: String,
      changes: Option[(String, Option[Long])], offsets: Seq[String]) {
    def encode: String =
      (Seq(version) ++
        changes.map { case (from, floor) => s"changes $from ${floor.fold("none")(_.toString)}" } ++
        Option.when(offsets.nonEmpty)(offsets.mkString("offsets ", " ", ""))).map(_ + "\n").mkString
  }

  /** Process-wide per-version-dir schema cache. Version dirs are
    * immutable once committed and their paths are never reused
    * (sequence number + random id under a caller-owned root), so a
    * version's parquet schema can never change once read. A bare
    * `spark.read.parquet` fires a footer/schema-inference job at CALL
    * time; the maintenance paths read the same version several times
    * per fold (CDC, fold base, certificate legs) and the
    * restart-realism flows do it through FRESH handles per phase — so
    * the cache is keyed by absolute path at the companion, not per
    * handle. Metadata only: row data is re-read from parquet on every
    * action, and resume state (offsets, report rows) always comes off
    * the commit log and the durable rows. Seeded by
    * [[StateTable.overwrite]] (the writer knows the schema it wrote);
    * vacuum evicts the versions it reclaims.
    */
  private[state] val versionSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def readVersionDir(spark: SparkSession, path: String): DataFrame =
    versionSchemas.get(path) match {
      case null =>
        val df = spark.read.parquet(path)
        versionSchemas.put(path, df.schema): Unit
        df
      case s => spark.read.schema(s).parquet(path)
    }
}
