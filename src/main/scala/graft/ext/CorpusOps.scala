package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.tables.Tables

/** Corpus-curation operators — the bookkeeping half of a training-data
  * pipeline (the filtering/dedup half lives in [[TextOps]]): deterministic
  * train/val/test splits, language-mixture resampling, context-window
  * chunking, and vocabulary/OOV coverage.
  *
  * Design rules shared with the rest of `ext`:
  *  - Randomness is [[PortableHash]] md5 bucketing, never `rand()` — the
  *    assignment of a document is a pure function of its id, so it is
  *    identical across runs, partitionings, cluster sizes, and engines
  *    (the DuckDB oracle computes the same buckets). At 100 TB this is
  *    what makes a split reproducible and incrementally extendable: a
  *    new batch of documents lands in the same splits without reshuffling
  *    history.
  *  - Every query is projection + map-side-combinable aggregation (or a
  *    bounded explode); no windows over raw data, no joins except
  *    broadcast of provably-bounded sets.
  */
object CorpusOps {

  private val Buckets = 4096

  /** Salted portable bucket in [0, 4096) over the document id. Distinct
    * salts give independent hash streams (split vs mixture), so the two
    * decisions are uncorrelated.
    */
  private def bucket(salt: String): Column =
    PortableHash.bucketCol(concat(lit(s"$salt:"), col("doc_id").cast("string")), 3)

  private def bucketSql(salt: String): String =
    PortableHash.bucketSql(s"'$salt:' || cast(doc_id AS varchar)", 3)

  /** q79: deterministic 80/10/10 train/val/test assignment, reported as a
    * per-(source, split) composition table. The split is a pure function
    * of doc_id (salted md5 bucket), so the whole query is one scan + one
    * map-side-combined aggregate — zero joins, one shuffle carrying at
    * most |sources| x 3 groups.
    */
  val q79SplitAssign: QuerySpec = QuerySpec(
    (s, dir) => {
      val b = bucket("split")
      Tables.documents(s, dir)
        .withColumn("split",
          when(b < (Buckets * 8) / 10, "train")
            .when(b < (Buckets * 9) / 10, "val")
            .otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .orderBy(col("source"), col("split"))
    },
    s"""WITH b AS (SELECT source, n_chars, ${bucketSql("split")} AS bkt FROM documents)
       |SELECT source,
       |       CASE WHEN bkt < ${(Buckets * 8) / 10} THEN 'train'
       |            WHEN bkt < ${(Buckets * 9) / 10} THEN 'val'
       |            ELSE 'test' END AS split,
       |       count(*) AS n_docs, ${OracleSql.bigSum("n_chars")} AS n_chars
       |FROM b GROUP BY 1, 2 ORDER BY source, split""".stripMargin)

  /** Per-language keep rates (numerator over 4096): downsample the
    * dominant languages toward a target mixture. Unlisted languages keep
    * everything.
    */
  private val MixRates: Seq[(String, Int)] =
    Seq("en" -> 2048, "es" -> 3072, "zh" -> 3072)

  /** q80: language-mixture resampling — keep each document with a
    * lang-dependent probability, decided by a salted portable hash of the
    * id (NOT `rand()`: the subsample is reproducible and stable under
    * re-partitioning, and a re-run over 100 TB selects the identical
    * corpus). Reports per-language totals vs kept counts in ONE scan —
    * the keep decision is a conditional aggregate, not a filter + second
    * pass.
    */
  val q80MixtureResample: QuerySpec = QuerySpec(
    (s, dir) => {
      val rate = MixRates.foldLeft(lit(Buckets)) { case (acc, (l, r)) =>
        when(col("lang") === l, r).otherwise(acc)
      }
      val kept = (bucket("mix") < rate).cast("long")
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(kept).as("n_kept"),
          sum(col("n_chars") * kept).as("chars_kept"))
        .orderBy(col("lang"))
    },
    s"""WITH b AS (SELECT lang, n_chars,
       |  CASE WHEN ${bucketSql("mix")} <
       |    CASE ${MixRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")} ELSE $Buckets END
       |  THEN 1 ELSE 0 END AS kept
       |  FROM documents)
       |SELECT lang, count(*) AS n_total, ${OracleSql.bigSum("kept")} AS n_kept,
       |       ${OracleSql.bigSum("n_chars * kept")} AS chars_kept
       |FROM b GROUP BY lang ORDER BY lang""".stripMargin)

  private val ChunkLen = 40
  private val ChunkStride = 30

  /** q81: context-window chunking — split each document's token stream
    * into windows of [[ChunkLen]] tokens every [[ChunkStride]] (10-token
    * overlap), the standard pre-tokenization step that packs long
    * documents into model context windows. Emits (doc, chunk) coordinates
    * rather than materializing chunk text, so the shuffled rows stay
    * narrow; the explode fan-out is len/stride per document — bounded by
    * document length, never by corpus size. Chunking is per-row work with
    * NO shuffle at all (the final ORDER BY is presentation only).
    */
  val q81Chunking: QuerySpec = QuerySpec(
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("n"))
        .select(col("doc_id"), col("n"),
          explode(sequence(lit(0), col("n") - 1, lit(ChunkStride))).as("start_tok"))
        .select(col("doc_id"),
          (col("start_tok") / ChunkStride).cast("long").as("chunk_idx"),
          col("start_tok").cast("long").as("start_tok"),
          least(lit(ChunkLen), col("n") - col("start_tok")).cast("long").as("chunk_toks"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    s"""WITH t AS (SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n FROM documents),
       |c AS (SELECT doc_id, n, unnest(range(0, n, $ChunkStride)) AS start_tok FROM t)
       |SELECT doc_id, start_tok // $ChunkStride AS chunk_idx, start_tok,
       |       least($ChunkLen, n - start_tok) AS chunk_toks
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)

  private val VocabSize = 16

  /** q82: vocabulary coverage / out-of-vocabulary rate — build the top-K
    * corpus vocabulary by token frequency (ties broken by token text, so
    * the set is deterministic), then score every document's OOV fraction
    * against it. The vocabulary is a K-bounded TakeOrdered (map-side
    * partial top-K per partition, single bounded merge — NOT a full-data
    * sort), and it comes back as a broadcast hash join: the corpus-side
    * token stream is never shuffled, so the whole query moves one
    * (doc_id)-keyed aggregate plus the K vocabulary rows. (K=16 here —
    * sized to the synthetic corpus's 31-token vocabulary so OOV rates are
    * non-degenerate; a production run would use the tokenizer's real
    * vocabulary size.)
    */
  val q82OovRate: QuerySpec = QuerySpec(
    (s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w"))
        .limit(VocabSize)
        .select(col("w"), lit(1L).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          (count(lit(1)) - sum(coalesce(col("in_vocab"), lit(0L)))).as("n_oov"))
        .select(col("doc_id"), col("n_toks"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_toks").cast("double")).as("oov_frac"))
        .orderBy(col("doc_id"))
    },
    s"""WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents),
       |cnt AS (SELECT w, count(*) AS c FROM t GROUP BY w),
       |vocab AS (SELECT w FROM cnt ORDER BY c DESC, w LIMIT $VocabSize)
       |SELECT t.doc_id, count(*) AS n_toks,
       |       count(*) - count(vocab.w) AS n_oov,
       |       cast(count(*) - count(vocab.w) AS double) / cast(count(*) AS double) AS oov_frac
       |FROM t LEFT JOIN vocab ON t.w = vocab.w
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)

  /** q92: multi-format interchange — the corpus round-trips through ORC
    * (the columnar alternative when a downstream stack can't take
    * parquet) and JSON-lines (the lingua franca of every LLM data-prep
    * toolchain), then both copies re-join on doc_id and every field is
    * checked for survival. The judged aggregate counts per-source rows
    * and field-equality across the three copies, so any format-level
    * type mangling (string encoding, bigint precision) shows up as a
    * mismatch count, not a silent pass. The oracle computes from
    * parquet alone — equality with it IS the losslessness claim.
    * Both sinks/scans are distributed (one file per partition, no
    * driver funnel); staging follows the q74 keying (sf leaf + pid +
    * per-invocation token) so concurrent sessions never cross-read and
    * concurrent in-process executions write disjoint stores.
    */
  val q92FormatRoundtrip: QuerySpec = QuerySpec(
    (s, dir) => {
      val stage = graft.core.Staging.invocationDir("graft_q92_formats", dir)
      val docs = Tables.documents(s, dir)
      docs.write.mode("overwrite").orc(s"$stage/orc")
      docs.write.mode("overwrite").json(s"$stage/jsonl")
      val orc = s.read.orc(s"$stage/orc")
        .select(col("doc_id"), col("source").as("source_orc"),
          col("text").as("text_orc"), col("lang").as("lang_orc"),
          col("n_chars").as("n_chars_orc"))
      // JSON infers lang/source/text as string and the ints as bigint;
      // declare the schema instead so the scan is strict (a malformed
      // row would surface as nulls → a mismatch, not a schema drift)
      val json = s.read.schema(docs.schema).json(s"$stage/jsonl")
        .select(col("doc_id"), col("source").as("source_json"),
          col("text").as("text_json"), col("lang").as("lang_json"),
          col("n_chars").as("n_chars_json"))
      docs.join(orc, Seq("doc_id")).join(json, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("text") === col("text_orc") && col("text") === col("text_json")
            && col("source") === col("source_orc") && col("source") === col("source_json")
            && col("lang") === col("lang_orc") && col("lang") === col("lang_json")
            && col("n_chars") === col("n_chars_orc") && col("n_chars") === col("n_chars_json"), 1L)
            .otherwise(0L)).as("n_intact"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("source"))
    },
    """SELECT source, count(*) AS n_docs, cast(count(*) AS bigint) AS n_intact,
      |       cast(sum(n_chars) AS bigint) AS total_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin)

  /** q94: exact-quota deterministic sampling — exactly min(25, |source|)
    * documents per source, the eval-set carving gate (q53's Bernoulli
    * gate gives a RATE, not a count; a 25-doc-per-source eval suite
    * needs the count). Selection is by hash PRIORITY: the 25 smallest
    * salted md5 buckets win, doc_id breaking ties — a pure function of
    * the ids, so the sample is reproducible across runs, partitionings,
    * cluster sizes and engines, and a grown corpus only swaps members
    * whose priority beats an incumbent's. One source-partitioned window
    * (skew bounded by each source's own rows — same shape as q85) over
    * a column the scan computes; no joins, no global ordering.
    */
  val q94QuotaSample: QuerySpec = QuerySpec(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("priority"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), bucket("quota").as("priority"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 25)
        .select(col("source"), col("doc_id"), col("priority"))
        .orderBy(col("source"), col("priority"), col("doc_id"))
    },
    s"""WITH p AS (SELECT source, doc_id,
       |             cast(${bucketSql("quota")} AS integer) AS priority
       |           FROM documents),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY priority, doc_id) AS rn
       |      FROM p)
       |SELECT source, doc_id, priority FROM r WHERE rn <= 25
       |ORDER BY source, priority, doc_id""".stripMargin)

  val all: Map[String, QuerySpec] = Map(
    "q94_quota_sample" -> q94QuotaSample,
    "q79_split_assign" -> q79SplitAssign,
    "q80_mixture_resample" -> q80MixtureResample,
    "q81_chunking" -> q81Chunking,
    "q82_oov_rate" -> q82OovRate,
    "q92_format_roundtrip" -> q92FormatRoundtrip)
}
