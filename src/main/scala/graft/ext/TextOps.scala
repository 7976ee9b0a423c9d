package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.tables.Tables

/** Training-data text operators over the `documents` table: exact and
  * near deduplication (MinHash, SimHash, n-gram Jaccard), language-ID
  * heuristics, quality scoring, token statistics, fingerprinting.
  *
  * Scale design:
  *  - Everything is expression-only (whole-stage codegen; no UDFs, no
  *    driver-side collects).
  *  - Near-dup candidate generation is *blocked* — MinHash band buckets
  *    (q18) or a source block (q20) — never an unblocked O(n²) cross
  *    join; the pair space at 100 TB comes from bucket-local joins whose
  *    size is controlled by band width / block key cardinality.
  *  - Hashes are md5-based so signatures are engine-portable (the DuckDB
  *    oracle computes the identical signature), deterministic across
  *    runs, partitionings and cluster sizes.
  */
object TextOps {

  /** Tokenize: whitespace-split of trimmed text. */
  private def toks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("lang"),
      split(trim(col("text")), "\\s+").as("w"))

  /** Word-trigram array expression over the token array `w` — ONE
    * definition shared by the exploded relation ([[shingles]]) and the
    * expression-kernel signature ([[minhashSig]]) so the shingle scheme
    * cannot drift between the two paths.
    */
  private val TrigramExpr =
    "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"

  /** Word 3-shingles as an exploded (doc_id, source, sh) relation. */
  private def shingles(docs: DataFrame): DataFrame =
    toks(docs).filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("source"), explode(expr(TrigramExpr)).as("sh"))

  private val shSql =
    """WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |shx AS (SELECT doc_id, source,
      |          unnest(list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |        FROM t WHERE len(w) >= 3)""".stripMargin

  private val NumHashes = 8
  private val SimBits = 32

  /** Whitespace-normalized lowercase text — the shared fingerprint
    * normalization (q16, q31, q39, q59).
    */
  private[graft] def normCol: Column = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
  private[graft] val normSql = """regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"""

  /** The q15 linear quality score (length/punct/stopword components, no
    * transcendentals) — shared by q15 and the e2e pipeline gate (q59).
    */
  private def qualityCol: Column = {
    val nchars = length(col("text")).cast("double")
    val ntok = size(split(trim(col("text")), "\\s+")).cast("double")
    val punct = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", "")).cast("double")
    val stop = size(regexp_extract_all(lower(col("text")), lit("\\b(the|a|of|and|in)\\b"), lit(0))).cast("double")
    least(ntok / lit(100.0), lit(1.0)) * lit(0.3) +
      (lit(1.0) - punct / nchars) * lit(0.2) + (stop / ntok) * lit(0.5)
  }
  private val qualitySql: String =
    """least(cast(len(string_split_regex(trim(text), '\s+')) AS double) / cast(100.0 AS double), cast(1.0 AS double)) * cast(0.3 AS double)
      |    + (cast(1.0 AS double) - cast(len(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS double) / cast(len(text) AS double)) * cast(0.2 AS double)
      |    + cast(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in)\b')) AS double)
      |      / cast(len(string_split_regex(trim(text), '\s+')) AS double) * cast(0.5 AS double)""".stripMargin

  /** MinHash signature frame (doc_id, mh0..mh7): one row per doc; shared
    * by q17 (signatures), q18 (LSH pairs) and the clustering queries so
    * the scheme cannot drift between them.
    *
    * Computed by the codegen [[graft.functions.MinHashSigs]] expression:
    * the per-seed minima fold per ROW over the shingle array, so the
    * signature costs ZERO shuffles (the agg form explodes to the
    * (docs × shingles) relation and shuffles it into a groupBy).
    * [[minhashSigAgg]] keeps the aggregation form for the equality spec.
    */
  private def minhashSig(docs: DataFrame): DataFrame = {
    graft.functions.MinHashSigs.register(docs.sparkSession)
    toks(docs).filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        expr(s"minhash_sigs($TrigramExpr, $NumHashes)").as("_sig"))
      .select(col("doc_id") +: (0 until NumHashes).map(i => col("_sig")(i).as(s"mh$i")): _*)
  }

  /** Test hook for the expression-based signature path. */
  private[graft] def minhashSigForTest(docs: DataFrame): DataFrame = minhashSig(docs)

  /** The original aggregation form of [[minhashSig]] (explode → seeded
    * md5 minima groupBy) — identical output by construction; retained
    * as the differential check for the expression kernel.
    */
  private[graft] def minhashSigAgg(docs: DataFrame): DataFrame = {
    val aggs = (0 until NumHashes).map(i =>
      min(md5(concat_ws("|", lit(i.toString), col("sh")))).as(s"mh$i"))
    shingles(docs).groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Oracle twin of [[minhashSig]] as a CTE (appends to [[shSql]]). */
  private val minhashSigSql: String =
    s""", sig AS (SELECT doc_id, ${(0 until NumHashes).map(i => s"min(md5('$i|' || sh)) AS mh$i").mkString(", ")}
       |          FROM shx GROUP BY doc_id)""".stripMargin

  /** SimHash signature frame (doc_id, simhash); shared by q19 and q36.
    * Computed per ROW by the codegen [[graft.functions.SimHashSig]]
    * kernel — zero shuffles (the agg form explodes tokens and shuffles
    * the (docs × tokens) relation into 32 conditional sums).
    */
  private def simhashSig(docs: DataFrame): DataFrame = {
    graft.functions.SimHashSig.register(docs.sparkSession)
    // NULL-text docs carry no tokens: the agg form's explode drops them
    // (no output row), so this path must filter, not emit a NULL row
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        expr("simhash_sig(split(trim(text), '\\\\s+'))").as("simhash"))
  }

  /** The original aggregation form of [[simhashSig]] — identical output;
    * retained as the differential check for the expression kernel.
    */
  private[graft] def simhashSigAgg(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
    val sums = (0 until SimBits).map(j =>
      sum(when(substring(md5(col("tok")), j + 1, 1) >= "8", 1).otherwise(-1)).as(s"s$j"))
    val bitsum = (0 until SimBits)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), bitsum.cast("bigint").as("simhash"))
  }

  /** Test hook for the expression-based simhash path. */
  private[graft] def simhashSigForTest(docs: DataFrame): DataFrame = simhashSig(docs)

  /** Oracle twin of [[simhashSig]] (self-contained CTE chain). */
  private val simhashSigSql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
       |b AS (SELECT doc_id, ${(0 until SimBits).map(j =>
          s"sum(CASE WHEN substr(md5(tok), ${j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s$j").mkString(", ")}
       |      FROM tok GROUP BY doc_id),
       |sig AS (SELECT doc_id, cast(${(0 until SimBits).map(j =>
          s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")} AS bigint) AS simhash FROM b)""".stripMargin

  /** Exact dedup: content-hash grouping, canonical = min doc_id. */
  val q12DedupExact: QuerySpec = QuerySpec(
    (s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("canonical_doc_id"))
    },
    """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY canonical_doc_id""".stripMargin)

  /** Token statistics per document (token counting). */
  val q13TokenStats: QuerySpec = QuerySpec(
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens"),
          (length(regexp_replace(col("text"), "\\s", "")).cast("double")
            / size(split(trim(col("text")), "\\s+")).cast("double")).as("avg_token_len"))
        .orderBy(col("doc_id"))
    },
    // avg token length = non-whitespace chars / token count
    """SELECT doc_id, lang,
      |  cast(len(string_split_regex(trim(text), '\s+')) AS integer) AS n_tokens,
      |  cast(len(regexp_replace(text, '\s', '', 'g')) AS double)
      |    / cast(len(string_split_regex(trim(text), '\s+')) AS double) AS avg_token_len
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Language-ID heuristic: function-word hit ratio (n-gram heuristic on
    * the corpus vocabulary) + per-document guess.
    */
  val q14LangId: QuerySpec = QuerySpec(
    (s, dir) => {
      val hits = size(regexp_extract_all(lower(col("text")), lit("\\b(the|a|of|and|in)\\b"), lit(0)))
      val ntok = size(split(trim(col("text")), "\\s+"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          hits.cast("int").as("stop_hits"),
          (hits.cast("double") / ntok.cast("double")).as("stop_ratio"))
        .withColumn("lang_guess",
          when(col("stop_ratio") >= 0.15, lit("en")).otherwise(lit("other")))
        .orderBy(col("doc_id"))
    },
    """SELECT doc_id, lang,
      |  cast(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in)\b')) AS integer) AS stop_hits,
      |  cast(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in)\b')) AS double)
      |    / cast(len(string_split_regex(trim(text), '\s+')) AS double) AS stop_ratio,
      |  CASE WHEN cast(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in)\b')) AS double)
      |            / cast(len(string_split_regex(trim(text), '\s+')) AS double) >= cast(0.15 AS double)
      |       THEN 'en' ELSE 'other' END AS lang_guess
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Quality scoring: length/punctuation/stopword components combined
    * with plain linear arithmetic (no transcendentals — keeps the score
    * bit-identical across engines and hardware).
    */
  val q15QualityScore: QuerySpec = QuerySpec(
    (s, dir) => {
      val nchars = length(col("text")).cast("double")
      val ntok = size(split(trim(col("text")), "\\s+")).cast("double")
      val punct = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", "")).cast("double")
      val stop = size(regexp_extract_all(lower(col("text")), lit("\\b(the|a|of|and|in)\\b"), lit(0))).cast("double")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          (punct / nchars).as("punct_ratio"),
          (stop / ntok).as("stop_ratio"),
          qualityCol.as("quality_score"))
        .orderBy(col("doc_id"))
    },
    s"""SELECT doc_id,
       |  cast(len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS double) / cast(len(text) AS double) AS punct_ratio,
       |  cast(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|in)\\b')) AS double)
       |    / cast(len(string_split_regex(trim(text), '\\s+')) AS double) AS stop_ratio,
       |  $qualitySql AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin)

  /** The five q113 quality gates as CUMULATIVE predicates g1..g5 (each
    * gate sees only the prior gate's survivors). ONE definition shared
    * by q113 (the per-gate funnel accounting) and q134 (the data card,
    * which keeps only full-cascade survivors — `.last`) so the gate set
    * cannot drift between them; [[gateSignalsSql]]/[[gateAllSql]] are
    * the oracle twins.
    */
  private def qualityGates: Seq[Column] = {
    val nc = coalesce(length(col("text")), lit(0))
    val toks = size(split(trim(col("text")), "\\s+"))
    val dtoks = size(array_distinct(split(trim(col("text")), "\\s+")))
    val stop = size(regexp_extract_all(lower(col("text")),
      lit("\\b(the|a|of|and|in)\\b"), lit(0)))
    val punct = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
    val g1 = nc >= 100
    val g2 = g1 && toks >= 20
    val g3 = g2 && stop * 25 >= toks
    val g4 = g3 && dtoks * 2 >= toks
    val g5 = g4 && punct * 5 <= nc
    Seq(g1, g2, g3, g4, g5)
  }

  /** Oracle twin of [[qualityGates]]'s signal set (projection body over
    * `documents`) and its full-cascade conjunction.
    */
  private val gateSignalsSql: String =
    """coalesce(len(text), 0) AS nc,
      |  len(string_split_regex(trim(text), '\s+')) AS toks,
      |  len(list_distinct(string_split_regex(trim(text), '\s+'))) AS dtoks,
      |  len(regexp_extract_all(lower(text), '\b(the|a|of|and|in)\b', 0)) AS stop,
      |  len(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS punct""".stripMargin
  private val gateAllSql: String =
    "nc >= 100 AND toks >= 20 AND stop * 25 >= toks AND dtoks * 2 >= toks AND punct * 5 <= nc"

  /** q113: quality-filter CASCADE funnel — how a real curation pipeline
    * applies quality gates: ordered, each stage seeing only the prior
    * stage's survivors, with per-stage survival counts (the funnel
    * report that tells an operator WHICH gate is eating the corpus
    * before a 100 TB run). Five Gopher/C4-style gates over the q15
    * signal set: min length (≥100 chars), min tokens (≥20), stopword
    * floor (hits·25 ≥ tokens, i.e. ≥4% — prose has stopwords; token
    * soup from OCR/boilerplate doesn't), type-token ratio (distinct·2 ≥
    * tokens — the repetition gate), punctuation ceiling (punct·5 ≤
    * chars — a no-op on this punctuation-free corpus, kept to show a
    * gate that passes clean data through). All thresholds are
    * cross-multiplied integers — no float ratio ever compared.
    *
    * Scale: one scan, all five signals computed in a single projection
    * (codegen'd regex/array expressions), map-side partial aggregation,
    * a 20-row source rollup — the funnel costs one pass no matter how
    * many gates.
    */
  val q113FilterFunnel: QuerySpec = QuerySpec(
    (s, dir) => {
      val Seq(g1, g2, g3, g4, g5) = qualityGates
      def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          cnt(g1).as("pass_len"), cnt(g2).as("pass_tok"), cnt(g3).as("pass_stop"),
          cnt(g4).as("pass_ttr"), cnt(g5).as("pass_punct"))
        .orderBy(col("source"))
    },
    s"""WITH t AS (SELECT source,
      |  $gateSignalsSql
      |FROM documents),
      |g AS (SELECT source,
      |  nc >= 100 AS g1,
      |  nc >= 100 AND toks >= 20 AS g2,
      |  nc >= 100 AND toks >= 20 AND stop * 25 >= toks AS g3,
      |  nc >= 100 AND toks >= 20 AND stop * 25 >= toks AND dtoks * 2 >= toks AS g4,
      |  nc >= 100 AND toks >= 20 AND stop * 25 >= toks AND dtoks * 2 >= toks
      |    AND punct * 5 <= nc AS g5
      |FROM t)
      |SELECT source, count(*) AS n_docs,
      |       cast(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS bigint) AS pass_len,
      |       cast(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS bigint) AS pass_tok,
      |       cast(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS bigint) AS pass_stop,
      |       cast(sum(CASE WHEN g4 THEN 1 ELSE 0 END) AS bigint) AS pass_ttr,
      |       cast(sum(CASE WHEN g5 THEN 1 ELSE 0 END) AS bigint) AS pass_punct
      |FROM g GROUP BY source ORDER BY source""".stripMargin)

  /** Document fingerprint: md5 of whitespace-normalized text (plus a
    * 64-bit prefix for compact storage/joins).
    */
  val q16Fingerprint: QuerySpec = QuerySpec(
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), md5(normCol).as("fingerprint"),
          substring(md5(normCol), 1, 16).as("fp64"))
        .orderBy(col("doc_id"))
    },
    s"""SELECT doc_id,
       |  md5($normSql) AS fingerprint,
       |  substr(md5($normSql), 1, 16) AS fp64
       |FROM documents ORDER BY doc_id""".stripMargin)

  /** MinHash signatures: k=8 independent permutations approximated by
    * seeded md5 over word 3-shingles; the per-seed minimum is taken
    * lexicographically (map-side combinable ⇒ one shuffle of 8 small
    * strings per doc regardless of doc length).
    */
  val q17MinHash: QuerySpec = QuerySpec(
    (s, dir) => minhashSig(Tables.documents(s, dir)).orderBy(col("doc_id")),
    shSql + minhashSigSql + "\nSELECT * FROM sig ORDER BY doc_id")

  /** (doc_id, band_id, bucket) band rows — one posexplode pass over the
    * signature frame (NOT a 4-way union, which would recompute the whole
    * signature aggregation once per band). Shared by [[lshPairs]] and
    * the streaming near-dup operator (q99), so the banding scheme cannot
    * drift between batch and streaming.
    */
  private[graft] def minhashBands(docs: DataFrame): DataFrame =
    minhashSig(docs).select(col("doc_id"), posexplode(array(
        (0 until NumHashes / 2).map(b =>
          concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))): _*)))
      .select(col("doc_id"), col("pos").as("band_id"), col("col").as("bucket"))

  /** MinHash LSH candidate pairs (doc_a < doc_b, distinct, unordered):
    * 4 bands × 2 rows; docs sharing any band bucket become candidates.
    * The join is per-(band, bucket) — bucket-local, never all-pairs.
    * Shared by q18 (the pair listing) and q46/q47 (dedup clustering) so
    * the candidate scheme cannot drift between them.
    */
  private[graft] def lshPairs(docs: DataFrame): DataFrame =
    lshPairsFrom(minhashBands(docs))

  /** Pair generation over an EXPLICIT band frame — lets a caller that
    * also consumes the band rows (q136's bucket accounting) pin the
    * frame once instead of re-running the signature aggregation per
    * consumer.
    */
  private[graft] def lshPairsFrom(bands: DataFrame): DataFrame = {
    val a = bands.select(col("doc_id").as("doc_a"), col("band_id"), col("bucket"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band_id").as("band_id_b"), col("bucket").as("bucket_b"))
    a.join(b, col("band_id") === col("band_id_b") && col("bucket") === col("bucket_b")
        && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Oracle twin of [[lshPairs]] as a `pairs` CTE (appends to
    * [[shSql]]+[[minhashSigSql]]).
    */
  private val lshPairsSql: String =
    s""", bands AS (${(0 until NumHashes / 2).map(b =>
          s"SELECT doc_id, $b AS band_id, mh${2 * b} || mh${2 * b + 1} AS bucket FROM sig").mkString("\n UNION ALL ")}),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM bands a JOIN bands b
       |            ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  /** The full shingle → signature → bands → candidate-pairs oracle
    * chain; q18 selects the pairs, q99's oracle derives its flagged set
    * (`DISTINCT doc_b`) from the same CTEs.
    */
  private[graft] val lshChainSql: String =
    shSql + minhashSigSql + "\n" + lshPairsSql

  val q18LshPairs: QuerySpec = QuerySpec(
    (s, dir) => lshPairs(Tables.documents(s, dir)).orderBy(col("doc_a"), col("doc_b")),
    lshChainSql + "\nSELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b")

  /** Per-document cluster labels (doc_id, cluster_id) from LSH candidate
    * pairs via [[graft.operators.ConnectedComponents]] min-label
    * propagation; cluster_id = min doc_id of the near-dup component.
    * Singleton documents are their own cluster.
    */
  private[graft] def dedupClusters(docs: DataFrame): DataFrame =
    graft.operators.ConnectedComponents.components(
        docs.select(col("doc_id").as("id")),
        lshPairs(docs).select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))

  /** Oracle twin of [[dedupClusters]]: transitive closure of the pair
    * graph as a recursive CTE (DuckDB dedups each step, so cycles
    * terminate); cluster_id = min reachable doc_id. Appends to the
    * recursive-enabled shSql+sig+pairs chain as a `clusters` CTE.
    */
  private val dedupClustersSql: String =
    """, edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
      |            UNION SELECT doc_b, doc_a FROM pairs),
      |reach AS (SELECT u, v FROM edges
      |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |clusters AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
      |             FROM documents d LEFT JOIN reach r ON d.doc_id = r.u
      |             GROUP BY d.doc_id)""".stripMargin

  private def recursive(sql: String): String =
    "WITH RECURSIVE " + sql.stripPrefix("WITH ")

  /** One oracle text for BOTH clustering engines (q46/q58) — edits
    * cannot desynchronize them.
    */
  private val dedupClustersOracle: String =
    recursive(shSql + minhashSigSql + "\n" + lshPairsSql + "\n" + dedupClustersSql) +
      "\nSELECT doc_id, cluster_id FROM clusters ORDER BY doc_id"

  /** Near-dup clustering: LSH pairs → connected components → one cluster
    * label per document (the end-to-end dedup *grouping*, not just the
    * pair listing).
    */
  val q46DedupClusters: QuerySpec = QuerySpec(
    (s, dir) => dedupClusters(Tables.documents(s, dir)).orderBy(col("doc_id")),
    dedupClustersOracle)

  /** Same clustering through the alternating large/small-star engine —
    * the deep-graph scale path, verified against the identical
    * transitive-closure oracle as q46.
    */
  val q58DedupClustersStar: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.ConnectedComponents.componentsAlternating(
          docs.select(col("doc_id").as("id")),
          lshPairs(docs).select(col("doc_a").as("a"), col("doc_b").as("b")))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .orderBy(col("doc_id"))
    },
    dedupClustersOracle)

  /** Core of q151, parameterized so [[graft.ext.TextOpsSpec]] can drive
    * the merge leg with an engineered graph (the judged corpus's shard
    * edges happen not to bridge two base components — the spec pins
    * that the contraction DOES merge when a bridge exists).
    * `ids` = (doc_id), `pairs` = (a, b), `thr` = 1-row (t).
    */
  private[graft] def incrementalCcStats(ids: DataFrame, pairs: DataFrame,
      thr: DataFrame): DataFrame = {
    val pT = pairs.crossJoin(broadcast(thr))
    val baseEdges = pT.filter(col("a") < col("t") && col("b") < col("t"))
      .select(col("a"), col("b"))
    val newEdges = pT.filter(col("a") >= col("t") || col("b") >= col("t"))
      .select(col("a"), col("b"))
    val dT = ids.crossJoin(broadcast(thr))
    val baseIds = dT.filter(col("doc_id") < col("t")).select(col("doc_id").as("id"))
    val shardIds = dT.filter(col("doc_id") >= col("t")).select(col("doc_id").as("id"))
    val baseCC = graft.core.Checkpoints.pin(
      graft.operators.ConnectedComponents.components(baseIds, baseEdges))
    val ce = newEdges
      .join(baseCC.select(col("id").as("a"), col("label").as("la")), Seq("a"), "left")
      .join(baseCC.select(col("id").as("b"), col("label").as("lb")), Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("a"),
        coalesce(col("lb"), col("b")).as("b"))
    val cv = baseCC.select(col("label").as("id")).distinct().unionByName(shardIds)
    val contrMap = graft.operators.ConnectedComponents.components(cv, ce)
      .select(col("id").as("cid"), col("label").as("final"))
    val inc = baseCC.join(contrMap, baseCC("label") === contrMap("cid"))
      .select(col("id").as("doc_id"), col("final"))
      .unionByName(shardIds.join(contrMap, col("id") === col("cid"))
        .select(col("id").as("doc_id"), col("final")))
    val batch = graft.operators.ConnectedComponents.components(
        ids.select(col("doc_id").as("id")), pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val equiv = batch.join(inc, Seq("doc_id"), "full_outer")
      .agg(sum(when(not(col("cluster_id") <=> col("final")), 1L).otherwise(0L))
        .as("equiv_diff"))
    val m1 = baseCC.agg(countDistinct(col("label")).as("n_base_components"))
    val m2 = shardIds.agg(count(lit(1)).as("n_shard_docs"))
    val m3 = pT.agg(count(lit(1)).as("n_edges_total"),
      sum(when(col("a") >= col("t") || col("b") >= col("t"), 1L).otherwise(0L))
        .as("n_edges_incremental"))
    val m4 = baseCC.select(col("label")).distinct()
      .join(contrMap, col("label") === col("cid"))
      .agg(sum(when(col("final") =!= col("label"), 1L).otherwise(0L))
        .as("n_base_components_merged"))
    val m5 = inc.agg(countDistinct(col("final")).as("n_final_components"))
    m1.crossJoin(broadcast(m2)).crossJoin(broadcast(m3))
      .crossJoin(broadcast(m4)).crossJoin(broadcast(m5))
      .crossJoin(broadcast(equiv))
      .select(col("n_base_components"), col("n_shard_docs"),
        col("n_edges_total"), col("n_edges_incremental"),
        col("n_base_components_merged"), col("n_final_components"),
        col("equiv_diff"))
  }

  /** q151: incremental connected-components maintenance — the graph
    * twin of the q141 admission proof, and how near-dup CLUSTERING
    * stays affordable at 100 TB: when a shard arrives you do not re-run
    * components over the full corpus; you CONTRACT the at-rest
    * components to supernodes (their labels), solve the tiny graph of
    * shard-touching edges over (supernodes ∪ shard ids), and compose.
    * Correct because the label convention is min-member-id: the
    * contracted component's min over (base labels, shard ids) IS the
    * union component's min member, so composed labels equal the batch
    * labels exactly — the judged `equiv_diff` (full-outer doc-keyed
    * compare against the q46 batch clustering) must be 0. The judged
    * row also carries the work accounting that is the point: the
    * incremental leg's component solve touches only the shard-incident
    * edge set (spec-pinned ≪ the full edge set) plus a
    * component-contracted vertex set, while batch re-touches
    * everything.
    *
    * Split is the q101 80/20 convention (base = doc_id < t); edges are
    * the SAME [[lshPairs]] frame q18/q46/q58 judge, so the proof runs
    * on the production candidate graph, not a toy. The at-rest label
    * frame is pinned for its four consumers.
    */
  val q151IncrementalCc: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val thr = docs.agg(floor((max(col("doc_id")) + 1) * 0.8).cast("long").as("t"))
      // the candidate-pair generation (shingle explode + signatures +
      // band self-join) is the expensive frame — pinned ONCE for the
      // three consumers (edge split, batch-proof solve, metric row)
      incrementalCcStats(docs.select(col("doc_id")),
        graft.core.Checkpoints.pin(
          lshPairs(docs).select(col("doc_a").as("a"), col("doc_b").as("b"))), thr)
    },
    recursive(lshChainSql) +
      s"""
         |, thr AS (SELECT cast(floor((max(doc_id) + 1) * 0.8) AS bigint) AS t FROM documents),
         |p AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
         |be AS (SELECT a, b FROM p CROSS JOIN thr WHERE a < t AND b < t),
         |bedges AS (SELECT a AS u, b AS v FROM be UNION SELECT b, a FROM be),
         |breach AS (SELECT u, v FROM bedges
         |           UNION SELECT r.u, e.v FROM breach r JOIN bedges e ON r.v = e.u),
         |bcc AS (SELECT d.doc_id AS id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS label
         |        FROM documents d CROSS JOIN thr LEFT JOIN breach r ON d.doc_id = r.u
         |        WHERE d.doc_id < thr.t GROUP BY d.doc_id),
         |ne AS (SELECT a, b FROM p CROSS JOIN thr WHERE a >= t OR b >= t),
         |ce AS (SELECT coalesce(la.label, ne.a) AS a, coalesce(lb.label, ne.b) AS b
         |       FROM ne LEFT JOIN bcc la ON ne.a = la.id LEFT JOIN bcc lb ON ne.b = lb.id),
         |cedges AS (SELECT a AS u, b AS v FROM ce UNION SELECT b, a FROM ce),
         |creach AS (SELECT u, v FROM cedges
         |           UNION SELECT r.u, e.v FROM creach r JOIN cedges e ON r.v = e.u),
         |cv AS (SELECT DISTINCT label AS id FROM bcc
         |       UNION SELECT doc_id FROM documents CROSS JOIN thr WHERE doc_id >= t),
         |ccc AS (SELECT cv.id, least(cv.id, coalesce(min(r.v), cv.id)) AS final
         |        FROM cv LEFT JOIN creach r ON cv.id = r.u GROUP BY cv.id),
         |inc AS (SELECT b.id AS doc_id, c.final FROM bcc b JOIN ccc c ON b.label = c.id
         |        UNION ALL
         |        SELECT d.doc_id, c.final FROM documents d CROSS JOIN thr
         |        JOIN ccc c ON d.doc_id = c.id WHERE d.doc_id >= thr.t),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (SELECT u, v FROM edges
         |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |clusters AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
         |             FROM documents d LEFT JOIN reach r ON d.doc_id = r.u
         |             GROUP BY d.doc_id),
         |eq AS (SELECT ${OracleSql.bigSum("CASE WHEN c.cluster_id IS DISTINCT FROM i.final THEN 1 ELSE 0 END")} AS equiv_diff
         |       FROM clusters c FULL OUTER JOIN inc i ON c.doc_id = i.doc_id)
         |SELECT
         |  (SELECT cast(count(DISTINCT label) AS bigint) FROM bcc) AS n_base_components,
         |  (SELECT cast(count(*) AS bigint) FROM documents CROSS JOIN thr WHERE doc_id >= t) AS n_shard_docs,
         |  (SELECT cast(count(*) AS bigint) FROM p) AS n_edges_total,
         |  (SELECT cast(count(*) AS bigint) FROM ne) AS n_edges_incremental,
         |  (SELECT ${OracleSql.bigSum("CASE WHEN c.final <> x.label THEN 1 ELSE 0 END")}
         |   FROM (SELECT DISTINCT label FROM bcc) x JOIN ccc c ON x.label = c.id) AS n_base_components_merged,
         |  (SELECT cast(count(DISTINCT final) AS bigint) FROM inc) AS n_final_components,
         |  (SELECT equiv_diff FROM eq) AS equiv_diff""".stripMargin)

  /** Survivor selection: keep ONE document per near-dup cluster — the
    * longest (n_chars, tie-break min doc_id) — and report how many
    * members it displaced. The "keep one per group" step that follows
    * clustering in a dedup pipeline.
    */
  val q47DedupSurvivors: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      dedupClusters(docs)
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_members", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("survivor_doc_id"),
          col("n_chars").as("survivor_chars"), col("n_members"))
        .orderBy(col("cluster_id"))
    },
    recursive(shSql + minhashSigSql + "\n" + lshPairsSql + "\n" + dedupClustersSql) +
      """
        |SELECT cluster_id, doc_id AS survivor_doc_id, n_chars AS survivor_chars, n_members
        |FROM (SELECT c.cluster_id, c.doc_id, d.n_chars,
        |             row_number() OVER (PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn,
        |             count(*) OVER (PARTITION BY c.cluster_id) AS n_members
        |      FROM clusters c JOIN documents d ON c.doc_id = d.doc_id)
        |WHERE rn = 1 ORDER BY cluster_id""".stripMargin)

  /** SimHash (32-bit): per-bit majority vote over token md5 nibbles.
    * Bit j comes from hex digit j of md5(token) (MSB of the nibble), so
    * the signature is identical in any engine with standard md5.
    */
  val q19SimHash: QuerySpec = QuerySpec(
    (s, dir) => simhashSig(Tables.documents(s, dir)).orderBy(col("doc_id")),
    simhashSigSql + "\nSELECT doc_id, simhash FROM sig ORDER BY doc_id")

  /** Shingles whose within-source document frequency exceeds this cap are
    * excluded from q20's Jaccard universe (intersection AND set sizes) —
    * standard frequency filtering: a boilerplate header shared by m docs
    * would otherwise emit O(m²) candidate pairs in its bucket. With the
    * cap, every surviving (source, shingle) bucket joins ≤ cap docs, so
    * candidate generation is O(cap²) per shingle regardless of corpus
    * size. Near-dup pairs keep their rare shingles, so their capped
    * Jaccard stays high; LSH (q18/q46) remains the recall-oriented route.
    */
  val JaccardDfCap = 50

  /** The q20 plan with an explicit df cap — `cap = Int.MaxValue` is the
    * exact (uncapped) Jaccard, kept callable so `TextOpsSpec` can
    * cross-check the judged capped form against brute-force exact
    * Jaccard on a small corpus. Judged q20 always runs [[JaccardDfCap]].
    *
    * Shape: ONE full-data shuffle. Each (source, shingle) bucket's
    * distinct doc set is collected by the size-bounded
    * [[graft.functions.BoundedDistinct]] aggregator (map-side
    * combinable; a hot boilerplate shingle saturates at cap+1 elements
    * instead of materializing its full posting list), buckets over the
    * cap are dropped — exactly the df filter, since sub-cap buckets are
    * collected exactly — and candidate pairs come from a double explode
    * of the ≤cap-element arrays (≤ cap² narrow rows per bucket, no
    * self-join at all). The earlier form spent three full-data shuffles
    * here: distinct, the df groupBy, and the join back.
    */
  def jaccardPairs(docs: DataFrame, cap: Int): DataFrame = {
    val bound = if (cap == Int.MaxValue) Int.MaxValue else cap + 1
    val bdistinct = udaf(new graft.functions.BoundedDistinct(bound))
    val buckets = shingles(docs)
      .groupBy(col("source"), col("sh"))
      .agg(bdistinct(col("doc_id")).as("docs"))
      .filter(size(col("docs")) <= cap)
      .select(col("docs"))
    // pairs and sizes both read `buckets`: the scan + shingle + partial
    // aggregation + shuffle write happen ONCE (ReusedExchange dedups the
    // bucket shuffle); only the cheap final agg + explode run per branch
    val pairs = buckets
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val sz = buckets.select(explode(col("docs")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    pairs
      .join(sz.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle twin of [[jaccardPairs]] at [[JaccardDfCap]] as a `truth`
    * CTE (appends to [[shSql]]); shared by q20 and the q95 audit so the
    * ground-truth definition cannot drift between them.
    */
  private val jaccardTruthSql: String =
    s""", shd AS (SELECT DISTINCT doc_id, source, sh FROM shx),
      |rare AS (SELECT source, sh FROM shd GROUP BY source, sh HAVING count(*) <= $JaccardDfCap),
      |kept AS (SELECT shd.doc_id, shd.source, shd.sh
      |         FROM shd JOIN rare ON shd.source = rare.source AND shd.sh = rare.sh),
      |sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
      |cm AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |       FROM kept a JOIN kept b
      |         ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |truth AS (
      |  SELECT doc_a, doc_b, cast(n_common AS bigint) AS n_common,
      |         cast(n_common AS double) / cast(sa.n_sh + sb.n_sh - n_common AS double) AS jaccard
      |  FROM cm JOIN sz sa ON cm.doc_a = sa.doc_id JOIN sz sb ON cm.doc_b = sb.doc_id
      |  WHERE cast(n_common AS double) / cast(sa.n_sh + sb.n_sh - n_common AS double) >= cast(0.5 AS double))""".stripMargin

  /** n-gram Jaccard near-dup pairs, blocked by source: |A∩B| / |A∪B| over
    * distinct word 3-shingles in the df-capped universe (see
    * [[JaccardDfCap]]); only same-source pairs are candidates. df is
    * computed with a map-side-combinable groupBy, never a window over the
    * skewed shingle key.
    *
    * Exchange discipline: at scale (rare exceeds broadcast range) the
    * df-join shuffle leaves `kept` hash-partitioned on (source, sh) —
    * exactly the self-join's keys — so candidate generation adds ZERO
    * further full-data exchanges (the second branch reuses the same
    * shuffle). At test scale AQE broadcasts `rare` instead and lets the
    * self-join shuffle — its call, both correct. Set sizes are
    * aggregated separately and joined to the (cap-bounded)
    * candidate-pair aggregate afterward; the earlier form attached
    * sizes via a doc-window BEFORE the self-join, which re-shuffled the
    * full shingle set unconditionally — window + two join branches —
    * at every scale.
    */
  val q20JaccardPairs: QuerySpec = QuerySpec(
    (s, dir) => jaccardPairs(Tables.documents(s, dir), JaccardDfCap),
    shSql + "\n" + jaccardTruthSql +
      "\nSELECT doc_a, doc_b, n_common, jaccard FROM truth ORDER BY doc_a, doc_b")

  /** Rolling-hash fingerprint via the native codegen'd
    * [[graft.functions.RollingHash]] Catalyst expression; the oracle
    * reproduces the identical char fold in SQL.
    */
  val q31RollingFingerprint: QuerySpec = QuerySpec(
    (s, dir) => {
      graft.functions.RollingHash.register(s)
      Tables.documents(s, dir)
        .withColumn("norm", normCol)
        .select(col("doc_id"), expr("rolling_hash(norm)").as("rolling_fp"))
        .orderBy(col("doc_id"))
    },
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(0::bigint,
      |      list_transform(string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
      |                     ch -> ascii(ch)::bigint)),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS rolling_fp
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** BPE-ish regex tokenization (GPT-2-style pretokenizer simplified to
    * the RE2 ∩ java.util.regex common subset — no lookahead): word /
    * number / punctuation runs with optional leading space.
    */
  val q32BpeTokens: QuerySpec = QuerySpec(
    (s, dir) => {
      val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"
      val toks = regexp_extract_all(lower(col("text")), lit(pat), lit(0))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(toks).as("n_bpe_tokens"),
          size(array_distinct(toks)).as("n_unique_bpe"))
        .orderBy(col("doc_id"))
    },
    """SELECT doc_id, lang,
      |  cast(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+')) AS integer) AS n_bpe_tokens,
      |  cast(len(list_distinct(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+'))) AS integer) AS n_unique_bpe
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Term-frequency / document-frequency weighting (tf-idf shape, with a
    * log-free idf ratio N/df so weights stay bit-exact across engines —
    * `ln` is not guaranteed correctly-rounded everywhere).
    */
  val q34Tfidf: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tok = docs.select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      val tf = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      // df as groupBy(tok) + join back, NOT a Window.partitionBy(tok):
      // the window form shuffles AND SORTS the full (doc, tok, tf) set by
      // token, and a stopword-grade token puts ~n_docs rows into a single
      // window partition — unsplittable skew. The aggregate is map-side
      // combined (one row per token per partition in flight) and the join
      // back is AQE-skew-splittable.
      // doc_id is the table's key: count(*) == count(distinct doc_id)
      // without the distinct-expand exchange (the oracle keeps the
      // DISTINCT spelling; the values are identical)
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = docs.select(count(lit(1)).as("n_docs"))
      // df is one row per distinct token (vocab-bounded, zipf-flattened by
      // the combine) — broadcast it back so tf is never reshuffled by the
      // skewed token key. For an unbounded vocab drop the hint and let
      // AQE pick shuffle-vs-broadcast at runtime.
      tf.join(broadcast(df), "tok").crossJoin(broadcast(n))
        .withColumn("weight",
          col("tf").cast("double") * (col("n_docs").cast("double") / col("df").cast("double")))
        .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("weight"))
        .orderBy(col("doc_id"), col("tok"))
    },
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
      |SELECT tf.doc_id, tf.tok, tf.tf, df.df,
      |       cast(tf.tf AS double) * (cast(n.n_docs AS double) / cast(df.df AS double)) AS weight
      |FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
      |ORDER BY tf.doc_id, tf.tok""".stripMargin)

  /** SimHash near-dup candidate pairs with Hamming distance ≤ 1, found
    * bucket-locally: 32 signature bits split into d+1 = 2 bands of 16
    * bits — any pair within distance 1 must agree on ≥1 whole band
    * (pigeonhole), so the self-join runs per (band_id, band_value)
    * bucket, never all-pairs. 16-bit bands give 65536 bucket values,
    * so false candidates are rare and the exact `bit_count(xor)` filter
    * does little work. Integer ops are engine-exact.
    */
  val q36SimHashPairs: QuerySpec = QuerySpec(
    (s, dir) => {
      val sig = simhashSig(Tables.documents(s, dir))
      // single posexplode pass over the 2 band values (no union re-compute)
      val bands = sig.select(col("doc_id"), col("simhash"), posexplode(array(
          (0 until 2).map(b =>
            shiftright(col("simhash"), b * 16).bitwiseAND(lit(65535L))): _*)))
        .select(col("doc_id"), col("simhash"),
          col("pos").as("band_id"), col("col").as("band_val"))
      val a = bands.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"),
        col("band_id"), col("band_val"))
      val b = bands.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"),
        col("band_id").as("band_id_b"), col("band_val").as("band_val_b"))
      a.join(b, col("band_id") === col("band_id_b") && col("band_val") === col("band_val_b")
          && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))
        .filter(col("hamming") <= 1)
        .distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    },
    simhashSigSql + "\n" +
      s""", bands AS (${(0 until 2).map(bd =>
          s"SELECT doc_id, simhash, $bd AS band_id, (simhash >> ${bd * 16}) & 65535 AS band_val FROM sig")
          .mkString("\n UNION ALL ")})
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       cast(bit_count(xor(a.simhash, b.simhash)) AS integer) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
       |ORDER BY doc_a, doc_b""".stripMargin)

  /** DuckDB winnowing CTEs `n/h/w` — `w` = one (doc_id, source, fp) row
    * per distinct window-min fingerprint per document. Shared by q39
    * (the fingerprint dump) and q111 (fingerprint-overlap
    * decontamination), so the two oracles can never drift on the
    * scheme.
    */
  private val winnowFpsSql: String =
    """WITH n AS (
      |  SELECT doc_id, source, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents),
      |h AS (
      |  SELECT doc_id, source,
      |    list_transform(range(1, len(norm) - 6),
      |      i -> list_reduce(
      |             list_prepend(0::bigint,
      |               list_transform(string_split_regex(substr(norm, i, 8), ''), ch -> ascii(ch)::bigint)),
      |             (a, b) -> (a * 31 + b) % 1000000007)) AS hashes
      |  FROM n WHERE len(norm) >= 11),
      |w AS (
      |  SELECT doc_id, source,
      |    unnest(list_distinct(list_transform(range(1, len(hashes) - 2),
      |      i -> list_aggregate(hashes[i:i+3], 'min')))) AS fp
      |  FROM h)""".stripMargin

  /** Winnowing fingerprints (the MOSS scheme): rolling hash every 8-char
    * gram of the normalized text, then keep the minimum of each 4-hash
    * window — a position-robust fingerprint *set* per document whose size
    * is ~n/w regardless of alignment. Computed by the single codegen'd
    * [[graft.functions.WinnowFingerprints]] expression (true O(1) rolling
    * update + one-pass window minima); the earlier
    * transform/slice/array_min lambda chain was CodegenFallback per
    * element and 7× slower at bench scale
    * (`WinnowFingerprintsSpec` pins parity with that chain). The oracle
    * reproduces gram hashing + window minima with list folds.
    */
  val q39Winnowing: QuerySpec = QuerySpec(
    (s, dir) => {
      graft.functions.WinnowFingerprints.register(s)
      Tables.documents(s, dir)
        .withColumn("norm", normCol)
        .filter(length(col("norm")) >= 11) // k=8 grams, w=4 windows
        .select(col("doc_id"), explode(expr("winnow_fps(norm)")).as("fp"))
        .orderBy(col("doc_id"), col("fp"))
    },
    winnowFpsSql + "\nSELECT doc_id, fp FROM w ORDER BY doc_id, fp")

  /** q111: fingerprint-overlap decontamination — the second leg of the
    * contamination family after q71's n-gram containment: a document is
    * flagged when ≥40% of its winnowing fingerprints appear in the eval
    * slice's fingerprint set (on this 40-word synthetic vocabulary the
    * cross-doc collision floor sits at 20–40%, so 40% is the
    * discriminating tail; a real corpus tunes this knob), which catches PARAPHRASE-ROBUST leakage
    * (winnowing minima survive local edits that break exact n-gram
    * containment). The eval slice is the deterministic doc_id % 97 == 0
    * subset (a stand-in for a held-out benchmark), excluded from the
    * scored corpus.
    *
    * Scale: the corpus side is one winnow_fps scan (codegen'd, q39's
    * expression); the probe is a fp-keyed join against the DISTINCT
    * eval fingerprint set. No broadcast hint on the eval side: real
    * eval sets are tiny and AQE will broadcast them on its own, but
    * this query's 1/97 slice is corpus-proportional by construction —
    * forcing a broadcast here would be the q101 delta-broadcast mistake
    * again. The threshold is pure integer arithmetic (5·hits ≥ 2·fps);
    * the rollup shuffles 20 source rows.
    */
  val q111ContaminationFps: QuerySpec = QuerySpec(
    (s, dir) => {
      graft.functions.WinnowFingerprints.register(s)
      val fps = Tables.documents(s, dir)
        .withColumn("norm", normCol)
        .filter(length(col("norm")) >= 11)
        .select(col("doc_id"), col("source"),
          explode(expr("winnow_fps(norm)")).as("fp"))
      val evalFps = fps.filter(col("doc_id") % 97 === 0)
        .select(col("fp")).distinct().withColumn("hit", lit(1L))
      val perDoc = fps.filter(col("doc_id") % 97 =!= 0)
        .join(evalFps, Seq("fp"), "left_outer")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_fps"), count(col("hit")).as("n_hits"))
      perDoc.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_hits") * 5 >= col("n_fps") * 2, 1L).otherwise(0L))
          .as("n_contaminated"),
        sum(col("n_fps")).as("total_fps"),
        sum(col("n_hits")).as("total_hits"))
        .orderBy(col("source"))
    },
    winnowFpsSql +
      """,
        |ev AS (SELECT DISTINCT fp FROM w WHERE doc_id % 97 = 0),
        |per AS (
        |  SELECT c.doc_id, c.source,
        |         count(*) AS n_fps, count(e.fp) AS n_hits
        |  FROM w c LEFT JOIN ev e ON c.fp = e.fp
        |  WHERE c.doc_id % 97 <> 0
        |  GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |       cast(sum(CASE WHEN n_hits * 5 >= n_fps * 2 THEN 1 ELSE 0 END) AS bigint) AS n_contaminated,
        |       cast(sum(n_fps) AS bigint) AS total_fps,
        |       cast(sum(n_hits) AS bigint) AS total_hits
        |FROM per GROUP BY source ORDER BY source""".stripMargin)

  private val CmsDepth = 4    // independent hash rows
  private val CmsHexChars = 3 // 16^3 = 4096 buckets per row

  /** Per-token CMS hash rows (tok, true_count, j, bucket) for the d=4,
    * w=4096 seeded-md5 sketch — shared by q49 and the streaming sketch
    * maintenance.
    */
  private[graft] def cmsHb(docs: DataFrame): DataFrame = {
    val tok = docs.select(explode(split(trim(col("text")), "\\s+")).as("tok"))
    tok.groupBy(col("tok")).agg(count(lit(1)).as("true_count"))
      .select(col("tok"), col("true_count"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("j"))
      .withColumn("bucket",
        PortableHash.bucketCol(concat(col("j").cast("string"), lit("|"), col("tok")), CmsHexChars))
  }

  /** The d×w sketch itself: (j, bucket, cnt) cells. Count-Min is LINEAR
    * (cell-wise addable), so cells from disjoint corpus slices sum to
    * the full-corpus sketch — the property streaming maintenance rests
    * on ([[graft.streaming.StreamingSketch]]).
    */
  private[graft] def cmsCellsFromHb(hb: DataFrame): DataFrame =
    hb.groupBy(col("j"), col("bucket"))
      .agg(sum(col("true_count")).as("cnt"))

  private[graft] def cmsCells(docs: DataFrame): DataFrame =
    cmsCellsFromHb(cmsHb(docs))

  /** Count-Min heavy hitters over the token stream: every token's
    * estimate = min over rows of its bucket count — the classic
    * overcount-only guarantee (est ≥ true, error ≤ N/w per row);
    * reported tokens: estimate ≥ 100, with the true count alongside so
    * the overestimate is visible. Fixed d×w size regardless of corpus;
    * built from pre-aggregated term frequencies (same cells, one
    * exchange less); the DuckDB oracle rebuilds the identical sketch.
    */
  val q49CountMinHh: QuerySpec = QuerySpec(
    (s, dir) => {
      val hb = cmsHb(Tables.documents(s, dir))
      val sketch = cmsCellsFromHb(hb)
      hb.join(sketch, Seq("j", "bucket"))
        .groupBy(col("tok"))
        .agg(min(col("cnt")).as("est"), min(col("true_count")).as("true_count"))
        .filter(col("est") >= 100)
        .orderBy(col("tok"))
    },
    s"""WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
       |freq AS (SELECT tok, count(*) AS true_count FROM tok GROUP BY tok),
       |hb AS (SELECT tok, true_count, j,
       |         ${PortableHash.bucketSql("j::varchar || '|' || tok", CmsHexChars)} AS bucket
       |       FROM freq, range(0, $CmsDepth) t(j)),
       |sketch AS (SELECT j, bucket, cast(sum(true_count) AS bigint) AS cnt FROM hb GROUP BY j, bucket),
       |est AS (SELECT hb.tok, min(s.cnt) AS est, min(hb.true_count) AS true_count
       |        FROM hb JOIN sketch s ON hb.j = s.j AND hb.bucket = s.bucket
       |        GROUP BY hb.tok)
       |SELECT tok, est, true_count FROM est WHERE est >= 100 ORDER BY tok""".stripMargin)

  /** End-to-end training-data pipeline in ONE declarative plan:
    * language gate (lang column) → quality gate (q15's linear score)
    * → exact dedup on the normalized fingerprint (keep min doc_id) →
    * deterministic 50% sample → per-source doc/token accounting.
    * Every stage is a filter/window over the same scan — Catalyst fuses
    * the gates into the scan and the whole pipeline is two shuffles
    * (dedup window + final aggregation) regardless of corpus size.
    */
  val q59PipelineE2e: QuerySpec = QuerySpec(
    (s, dir) => {
      val wFp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      Tables.documents(s, dir)
        .filter(col("lang") === "en" && qualityCol >= 0.35)
        .withColumn("fp", md5(normCol))
        .withColumn("rn", row_number().over(wFp)).filter(col("rn") === 1)
        .filter(PortableHash.bucketCol(col("doc_id").cast("string"), 4) < lit(32768))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("total_tokens"))
        .orderBy(col("source"))
    },
    s"""WITH scored AS (
       |  SELECT doc_id, source, text, lang,
       |    $qualitySql AS quality
       |  FROM documents),
       |gated AS (SELECT doc_id, source, text,
       |            md5($normSql) AS fp
       |          FROM scored
       |          WHERE lang = 'en' AND quality >= cast(0.35 AS double)),
       |deduped AS (SELECT doc_id, source, text
       |            FROM (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM gated)
       |            WHERE rn = 1),
       |sampled AS (SELECT doc_id, source, text FROM deduped
       |            WHERE ${PortableHash.bucketSql("doc_id::varchar", 4)} < 32768)
       |SELECT source, count(*) AS n_docs,
       |       cast(sum(len(string_split_regex(trim(text), '\\s+'))) AS bigint) AS total_tokens
       |FROM sampled GROUP BY source ORDER BY source""".stripMargin)

  /** Benchmark decontamination: training docs sharing any word 3-shingle
    * with the held-out eval slice (here: doc_id ≡ 0 mod 50 — a
    * deterministic stand-in for an external benchmark suite), with the
    * count of distinct overlapping shingles. The core 100 TB shape:
    * the EVAL side's distinct shingle set is small (benchmarks are KBs,
    * corpora are TBs), so it broadcasts, the corpus side's shingling
    * fuses into the scan, and the only shuffle is the per-doc overlap
    * count over MATCHED rows — the full corpus is never shuffled at all.
    */
  val q71Decontaminate: QuerySpec = QuerySpec(
    (s, dir) => {
      val sh = shingles(Tables.documents(s, dir))
      val ev = sh.filter(col("doc_id") % 50 === 0).select(col("sh")).distinct()
      sh.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(ev), Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("sh")).as("n_overlap"))
        .orderBy(col("doc_id"))
    },
    shSql + "\n" +
      """, ev AS (SELECT DISTINCT sh FROM shx WHERE doc_id % 50 = 0)
        |SELECT t.doc_id, cast(count(DISTINCT t.sh) AS bigint) AS n_overlap
        |FROM shx t JOIN ev ON t.sh = ev.sh
        |WHERE t.doc_id % 50 <> 0
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)

  /** Per-document repetition scores (the Gopher-style repetition gates):
    * duplicate word-bigram fraction and most-frequent-bigram mass.
    * Two map-side-combinable aggregations — (doc, bigram) counts, then
    * per-doc rollup; no windows, no skew (a doc's bigram multiset is
    * bounded by its own length, and the (doc_id, g) key is near-unique).
    * Fractions are double divisions of exact integer counts, so they are
    * bit-identical in both engines.
    */
  val q72Repetition: QuerySpec = QuerySpec(
    (s, dir) => {
      val bg = toks(Tables.documents(s, dir))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))")).as("g"))
      bg.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bigrams"), count(lit(1)).as("nd"), max(col("c")).as("top"))
        .select(col("doc_id"), col("n_bigrams"),
          ((col("n_bigrams") - col("nd")).cast("double") / col("n_bigrams").cast("double")).as("dup_frac"),
          (col("top").cast("double") / col("n_bigrams").cast("double")).as("top_frac"))
        .orderBy(col("doc_id"))
    },
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |bg AS (SELECT doc_id,
      |         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
      |       FROM t WHERE len(w) >= 2),
      |c AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g)
      |SELECT doc_id, cast(sum(c) AS bigint) AS n_bigrams,
      |  cast(sum(c) - count(*) AS double) / cast(sum(c) AS double) AS dup_frac,
      |  cast(max(c) AS double) / cast(sum(c) AS double) AS top_frac
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** Cross-source near-dup overlap matrix — the corpus-curation signal
    * "how much does source X republish source Y": MinHash-LSH candidate
    * pairs over the WHOLE corpus (the same banded scheme as q18/q46 —
    * bucket-local, never all-pairs), rolled up to unordered
    * (source_a, source_b) pair counts. The pair set is LSH-bounded, so
    * the source join and the rollup run over candidates, not the
    * corpus; at 100 TB the output is a |sources|² matrix regardless of
    * data size.
    */
  val q76SourceOverlap: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val src = docs.select(col("doc_id"), col("source"))
      lshPairs(docs)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    },
    shSql + minhashSigSql + "\n" + lshPairsSql + "\n" +
      """SELECT least(sa.source, sb.source) AS source_a,
        |       greatest(sa.source, sb.source) AS source_b,
        |       count(*) AS n_pairs
        |FROM pairs
        |JOIN documents sa ON pairs.doc_a = sa.doc_id
        |JOIN documents sb ON pairs.doc_b = sb.doc_id
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin)

  /** q85: per-source top-half quality filtering — the "keep the best p%
    * of every source" curation gate (filtering globally would let one
    * high-quality source crowd out the rest of the mixture). `ntile(2)`
    * over (quality DESC, doc_id) per source: a PARTITIONED window — the
    * per-source sort shards across the cluster and a skewed source is
    * bounded by its own row count; the (quality, doc_id) total order
    * makes the kept set deterministic in both engines. Reports the
    * per-source survivor count, admission threshold (min kept score),
    * and kept char mass.
    */
  val q85QualityTopP: QuerySpec = QuerySpec(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bySource = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"), qualityCol.as("quality"))
        .withColumn("half", ntile(2).over(bySource))
        .filter(col("half") === 1)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("quality")).as("threshold"),
          sum(col("n_chars")).as("chars_kept"))
        .orderBy(col("source"))
    },
    s"""WITH q AS (SELECT source, doc_id, n_chars, $qualitySql AS quality FROM documents),
       |h AS (SELECT source, doc_id, n_chars, quality,
       |        ntile(2) OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS half
       |      FROM q)
       |SELECT source, count(*) AS n_kept, min(quality) AS threshold,
       |       ${OracleSql.bigSum("n_chars")} AS chars_kept
       |FROM h WHERE half = 1 GROUP BY source ORDER BY source""".stripMargin)

  /** q86: inverted index over word trigrams with df-capped postings —
    * the search-side companion of the dedup family: term → sorted
    * posting list, kept only for terms in the df band (2 ≤ df ≤ 8).
    *
    * Shape: ONE full-data shuffle, the q20 bucket pattern. A single
    * `groupBy(sh)` collects each term's distinct doc set through the
    * size-bounded [[graft.functions.BoundedDistinct]] aggregator with
    * bound = df_max+1: a term whose true df ≤ df_max is collected
    * EXACTLY (every partial is a subset of a set smaller than the
    * bound, so truncation never fires), while a stopword-like term
    * saturates at df_max+1 elements — its buffer never grows past 9
    * postings no matter how many millions of docs contain it — and the
    * post-agg size filter discards it, which IS the df-band filter.
    * The earlier two-phase form spent three keyed exchanges (distinct,
    * df groupBy, join-back + final collect) to guarantee the same
    * bounded-state property; the aggregator gives it in one.
    * Postings serialize as a comma-joined string (numeric sort order)
    * to keep the driver's column-hash compare engine-portable.
    */
  val q86InvertedIndex: QuerySpec = QuerySpec(
    (s, dir) => {
      val bdistinct = udaf(new graft.functions.BoundedDistinct(9)) // df_max + 1
      shingles(Tables.documents(s, dir))
        .groupBy(col("sh"))
        .agg(bdistinct(col("doc_id")).as("docs"))
        .filter(size(col("docs")).between(2, 8))
        .select(col("sh"),
          size(col("docs")).cast("long").as("df"),
          expr("array_join(transform(docs, x -> cast(x AS string)), ',')")
            .as("postings"))
        .orderBy(col("sh"))
    },
    shSql + "\n" +
      """, ds AS (SELECT DISTINCT doc_id, sh FROM shx),
        |df AS (SELECT sh, count(*) AS df FROM ds GROUP BY sh
        |       HAVING count(*) BETWEEN 2 AND 8)
        |SELECT ds.sh AS sh, cast(df.df AS bigint) AS df,
        |       string_agg(CAST(ds.doc_id AS varchar), ',' ORDER BY ds.doc_id) AS postings
        |FROM ds JOIN df ON ds.sh = df.sh
        |GROUP BY ds.sh, df.df ORDER BY sh""".stripMargin)

  /** Shared bigram scheme (q87 collocation stats + q140 coherence
    * filter): ONE definition of the adjacent-transition stream so the
    * vocabulary-side statistics and the per-document filter that
    * consumes the same statistics cannot drift. [[bigramStream]] is the
    * per-instance relation (doc_id, source, x, y) — one row per adjacent
    * token pair; the margins (unigram counts, bigram counts, total) are
    * map-side-combinable groupBys over it and over [[toks]].
    */
  private def bigramStream(docs: DataFrame): DataFrame =
    toks(docs).filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, size(w)-2), i -> struct(w[i] AS x, w[i+1] AS y))")).as("p"))
      .select(col("doc_id"), col("source"), col("p.x"), col("p.y"))

  /** DuckDB twin CTE prefix: t/uni/un/tot/bi/bc — the identical margins
    * for both bigram consumers (q87 reads un/tot/bc; q140 also reads the
    * per-instance bi).
    */
  private def bigramSql: String =
    """WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |uni AS (SELECT unnest(w) AS x FROM t),
      |un AS (SELECT x, count(*) AS cx FROM uni GROUP BY x),
      |tot AS (SELECT cast(sum(cx) AS bigint) AS n FROM un),
      |bi AS (SELECT doc_id, source,
      |         unnest(list_transform(range(1, len(w)), i -> w[i])) AS x,
      |         unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS y
      |       FROM t WHERE len(w) >= 2),
      |bc AS (SELECT x, y, count(*) AS cxy FROM bi GROUP BY 1, 2)""".stripMargin

  /** q87: bigram collocation lift — cxy·N / (cx·cy), the PMI signal
    * without the log (transcendentals round differently across engines;
    * the lift RATIO of exact integer counts is one IEEE multiply/divide
    * tree, bit-identical in both). Three map-side-combinable counts
    * (unigrams, bigrams, total) and two joins against the unigram table —
    * which is vocabulary-sized, so both probes broadcast at any corpus
    * scale; the corpus-sized bigram relation is never re-shuffled after
    * its own count. The N scalar rides a 1-row broadcast cross join.
    * Counts come from the shared [[bigramStream]] scheme (q140 consumes
    * the identical margins as a per-document filter).
    */
  val q87CollocationLift: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val un = toks(docs).select(explode(col("w")).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("cx"))
      val tot = un.agg(sum(col("cx")).as("n"))
      val bc = bigramStream(docs)
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
      bc.join(broadcast(un.select(col("x"), col("cx"))), Seq("x"))
        .join(broadcast(un.select(col("x").as("y"), col("cx").as("cy"))), Seq("y"))
        .crossJoin(broadcast(tot))
        .select(col("x"), col("y"), col("cxy"), col("cx"), col("cy"),
          ((col("cxy").cast("double") * col("n").cast("double"))
            / (col("cx").cast("double") * col("cy").cast("double"))).as("lift"))
        .orderBy(col("lift").desc, col("x"), col("y"))
    },
    bigramSql + "\n" +
      """SELECT bc.x AS x, bc.y AS y, cast(bc.cxy AS bigint) AS cxy,
        |       cast(ux.cx AS bigint) AS cx, cast(uy.cx AS bigint) AS cy,
        |       (CAST(bc.cxy AS double) * CAST(tot.n AS double))
        |         / (CAST(ux.cx AS double) * CAST(uy.cx AS double)) AS lift
        |FROM bc JOIN un ux ON bc.x = ux.x JOIN un uy ON bc.y = uy.x CROSS JOIN tot
        |ORDER BY lift DESC, x, y""".stripMargin)

  /** Per-document coherence frame (doc_id, source, n_trans, n_sup) —
    * the ONE definition of "how many of this doc's transitions are
    * corpus-supported", shared by the q140 point filter and the q144
    * threshold-calibration sweep so the filter and the curve that
    * justifies its threshold cannot drift. [[coherencePerDocSql]] is
    * the DuckDB twin (the `d` CTE).
    */
  private def coherencePerDoc(docs: DataFrame): DataFrame = {
    val bi = bigramStream(docs)
    // vocabulary-bounded, three consumers (the N scalar + both margin
    // probes) — pinned so the corpus-sized token explode behind it
    // runs once, not three times
    val un = graft.core.Checkpoints.pin(
      toks(docs).select(explode(col("w")).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("cx")))
    val tot = un.agg(sum(col("cx")).as("n"))
    val bc = bi.groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    bi
      .join(bc, Seq("x", "y"))
      .join(un.select(col("x"), col("cx")), Seq("x"))
      .join(un.select(col("x").as("y"), col("cx").as("cy")), Seq("y"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("source"),
        when(dec(col("cxy")) * dec(col("n")) >= dec(col("cx")) * dec(col("cy")), 1L)
          .otherwise(0L).as("sup"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_trans"), sum(col("sup")).as("n_sup"))
  }

  private def coherencePerDocSql: String =
    bigramSql + "\n" +
      s""", d AS (SELECT bi.doc_id, bi.source, cast(count(*) AS bigint) AS n_trans,
         |    ${OracleSql.bigSum("CASE WHEN cast(bc.cxy AS hugeint) * tot.n >= cast(ux.cx AS hugeint) * uy.cx THEN 1 ELSE 0 END")} AS n_sup
         |  FROM bi JOIN bc ON bi.x = bc.x AND bi.y = bc.y
         |       JOIN un ux ON bi.x = ux.x JOIN un uy ON bi.y = uy.x
         |       CROSS JOIN tot
         |  GROUP BY bi.doc_id, bi.source)""".stripMargin

  /** q140: LM-coherence quality filter — the bigram-transition stand-in
    * for the n-gram-LM fluency gate (CCNet/KenLM-style) that every
    * production curation stack runs between the shape gates (q15/q113)
    * and the rarity gate (q132): a document whose adjacent-token
    * transitions are mostly UNSUPPORTED by the corpus bigram statistics
    * (lift < 1, i.e. the pair co-occurs less than its unigram
    * frequencies predict) reads as incoherent token salad even when
    * every individual token is common. A transition is supported when
    * cxy·N ≥ cx·cy — the q87 lift signal as an exact integer
    * cross-multiplication (decimal(38,0)/HUGEINT products: at 100 TB,
    * N ~ 1e14 and counts ≤ N keep cxy·N ≤ 1e28, well inside the 38-digit
    * window — no floats, no logs, bit-identical across engines). A doc
    * is flagged when fewer than HALF its transitions are supported
    * (calibrated: per-doc supported fraction spans ~0.11–1.0, median
    * ~0.52 at sf0.1, so the 1/2 cut flags the incoherent tail without
    * degenerating; [[graft.TextOpsSpec]] pins non-degeneracy). Judged as
    * the per-source funnel accounting.
    *
    * Scale: margins ride the shared [[bigramStream]] scheme — the
    * bigram-count and unigram-count tables are vocabulary²-/vocabulary-
    * bounded, and the unigram margin is pinned once for its three
    * consumers; the corpus-sized instance stream joins them by UNHINTED
    * equi-joins (broadcast at test scale by AQE, shuffle join with AQE
    * skew-split on the zipf-hot pairs at 100 TB); the N scalar rides a
    * 1-row broadcast cross join; both rollups are map-side combined.
    */
  val q140BigramCoherence: QuerySpec = QuerySpec(
    (s, dir) => {
      coherencePerDoc(Tables.documents(s, dir))
        .select(col("source"), col("n_trans"), col("n_sup"),
          when(col("n_sup") * 2 < col("n_trans"), 1L).otherwise(0L).as("flagged"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("flagged")).as("n_flagged"),
          sum(col("n_trans")).as("n_transitions"), sum(col("n_sup")).as("n_supported"))
        .orderBy(col("source"))
    },
    coherencePerDocSql + "\n" +
      s"""SELECT source, cast(count(*) AS bigint) AS n_docs,
         |  ${OracleSql.bigSum("CASE WHEN 2 * n_sup < n_trans THEN 1 ELSE 0 END")} AS n_flagged,
         |  ${OracleSql.bigSum("n_trans")} AS n_transitions,
         |  ${OracleSql.bigSum("n_sup")} AS n_supported
         |FROM d GROUP BY source ORDER BY source""".stripMargin)

  /** q144: coherence-threshold calibration curve — the operating curve
    * that justifies (or indicts) q140's fixed 1/2 cut, the q106 pattern
    * (a point gate next to its whole curve): for each candidate
    * threshold k/8 (k = 1..7), how many documents the coherence filter
    * would flag and how many transitions (token mass) that cut costs.
    * Supported fractions concentrate between 3/8 and 6/8 on this corpus
    * (k=1..2 flags ~nothing, k=7 flags everything), so the curve shows
    * the knee the 4/8 point sits on. Flags are exact integer
    * cross-multiplications (`8·n_sup < k·n_trans`) over the SAME
    * [[coherencePerDoc]] frame q140 judges — one corpus pass, the
    * 7-row threshold lattice rides a broadcast cross join, the rollup
    * is map-side combined.
    */
  val q144CoherenceCalibration: QuerySpec = QuerySpec(
    (s, dir) => {
      import s.implicits._
      val thrs = Seq(1, 2, 3, 4, 5, 6, 7).toDF("thr_num")
      coherencePerDoc(Tables.documents(s, dir))
        .crossJoin(broadcast(thrs))
        .select(col("thr_num"), col("n_trans"),
          when(col("n_sup") * 8 < col("thr_num") * col("n_trans"), 1L)
            .otherwise(0L).as("flagged"))
        .groupBy(col("thr_num"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("flagged")).as("n_flagged"),
          sum(col("flagged") * col("n_trans")).as("flagged_transitions"))
        .orderBy(col("thr_num"))
    },
    coherencePerDocSql + "\n" +
      s""", thr AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS thr_num)
         |SELECT thr_num, cast(count(*) AS bigint) AS n_docs,
         |  ${OracleSql.bigSum("CASE WHEN 8 * n_sup < thr_num * n_trans THEN 1 ELSE 0 END")} AS n_flagged,
         |  ${OracleSql.bigSum("CASE WHEN 8 * n_sup < thr_num * n_trans THEN n_trans ELSE 0 END")} AS flagged_transitions
         |FROM d CROSS JOIN thr GROUP BY thr_num ORDER BY thr_num""".stripMargin)

  /** Shared re-crawl shard generator (q141 + q142 + the streaming
    * q143): the deterministic incoming-shard scenario every admission
    * proof scores against, so the equivalence proof, the Bloom screen
    * and the streaming admission path cannot drift onto different
    * workloads. Every base doc with doc_id % 7 < 2 re-appears VERBATIM
    * under a new id (the re-crawl duplicate — the case an admission
    * screen must block), and every doc with doc_id % 7 == 2 re-appears
    * as a revision (`text || ' rev2'` — novel content the screen must
    * admit). Emits (doc_id, fp, source) with fp = md5(text); id offsets
    * keep shard ids strictly above every base id, which is exactly the
    * first-occurrence (min doc_id) canonical convention of q12/q47.
    * Oracle-replayable: [[crawlShardSql]] is the DuckDB twin.
    */
  private[graft] def crawlShard(docs: DataFrame): DataFrame = {
    val re = docs.filter(col("doc_id") % 7 < 2)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        md5(col("text")).as("fp"), col("source"))
    val rev = docs.filter(col("doc_id") % 7 === 2)
      .select((col("doc_id") + lit(20000000L)).as("doc_id"),
        md5(concat(col("text"), lit(" rev2"))).as("fp"), col("source"))
    re.unionByName(rev)
  }

  /** DuckDB twin of [[crawlShard]] as a composable CTE body. */
  private[graft] def crawlShardSql: String =
    """shard AS (
      |  SELECT doc_id + 10000000 AS doc_id, md5(text) AS fp, source
      |  FROM documents WHERE doc_id % 7 < 2
      |  UNION ALL
      |  SELECT doc_id + 20000000 AS doc_id, md5(text || ' rev2') AS fp, source
      |  FROM documents WHERE doc_id % 7 = 2)""".stripMargin

  /** q145: content-defined chunking (CDC) with an insertion-robustness
    * proof — the rolling-hash chunker (restic/borg/rsync-style) that
    * makes chunk-level dedup survive EDITS: a chunk boundary falls
    * after any position whose trailing 4-token window hashes to
    * 0 mod 16 (expected chunk ≈ 16 tokens), so boundaries are decided
    * by CONTENT, not offsets. The judged output carries the proof the
    * fixed-size alternative (q98's offset-chunking, `(i-1)//16`) fails:
    * for a deterministic front-insert revision shard (every doc_id
    * % 7 == 3 re-appears as `'v2 ' || text` — one token prepended,
    * a slice disjoint from the q141/q142 re-crawl residues and coprime
    * with the source cycle so every source carries variants,
    * every offset shifted), the per-source accounting shows the variant
    * chunk mass still shared with its base under CDC (boundaries
    * re-align one window past the edit) next to the fixed-chunking
    * column, which collapses to zero — the q130 before/after pattern
    * inside the judged row (spec-pinned non-vacuous: cdc_shared >
    * fixed_shared, cdc_shared > 0).
    *
    * Scale: the positioned token stream is computed per row (a
    * transform lambda — no corpus-wide window); the only per-doc window
    * is the boundary prefix sum, PARTITIONED by doc_id (doc-bounded
    * state); both chunk rollups group by (doc_id, chunk) on the
    * window's doc_id exchange (subset-key partitioning — no new
    * shuffle), and the shared-chunk probes are (base_id, fp)-keyed
    * equi-joins with no hints. The chunk-hash arithmetic is the
    * [[PortableHash]] scheme — the oracle replays every boundary
    * decision.
    */
  val q145CdcChunking: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = docs.select(col("doc_id"), col("source"), col("text"),
        lit(0).as("is_variant"), lit(null).cast("long").as("base_id"))
      val variants = docs.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + lit(30000000L)).as("doc_id"), col("source"),
          concat(lit("v2 "), col("text")).as("text"),
          lit(1).as("is_variant"), col("doc_id").as("base_id"))
      val corp = base.unionByName(variants)
      val t = corp.select(col("doc_id"), col("source"), col("is_variant"),
        col("base_id"), split(trim(col("text")), "\\s+").as("w"))
      val cells = transform(sequence(lit(1), size(col("w"))), i =>
        struct(i.as("i"), element_at(col("w"), i).as("tok"),
          when(i >= 5 &&
            PortableHash.bucketCol(concat_ws(" ",
              element_at(col("w"), i - 4), element_at(col("w"), i - 3),
              element_at(col("w"), i - 2), element_at(col("w"), i - 1)), 3) % 16 === 0,
            1L).otherwise(0L).as("brk")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("i"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val ch = t.select(col("doc_id"), col("source"), col("is_variant"),
          col("base_id"), explode(cells).as("c"))
        .select(col("doc_id"), col("source"), col("is_variant"), col("base_id"),
          col("c.i").as("i"), col("c.tok").as("tok"), col("c.brk").as("brk"))
        .withColumn("cdc_chunk", sum(col("brk")).over(w))
        .withColumn("fixed_chunk", expr("(i - 1) div 16"))
      def chunkFps(chunkCol: String): DataFrame = ch
        .groupBy(col("doc_id"), col("source"), col("is_variant"),
          col("base_id"), col(chunkCol))
        .agg(md5(array_join(transform(
          array_sort(collect_list(struct(col("i"), col("tok")))),
          c => c.getField("tok")), " ")).as("fp"))
      def sharedStat(fps: DataFrame, totalName: String, sharedName: String): DataFrame = {
        val v = fps.filter(col("is_variant") === 1)
        val b = fps.filter(col("is_variant") === 0)
          .select(col("doc_id").as("base_id"), col("fp"), lit(1L).as("hit"))
        v.join(b, Seq("base_id", "fp"), "left")
          .groupBy(col("source"), col("doc_id"))
          .agg(countDistinct(col("fp")).as(totalName),
            countDistinct(when(col("hit").isNotNull, col("fp"))).as(sharedName))
      }
      val cdc = sharedStat(chunkFps("cdc_chunk"), "cdc_chunks", "cdc_shared")
      val fx = sharedStat(chunkFps("fixed_chunk"), "fixed_chunks", "fixed_shared")
      cdc.join(fx, Seq("source", "doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_variants"),
          sum(col("cdc_chunks")).as("cdc_chunks"),
          sum(col("cdc_shared")).as("cdc_shared"),
          sum(col("fixed_chunks")).as("fixed_chunks"),
          sum(col("fixed_shared")).as("fixed_shared"))
        .orderBy(col("source"))
    },
    s"""WITH corp AS (
       |  SELECT doc_id, source, text, 0 AS is_variant, cast(NULL AS bigint) AS base_id FROM documents
       |  UNION ALL
       |  SELECT doc_id + 30000000, source, 'v2 ' || text, 1, doc_id FROM documents WHERE doc_id % 7 = 3),
       |t AS (SELECT doc_id, source, is_variant, base_id,
       |        string_split_regex(trim(text), '\\s+') AS w FROM corp),
       |pos AS (SELECT doc_id, source, is_variant, base_id,
       |          unnest(range(1, len(w)+1)) AS i, unnest(w) AS tok,
       |          unnest(list_transform(range(1, len(w)+1),
       |            i -> CASE WHEN i >= 5 AND (${PortableHash.bucketSql("(w[i-4] || ' ' || w[i-3] || ' ' || w[i-2] || ' ' || w[i-1])", 3)}) % 16 = 0
       |                 THEN 1 ELSE 0 END)) AS brk
       |        FROM t),
       |ch AS (SELECT doc_id, source, is_variant, base_id, i, tok,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS cdc_chunk,
       |         (i - 1) // 16 AS fixed_chunk
       |       FROM pos),
       |cdc AS (SELECT doc_id, source, is_variant, base_id, cdc_chunk,
       |          md5(string_agg(tok, ' ' ORDER BY i)) AS fp
       |        FROM ch GROUP BY 1, 2, 3, 4, 5),
       |fx AS (SELECT doc_id, source, is_variant, base_id, fixed_chunk,
       |          md5(string_agg(tok, ' ' ORDER BY i)) AS fp
       |        FROM ch GROUP BY 1, 2, 3, 4, 5),
       |vstat AS (
       |  SELECT v.source, v.doc_id,
       |    cast(count(DISTINCT v.fp) AS bigint) AS cdc_chunks,
       |    cast(count(DISTINCT CASE WHEN b.fp IS NOT NULL THEN v.fp END) AS bigint) AS cdc_shared
       |  FROM (SELECT * FROM cdc WHERE is_variant = 1) v
       |  LEFT JOIN (SELECT doc_id, fp FROM cdc WHERE is_variant = 0) b
       |    ON v.base_id = b.doc_id AND v.fp = b.fp
       |  GROUP BY 1, 2),
       |fstat AS (
       |  SELECT v.source, v.doc_id,
       |    cast(count(DISTINCT v.fp) AS bigint) AS fixed_chunks,
       |    cast(count(DISTINCT CASE WHEN b.fp IS NOT NULL THEN v.fp END) AS bigint) AS fixed_shared
       |  FROM (SELECT * FROM fx WHERE is_variant = 1) v
       |  LEFT JOIN (SELECT doc_id, fp FROM fx WHERE is_variant = 0) b
       |    ON v.base_id = b.doc_id AND v.fp = b.fp
       |  GROUP BY 1, 2)
       |SELECT source, cast(count(*) AS bigint) AS n_variants,
       |  ${OracleSql.bigSum("cdc_chunks")} AS cdc_chunks,
       |  ${OracleSql.bigSum("cdc_shared")} AS cdc_shared,
       |  ${OracleSql.bigSum("fixed_chunks")} AS fixed_chunks,
       |  ${OracleSql.bigSum("fixed_shared")} AS fixed_shared
       |FROM vstat JOIN fstat USING (source, doc_id)
       |GROUP BY source ORDER BY source""".stripMargin)

  /** q141: batch ≡ incremental dedup equivalence — the PROOF the whole
    * incremental-ingestion family (q101/q103/q105/q116/q139) rests on at
    * 100 TB, where re-running batch dedup over the full corpus per shard
    * is unaffordable: admitting a shard against the at-rest fingerprint
    * state must yield EXACTLY the survivor set a from-scratch batch
    * dedup over base ∪ shard would pick. Three legs over the q12
    * first-occurrence convention (min doc_id per md5 fingerprint):
    * BATCH re-deduplicates the union; INCREMENTAL takes the shard's
    * internal first-occurrences anti-joined against the at-rest
    * fingerprints; NAIVE deduplicates the shard in isolation (the
    * stateless mistake — it forgets the base). Judged output: the
    * per-source admission funnel, the overadmission count of the naive
    * leg (> 0 — the counterexample that makes the proof non-vacuous,
    * spec-pinned), and `equiv_diff` — the full-outer fingerprint-keyed
    * comparison of batch vs incremental survivors, which must be 0.
    *
    * Scale: every stage is fingerprint-keyed (groupBy fp / anti-join fp /
    * full-outer fp) — no windows, no broadcast hints on the
    * corpus-proportional fingerprint state; the at-rest survivor frame is
    * pinned once for its three consumers.
    */
  val q141DedupEquivalence: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = docs.select(col("doc_id"), md5(col("text")).as("fp"), col("source"))
      val shard = crawlShard(docs)
      val baseSurv = graft.core.Checkpoints.pin(
        base.groupBy(col("fp")).agg(min(col("doc_id")).as("id")))
      val shardFirst = shard.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("id"), min_by(col("source"), col("doc_id")).as("source"))
      val incAdm = shardFirst.join(baseSurv.select(col("fp")), Seq("fp"), "left_anti")
      val inc = baseSurv.unionByName(incAdm.select(col("fp"), col("id")))
      val batch = base.select(col("fp"), col("doc_id"))
        .unionByName(shard.select(col("fp"), col("doc_id")))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("bid"))
      val equiv = batch.join(inc.withColumnRenamed("id", "iid"), Seq("fp"), "full_outer")
        .agg(sum(when(not(col("bid") <=> col("iid")), 1L).otherwise(0L)).as("equiv_diff"))
      val perSrc = shard
        .join(baseSurv.select(col("fp"), lit(1L).as("in_base")), Seq("fp"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_shard"),
          sum(coalesce(col("in_base"), lit(0L))).as("n_dup_of_base"))
      val adm = incAdm.groupBy(col("source")).agg(count(lit(1)).as("n_admitted"))
      val nv = shardFirst.groupBy(col("source")).agg(count(lit(1)).as("n_naive_admitted"))
      perSrc.join(nv, Seq("source"))
        .join(adm, Seq("source"), "left")
        .crossJoin(broadcast(equiv))
        .select(col("source"), col("n_shard"), col("n_dup_of_base"),
          coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
          col("n_naive_admitted"),
          (col("n_naive_admitted") - coalesce(col("n_admitted"), lit(0L)))
            .as("n_overadmitted"),
          col("equiv_diff"))
        .orderBy(col("source"))
    },
    s"""WITH base AS (SELECT doc_id, md5(text) AS fp, source FROM documents),
       |$crawlShardSql,
       |base_surv AS (SELECT fp, min(doc_id) AS id FROM base GROUP BY fp),
       |shard_first AS (SELECT fp, min(doc_id) AS id, min_by(source, doc_id) AS source
       |                FROM shard GROUP BY fp),
       |inc_adm AS (SELECT sf.fp, sf.id, sf.source FROM shard_first sf
       |            WHERE NOT EXISTS (SELECT 1 FROM base_surv b WHERE b.fp = sf.fp)),
       |inc AS (SELECT fp, id FROM base_surv UNION ALL SELECT fp, id FROM inc_adm),
       |batch AS (SELECT fp, min(doc_id) AS bid FROM
       |            (SELECT fp, doc_id FROM base UNION ALL SELECT fp, doc_id FROM shard)
       |          GROUP BY fp),
       |eq AS (SELECT ${OracleSql.bigSum("CASE WHEN b.bid IS DISTINCT FROM i.id THEN 1 ELSE 0 END")} AS equiv_diff
       |       FROM batch b FULL OUTER JOIN inc i ON b.fp = i.fp),
       |ps AS (SELECT s.source, cast(count(*) AS bigint) AS n_shard,
       |         ${OracleSql.bigSum("CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END")} AS n_dup_of_base
       |       FROM shard s LEFT JOIN base_surv b ON s.fp = b.fp GROUP BY s.source),
       |adm AS (SELECT source, cast(count(*) AS bigint) AS n_admitted FROM inc_adm GROUP BY source),
       |nv AS (SELECT source, cast(count(*) AS bigint) AS n_naive_admitted FROM shard_first GROUP BY source)
       |SELECT ps.source AS source, ps.n_shard AS n_shard, ps.n_dup_of_base AS n_dup_of_base,
       |  cast(coalesce(adm.n_admitted, 0) AS bigint) AS n_admitted,
       |  nv.n_naive_admitted AS n_naive_admitted,
       |  cast(nv.n_naive_admitted - coalesce(adm.n_admitted, 0) AS bigint) AS n_overadmitted,
       |  eq.equiv_diff AS equiv_diff
       |FROM ps JOIN nv ON ps.source = nv.source
       |     LEFT JOIN adm ON ps.source = adm.source CROSS JOIN eq
       |ORDER BY source""".stripMargin)

  /** q142: Bloom-gated shard admission — the approximate membership
    * screen a 100 TB ingest runs BEFORE the exact q141 path: an
    * m = 4·n-bit / k = 2 Bloom filter over the at-rest fingerprints
    * blocks re-crawl duplicates without consulting the exact state,
    * judged with the EXACT accounting an approximate structure owes:
    * per source, probes / bloom-blocked / true duplicates / false
    * positives (blocked-but-novel — the docs the screen wrongly costs
    * you) / misses (admitted-but-duplicate — MUST be 0, the Bloom
    * no-false-negative guarantee, verified against ground truth) /
    * admitted. Bits are self-sized to the corpus (m = 4·|fingerprints|,
    * ~15% realized FP rate at every scale); the k positions are two
    * disjoint 48-bit slices of the md5 fingerprint itself
    * ([[PortableHash.hexSliceCol]] — no rehash, engine-portable, inside
    * the 56-bit exact window).
    *
    * Scale: the bit relation is DISTINCT positions ≤ 2·n longs — a
    * fraction of the fingerprint state it screens for, but still
    * corpus-proportional, so it is NEVER broadcast-hinted (a serving
    * deployment would collapse it into a real bitset; relationally the
    * position-keyed joins are the honest distributed equivalent and AQE
    * picks broadcast at test scale on its own). Probe joins are
    * position-keyed; the ground-truth join is fingerprint-keyed; the
    * pinned fingerprint frame feeds its three consumers once.
    */
  val q142BloomAdmission: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val baseFps = graft.core.Checkpoints.pin(
        docs.select(md5(col("text")).as("fp")).distinct())
      val mF = baseFps.agg((count(lit(1)) * lit(4L)).as("m"))
      def pos(fp: Column, start: Int): Column =
        PortableHash.hexSliceCol(fp, start, 12) % col("m")
      val bits = graft.core.Checkpoints.pin(
        baseFps.crossJoin(broadcast(mF))
          .select(explode(array(pos(col("fp"), 1), pos(col("fp"), 13))).as("pos"))
          .distinct())
      val probe = crawlShard(docs).crossJoin(broadcast(mF))
        .select(col("doc_id"), col("fp"), col("source"),
          pos(col("fp"), 1).as("p1"), pos(col("fp"), 13).as("p2"))
      probe
        .join(bits.select(col("pos").as("p1"), lit(1L).as("h1")), Seq("p1"), "left")
        .join(bits.select(col("pos").as("p2"), lit(1L).as("h2")), Seq("p2"), "left")
        .join(baseFps.select(col("fp"), lit(1L).as("td")), Seq("fp"), "left")
        .select(col("source"),
          when(col("h1").isNotNull && col("h2").isNotNull, 1L).otherwise(0L).as("bh"),
          coalesce(col("td"), lit(0L)).as("td"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_probed"),
          sum(col("bh")).as("n_blocked"),
          sum(col("td")).as("n_true_dup"),
          sum(col("bh") * (lit(1L) - col("td"))).as("n_false_pos"),
          sum((lit(1L) - col("bh")) * col("td")).as("n_missed"),
          sum(lit(1L) - col("bh")).as("n_admitted"))
        .orderBy(col("source"))
    },
    s"""WITH basefp AS (SELECT DISTINCT md5(text) AS fp FROM documents),
       |m AS (SELECT 4 * count(*) AS m FROM basefp),
       |$crawlShardSql,
       |bits AS (SELECT DISTINCT pos FROM (
       |    SELECT ${PortableHash.hexSliceSql("fp", 1, 12)} % m.m AS pos FROM basefp CROSS JOIN m
       |    UNION ALL
       |    SELECT ${PortableHash.hexSliceSql("fp", 13, 12)} % m.m AS pos FROM basefp CROSS JOIN m)),
       |probe AS (SELECT s.doc_id, s.fp, s.source,
       |            ${PortableHash.hexSliceSql("s.fp", 1, 12)} % m.m AS p1,
       |            ${PortableHash.hexSliceSql("s.fp", 13, 12)} % m.m AS p2
       |          FROM shard s CROSS JOIN m),
       |h AS (SELECT p.source,
       |        CASE WHEN b1.pos IS NOT NULL AND b2.pos IS NOT NULL THEN 1 ELSE 0 END AS bh,
       |        CASE WHEN bf.fp IS NOT NULL THEN 1 ELSE 0 END AS td
       |      FROM probe p LEFT JOIN bits b1 ON p.p1 = b1.pos
       |           LEFT JOIN bits b2 ON p.p2 = b2.pos
       |           LEFT JOIN basefp bf ON p.fp = bf.fp)
       |SELECT source, cast(count(*) AS bigint) AS n_probed,
       |  ${OracleSql.bigSum("bh")} AS n_blocked,
       |  ${OracleSql.bigSum("td")} AS n_true_dup,
       |  ${OracleSql.bigSum("bh * (1 - td)")} AS n_false_pos,
       |  ${OracleSql.bigSum("(1 - bh) * td")} AS n_missed,
       |  ${OracleSql.bigSum("1 - bh")} AS n_admitted
       |FROM h GROUP BY source ORDER BY source""".stripMargin)

  /** q89: near-dup graph degree histogram — how connected is the
    * candidate-pair graph (a spot check on LSH band tuning: a fat tail
    * here means a band is bucketing too coarsely). Reuses [[lshPairs]]
    * (bucket-local, never all-pairs); both rollups are map-side-
    * combinable counts, and the histogram is at most max-degree rows.
    */
  val q89DegreeHistogram: QuerySpec = QuerySpec(
    (s, dir) => {
      val deg = lshPairs(Tables.documents(s, dir))
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      deg.groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("degree"))
    },
    shSql + minhashSigSql + "\n" + lshPairsSql + "\n" +
      """, deg AS (SELECT doc_id, count(*) AS degree
        |          FROM (SELECT doc_a AS doc_id FROM pairs
        |                UNION ALL SELECT doc_b FROM pairs)
        |          GROUP BY doc_id)
        |SELECT cast(degree AS bigint) AS degree, cast(count(*) AS bigint) AS n_docs
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin)

  /** q91: PageRank over the near-dup candidate graph (2 unrolled
    * iterations, damping 0.85) — graph authority as a curation signal:
    * a document LSH-linked to many well-linked documents is template/
    * boilerplate mass. Ranks are INTEGER-QUANTIZED (q = rank·1e12 as
    * bigint, the q64 k-means trick): every per-iteration step — the
    * uniform init 1e12 div N, each contribution q div deg, the damped
    * update (15·B) div 100 + (85·Σ) div 100 — is integer arithmetic, so
    * contribution sums are order-independent and the judged result is
    * bit-identical on any partitioning, any cluster size, and in the
    * DuckDB oracle. (Double-valued PageRank would be partition-order
    * dependent and unjudgeable.) Dangling mass is dropped (standard
    * simplification); isolated docs keep the damping floor.
    *
    * Plan per iteration: edges ⋈ ranks co-partitioned on src, then a
    * map-side-combinable contribution sum keyed on dst — the canonical
    * distributed PageRank step. The edge relation (an LSH pipeline —
    * shingles → signatures → band join) is materialized ONCE,
    * pre-partitioned by src, via the same [[graft.core.Checkpoints]]
    * pin as [[graft.operators.ConnectedComponents]] (reliable-dir mode
    * available through `spark.graft.checkpointDir`): without it every
    * iteration AND the degree count re-derive the candidate pairs from
    * scratch (3× the LSH work), and the checkpoint's preserved
    * src-partitioning lets both iterations' join + the degree aggregate
    * consume it without re-exchanging. Ranks (one row per node) are the
    * only per-iteration moving data.
    */
  val q91PageRank: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val nodes = docs.select(col("doc_id"))
      val pr = lshPairs(docs)
      val edges = pr.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(pr.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .repartition(col("src"))
        .transform(graft.core.Checkpoints.pin)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val n = nodes.agg(count(lit(1)).as("n_docs"))
      val r0 = nodes.crossJoin(broadcast(n))
        .select(col("doc_id"), expr("CAST(1000000000000 AS bigint) div n_docs").as("q"))
      def iterate(r: DataFrame): DataFrame = {
        val c = edges.join(r.select(col("doc_id").as("src"), col("q")), Seq("src"))
          .join(deg, Seq("src"))
          .select(col("dst"), expr("q div d").as("contrib"))
          .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
        nodes.join(c, col("doc_id") === col("dst"), "left")
          .crossJoin(broadcast(n))
          .select(col("doc_id"),
            (expr("(15 * (CAST(1000000000000 AS bigint) div n_docs)) div 100") +
              expr("(85 * coalesce(s, CAST(0 AS bigint))) div 100")).as("q"))
      }
      iterate(iterate(r0))
        .select(col("doc_id"), col("q").as("rank_q"),
          (col("q").cast("double") / lit(1000000000000.0)).as("rank"))
        .orderBy(col("rank_q").desc, col("doc_id"))
    },
    shSql + minhashSigSql + "\n" + lshPairsSql + "\n" +
      """, nodes AS (SELECT doc_id FROM documents),
        |nn AS (SELECT count(*) AS n_docs FROM nodes),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        |r0 AS (SELECT doc_id,
        |         CAST(1000000000000 // (SELECT n_docs FROM nn) AS bigint) AS q
        |       FROM nodes),
        |c0 AS (SELECT e.dst AS dst, CAST(sum(r.q // g.d) AS bigint) AS s
        |       FROM edges e JOIN r0 r ON e.src = r.doc_id
        |       JOIN deg g ON g.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.doc_id,
        |         CAST((15 * (1000000000000 // (SELECT n_docs FROM nn))) // 100
        |           + (85 * coalesce(c.s, 0)) // 100 AS bigint) AS q
        |       FROM nodes n LEFT JOIN c0 c ON n.doc_id = c.dst),
        |c1 AS (SELECT e.dst AS dst, CAST(sum(r.q // g.d) AS bigint) AS s
        |       FROM edges e JOIN r1 r ON e.src = r.doc_id
        |       JOIN deg g ON g.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.doc_id,
        |         CAST((15 * (1000000000000 // (SELECT n_docs FROM nn))) // 100
        |           + (85 * coalesce(c.s, 0)) // 100 AS bigint) AS q
        |       FROM nodes n LEFT JOIN c1 c ON n.doc_id = c.dst)
        |SELECT doc_id, q AS rank_q, CAST(q AS double) / 1000000000000.0 AS rank
        |FROM r2 ORDER BY rank_q DESC, doc_id""".stripMargin)

  /** q95: LSH tuning audit — candidate quality of the banded MinHash
    * scheme (q18) against exact df-capped Jaccard ≥ 0.5 ground truth
    * (q20's definition, shared via one CTE/helper so the two can't
    * drift). Restricted to same-source candidate pairs — the truth is
    * source-blocked by construction, so cross-source candidates are
    * out of scope rather than false positives. The full-outer join of
    * two LSH/cap-bounded pair sets is candidate-sized, never
    * corpus-sized; precision/recall are guarded double ratios of exact
    * counts. This is the query an operator runs before committing band
    * parameters for a 100 TB dedup pass.
    */
  val q95LshAudit: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val truth = jaccardPairs(docs, JaccardDfCap)
        .select(col("doc_a"), col("doc_b"), lit(1).as("t"))
      val src = docs.select(col("doc_id"), col("source"))
      val cand = lshPairs(docs)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
        .filter(col("sa") === col("sb"))
        .select(col("doc_a"), col("doc_b"), lit(1).as("c"))
      truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          coalesce(sum(when(col("t").isNotNull && col("c").isNotNull, 1L).otherwise(0L)), lit(0L)).as("tp"),
          coalesce(sum(when(col("t").isNotNull && col("c").isNull, 1L).otherwise(0L)), lit(0L)).as("fn"),
          coalesce(sum(when(col("t").isNull && col("c").isNotNull, 1L).otherwise(0L)), lit(0L)).as("fp"))
        .select(col("tp"), col("fn"), col("fp"),
          when(col("tp") + col("fp") > 0,
            col("tp").cast("double") / (col("tp") + col("fp")).cast("double")).as("precision"),
          when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn")).cast("double")).as("recall"))
    },
    shSql + minhashSigSql + "\n" + lshPairsSql + "\n" + jaccardTruthSql +
      """, src AS (SELECT doc_id, source FROM documents),
        |candss AS (SELECT p.doc_a, p.doc_b FROM pairs p
        |           JOIN src a ON p.doc_a = a.doc_id
        |           JOIN src b ON p.doc_b = b.doc_id
        |           WHERE a.source = b.source),
        |m AS (SELECT
        |        CASE WHEN t.doc_a IS NOT NULL AND c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_tp,
        |        CASE WHEN t.doc_a IS NOT NULL AND c.doc_a IS NULL THEN 1 ELSE 0 END AS is_fn,
        |        CASE WHEN t.doc_a IS NULL AND c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_fp
        |      FROM truth t FULL OUTER JOIN candss c
        |        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
        |agg AS (SELECT cast(coalesce(sum(is_tp), 0) AS bigint) AS tp,
        |               cast(coalesce(sum(is_fn), 0) AS bigint) AS fn,
        |               cast(coalesce(sum(is_fp), 0) AS bigint) AS fp
        |        FROM m)
        |SELECT tp, fn, fp,
        |  CASE WHEN tp + fp > 0 THEN CAST(tp AS double) / CAST(tp + fp AS double) END AS precision,
        |  CASE WHEN tp + fn > 0 THEN CAST(tp AS double) / CAST(tp + fn AS double) END AS recall
        |FROM agg""".stripMargin)

  /** q101: incremental near-dup admission — the continuous-ingestion
    * dedup pattern: a new shard (the top 20% of doc_ids, a stand-in for
    * "today's crawl") is admitted against the accumulated corpus. Each
    * incoming doc is classified:
    *
    *  - `dup_of_corpus`: shares a MinHash band bucket with ANY existing
    *    doc — would be dropped by a dedup-at-ingest gate;
    *  - `dup_in_batch`: clean against the corpus but shares a bucket
    *    with a smaller-id doc in the SAME shard;
    *  - `new`: neither (docs too short to shingle are trivially new).
    *
    * Scale shape (the q71 decontamination asymmetry): the probe-side
    * strategy is ADAPTIVE, not hinted. A real daily shard is tiny
    * relative to the corpus and AQE (or static size estimation) will
    * broadcast its band rows so the accumulated corpus never shuffles;
    * but the shard is corpus-proportional BY CONSTRUCTION here (20% of
    * doc_ids), so forcing that broadcast would be a driver OOM at
    * 100 TB — the planner must be free to fall back to a
    * (band, bucket)-keyed shuffle join when the delta is large. At
    * rest the corpus index lives bucketed by (band, bucket), so the
    * large-delta join is co-located, not a full re-shuffle.
    * Within-batch dedup is a window over the shard's own band rows
    * (shard-sized keys). The only `broadcast` hints left are the
    * 80%-threshold scalar aggregate (exactly 1 row at any scale) —
    * `PlanAuditSpec` lints that no shard-derived frame is ever
    * broadcast-hinted again.
    */
  val q101IncrementalNearDup: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val thr = docs.agg(floor((max(col("doc_id")) + 1) * 0.8).cast("long").as("t"))
      val bands = minhashBands(docs).crossJoin(broadcast(thr))
      val incB = bands.filter(col("doc_id") >= col("t"))
        .select(col("doc_id"), col("band_id"), col("bucket"))
      val dupOfCorpus = bands.filter(col("doc_id") < col("t"))
        .join(incB.select(col("band_id").as("bi"), col("bucket").as("bu"),
          col("doc_id").as("inc_id")),
          col("band_id") === col("bi") && col("bucket") === col("bu"))
        .select(col("inc_id").as("doc_id")).distinct()
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band_id"), col("bucket")).orderBy(col("doc_id"))
      val dupInBatch = incB.withColumn("rn", row_number().over(wb))
        .filter(col("rn") > 1).select(col("doc_id")).distinct()
      docs.crossJoin(broadcast(thr)).filter(col("doc_id") >= col("t"))
        .join(dupOfCorpus.withColumn("dc", lit(1)), Seq("doc_id"), "left_outer")
        .join(dupInBatch.withColumn("db", lit(1)), Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("source"),
          when(col("dc").isNotNull, "dup_of_corpus")
            .when(col("db").isNotNull, "dup_in_batch")
            .otherwise("new").as("status"))
        .orderBy(col("doc_id"))
    },
    lshChainSql +
      """
        |, thr AS (SELECT cast(floor((max(doc_id) + 1) * 0.8) AS bigint) AS t FROM documents),
        |incb AS (SELECT doc_id, band_id, bucket FROM bands CROSS JOIN thr WHERE doc_id >= t),
        |dc AS (SELECT DISTINCT i.doc_id FROM bands b CROSS JOIN thr
        |       JOIN incb i ON b.band_id = i.band_id AND b.bucket = i.bucket
        |       WHERE b.doc_id < t),
        |db AS (SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY band_id, bucket ORDER BY doc_id) AS rn
        |    FROM incb) WHERE rn > 1)
        |SELECT d.doc_id AS doc_id, d.source AS source,
        |       CASE WHEN dc.doc_id IS NOT NULL THEN 'dup_of_corpus'
        |            WHEN db.doc_id IS NOT NULL THEN 'dup_in_batch'
        |            ELSE 'new' END AS status
        |FROM documents d CROSS JOIN thr
        |LEFT JOIN dc ON d.doc_id = dc.doc_id
        |LEFT JOIN db ON d.doc_id = db.doc_id
        |WHERE d.doc_id >= t ORDER BY d.doc_id""".stripMargin)

  private val DedupChunkToks = 16

  /** [[DedupChunkToks]]-token chunks of each document as an exploded
    * (doc_id, source, chunk_id, chunk) relation — the shared dedup unit
    * of q98 (first-occurrence dedup) and q102 (boilerplate removal).
    * Expression-only: array slices of the token split — no token
    * explode, ≤ ceil(n_toks/16) narrow rows per doc.
    */
  private def chunked(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        split(trim(col("text")), "\\s+").as("t"))
      .select(col("doc_id"), col("source"), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(t) / $DedupChunkToks.0) AS int) - 1), " +
          s"i -> array_join(slice(t, i * $DedupChunkToks + 1, $DedupChunkToks), ' '))")))
      .select(col("doc_id"), col("source"),
        col("pos").cast("long").as("chunk_id"), col("col").as("chunk"))

  /** Oracle twin of [[chunked]] as a `ch` CTE. */
  private val chunkSql =
    s"""WITH d AS (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t
       |           FROM documents WHERE text IS NOT NULL),
       |ch0 AS (SELECT doc_id, source,
       |          unnest(range(0, cast(ceil(len(t) / $DedupChunkToks.0) AS bigint))) AS chunk_id, t
       |        FROM d),
       |ch AS (SELECT doc_id, source, chunk_id,
       |         array_to_string(t[chunk_id * $DedupChunkToks + 1 : (chunk_id + 1) * $DedupChunkToks], ' ') AS chunk
       |       FROM ch0)""".stripMargin

  /** q98: chunk-level first-occurrence dedup — the C4/RefinedWeb "line
    * dedup" shape at sub-document granularity (this corpus is
    * single-line, so the dedup unit is a [[DedupChunkToks]]-token
    * chunk): each distinct chunk survives only at its first occurrence
    * in corpus order (doc_id, chunk_id); later repeats are dropped and
    * every document is reassembled from its surviving chunks in
    * original order (md5 of the reassembled text is judged, so the
    * ordered rebuild — not just the counts — is under the hash gate).
    *
    * Scale: chunking is expression-only (see [[chunked]]).
    * First-occurrence selection is `row_number` PARTITIONED BY the
    * chunk text: key cardinality ≈ corpus chunk count and per-key rows
    * = that chunk's duplicate count, so there is no hot reducer (this
    * is NOT a global window funnel). Reassembly groups by doc, state
    * bounded by the doc's own chunk list. Two keyed exchanges total —
    * the global chunk key and the doc key — both inherent to the
    * semantics.
    */
  val q98ChunkDedup: QuerySpec = QuerySpec(
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("chunk")).orderBy(col("doc_id"), col("chunk_id"))
      chunked(Tables.documents(s, dir))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id"), col("source"))
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          md5(expr("cast(array_join(transform(array_sort(" +
            "collect_list(CASE WHEN rn = 1 THEN named_struct('chunk_id', chunk_id, 'chunk', chunk) END)" +
            "), x -> x.chunk), ' ') AS binary)")).as("kept_md5"))
        .orderBy(col("doc_id"))
    },
    chunkSql + "\n" +
      s""", r AS (SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_id) AS rn FROM ch)
         |SELECT doc_id, source, cast(count(*) AS bigint) AS n_chunks,
         |       ${OracleSql.bigSum("CASE WHEN rn = 1 THEN 1 ELSE 0 END")} AS n_kept,
         |       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_id), '')) AS kept_md5
         |FROM r GROUP BY doc_id, source ORDER BY doc_id""".stripMargin)

  private val BoilerMinCount = 3

  /** q102: C4-style boilerplate removal — drop EVERY occurrence of any
    * chunk appearing ≥ [[BoilerMinCount]] times in the corpus (C4 drops
    * any three-sentence span seen ≥ 2×; RefinedWeb's line filter is the
    * same shape). The contrast with q98 is the policy: first-occurrence
    * dedup KEEPS one copy of a repeated chunk, a boilerplate filter
    * keeps NONE — nav bars, license headers and cookie banners are
    * noise wherever they appear, including the first time. The judged
    * row carries the reassembled-text md5, so the ordered rebuild is
    * under the hash gate, not just the counts.
    *
    * Scale: corpus frequency rides the SAME chunk-keyed exchange the
    * policy needs anyway — `count(*) OVER (PARTITION BY chunk)` — so
    * the whole filter is one chunk-keyed shuffle plus the doc-keyed
    * reassembly; no separate count table, no join-back. Key cardinality
    * ≈ corpus chunk count, per-key rows = that chunk's repeat count, so
    * there is no hot reducer; a pathological mega-chunk (millions of
    * repeats at 100 TB) is the one skew risk, and AQE skew-split
    * handles it because the frame is the whole partition (no ordering).
    */
  val q102Boilerplate: QuerySpec = QuerySpec(
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("chunk"))
      chunked(Tables.documents(s, dir))
        .withColumn("freq", count(lit(1)).over(w))
        .groupBy(col("doc_id"), col("source"))
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("freq") >= BoilerMinCount, 1L).otherwise(0L)).as("n_boiler"),
          md5(expr("cast(array_join(transform(array_sort(" +
            s"collect_list(CASE WHEN freq < $BoilerMinCount THEN named_struct('chunk_id', chunk_id, 'chunk', chunk) END)" +
            "), x -> x.chunk), ' ') AS binary)")).as("kept_md5"))
        .orderBy(col("doc_id"))
    },
    chunkSql + "\n" +
      s""", r AS (SELECT *, count(*) OVER (PARTITION BY chunk) AS freq FROM ch)
         |SELECT doc_id, source, cast(count(*) AS bigint) AS n_chunks,
         |       ${OracleSql.bigSum(s"CASE WHEN freq >= $BoilerMinCount THEN 1 ELSE 0 END")} AS n_boiler,
         |       md5(coalesce(string_agg(CASE WHEN freq < $BoilerMinCount THEN chunk END, ' ' ORDER BY chunk_id), '')) AS kept_md5
         |FROM r GROUP BY doc_id, source ORDER BY doc_id""".stripMargin)

  private val IndexDfMax = 8

  /** q103: incremental inverted-index maintenance — the q86 index as a
    * MERGEABLE artifact. The at-rest corpus (doc_id < t, the q101 80%
    * split) is indexed and materialized to the staging store — the
    * "index at rest" — then the delta shard (doc_id ≥ t) is indexed
    * alone and the judged result is the exact merge of the two. The
    * oracle recomputes the index from the FULL corpus in one shot, so
    * equality with it IS the incremental-maintenance soundness claim
    * (the q90 argument, lifted from additive longs to bounded sets).
    *
    * Why the merge is exact under the df cap: the artifact stores
    * BOUNDED posting sets (bound = df_max+1 = 9, the q86 aggregator),
    * NOT the band-filtered index — the band filter alone is not
    * incrementally maintainable (a term at df=1 in each half is absent
    * from both partial indexes yet belongs in the merged 2..8 band).
    * Bounded sets are: the two doc-sets are DISJOINT (the split is by
    * doc_id), so merged df = df_rest + df_delta exactly whenever both
    * sides are below bound, and a side that saturated (true df ≥ 9)
    * forces the sum past df_max so the band filter discards the term —
    * the q86 saturation contract, carried across the merge boundary.
    * Postings concat stays sorted for free: rest ids < t ≤ delta ids,
    * each side pre-sorted by the aggregator.
    *
    * Scale: the merge is ONE full-outer join keyed on term between the
    * delta index and the at-rest artifact — the at-rest corpus TEXT is
    * never rescanned (here the artifact is rebuilt in-run because the
    * gate is one-shot; in production it persists term-bucketed, making
    * the merge delta-sized and co-located with no exchange on the
    * at-rest side). Origin accounting (rest/delta/both) is judged so
    * the merge structure itself is under the gate.
    */
  val q103IncrementalIndex: QuerySpec = QuerySpec(
    (s, dir) => {
      val bdistinct = udaf(new graft.functions.BoundedDistinct(IndexDfMax + 1))
      val docs = Tables.documents(s, dir)
      val thr = docs.agg(floor((max(col("doc_id")) + 1) * 0.8).cast("long").as("t"))
      val sh = shingles(docs).crossJoin(broadcast(thr))
      val stage = graft.core.Staging.invocationDir("graft_q103_index", dir)
      sh.filter(col("doc_id") < col("t"))
        .groupBy(col("sh")).agg(bdistinct(col("doc_id")).as("docs_r"))
        .write.mode("overwrite").parquet(stage)
      val rest = s.read.parquet(stage)
      val delta = sh.filter(col("doc_id") >= col("t"))
        .groupBy(col("sh")).agg(bdistinct(col("doc_id")).as("docs_d"))
      rest.join(delta, Seq("sh"), "full_outer")
        .select(col("sh"),
          coalesce(col("docs_r"), expr("CAST(array() AS array<bigint>)")).as("docs_r"),
          coalesce(col("docs_d"), expr("CAST(array() AS array<bigint>)")).as("docs_d"))
        .select(col("sh"),
          (size(col("docs_r")) + size(col("docs_d"))).cast("long").as("df"),
          when(size(col("docs_d")) === 0, "rest")
            .when(size(col("docs_r")) === 0, "delta")
            .otherwise("both").as("origin"),
          expr("array_join(transform(concat(docs_r, docs_d), x -> cast(x AS string)), ',')")
            .as("postings"))
        .filter(col("df").between(2, IndexDfMax))
        .orderBy(col("sh"))
    },
    shSql +
      s"""
         |, thr AS (SELECT cast(floor((max(doc_id) + 1) * 0.8) AS bigint) AS t FROM documents),
         |ds AS (SELECT DISTINCT s.doc_id, s.sh, s.doc_id >= thr.t AS is_delta
         |       FROM shx s CROSS JOIN thr),
         |g AS (SELECT sh, count(*) AS df,
         |        count(*) FILTER (WHERE is_delta) AS df_d,
         |        count(*) FILTER (WHERE NOT is_delta) AS df_r
         |      FROM ds GROUP BY sh HAVING count(*) BETWEEN 2 AND $IndexDfMax)
         |SELECT ds.sh AS sh, cast(g.df AS bigint) AS df,
         |       CASE WHEN g.df_d = 0 THEN 'rest'
         |            WHEN g.df_r = 0 THEN 'delta' ELSE 'both' END AS origin,
         |       string_agg(CAST(ds.doc_id AS varchar), ',' ORDER BY ds.doc_id) AS postings
         |FROM ds JOIN g ON ds.sh = g.sh
         |GROUP BY ds.sh, g.df, g.df_d, g.df_r
         |ORDER BY sh""".stripMargin)

  /** q105: shard novelty scoring — for each document of an incoming
    * shard (doc_id ≥ t, the q101 80% split), the fraction of its
    * distinct trigrams never seen in the at-rest corpus. The third leg
    * of the incremental-ingestion family: q101 answers "is this doc a
    * near-dup", q103 maintains the searchable index, q105 scores how
    * much NEW material a shard actually contributes — the curation
    * signal for weighting (or rejecting) a crawl source whose shards
    * stop adding information. Novelty 0 means every trigram is already
    * in the corpus (a q101 'new' verdict can still carry nothing new —
    * LSH admission and n-gram novelty measure different things).
    *
    * Scale: the at-rest trigram set is built by a map-side-combinable
    * distinct keyed on the trigram, and the probe is a trigram-keyed
    * left join against the DELTA's (doc, trigram) pairs — both sides
    * arrive hash-partitioned on the same key from their own distincts,
    * so the join adds no exchange (AQE reuses the partitioning). The
    * per-doc rollup is delta-sized. The exact join is the judged path;
    * at 100 TB a Bloom filter over the at-rest set (the q67 machinery)
    * can pre-drop definitely-novel probes to cut the join's build side,
    * trading nothing — false positives only send a probe to the exact
    * join, never flip a verdict. The novelty ratio is one IEEE divide
    * of exact integer counts — bit-identical in both engines.
    */
  val q105ShardNovelty: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val thr = docs.agg(floor((max(col("doc_id")) + 1) * 0.8).cast("long").as("t"))
      val sh = shingles(docs).crossJoin(broadcast(thr))
      val rest = sh.filter(col("doc_id") < col("t"))
        .select(col("sh")).distinct().withColumn("seen", lit(1L))
      sh.filter(col("doc_id") >= col("t"))
        .select(col("doc_id"), col("sh")).distinct()
        .join(rest, Seq("sh"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          (count(lit(1)) - count(col("seen"))).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_shingles").cast("double")).as("novelty"))
        .orderBy(col("doc_id"))
    },
    shSql +
      """
        |, thr AS (SELECT cast(floor((max(doc_id) + 1) * 0.8) AS bigint) AS t FROM documents),
        |rest AS (SELECT DISTINCT sh FROM shx CROSS JOIN thr WHERE doc_id < t),
        |inc AS (SELECT DISTINCT doc_id, sh FROM shx CROSS JOIN thr WHERE doc_id >= t)
        |SELECT i.doc_id AS doc_id,
        |       cast(count(*) AS bigint) AS n_shingles,
        |       cast(count(*) - count(r.sh) AS bigint) AS n_novel,
        |       cast(count(*) - count(r.sh) AS double) / cast(count(*) AS double) AS novelty
        |FROM inc i LEFT JOIN rest r ON i.sh = r.sh
        |GROUP BY i.doc_id ORDER BY doc_id""".stripMargin)

  /** q117: the nightly shard-ingest pipeline END-TO-END — the three
    * incremental-ingestion legs composed into ONE judged plan, the way a
    * 100 TB operator actually runs them (the reference's own run-to-run
    * upsert loop is this shape at toy scale — data_ingestion's repeated
    * ingest→split→apply cycle):
    *
    *  1. ADMISSION (the q101 scheme, shared [[minhashBands]]): each
    *     shard doc (doc_id ≥ t, the 80% split) is classified
    *     dup_of_corpus / dup_in_batch / new;
    *  2. STATE APPEND: the admitted ('new') docs are PHYSICALLY
    *     appended to the corpus state store and the post-ingest doc
    *     count is read back from the store — the judged number proves
    *     the append, not a formula;
    *  3. INDEX MERGE (the q103 machinery, bounded posting sets): the
    *     delta index is built over the ADMITTED docs only — not the raw
    *     shard — and full-outer-merged with the at-rest index; term
    *     counts by origin (rest/delta/both) are judged;
    *  4. NOVELTY (the q105 machinery): the admitted slice's distinct
    *     trigrams probed against the at-rest set.
    *
    * Output: the post-ingest state summary as (metric, value) rows —
    * judging the COMPOSITION catches interface drift the individual
    * legs can't (e.g. downstream stages consuming the raw shard instead
    * of the admission stage's output: stages 3–4 here take their doc
    * set from stage 1's verdicts, and the oracle replays that chain).
    *
    * Scale: every leg keeps its judged plan shape — the admission probe
    * is planner-adaptive (NO broadcast hint on any shard-derived frame,
    * the q101 lesson, linted by PlanAuditSpec), the index merge is one
    * term-keyed full-outer join, the novelty probe one trigram-keyed
    * left join. Stage OUTPUTS are materialized to the staging store
    * between jobs — exactly how an orchestrator runs this nightly (the
    * admission verdicts, the appended corpus state, and the at-rest
    * index are each real persisted artifacts the next stage reads
    * back), which also keeps the judged summary plan free of the N-fold
    * re-execution a single fused plan would pay for the admission
    * subtree. The split threshold is ONE scalar, fetched driver-side
    * (the sanctioned single-row `.head()` shape) and inlined as a
    * literal so every stage prunes on `doc_id` instead of replaying the
    * max-aggregate per branch. The at-rest corpus/index are staged
    * in-run only because the gate is one-shot (the q103 argument); in
    * production they persist, so the nightly cost is delta-sized:
    * admitted-docs append + delta-index merge + probe. The summary
    * collapses each leg to a one-row aggregate BEFORE the union, so
    * the final assembly moves ~12 rows regardless of corpus size.
    */
  /** The batch shard-admission verdicts (q117's job 1): each shard doc
    * (doc_id ≥ t) classified dup_of_corpus / dup_in_batch / new over
    * the shared [[minhashBands]]. ONE frame for q117 (which persists it
    * as the nightly artifact) and for q157's batch certificate leg
    * (`streaming/StreamingQueries`), so the streamed composition is
    * proven against the exact plan the batch pipeline runs — not a
    * parallel re-derivation that could drift.
    */
  private[graft] def admissionVerdicts(docs: DataFrame, t: Long): DataFrame = {
    val bands = minhashBands(docs)
    val incB = bands.filter(col("doc_id") >= t)
      .select(col("doc_id"), col("band_id"), col("bucket"))
    val dupOfCorpus = bands.filter(col("doc_id") < t)
      .join(incB.select(col("band_id").as("bi"), col("bucket").as("bu"),
        col("doc_id").as("inc_id")),
        col("band_id") === col("bi") && col("bucket") === col("bu"))
      .select(col("inc_id").as("doc_id")).distinct()
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_id"), col("bucket")).orderBy(col("doc_id"))
    val dupInBatch = incB.withColumn("rn", row_number().over(wb))
      .filter(col("rn") > 1).select(col("doc_id")).distinct()
    docs.filter(col("doc_id") >= t)
      .join(dupOfCorpus.withColumn("dc", lit(1)), Seq("doc_id"), "left_outer")
      .join(dupInBatch.withColumn("db", lit(1)), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("source"), col("text"), col("lang"),
        when(col("dc").isNotNull, "dup_of_corpus")
          .when(col("db").isNotNull, "dup_in_batch")
          .otherwise("new").as("status"))
  }

  /** Oracle twin of [[admissionVerdicts]]: the thr/incb/dc/db/st CTE
    * fragment over [[lshChainSql]]'s bands — shared by q117's and
    * q157's oracles (a def: oracle vals interpolate it at object init).
    */
  private[graft] def admissionStatusSql: String =
    s"""
       |, thr AS (SELECT cast(floor((max(doc_id) + 1) * 0.8) AS bigint) AS t FROM documents),
       |incb AS (SELECT doc_id, band_id, bucket FROM bands CROSS JOIN thr WHERE doc_id >= t),
       |dc AS (SELECT DISTINCT i.doc_id FROM bands b CROSS JOIN thr
       |       JOIN incb i ON b.band_id = i.band_id AND b.bucket = i.bucket
       |       WHERE b.doc_id < t),
       |db AS (SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY band_id, bucket ORDER BY doc_id) AS rn
       |    FROM incb) WHERE rn > 1),
       |st AS (SELECT d.doc_id, d.source, d.text,
       |         CASE WHEN dc.doc_id IS NOT NULL THEN 'dup_of_corpus'
       |              WHEN db.doc_id IS NOT NULL THEN 'dup_in_batch'
       |              ELSE 'new' END AS status
       |       FROM documents d CROSS JOIN thr
       |       LEFT JOIN dc ON d.doc_id = dc.doc_id
       |       LEFT JOIN db ON d.doc_id = db.doc_id
       |       WHERE d.doc_id >= t)""".stripMargin

  val q117ShardIngestE2e: QuerySpec = QuerySpec(
    (s, dir) => {
      val bdistinct = udaf(new graft.functions.BoundedDistinct(IndexDfMax + 1))
      val docs = Tables.documents(s, dir)
      val t = docs.agg(floor((max(col("doc_id")) + 1) * 0.8).cast("long")).head().getLong(0)
      val stage = graft.core.Staging.invocationDir("graft_q117_state", dir)

      // job 1: admission verdicts (q101 scheme, shared bands) → artifact
      admissionVerdicts(docs, t)
        .write.mode("overwrite").parquet(s"$stage/admissions")
      val adm = s.read.parquet(s"$stage/admissions")
      val admitted = adm.filter(col("status") === "new")
      val admittedIds = admitted.select(col("doc_id"))

      // job 2: physical state append + read-back
      docs.filter(col("doc_id") < t)
        .select(col("doc_id"), col("source"), col("text"), col("lang"))
        .write.mode("overwrite").parquet(s"$stage/corpus")
      admitted.select(col("doc_id"), col("source"), col("text"), col("lang"))
        .write.mode("append").parquet(s"$stage/corpus")
      val post = s.read.parquet(s"$stage/corpus")

      // job 3: at-rest index → artifact (the q103 shape); delta index
      // restricted to ADMITTED docs — the composition property
      val sh = shingles(docs)
      sh.filter(col("doc_id") < t)
        .groupBy(col("sh")).agg(bdistinct(col("doc_id")).as("docs_r"))
        .write.mode("overwrite").parquet(s"$stage/index_rest")
      val restIdx = s.read.parquet(s"$stage/index_rest")
      val deltaIdx = sh.filter(col("doc_id") >= t)
        .join(admittedIds, Seq("doc_id"), "left_semi")
        .groupBy(col("sh")).agg(bdistinct(col("doc_id")).as("docs_d"))
      val merged = restIdx.join(deltaIdx, Seq("sh"), "full_outer")
        .select(
          (size(coalesce(col("docs_r"), expr("CAST(array() AS array<bigint>)"))) +
            size(coalesce(col("docs_d"), expr("CAST(array() AS array<bigint>)")))).cast("long").as("df"),
          when(col("docs_d").isNull, "rest")
            .when(col("docs_r").isNull, "delta")
            .otherwise("both").as("origin"))
        .filter(col("df").between(2, IndexDfMax))

      // stage 4: novelty of the admitted slice vs the at-rest set
      val restSet = sh.filter(col("doc_id") < t)
        .select(col("sh")).distinct().withColumn("seen", lit(1L))
      val novelty = sh.filter(col("doc_id") >= t)
        .join(admittedIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("sh")).distinct()
        .join(restSet, Seq("sh"), "left_outer")
        .agg(count(lit(1)).as("admitted_shingles"),
          (count(lit(1)) - count(col("seen"))).as("admitted_novel_shingles"))

      // post-ingest summary: every leg as a one-row aggregate → kv rows
      def kv(df: DataFrame): DataFrame =
        df.select(explode(map(
          df.columns.flatMap(c => Seq(lit(c), coalesce(col(c).cast("long"), lit(0L)))).toSeq: _*)))
          .select(col("key").as("metric"), col("value"))
      val admSummary = adm.agg(
        count(lit(1)).as("shard_docs"),
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("admitted_new"),
        sum(when(col("status") === "dup_of_corpus", 1L).otherwise(0L)).as("dup_of_corpus"),
        sum(when(col("status") === "dup_in_batch", 1L).otherwise(0L)).as("dup_in_batch"),
        sum(when(col("status") === "new",
          size(split(trim(col("text")), "\\s+")).cast("long"))).as("admitted_tokens"))
      val preCount = docs.filter(col("doc_id") < t)
        .agg(count(lit(1)).as("corpus_docs_pre"))
      val postCount = post.agg(count(lit(1)).as("corpus_docs_post"))
      val idxSummary = merged.agg(
        sum(when(col("origin") === "rest", 1L).otherwise(0L)).as("index_terms_rest"),
        sum(when(col("origin") === "delta", 1L).otherwise(0L)).as("index_terms_delta"),
        sum(when(col("origin") === "both", 1L).otherwise(0L)).as("index_terms_both"))
      kv(admSummary).unionByName(kv(preCount)).unionByName(kv(postCount))
        .unionByName(kv(idxSummary)).unionByName(kv(novelty))
        .orderBy(col("metric"))
    },
    lshChainSql + admissionStatusSql +
      s"""
         |, admitted AS (SELECT doc_id, text FROM st WHERE status = 'new'),
         |-- merged index over rest ∪ admitted: the bounded-set merge is
         |-- exact under the df cap (q103's argument), so the one-shot
         |-- recompute here IS the merge's oracle
         |ds AS (SELECT DISTINCT s.doc_id, s.sh, s.doc_id >= thr.t AS is_delta
         |       FROM shx s CROSS JOIN thr
         |       WHERE s.doc_id < thr.t OR s.doc_id IN (SELECT doc_id FROM admitted)),
         |g AS (SELECT sh, count(*) AS df,
         |        count(*) FILTER (WHERE is_delta) AS df_d,
         |        count(*) FILTER (WHERE NOT is_delta) AS df_r
         |      FROM ds GROUP BY sh HAVING count(*) BETWEEN 2 AND $IndexDfMax),
         |restset AS (SELECT DISTINCT sh FROM shx CROSS JOIN thr WHERE doc_id < t),
         |incsh AS (SELECT DISTINCT s.doc_id, s.sh FROM shx s CROSS JOIN thr
         |          WHERE s.doc_id >= thr.t AND s.doc_id IN (SELECT doc_id FROM admitted)),
         |nv AS (SELECT cast(count(*) AS bigint) AS n_sh,
         |              cast(count(*) - count(r.sh) AS bigint) AS n_novel
         |       FROM incsh i LEFT JOIN restset r ON i.sh = r.sh)
         |SELECT metric, value FROM (
         |  SELECT 'shard_docs' AS metric, cast(count(*) AS bigint) AS value FROM st
         |  UNION ALL SELECT 'admitted_new', cast(coalesce(${OracleSql.bigSum("CASE WHEN status = 'new' THEN 1 ELSE 0 END")}, 0) AS bigint) FROM st
         |  UNION ALL SELECT 'dup_of_corpus', cast(coalesce(${OracleSql.bigSum("CASE WHEN status = 'dup_of_corpus' THEN 1 ELSE 0 END")}, 0) AS bigint) FROM st
         |  UNION ALL SELECT 'dup_in_batch', cast(coalesce(${OracleSql.bigSum("CASE WHEN status = 'dup_in_batch' THEN 1 ELSE 0 END")}, 0) AS bigint) FROM st
         |  UNION ALL SELECT 'admitted_tokens', cast(coalesce(sum(len(string_split_regex(trim(text), '\\s+'))), 0) AS bigint) FROM admitted
         |  UNION ALL SELECT 'corpus_docs_pre', cast(count(*) AS bigint)
         |            FROM documents d CROSS JOIN thr WHERE d.doc_id < t
         |  UNION ALL SELECT 'corpus_docs_post',
         |            cast((SELECT count(*) FROM documents d CROSS JOIN thr WHERE d.doc_id < t)
         |               + (SELECT count(*) FROM admitted) AS bigint)
         |  UNION ALL SELECT 'index_terms_rest', cast(coalesce(${OracleSql.bigSum("CASE WHEN df_d = 0 THEN 1 ELSE 0 END")}, 0) AS bigint) FROM g
         |  UNION ALL SELECT 'index_terms_delta', cast(coalesce(${OracleSql.bigSum("CASE WHEN df_r = 0 THEN 1 ELSE 0 END")}, 0) AS bigint) FROM g
         |  UNION ALL SELECT 'index_terms_both', cast(coalesce(${OracleSql.bigSum("CASE WHEN df_d > 0 AND df_r > 0 THEN 1 ELSE 0 END")}, 0) AS bigint) FROM g
         |  UNION ALL SELECT 'admitted_shingles', n_sh FROM nv
         |  UNION ALL SELECT 'admitted_novel_shingles', n_novel FROM nv
         |) ORDER BY metric""".stripMargin)

  private val SpanGram = 8
  private val SpanDfCap = 8
  private val SpanMinRun = 16

  /** Cross-doc positioned gram matches (doc_a < doc_b, pa, pb) over the
    * df-banded [[SpanGram]]-gram universe — the shared core of q119
    * (pairwise runs) and q121 (per-doc coverage), one frame so the two
    * cannot drift.
    */
  private def spanMatches(docs: DataFrame): DataFrame = {
    val gr = toks(docs).filter(size(col("w")) >= SpanGram)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(w) - $SpanGram), i -> array_join(slice(w, i + 1, $SpanGram), ' '))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("col").as("gram"))
    val band = gr.groupBy(col("gram")).agg(countDistinct(col("doc_id")).as("d"))
      .filter(col("d").between(2, SpanDfCap)).select(col("gram"))
    val grf = gr.join(band, Seq("gram"))
    grf.select(col("gram"), col("doc_id").as("doc_a"), col("p").as("pa"))
      .join(grf.select(col("gram"), col("doc_id").as("doc_b"), col("p").as("pb")), Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
  }

  /** Oracle twin of [[spanMatches]] as an `m` CTE. */
  private val spanMatchSql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents WHERE text IS NOT NULL),
       |gr AS (SELECT doc_id, p, array_to_string(w[p : p + ${SpanGram - 1}], ' ') AS gram
       |       FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${SpanGram - 2})) AS p
       |             FROM t WHERE len(w) >= $SpanGram)),
       |band AS (SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS d FROM gr GROUP BY gram)
       |         WHERE d BETWEEN 2 AND $SpanDfCap),
       |grf AS (SELECT gr.* FROM gr JOIN band USING (gram)),
       |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
       |      FROM grf a JOIN grf b ON a.gram = b.gram AND a.doc_id < b.doc_id)""".stripMargin

  /** q119: exact repeated-span detection — for each document pair, the
    * LONGEST verbatim token run they share (plus run count and total
    * shared-run mass), the exact-substring dedup signal of Lee et al.'s
    * "Deduplicating Training Data" line of work. This is the missing
    * rung between q98 (fixed 16-token chunk identity — misses runs that
    * straddle chunk boundaries or shift by one token) and the LSH
    * family (set-similarity — blind to WHERE the overlap is and whether
    * it is contiguous): memorization risk tracks long VERBATIM spans,
    * which only position-aware matching sees.
    *
    * Method: [[SpanGram]]-token grams with their positions; two docs
    * matching at positions (pa, pb) and (pa+1, pb+1) are the SAME span
    * continued, so maximal runs are diagonal islands — group matches by
    * (pair, pb − pa) and split on gaps in pa (the classic
    * `pa − row_number()` island key); a run of k consecutive grams is
    * k + [[SpanGram]] − 1 shared tokens. Exact integers end-to-end, so
    * the DuckDB oracle replays the identical chain.
    *
    * Scale: gram postings are df-banded (2..[[SpanDfCap]] distinct
    * docs) BEFORE pairing — df=1 grams cannot match cross-doc and
    * hot grams are boilerplate (q102's mandate), so per-gram join
    * fan-out is ≤ cap² — and every stage is keyed: the pair join on the
    * gram, the island window on (pair, diagonal) whose per-key row
    * count is the run length itself, the rollup on the pair. No global
    * window, no unblocked pairing. At 100 TB the same plan composes
    * with q18's LSH candidates as a pre-filter (probe only candidate
    * pairs), trading recall for the postings join — not needed at gate
    * scale where the df band alone bounds the work.
    */
  val q119RepeatedSpans: QuerySpec = QuerySpec(
    (s, dir) => {
      val m = spanMatches(Tables.documents(s, dir))
        .select(col("doc_a"), col("doc_b"), col("pa"), (col("pb") - col("pa")).as("diag"))
      val wIsl = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pa"))
      val runs = m.withColumn("isl", col("pa") - row_number().over(wIsl))
        .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
        .agg((count(lit(1)) + (SpanGram - 1)).as("run_toks"))
      runs.groupBy(col("doc_a"), col("doc_b"))
        .agg(max(col("run_toks")).as("max_run"),
          count(lit(1)).as("n_runs"),
          sum(col("run_toks")).as("total_run_toks"))
        .filter(col("max_run") >= SpanMinRun)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    spanMatchSql +
      s"""
       |, runs AS (SELECT doc_a, doc_b, pb - pa AS diag, pa,
       |           pa - row_number() OVER (PARTITION BY doc_a, doc_b, pb - pa ORDER BY pa) AS isl
       |         FROM m),
       |r AS (SELECT doc_a, doc_b, diag, isl, count(*) + ${SpanGram - 1} AS run_toks
       |      FROM runs GROUP BY doc_a, doc_b, diag, isl)
       |SELECT doc_a, doc_b, cast(max(run_toks) AS bigint) AS max_run,
       |       cast(count(*) AS bigint) AS n_runs,
       |       cast(sum(run_toks) AS bigint) AS total_run_toks
       |FROM r GROUP BY doc_a, doc_b HAVING max(run_toks) >= $SpanMinRun
       |ORDER BY doc_a, doc_b""".stripMargin)

  /** q121: span-coverage — per DOCUMENT, the fraction of its tokens
    * inside any cross-doc shared [[SpanGram]]-gram match: the
    * memorization-exposure/decontamination audit at document
    * granularity (q119 tells you WHICH PAIRS share long runs; q121
    * tells you HOW MUCH of each doc is non-original — the number a
    * curation gate thresholds on). Matched gram STARTS are unioned
    * across all partners, each covering tokens [p, p+7]; since every
    * interval has the same length, intervals merge exactly when
    * consecutive starts gap ≤ 7, so coverage is the island sum of
    * `last − first + SpanGram` over gap>7 breaks (lag + running sum —
    * exact integers; the ratio is one IEEE divide).
    *
    * Scale: rides [[spanMatches]] (df-banded postings, keyed join);
    * the union/merge windows partition by doc_id — per-key rows are
    * bounded by the doc's own length, no hot reducer.
    */
  val q121SpanCoverage: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val m = spanMatches(docs)
      // both endpoints of a match in ONE pass over m (a union of two
      // selects would re-execute the whole match subtree per side)
      val pos = m.select(explode(array(
          struct(col("doc_a").as("doc_id"), col("pa").as("p")),
          struct(col("doc_b").as("doc_id"), col("pb").as("p")))).as("x"))
        .select(col("x.doc_id").as("doc_id"), col("x.p").as("p")).distinct()
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("p"))
      val isl = pos
        .withColumn("brk",
          when(lag(col("p"), 1).over(wDoc).isNull ||
            col("p") - lag(col("p"), 1).over(wDoc) > (SpanGram - 1), 1L).otherwise(0L))
        .withColumn("isl", sum(col("brk")).over(
          wDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      val cov = isl.groupBy(col("doc_id"), col("isl"))
        .agg((max(col("p")) - min(col("p")) + SpanGram).as("ctoks"),
          count(lit(1)).as("npos"))
        .groupBy(col("doc_id"))
        .agg(sum(col("npos")).as("n_matched_grams"),
          sum(col("ctoks")).as("covered_tokens"))
      cov.join(docs.filter(col("text").isNotNull)
          .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).cast("long").as("doc_tokens")),
          Seq("doc_id"))
        .select(col("doc_id"), col("n_matched_grams"), col("covered_tokens"), col("doc_tokens"),
          (col("covered_tokens").cast("double") / col("doc_tokens").cast("double")).as("coverage"))
        .orderBy(col("doc_id"))
    },
    spanMatchSql +
      s"""
       |, pos AS (SELECT doc_a AS doc_id, pa AS p FROM m
       |          UNION SELECT doc_b AS doc_id, pb AS p FROM m),
       |pp AS (SELECT doc_id, p,
       |         CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
       |                OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > ${SpanGram - 1}
       |              THEN 1 ELSE 0 END AS brk
       |       FROM pos),
       |ii AS (SELECT doc_id, p,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS isl
       |       FROM pp),
       |cv AS (SELECT doc_id, isl, max(p) - min(p) + $SpanGram AS ctoks, count(*) AS npos
       |       FROM ii GROUP BY doc_id, isl),
       |agg AS (SELECT doc_id, cast(sum(npos) AS bigint) AS n_matched_grams,
       |               cast(sum(ctoks) AS bigint) AS covered_tokens
       |        FROM cv GROUP BY doc_id),
       |dt AS (SELECT doc_id, cast(len(string_split_regex(trim(text), '\\s+')) AS bigint) AS doc_tokens
       |       FROM documents WHERE text IS NOT NULL)
       |SELECT a.doc_id AS doc_id, a.n_matched_grams, a.covered_tokens, dt.doc_tokens,
       |       cast(a.covered_tokens AS double) / cast(dt.doc_tokens AS double) AS coverage
       |FROM agg a JOIN dt USING (doc_id) ORDER BY doc_id""".stripMargin)

  /** q122: BPE merge learning — two unrolled rounds of
    * byte-pair-encoding TRAINING as relational algebra (the q64
    * unrolled-Lloyd treatment applied to the tokenizer): per round,
    * count adjacent symbol pairs across the word-frequency table, pick
    * the most frequent pair (tie-break lexicographic), and APPLY the
    * merge corpus-wide before recounting. q32 tokenizes with a fixed
    * BPE-ish scheme; this is the other half — learning the merge table
    * itself, which is how every production tokenizer (GPT-2, Llama,
    * SentencePiece-BPE) is actually built over a corpus.
    *
    * Greedy left-to-right application is the subtle part: matches of a
    * doubled pair (x, x) overlap, and real BPE merges leftmost-first.
    * Relationally that is the parity-island rule — among consecutive
    * match positions, keep the odd-ranked ones per island (overlaps
    * only arise in same-symbol runs, where greedy keeps every second
    * match) — the same `p − row_number()` island key as q119, judged
    * here through both the pair counts and the applied-merge counts.
    * `BpeSpec` pins the greedy semantics on crafted words ("aaaa").
    *
    * Scale: everything after the first aggregation is VOCABULARY-sized
    * — the corpus scan happens once (word frequencies, map-side
    * combined); symbol sequences, pair counts, and merge application
    * are per-DISTINCT-word relations (tens of millions of rows at
    * 100 TB, not corpus-sized), windows partition by word (per-key
    * rows = word length), and each round's winner is a bounded
    * TakeOrdered over the pair vocabulary, broadcast back. This is
    * exactly how corpus-scale BPE trainers are structured.
    */
  private[ext] def bpePairCounts(sv: DataFrame): DataFrame = {
    val wW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w")).orderBy(col("p"))
    sv.withColumn("nxt", lead(col("sym"), 1).over(wW))
      .filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("l"), col("nxt").as("r"))
      .agg(sum(col("f")).as("cnt"))
  }

  /** Apply one learned merge greedily; returns (next symbol table,
    * kept-merge rows carrying word frequency). The kept-merge frame is
    * pinned ([[graft.core.Checkpoints]] — the iterative-operator
    * contract): it feeds three consumers (two join sides of the rebuild
    * plus the merge count), and each would otherwise re-run the match
    * windows.
    */
  private[ext] def bpeApply(sv: DataFrame, top: DataFrame): (DataFrame, DataFrame) = {
    val wW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w")).orderBy(col("p"))
    val m = sv.withColumn("nxt", lead(col("sym"), 1).over(wW))
      .crossJoin(broadcast(top))
      .filter(col("sym") === col("l") && col("nxt") === col("r"))
      .select(col("w"), col("f"), col("p"))
    val k = graft.core.Checkpoints.pin(
      m.withColumn("isl", col("p") - row_number().over(wW))
        .withColumn("ri", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("w"), col("isl")).orderBy(col("p"))))
        .filter(col("ri") % 2 === 1)
        .select(col("w"), col("f"), col("p")))
    val next = sv.crossJoin(broadcast(top))
      .join(k.select(col("w"), col("p")).withColumn("keep", lit(1)), Seq("w", "p"), "left_outer")
      .join(k.select(col("w"), (col("p") + 1).as("p")).withColumn("consumed", lit(1)),
        Seq("w", "p"), "left_outer")
      .filter(col("consumed").isNull)
      .withColumn("sym2",
        when(col("keep").isNotNull, concat(col("l"), col("r"))).otherwise(col("sym")))
      .select(col("w"), col("f"), col("p").as("p0"), col("sym2").as("sym"))
      .withColumn("p", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("w")).orderBy(col("p0"))).cast("long"))
      .select(col("w"), col("f"), col("p"), col("sym"))
    (next, k)
  }

  val q122BpeMerges: QuerySpec = QuerySpec(
    (s, dir) => {
      val words = toks(Tables.documents(s, dir))
        .select(explode(col("w")).as("w")).filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      // the round state (symbol table, round winner) is pinned per
      // round — the iterative-operator contract (q46/q91's
      // Checkpoints): each is read by several consumers and the next
      // round chains on it, so unpinned lineage would re-execute the
      // corpus aggregation once per reference and double per round
      val s0 = graft.core.Checkpoints.pin(
        words.select(col("w"), col("f"), posexplode(expr(
          "concat(transform(sequence(1, length(w)), i -> substring(w, i, 1)), array('</w>'))")))
          .select(col("w"), col("f"), (col("pos") + 1).cast("long").as("p"), col("col").as("sym")))
      def roundRow(round: Int, sv: DataFrame): (DataFrame, DataFrame) = {
        val top = graft.core.Checkpoints.pin(bpePairCounts(sv)
          .orderBy(col("cnt").desc, col("l"), col("r")).limit(1))
        val (next, k) = bpeApply(sv, top)
        val row = top.crossJoin(broadcast(
            k.agg(coalesce(sum(col("f")), lit(0L)).as("n_merges"))))
          .select(lit(round).as("round"), col("l").as("left_sym"),
            col("r").as("right_sym"), col("cnt").as("pair_count"), col("n_merges"))
        (next, row)
      }
      val (s1, row1) = roundRow(1, s0)
      val (_, row2) = roundRow(2, graft.core.Checkpoints.pin(s1))
      row1.unionByName(row2).orderBy(col("round"))
    },
    s"""WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents WHERE text IS NOT NULL),
       |words AS (SELECT w, cast(count(*) AS bigint) AS f FROM tok WHERE len(w) > 0 GROUP BY w),
       |s0 AS (SELECT w, f, p, CASE WHEN p <= len(w) THEN w[p:p] ELSE '</w>' END AS sym
       |       FROM (SELECT w, f, unnest(range(1, len(w) + 2)) AS p FROM words)),
       |p0 AS (SELECT w, f, p, sym, lead(sym) OVER (PARTITION BY w ORDER BY p) AS nxt FROM s0),
       |pc1 AS (SELECT sym AS l, nxt AS r, cast(sum(f) AS bigint) AS cnt
       |        FROM p0 WHERE nxt IS NOT NULL GROUP BY sym, nxt),
       |top1 AS (SELECT l, r, cnt FROM pc1 ORDER BY cnt DESC, l, r LIMIT 1),
       |m1 AS (SELECT p0.w, p0.f, p0.p FROM p0 CROSS JOIN top1 t WHERE p0.sym = t.l AND p0.nxt = t.r),
       |k1 AS (SELECT w, f, p FROM (
       |         SELECT w, f, p, row_number() OVER (PARTITION BY w, p - rn ORDER BY p) AS ri
       |         FROM (SELECT w, f, p, row_number() OVER (PARTITION BY w ORDER BY p) AS rn FROM m1))
       |       WHERE ri % 2 = 1),
       |s1 AS (SELECT s.w, s.f, row_number() OVER (PARTITION BY s.w ORDER BY s.p) AS p,
       |         CASE WHEN k.p IS NOT NULL THEN t.l || t.r ELSE s.sym END AS sym
       |       FROM s0 s CROSS JOIN top1 t
       |       LEFT JOIN k1 k ON s.w = k.w AND s.p = k.p
       |       LEFT JOIN k1 kp ON s.w = kp.w AND s.p = kp.p + 1
       |       WHERE kp.p IS NULL),
       |p1 AS (SELECT w, f, p, sym, lead(sym) OVER (PARTITION BY w ORDER BY p) AS nxt FROM s1),
       |pc2 AS (SELECT sym AS l, nxt AS r, cast(sum(f) AS bigint) AS cnt
       |        FROM p1 WHERE nxt IS NOT NULL GROUP BY sym, nxt),
       |top2 AS (SELECT l, r, cnt FROM pc2 ORDER BY cnt DESC, l, r LIMIT 1),
       |m2 AS (SELECT p1.w, p1.f, p1.p FROM p1 CROSS JOIN top2 t WHERE p1.sym = t.l AND p1.nxt = t.r),
       |k2 AS (SELECT w, f, p FROM (
       |         SELECT w, f, p, row_number() OVER (PARTITION BY w, p - rn ORDER BY p) AS ri
       |         FROM (SELECT w, f, p, row_number() OVER (PARTITION BY w ORDER BY p) AS rn FROM m2))
       |       WHERE ri % 2 = 1),
       |n1 AS (SELECT cast(coalesce(sum(f), 0) AS bigint) AS merges FROM k1),
       |n2 AS (SELECT cast(coalesce(sum(f), 0) AS bigint) AS merges FROM k2)
       |SELECT * FROM (
       |  SELECT 1 AS round, l AS left_sym, r AS right_sym, cnt AS pair_count,
       |         (SELECT merges FROM n1) AS n_merges FROM top1
       |  UNION ALL
       |  SELECT 2, l, r, cnt, (SELECT merges FROM n2) FROM top2) ORDER BY round""".stripMargin)

  /** q123: triangle counting + local clustering coefficients over the
    * near-dup candidate graph — the graph-structure diagnostic that
    * separates CHAINED candidate clusters (dup of dup of dup — long
    * paths, low closure, the shape where transitive dedup (q46) merges
    * documents that are pairwise dissimilar) from genuinely DENSE
    * duplicate groups (high closure): per vertex of degree ≥ 2, its
    * incident-triangle count against its wedge count, closure =
    * triangles/wedges. Complements q89 (degree histogram = volume) with
    * second-order structure.
    *
    * Edges are the SHARED [[lshPairs]] frame (q18/q46/q89's — the
    * schemes cannot drift). Triangle enumeration is the standard
    * distributed algorithm: edge⋈edge on the shared middle vertex
    * builds wedges (a<b<c for free — both edges are stored min<max),
    * then ONE closure join against the edge set; per-vertex rollups are
    * map-side combined. Wedge fan-out per vertex is degree², and the
    * LSH graph's degrees are bounded by construction (banded buckets,
    * df caps) — on a general 100 TB graph the standard refinement
    * (pivot on the lower-DEGREE endpoint) drops in without changing
    * the judged semantics.
    */
  val q123TriangleClustering: QuerySpec = QuerySpec(
    (s, dir) => {
      // the edge frame feeds FOUR consumers (degrees + three triangle
      // join sides): pin it once (the Checkpoints contract) so the
      // banded-LSH candidate generation runs once, not per reference
      val e = graft.core.Checkpoints.pin(lshPairs(Tables.documents(s, dir)))
      val deg = e.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      val tri = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .join(e.select(col("doc_a").as("b"), col("doc_b").as("c")), Seq("b"))
        .join(e.select(col("doc_a").as("a"), col("doc_b").as("c")), Seq("a", "c"))
      val vt = tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
      deg.filter(col("degree") >= 2)
        .join(vt, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("degree"),
          expr("degree * (degree - 1) div 2").as("n_wedges"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
        .withColumn("clustering",
          col("n_triangles").cast("double") / col("n_wedges").cast("double"))
        .orderBy(col("doc_id"))
    },
    lshChainSql +
      """
        |, deg AS (SELECT doc_id, cast(count(*) AS bigint) AS degree FROM (
        |    SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs) GROUP BY doc_id),
        |tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        |        FROM pairs e1 JOIN pairs e2 ON e1.doc_b = e2.doc_a
        |        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
        |vt AS (SELECT doc_id, cast(count(*) AS bigint) AS n_triangles FROM (
        |    SELECT a AS doc_id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id, d.degree AS degree,
        |  cast(d.degree * (d.degree - 1) // 2 AS bigint) AS n_wedges,
        |  cast(coalesce(v.n_triangles, 0) AS bigint) AS n_triangles,
        |  cast(coalesce(v.n_triangles, 0) AS double) / cast(d.degree * (d.degree - 1) // 2 AS double) AS clustering
        |FROM deg d LEFT JOIN vt v USING (doc_id)
        |WHERE d.degree >= 2 ORDER BY doc_id""".stripMargin)

  /** The two q129 contamination legs over the non-eval corpus
    * (doc_id % 97 ≠ 0; the %97 slice IS the eval set), as flag frames
    * ((doc_id, ex=1), (doc_id, fz=1)). Exact = any shared word
    * 3-shingle with the eval slice (q71's containment scheme); fuzzy =
    * ≥40% winnowing-fingerprint overlap (q111's threshold, integer
    * cross-multiplied). ONE definition shared by q129 (the per-source
    * keep/drop accounting) and q134 (the end-to-end data card) so the
    * leg conventions cannot drift between them; [[contamLegsSql]] is
    * the oracle twin.
    */
  private def contamFlags(s: SparkSession, docs: DataFrame): (DataFrame, DataFrame) = {
    graft.functions.WinnowFingerprints.register(s)
    val sh = shingles(docs)
    val evSh = sh.filter(col("doc_id") % 97 === 0).select(col("sh")).distinct()
    val exactFlag = sh.filter(col("doc_id") % 97 =!= 0)
      .join(evSh, Seq("sh"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("ex", lit(1L))
    val fps = docs.withColumn("norm", normCol)
      .filter(length(col("norm")) >= 11)
      .select(col("doc_id"), explode(expr("winnow_fps(norm)")).as("fp"))
    val evFp = fps.filter(col("doc_id") % 97 === 0)
      .select(col("fp")).distinct().withColumn("hit", lit(1L))
    val fuzzyFlag = fps.filter(col("doc_id") % 97 =!= 0)
      .join(evFp, Seq("fp"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"), count(col("hit")).as("n_hits"))
      .filter(col("n_hits") * 5 >= col("n_fps") * 2)
      .select(col("doc_id")).withColumn("fz", lit(1L))
    (exactFlag, fuzzyFlag)
  }

  /** Oracle twin of [[contamFlags]] as `ex`/`fz` CTEs (appends to
    * [[winnowFpsSql]] + [[shSql]]).
    */
  private val contamLegsSql: String =
    """,
      |ex AS (SELECT DISTINCT doc_id FROM shx
      |       WHERE doc_id % 97 <> 0
      |         AND sh IN (SELECT sh FROM shx WHERE doc_id % 97 = 0)),
      |evfp AS (SELECT DISTINCT fp FROM w WHERE doc_id % 97 = 0),
      |fz AS (SELECT doc_id FROM (
      |         SELECT c.doc_id, count(*) AS n_fps, count(e.fp) AS n_hits
      |         FROM w c LEFT JOIN evfp e ON c.fp = e.fp
      |         WHERE c.doc_id % 97 <> 0 GROUP BY c.doc_id)
      |       WHERE n_hits * 5 >= n_fps * 2)""".stripMargin

  /** q129: the decontamination pipeline END-PRODUCT — the q117 pattern
    * applied to the contamination family: both detection legs run
    * against ONE eval slice (doc_id % 97, q111's convention), their
    * drop verdicts are unioned, and the judged output is what an
    * operator actually ships — the per-source keep/drop accounting of
    * the CLEANED corpus (docs dropped by the exact leg only / the
    * fuzzy leg only / both, docs kept, training tokens surviving).
    * Composing the legs catches interface drift the per-leg queries
    * can't: a slice-convention or threshold mismatch between legs
    * changes every downstream number here.
    *
    * Legs: exact = any shared word 3-shingle with the eval slice (the
    * q71 containment scheme re-anchored to %97); fuzzy = ≥40% winnowing
    * fingerprint overlap (q111's threshold, same integer
    * cross-multiplication). Documents too short to fingerprint
    * (norm < 11 chars) can only be exact-flagged — stated here because
    * the accounting makes it visible.
    *
    * Scale: both legs are eval-keyed joins (semi-join for containment
    * — no fan-out on hot shingles; fp-keyed left join for overlap);
    * neither side carries a broadcast hint — this slice is
    * corpus-proportional by construction (the q101/q111 lesson), while
    * a real KB-sized benchmark set would be AQE-broadcast on its own.
    * The verdict frames are distinct doc_id sets, the final rollup
    * shuffles ≤ sources rows.
    */
  val q129DecontamPipeline: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val (exactFlag, fuzzyFlag) = contamFlags(s, docs)
      docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("tok"))
        .join(exactFlag, Seq("doc_id"), "left_outer")
        .join(fuzzyFlag, Seq("doc_id"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ex") === 1L && col("fz").isNull, 1L).otherwise(0L))
            .as("n_dropped_exact_only"),
          sum(when(col("ex").isNull && col("fz") === 1L, 1L).otherwise(0L))
            .as("n_dropped_fuzzy_only"),
          sum(when(col("ex") === 1L && col("fz") === 1L, 1L).otherwise(0L))
            .as("n_dropped_both"),
          sum(when(col("ex").isNull && col("fz").isNull, 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("ex").isNull && col("fz").isNull, col("tok")).otherwise(0L))
            .as("tokens_kept"))
        .orderBy(col("source"))
    },
    winnowFpsSql + ",\n" + shSql.stripPrefix("WITH ") + contamLegsSql +
      """,
        |base AS (SELECT doc_id, source,
        |           cast(len(string_split_regex(trim(text), '\s+')) AS bigint) AS tok
        |         FROM documents WHERE doc_id % 97 <> 0)
        |SELECT b.source AS source, count(*) AS n_docs,
        |  cast(sum(CASE WHEN ex.doc_id IS NOT NULL AND fz.doc_id IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_dropped_exact_only,
        |  cast(sum(CASE WHEN ex.doc_id IS NULL AND fz.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_dropped_fuzzy_only,
        |  cast(sum(CASE WHEN ex.doc_id IS NOT NULL AND fz.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_dropped_both,
        |  cast(sum(CASE WHEN ex.doc_id IS NULL AND fz.doc_id IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_kept,
        |  cast(sum(CASE WHEN ex.doc_id IS NULL AND fz.doc_id IS NULL THEN tok ELSE 0 END) AS bigint) AS tokens_kept
        |FROM base b LEFT JOIN ex ON b.doc_id = ex.doc_id
        |            LEFT JOIN fz ON b.doc_id = fz.doc_id
        |GROUP BY b.source ORDER BY source""".stripMargin)

  /** q136: DELETION PROPAGATION (right-to-be-forgotten purge) — the
    * compliance operator every stored-artifact pipeline needs at
    * 100 TB: a deletion request list (the `doc_id % 83` slice) must be
    * purged not just from the corpus but from every DERIVED artifact —
    * here the q86 inverted index and the q17/q18 near-dup state — and
    * the judged output is the full purge accounting plus a
    * maintenance-vs-rebuild certification.
    *
    * The index-maintenance subtlety this query exists to exercise: the
    * at-rest q86 artifact stores EXACT postings only for in-band terms
    * (2 ≤ df ≤ 8) — a saturated term (df ≥ 9) stored nothing, yet
    * deletion can bring its true df INTO the band ("entering" terms).
    * Incremental maintenance therefore has three legs: untouched terms
    * carry over, touched in-band terms have deleted ids filtered from
    * their stored postings (dropping below df 2 drops the term), and
    * entering terms are RECOUNTED from raw data — term-scoped, via a
    * semi-join, never a full rebuild. `maintenance_mismatch_terms`
    * compares this artifact-path result against a from-scratch rebuild
    * on the purged corpus (full outer join on term + posting-list
    * equality): 0 certifies the maintenance rule; any wrong leg (e.g.
    * forgetting entering terms) is a nonzero judged value.
    *
    * Scale: the deletion list is corpus-proportional by construction
    * (no broadcast hint — the q101 lesson); every maintenance leg is
    * term-keyed and touches ONLY terms containing a deleted doc (the
    * semi-join bounds all recount shuffles by affected-term rows); df
    * recounts are map-side-combined counts (bounded state even on
    * stopword terms); the near-dup accounting rides the existing
    * banded frames with pure predicates (no extra join for
    * pairs_removed). The certification rebuild is the one
    * intentionally-full pass — it is the verification job a real purge
    * runs once, not the maintenance path.
    */
  val q136DeletionPurge: QuerySpec = QuerySpec(
    (s, dir) => purgeAccounting(Tables.documents(s, dir)),
    q136OracleSql)

  /** The q136 run body over an EXPLICIT corpus frame — exposed because
    * the judged corpus's trigram df distribution never produces an
    * "entering" term at any deletion density (measured: 0 at every
    * modulus from 83 down to 3), so `TextOpsSpec` certifies that leg on
    * an engineered corpus with a saturated term whose deletions bring
    * it into the band (the SpanDedupSpec precedent: hand-verified
    * structure the natural corpus cannot exercise).
    */
  private[graft] def purgeAccounting(docs: DataFrame): DataFrame = {
      def isDel(c: Column) = c % 83 === 0
      val delTerms = shingles(docs).filter(isDel(col("doc_id")))
        .select(col("sh")).distinct()
      // only TOUCHED terms' rows ever get the per-(sh, doc) distinct —
      // the semi-join comes BEFORE the dedup, so the corpus-wide
      // (sh, doc_id) relation is never shuffled whole (at 100 TB the
      // touched slice is |deleted| × df, not the corpus)
      val touchedRows = shingles(docs).join(delTerms, Seq("sh"), "left_semi")
        .select(col("sh"), col("doc_id")).distinct()
      // touched-term recount: dfb (before), ddel (deleted members), dfa
      // (after) — pinned, five metric consumers below
      val aff = graft.core.Checkpoints.pin(
        touchedRows
          .groupBy(col("sh"))
          .agg(count(lit(1)).as("dfb"),
            sum(when(isDel(col("doc_id")), 1L).otherwise(0L)).as("ddel"))
          .withColumn("dfa", col("dfb") - col("ddel")))
      val bdistinct = udaf(new graft.functions.BoundedDistinct(9)) // df_max + 1
      def indexOf(d: DataFrame): DataFrame = shingles(d).groupBy(col("sh"))
        .agg(bdistinct(col("doc_id")).as("docs"))
        .filter(size(col("docs")).between(2, 8))
      val oldIx = graft.core.Checkpoints.pin(indexOf(docs))
      // maintenance legs (the artifact path)
      val untouched = oldIx.join(delTerms, Seq("sh"), "left_anti")
      val touched = oldIx.join(delTerms, Seq("sh"), "left_semi")
        .withColumn("docs", expr("filter(docs, x -> x % 83 != 0)"))
        .filter(size(col("docs")) >= 2)
      val entering = touchedRows.filter(!isDel(col("doc_id")))
        .join(aff.filter(col("dfb") > 8 && col("dfa").between(2, 8))
          .select(col("sh")), Seq("sh"), "left_semi")
        .groupBy(col("sh")).agg(bdistinct(col("doc_id")).as("docs"))
      val maintained = graft.core.Checkpoints.pin(
        untouched.unionAll(touched).unionAll(entering))
      val rebuilt = indexOf(docs.filter(!isDel(col("doc_id"))))
      val mm = maintained.select(col("sh"), array_sort(col("docs")).as("md"))
        .join(rebuilt.select(col("sh"), array_sort(col("docs")).as("rd")),
          Seq("sh"), "full_outer")
        .filter(col("md").isNull || col("rd").isNull || col("md") =!= col("rd"))
        .agg(count(lit(1)).as("value"))
      def metric(name: String, v: DataFrame): DataFrame =
        v.select(lit(name).as("metric"), col("value"))
      val delDocs = docs.filter(isDel(col("doc_id")))
        .agg(count(lit(1)).as("n"),
          sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("tok"))
      // pinned: THREE consumers (both pair-join sides + the bucket
      // metric) would otherwise each re-run the corpus-sized signature
      // aggregation — the dominant cost of the near-dup legs
      val bands = graft.core.Checkpoints.pin(minhashBands(docs))
      Seq(
        metric("deleted_docs", delDocs.select(col("n").as("value"))),
        metric("deleted_tokens", delDocs.select(col("tok").as("value"))),
        metric("index_terms_affected",
          aff.filter(col("dfb").between(2, 8)).agg(count(lit(1)).as("value"))),
        metric("index_terms_dropped",
          aff.filter(col("dfb").between(2, 8) && col("dfa") < 2)
            .agg(count(lit(1)).as("value"))),
        metric("index_terms_entering",
          aff.filter(col("dfb") > 8 && col("dfa").between(2, 8))
            .agg(count(lit(1)).as("value"))),
        metric("index_postings_removed",
          aff.filter(col("dfb").between(2, 8) && col("dfa") >= 2)
            .agg(coalesce(sum(col("ddel")), lit(0L)).as("value"))),
        metric("maintained_index_terms", maintained.agg(count(lit(1)).as("value"))),
        metric("maintenance_mismatch_terms", mm),
        metric("neardup_buckets_affected",
          bands.filter(isDel(col("doc_id"))).select(col("band_id"), col("bucket"))
            .distinct().agg(count(lit(1)).as("value"))),
        metric("neardup_pairs_removed",
          lshPairsFrom(bands).filter(isDel(col("doc_a")) || isDel(col("doc_b")))
            .agg(count(lit(1)).as("value"))))
        .reduce(_ unionAll _)
        .orderBy(col("metric"))
  }

  private def q136OracleSql: String =
    lshChainSql +
      """,
        |ds AS (SELECT DISTINCT doc_id, sh FROM shx),
        |aff AS (SELECT * FROM (
        |          SELECT sh, count(*) AS dfb,
        |            cast(sum(CASE WHEN doc_id % 83 = 0 THEN 1 ELSE 0 END) AS bigint) AS ddel,
        |            count(*) - cast(sum(CASE WHEN doc_id % 83 = 0 THEN 1 ELSE 0 END) AS bigint) AS dfa
        |          FROM ds GROUP BY sh)
        |        WHERE ddel > 0),
        |oldix AS (SELECT sh, list(doc_id ORDER BY doc_id) AS docs
        |          FROM ds GROUP BY sh HAVING count(*) BETWEEN 2 AND 8),
        |untouched AS (SELECT o.sh, o.docs FROM oldix o
        |              LEFT JOIN aff a ON o.sh = a.sh WHERE a.sh IS NULL),
        |touched AS (SELECT sh, docs FROM (
        |              SELECT o.sh, list_filter(o.docs, x -> x % 83 <> 0) AS docs
        |              FROM oldix o JOIN aff a ON o.sh = a.sh)
        |            WHERE len(docs) >= 2),
        |entering AS (SELECT a.sh, list(ds.doc_id ORDER BY ds.doc_id) AS docs
        |             FROM aff a JOIN ds ON a.sh = ds.sh AND ds.doc_id % 83 <> 0
        |             WHERE a.dfb > 8 AND a.dfa BETWEEN 2 AND 8
        |             GROUP BY a.sh),
        |maintained AS (SELECT * FROM untouched UNION ALL
        |               SELECT * FROM touched UNION ALL
        |               SELECT * FROM entering),
        |rebuilt AS (SELECT sh, list(doc_id ORDER BY doc_id) AS docs
        |            FROM ds WHERE doc_id % 83 <> 0
        |            GROUP BY sh HAVING count(*) BETWEEN 2 AND 8),
        |mm AS (SELECT count(*) AS v FROM maintained m
        |       FULL OUTER JOIN rebuilt r ON m.sh = r.sh
        |       WHERE m.sh IS NULL OR r.sh IS NULL OR m.docs <> r.docs),
        |deld AS (SELECT cast(count(*) AS bigint) AS n,
        |           cast(sum(len(string_split_regex(trim(text), '\s+'))) AS bigint) AS tok
        |         FROM documents WHERE doc_id % 83 = 0)
        |SELECT metric, cast(value AS bigint) AS value FROM (
        |  SELECT 'deleted_docs' AS metric, (SELECT n FROM deld) AS value
        |  UNION ALL SELECT 'deleted_tokens', (SELECT tok FROM deld)
        |  UNION ALL SELECT 'index_terms_affected',
        |    (SELECT count(*) FROM aff WHERE dfb BETWEEN 2 AND 8)
        |  UNION ALL SELECT 'index_terms_dropped',
        |    (SELECT count(*) FROM aff WHERE dfb BETWEEN 2 AND 8 AND dfa < 2)
        |  UNION ALL SELECT 'index_terms_entering',
        |    (SELECT count(*) FROM aff WHERE dfb > 8 AND dfa BETWEEN 2 AND 8)
        |  UNION ALL SELECT 'index_postings_removed',
        |    (SELECT coalesce(sum(ddel), 0) FROM aff WHERE dfb BETWEEN 2 AND 8 AND dfa >= 2)
        |  UNION ALL SELECT 'maintained_index_terms', (SELECT count(*) FROM maintained)
        |  UNION ALL SELECT 'maintenance_mismatch_terms', (SELECT v FROM mm)
        |  UNION ALL SELECT 'neardup_buckets_affected',
        |    (SELECT count(*) FROM (SELECT DISTINCT band_id, bucket FROM bands
        |                           WHERE doc_id % 83 = 0))
        |  UNION ALL SELECT 'neardup_pairs_removed',
        |    (SELECT count(*) FROM pairs WHERE doc_a % 83 = 0 OR doc_b % 83 = 0)
        |) ORDER BY metric""".stripMargin

  /** q134: the TRAINING-DATA CARD — the full curation pipeline composed
    * end-to-end into the one artifact a training run actually consumes:
    * per source, the raw→filtered→decontaminated funnel counts, the
    * leakage-safe per-split doc/token composition, and the mixing
    * allocation over the surviving train split. Every stage is a judged
    * query in its own right (q113 gates → q129 contamination legs →
    * q46 near-dup clusters + the q130 cluster-keyed split rule → the
    * q127 allocation formula); composing them catches the convention
    * drift the per-stage queries cannot (the q117/q129 lesson — a gate,
    * slice, threshold, or salt change ripples through every number
    * here). The reference's own `main.py:17–25` end-to-end flow is
    * exactly this shape at toy scale.
    *
    * Pipeline semantics: the `doc_id % 97` slice is the eval benchmark
    * (excluded from the corpus, q129's convention); the corpus is
    * filtered by the full q113 cascade ([[qualityGates]].last); the
    * q129 legs ([[contamFlags]]) then drop contaminated survivors;
    * splits are assigned per TEXT near-dup cluster
    * ([[dedupClusters]] — q130's rule with q46's clusters: a near-dup
    * of an eval-split doc must never train), and the q127 allocation
    * (`floor(w·2T/Σw)` at alphabetical-rank weights, budget 2× the
    * surviving train corpus) prices each source's train share.
    *
    * Scale: one corpus scan feeds the gate signals (codegen
    * expressions); the contamination legs are eval-keyed joins (q129's
    * accounting); clustering is the q46 machinery (banded LSH + pinned
    * CC rounds); the split is a pure hash of cluster_id (zero added
    * shuffles, q130's accounting); everything after the per-source
    * rollup is source-cardinality-sized, and the allocation windows run
    * over that bounded frame. No corpus-proportional frame is
    * broadcast-hinted anywhere.
    */
  val q134TrainingDataCard: QuerySpec = QuerySpec(
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = docs.filter(col("doc_id") % 97 =!= 0)
      val filtered = base.filter(qualityGates.last)
        .select(col("doc_id"), col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("tok"))
      val (exactFlag, fuzzyFlag) = contamFlags(s, docs)
      val asg = dedupClusters(docs)
        .withColumn("split", SplitScheme.splitOf(col("cluster_id"), "card"))
        .select(col("doc_id"), col("split"))
      val fin = filtered
        .join(exactFlag, Seq("doc_id"), "left_outer")
        .join(fuzzyFlag, Seq("doc_id"), "left_outer")
        .join(asg, Seq("doc_id"))
        .withColumn("dropped", col("ex").isNotNull || col("fz").isNotNull)
      def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
      def tokSum(c: Column) = sum(when(c, col("tok")).otherwise(0L))
      val keep = !col("dropped")
      val agg = fin.groupBy(col("source")).agg(
        count(lit(1)).as("n_filtered"),
        cnt(col("dropped")).as("n_contaminated"),
        cnt(keep).as("n_final"),
        cnt(keep && col("split") === "train").as("train_docs"),
        tokSum(keep && col("split") === "train").as("train_tokens"),
        cnt(keep && col("split") === "val").as("val_docs"),
        tokSum(keep && col("split") === "val").as("val_tokens"),
        cnt(keep && col("split") === "test").as("test_docs"),
        tokSum(keep && col("split") === "test").as("test_tokens"))
      val raw = base.groupBy(col("source")).agg(count(lit(1)).as("n_raw"))
      // a source whose docs all fail the cascade keeps its card row
      // (zeros), so the card always lists the whole corpus
      val card = raw.join(agg, Seq("source"), "left_outer")
        .select((col("source") +: col("n_raw") +:
          agg.columns.filter(_ != "source").toIndexedSeq.map(c =>
            coalesce(col(c), lit(0L)).as(c))): _*)
      val wgt = card.withColumn("weight",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("source"))).cast("long"))
      val tot = wgt.agg(sum(col("train_tokens")).as("t"), sum(col("weight")).as("sw"))
      wgt.crossJoin(broadcast(tot))
        .withColumn("alloc_tokens", expr("(weight * 2 * t) div sw"))
        .withColumn("n_epochs",
          when(col("train_tokens") > 0, expr("alloc_tokens div train_tokens"))
            .otherwise(lit(0L)))
        .select(col("source"), col("n_raw"), col("n_filtered"),
          col("n_contaminated"), col("n_final"),
          col("train_docs"), col("train_tokens"), col("val_docs"),
          col("val_tokens"), col("test_docs"), col("test_tokens"),
          col("weight"), col("alloc_tokens"), col("n_epochs"))
        .orderBy(col("source"))
    },
    recursive(winnowFpsSql + ",\n" + shSql.stripPrefix("WITH ") +
      minhashSigSql + "\n" + lshPairsSql + "\n" + dedupClustersSql +
      contamLegsSql) +
      s""",
         |fbase AS (SELECT doc_id, source,
         |            cast(len(string_split_regex(trim(text), '\\s+')) AS bigint) AS tok,
         |            ($gateAllSql) AS g5
         |          FROM (SELECT doc_id, source, text, $gateSignalsSql
         |                FROM documents WHERE doc_id % 97 <> 0)),
         |asg AS (SELECT doc_id, ${SplitScheme.splitSql("cluster_id", "card")} AS split
         |        FROM clusters),
         |fin AS (SELECT f.source, f.tok, a.split,
         |          (ex.doc_id IS NOT NULL OR fz.doc_id IS NOT NULL) AS dropped
         |        FROM fbase f
         |        JOIN asg a ON f.doc_id = a.doc_id
         |        LEFT JOIN ex ON f.doc_id = ex.doc_id
         |        LEFT JOIN fz ON f.doc_id = fz.doc_id
         |        WHERE f.g5),
         |agg AS (SELECT source,
         |          cast(count(*) AS bigint) AS n_filtered,
         |          cast(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS bigint) AS n_contaminated,
         |          cast(sum(CASE WHEN NOT dropped THEN 1 ELSE 0 END) AS bigint) AS n_final,
         |          cast(sum(CASE WHEN NOT dropped AND split = 'train' THEN 1 ELSE 0 END) AS bigint) AS train_docs,
         |          cast(sum(CASE WHEN NOT dropped AND split = 'train' THEN tok ELSE 0 END) AS bigint) AS train_tokens,
         |          cast(sum(CASE WHEN NOT dropped AND split = 'val' THEN 1 ELSE 0 END) AS bigint) AS val_docs,
         |          cast(sum(CASE WHEN NOT dropped AND split = 'val' THEN tok ELSE 0 END) AS bigint) AS val_tokens,
         |          cast(sum(CASE WHEN NOT dropped AND split = 'test' THEN 1 ELSE 0 END) AS bigint) AS test_docs,
         |          cast(sum(CASE WHEN NOT dropped AND split = 'test' THEN tok ELSE 0 END) AS bigint) AS test_tokens
         |        FROM fin GROUP BY source),
         |raw AS (SELECT source, cast(count(*) AS bigint) AS n_raw
         |        FROM documents WHERE doc_id % 97 <> 0 GROUP BY source),
         |card AS (SELECT r.source, r.n_raw,
         |           coalesce(a.n_filtered, 0) AS n_filtered,
         |           coalesce(a.n_contaminated, 0) AS n_contaminated,
         |           coalesce(a.n_final, 0) AS n_final,
         |           coalesce(a.train_docs, 0) AS train_docs,
         |           coalesce(a.train_tokens, 0) AS train_tokens,
         |           coalesce(a.val_docs, 0) AS val_docs,
         |           coalesce(a.val_tokens, 0) AS val_tokens,
         |           coalesce(a.test_docs, 0) AS test_docs,
         |           coalesce(a.test_tokens, 0) AS test_tokens
         |         FROM raw r LEFT JOIN agg a ON r.source = a.source),
         |wgt AS (SELECT *, cast(row_number() OVER (ORDER BY source) AS bigint) AS weight
         |        FROM card),
         |tot AS (SELECT ${OracleSql.bigSum("train_tokens")} AS t,
         |               ${OracleSql.bigSum("weight")} AS sw FROM wgt)
         |SELECT source, n_raw, n_filtered, n_contaminated, n_final,
         |  train_docs, train_tokens, val_docs, val_tokens, test_docs, test_tokens,
         |  weight,
         |  cast((weight * 2 * t) // sw AS bigint) AS alloc_tokens,
         |  CASE WHEN train_tokens > 0
         |       THEN cast(((weight * 2 * t) // sw) // train_tokens AS bigint)
         |       ELSE 0 END AS n_epochs
         |FROM wgt CROSS JOIN tot ORDER BY source""".stripMargin)

  val all: Map[String, QuerySpec] = Map(
    "q140_bigram_coherence" -> q140BigramCoherence,
    "q144_coherence_calibration" -> q144CoherenceCalibration,
    "q145_cdc_chunking" -> q145CdcChunking,
    "q151_incremental_cc" -> q151IncrementalCc,
    "q141_dedup_equivalence" -> q141DedupEquivalence,
    "q142_bloom_admission" -> q142BloomAdmission,
    "q134_training_data_card" -> q134TrainingDataCard,
    "q136_deletion_purge" -> q136DeletionPurge,
    "q129_decontam_pipeline" -> q129DecontamPipeline,
    "q123_triangle_clustering" -> q123TriangleClustering,
    "q122_bpe_merges" -> q122BpeMerges,
    "q121_span_coverage" -> q121SpanCoverage,
    "q119_repeated_spans" -> q119RepeatedSpans,
    "q117_shard_ingest_e2e" -> q117ShardIngestE2e,
    "q105_shard_novelty" -> q105ShardNovelty,
    "q102_boilerplate" -> q102Boilerplate,
    "q103_incremental_index" -> q103IncrementalIndex,
    "q98_chunk_dedup" -> q98ChunkDedup,
    "q101_incremental_neardup" -> q101IncrementalNearDup,
    "q95_lsh_audit" -> q95LshAudit,
    "q91_pagerank" -> q91PageRank,
    "q86_inverted_index" -> q86InvertedIndex,
    "q87_collocation_lift" -> q87CollocationLift,
    "q89_degree_histogram" -> q89DegreeHistogram,
    "q85_quality_topp" -> q85QualityTopP,
    "q76_source_overlap" -> q76SourceOverlap,
    "q71_decontaminate" -> q71Decontaminate,
    "q72_repetition" -> q72Repetition,
    "q59_pipeline_e2e" -> q59PipelineE2e,
    "q49_countmin_hh" -> q49CountMinHh,
    "q46_dedup_clusters" -> q46DedupClusters,
    "q47_dedup_survivors" -> q47DedupSurvivors,
    "q58_dedup_clusters_star" -> q58DedupClustersStar,
    "q39_winnowing" -> q39Winnowing,
    "q111_contamination_fps" -> q111ContaminationFps,
    "q113_filter_funnel" -> q113FilterFunnel,
    "q36_simhash_pairs" -> q36SimHashPairs,
    "q34_tfidf" -> q34Tfidf,
    "q31_rolling_fingerprint" -> q31RollingFingerprint,
    "q32_bpe_tokens" -> q32BpeTokens,
    "q12_dedup_exact" -> q12DedupExact,
    "q13_token_stats" -> q13TokenStats,
    "q14_langid" -> q14LangId,
    "q15_quality_score" -> q15QualityScore,
    "q16_fingerprint" -> q16Fingerprint,
    "q17_minhash_sig" -> q17MinHash,
    "q18_lsh_pairs" -> q18LshPairs,
    "q19_simhash" -> q19SimHash,
    "q20_jaccard_pairs" -> q20JaccardPairs)
}
