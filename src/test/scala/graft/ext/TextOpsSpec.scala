package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.tables.Tables

/** Cross-checks for the text operators that the DuckDB oracle gate can't
  * express directly — in particular the EXACT (uncapped) n-gram Jaccard,
  * which the judged q20 deliberately no longer computes (its universe is
  * df-capped for scale; see `TextOps.JaccardDfCap`). Here the uncapped
  * plan is validated against an in-memory brute-force over every
  * same-source pair, so the exact semantics stay covered test-only.
  */
class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // sf0.01: the 500-doc corpus — big enough to actually contain
  // near-dup pairs (sf0.001's 50 docs can come up empty), small enough
  // for a 500²-pair in-memory brute force
  private val sfDir = TestSpark.testdata("0.01")

  // Brute-force ground truth, shared by both tests: same trigram scheme
  // as the engine (whitespace tokens, word 3-shingles, docs with <3
  // tokens excluded).
  private lazy val sets: Seq[(Long, String, Set[String])] =
    Tables.documents(spark, sfDir).select("doc_id", "source", "text").collect().toSeq
      .map { r =>
        val w = r.getString(2).trim.split("\\s+")
        val sh = (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
        (r.getLong(0), r.getString(1), sh)
      }
      .filter(_._3.nonEmpty)

  /** Exact intersection size for every same-source pair that shares at
    * least one shingle — deliberately UNFILTERED by any similarity
    * threshold, so capped results can be checked against it even for
    * pairs whose exact jaccard is low.
    */
  private lazy val exactIntersections: Map[(Long, Long), Long] =
    (for {
      (ida, srca, sa) <- sets
      (idb, srcb, sb) <- sets
      if srca == srcb && ida < idb
      inter = (sa & sb).size
      if inter > 0
    } yield (ida, idb) -> inter.toLong).toMap

  test("uncapped jaccardPairs matches brute-force exact Jaccard") {
    val bySize = sets.map { case (id, _, sh) => id -> sh.size }.toMap
    val expected = exactIntersections.collect {
      case ((ida, idb), inter)
        if inter.toDouble / (bySize(ida) + bySize(idb) - inter).toDouble >= 0.5 =>
        (ida, idb, inter,
          inter.toDouble / (bySize(ida) + bySize(idb) - inter).toDouble)
    }.toSet

    val got = TextOps.jaccardPairs(Tables.documents(spark, sfDir), Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

    assert(expected.nonEmpty, "corpus produced no exact near-dup pairs; test is vacuous")
    assert(got == expected)
  }

  test("capped intersections never exceed the exact ones") {
    // The judged cap only REMOVES shingles from the universe, so every
    // capped pair's n_common is bounded by its exact intersection — the
    // invariant that makes "capped jaccard high ⇒ genuinely similar
    // modulo boilerplate" sound. exactIntersections is threshold-free,
    // so the bound is asserted even for pairs the cap PROMOTED above
    // 0.5 (the case where a violation would actually hide).
    val capped = TextOps.jaccardPairs(Tables.documents(spark, sfDir), TextOps.JaccardDfCap)
      .select("doc_a", "doc_b", "n_common").collect()
    assert(capped.nonEmpty, "capped q20 produced no pairs at sf0.01; test is vacuous")
    capped.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      val exact = exactIntersections.getOrElse(k,
        fail(s"capped pair $k does not exist in the exact universe"))
      assert(r.getLong(2) <= exact, s"pair $k grew its intersection under the cap")
    }
  }

  test("chunk dedup keeps each distinct chunk exactly once, at its first occurrence") {
    import org.apache.spark.sql.functions._
    val out = TextOps.q98ChunkDedup.run(spark, sfDir).cache()
    try {
      // global invariant: the surviving chunk multiset IS the distinct
      // chunk set — sum(n_kept) equals the corpus's distinct chunk count
      val kept = out.agg(sum("n_kept")).head().getLong(0)
      val docs = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
      val distinctChunks = docs
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
        .select(explode(expr(
          "transform(sequence(0, cast(ceil(size(t) / 16.0) AS int) - 1), " +
            "i -> array_join(slice(t, i * 16 + 1, 16), ' '))")).as("chunk"))
        .distinct().count()
      assert(kept == distinctChunks, s"kept $kept != distinct $distinctChunks")

      // differential check vs an independent plain-Scala implementation:
      // chunk every doc, keep each chunk at its (doc_id, chunk_id)-min
      // occurrence, and compare n_chunks/n_kept/kept_md5 for EVERY doc
      val corpus = docs.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toSeq
      val chunked = corpus.map { case (id, t) =>
        id -> t.grouped(16).map(_.mkString(" ")).toVector
      }
      val firstAt: Map[String, (Long, Int)] = chunked
        .flatMap { case (id, cs) => cs.zipWithIndex.map { case (c, i) => (c, (id, i)) } }
        .groupMapReduce(_._1)(_._2)((a, b) => if (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)) a else b)
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val expected = chunked.map { case (id, cs) =>
        val keptChunks = cs.zipWithIndex.collect { case (c, i) if firstAt(c) == (id, i) => c }
        id -> ((cs.size.toLong, keptChunks.size.toLong, md5hex(keptChunks.mkString(" "))))
      }.toMap
      assert(expected.exists { case (_, (n, k, _)) => k < n },
        "no doc lost a chunk — differential test is vacuous")
      val got = out.collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept"), r.getAs[String]("kept_md5")))).toMap
      assert(got.keySet == expected.keySet)
      got.foreach { case (id, g) => assert(g == expected(id), s"doc $id: got $g, want ${expected(id)}") }
    } finally out.unpersist()
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** In-memory 16-token chunking of the corpus, shared by the q102
    * differential check (same scheme as the q98 test above).
    */
  private lazy val chunkedCorpus: Seq[(Long, Vector[String])] =
    Tables.documents(spark, sfDir).select("doc_id", "text").collect().toSeq
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").grouped(16).map(_.mkString(" ")).toVector)

  test("boilerplate removal drops EVERY occurrence of a corpus-frequent chunk") {
    val out = TextOps.q102Boilerplate.run(spark, sfDir).cache()
    try {
      // independent in-memory filter: total occurrence count per chunk,
      // drop all occurrences of chunks at count >= 3, compare
      // n_chunks/n_boiler/kept_md5 for EVERY doc
      val freq: Map[String, Int] = chunkedCorpus.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
      val expected = chunkedCorpus.map { case (id, cs) =>
        val kept = cs.filter(freq(_) < 3)
        id -> ((cs.size.toLong, (cs.size - kept.size).toLong, md5hex(kept.mkString(" "))))
      }.toMap
      // non-vacuous: the policy must differ from q98's keep-first on this
      // corpus — some chunk is dropped at its FIRST occurrence too
      assert(expected.exists { case (_, (_, b, _)) => b > 0 },
        "no boilerplate in corpus — differential test is vacuous")
      val got = out.collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_boiler"), r.getAs[String]("kept_md5")))).toMap
      assert(got.keySet == expected.keySet)
      got.foreach { case (id, g) => assert(g == expected(id), s"doc $id: got $g, want ${expected(id)}") }
    } finally out.unpersist()
  }

  test("incremental index merge equals the full-corpus index, with true origins") {
    val out = TextOps.q103IncrementalIndex.run(spark, sfDir).cache()
    try {
      // independent full recompute from the in-memory shingle sets: the
      // UNCAPPED per-term distinct doc set, band-filtered 2..8 — the
      // engine's bounded-set merge must reproduce it exactly
      // the engine's split threshold, over the FULL corpus (sets excludes
      // <3-token docs, which still count toward max(doc_id))
      val t = math.floor((chunkedCorpus.map(_._1).max + 1) * 0.8).toLong
      val byTerm: Map[String, Seq[Long]] = sets
        .flatMap { case (id, _, sh) => sh.map(_ -> id) }
        .groupMap(_._1)(_._2).view.mapValues(_.distinct.sorted).toMap
      val expected = byTerm.collect { case (sh, ids) if ids.size >= 2 && ids.size <= 8 =>
        val (rest, delta) = ids.partition(_ < t)
        val origin = if (delta.isEmpty) "rest" else if (rest.isEmpty) "delta" else "both"
        sh -> ((ids.size.toLong, origin, ids.mkString(",")))
      }
      // the merge structure must actually be exercised: all three origins
      assert(Set("rest", "delta", "both").subsetOf(expected.values.map(_._2).toSet),
        "corpus split produced a degenerate origin mix — merge test is weak")
      val got = out.collect().map(r => r.getAs[String]("sh") ->
        ((r.getAs[Long]("df"), r.getAs[String]("origin"), r.getAs[String]("postings")))).toMap
      assert(got.keySet == expected.keySet)
      got.foreach { case (sh, g) => assert(g == expected(sh), s"term '$sh': got $g, want ${expected(sh)}") }
    } finally out.unpersist()
  }

  test("shard novelty matches the in-memory set difference, bit-exact ratios included") {
    val out = TextOps.q105ShardNovelty.run(spark, sfDir).cache()
    try {
      val t = math.floor((chunkedCorpus.map(_._1).max + 1) * 0.8).toLong
      val restSet: Set[String] = sets.collect { case (id, _, sh) if id < t => sh }.flatten.toSet
      val expected = sets.collect { case (id, _, sh) if id >= t =>
        val novel = (sh -- restSet).size.toLong
        id -> ((sh.size.toLong, novel, novel.toDouble / sh.size.toDouble))
      }.toMap
      // non-degenerate: the split must produce both seen and novel trigrams
      assert(expected.values.exists(_._2 > 0) && expected.values.exists(v => v._2 < v._1),
        "novelty is all-or-nothing on this corpus — test is weak")
      val got = out.collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"), r.getAs[Double]("novelty")))).toMap
      assert(got.keySet == expected.keySet)
      got.foreach { case (id, g) => assert(g == expected(id), s"doc $id: got $g, want ${expected(id)}") }
    } finally out.unpersist()
  }

  test("q136 purge: the entering-term maintenance leg works (engineered corpus)") {
    // The judged corpus's trigram df distribution never produces an
    // "entering" term (a saturated df>8 term whose deletions bring it
    // into the 2..8 band) at any deletion density — measured 0 from
    // modulus 83 down to 3. Engineer one, plus one specimen of each
    // other maintenance leg, and check the full accounting by hand:
    //   E "aa bb cc": df 10 (3 deletable) -> enters at dfa 7
    //   D "dd ee ff": df 2  (1 deletable) -> drops at dfa 1
    //   U "gg hh ii": df 3  untouched     -> carries over
    //   R "jj kk ll": df 4  (1 deletable) -> survives with 1 entry removed
    // Every text is exactly one trigram (3 words), so no bridging terms.
    import spark.implicits._
    val del = Seq(0L, 83L, 166L, 249L, 332L) // ids % 83 == 0
    val rows =
      (Seq(0L, 83L, 166L) ++ (1L to 7L)).map(id => (id, "aa bb cc")) ++
        Seq(249L -> "dd ee ff", 9L -> "dd ee ff") ++
        Seq(10L, 11L, 12L).map(id => (id, "gg hh ii")) ++
        Seq(332L -> "jj kk ll", 20L -> "jj kk ll", 21L -> "jj kk ll", 22L -> "jj kk ll")
    val docs = rows.toDF("doc_id", "text")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    val m = TextOps.purgeAccounting(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("deleted_docs") == del.size)
    assert(m("index_terms_entering") == 1L, s"entering leg broken: $m")
    assert(m("index_terms_dropped") == 1L, s"dropped leg broken: $m")
    assert(m("index_postings_removed") == 1L, s"filter leg broken: $m")
    assert(m("maintained_index_terms") == 3L, s"maintained = U + R + E: $m")
    // the certification that makes the legs count: artifact-path
    // maintenance equals the from-scratch rebuild, entering term included
    assert(m("maintenance_mismatch_terms") == 0L, s"maintenance != rebuild: $m")
  }

  test("q140 coherence flag is non-degenerate (flags some docs, never all)") {
    // the oracle gate proves the counts match DuckDB; it cannot see the
    // 1/2-supported threshold silently degenerating (corpus drift pushing
    // every doc's supported fraction to one side would keep hashes green
    // while the filter stops discriminating). Pin 0 < flagged < docs.
    val rows = TextOps.q140BigramCoherence.run(spark, sfDir).collect()
    val flagged = rows.map(_.getLong(2)).sum
    val docs = rows.map(_.getLong(1)).sum
    assert(docs > 0L)
    assert(flagged > 0L, "coherence filter flags nothing — threshold degenerated low")
    assert(flagged < docs, "coherence filter flags everything — threshold degenerated high")
  }

  test("q144 calibration curve is monotone, discriminating, and consistent with q140") {
    // the oracle replays the same arithmetic; it cannot see the curve
    // silently losing its shape (a drifted corpus could push every doc
    // to one side of every threshold, keeping hashes green while the
    // sweep stops informing the threshold choice). Pin: flagged counts
    // non-decreasing in the threshold, at least one genuinely
    // discriminating point, and the k=4 row must equal q140's judged
    // total (the point gate IS a point on its own curve).
    val curve = TextOps.q144CoherenceCalibration.run(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(curve.map(_._1).toSeq == Seq(1, 2, 3, 4, 5, 6, 7))
    curve.sliding(2).foreach { case Array((_, _, f1), (_, _, f2)) =>
      assert(f1 <= f2, "flagged count not monotone in threshold")
    }
    assert(curve.exists { case (_, docs, f) => f > 0 && f < docs },
      "no discriminating threshold anywhere on the curve")
    val q140Flagged = TextOps.q140BigramCoherence.run(spark, sfDir).collect()
      .map(_.getLong(2)).sum
    val k4 = curve.find(_._1 == 4).get._3
    assert(k4 == q140Flagged, s"curve k=4 ($k4) != q140 flagged total ($q140Flagged)")
  }

  test("q141 equivalence proof is non-vacuous and matches brute force") {
    // The oracle replays the same relational legs, so it cannot catch the
    // shard GENERATOR degenerating (an all-novel or all-duplicate shard
    // keeps equiv_diff = 0 green while proving nothing). Pin: the proof
    // holds (equiv_diff = 0 on every row), the naive counterexample
    // exists (overadmitted > 0), novel content is actually admitted, and
    // the per-source admissions match an in-memory set-difference ground
    // truth computed from raw fingerprints.
    val rows = TextOps.q141DedupEquivalence.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(6) == 0L), "batch vs incremental survivors differ")
    val overadmitted = rows.map(_.getLong(5)).sum
    val admitted = rows.map(_.getLong(3)).sum
    assert(overadmitted > 0L, "naive leg overadmits nothing — shard has no re-crawl dups")
    assert(admitted > 0L, "nothing admitted — shard has no novel content")
    // brute force: md5 fingerprints in memory, same generator convention
    val base = Tables.documents(spark, sfDir).select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val baseFps = base.map(b => md5hex(b._2)).toSet
    val shard = base.filter(_._1 % 7 < 2).map(b => (b._1 + 10000000L, md5hex(b._2), b._3)) ++
      base.filter(_._1 % 7 == 2).map(b => (b._1 + 20000000L, md5hex(b._2 + " rev2"), b._3))
    val expAdm = shard.groupBy(_._2).map { case (_, g) => g.minBy(_._1) }
      .filterNot(d => baseFps.contains(d._2))
      .groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val gotAdm = rows.map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(gotAdm.filter(_._2 > 0) == expAdm.filter(_._2 > 0),
      s"admissions mismatch: got=$gotAdm exp=$expAdm")
  }

  test("q143 streaming admission matches in-memory margins and exercises both classes") {
    // The oracle replays the batch margins; it cannot see the STREAMING
    // path silently passing everything through (a broken anti-join that
    // admits every probe keeps seen = blocked + admitted green only if
    // blocked collapses to 0 — pin both classes nonzero) nor a sink
    // undercount. Ground truth from raw fingerprints in memory.
    val rows = graft.streaming.StreamingQueries.q143StreamingAdmission
      .run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
      s"seen != blocked + admitted for ${r.getString(0)}"))
    val base = Tables.documents(spark, sfDir).select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val baseFps = base.map(b => md5hex(b._2)).toSet
    val seen = (base.filter(_._1 % 7 < 2).map(b => (b._3, md5hex(b._2))) ++
      base.filter(_._1 % 7 == 2).map(b => (b._3, md5hex(b._2 + " rev2")))).distinct
    val expBlocked = seen.filter(p => baseFps.contains(p._2))
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val expAdmitted = seen.filterNot(p => baseFps.contains(p._2))
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(expBlocked.values.sum > 0L && expAdmitted.values.sum > 0L,
      "generator degenerated: one admission class is empty")
    rows.foreach { r =>
      assert(r.getLong(2) == expBlocked.getOrElse(r.getString(0), 0L),
        s"blocked mismatch for ${r.getString(0)}")
      assert(r.getLong(3) == expAdmitted.getOrElse(r.getString(0), 0L),
        s"admitted mismatch for ${r.getString(0)}")
    }
  }

  test("q151 incremental CC: corpus proof holds and the merge leg works (engineered bridge)") {
    // corpus leg: the composition must equal batch clustering and touch
    // strictly fewer edges than the batch solve
    val row = TextOps.q151IncrementalCc.run(spark, sfDir).collect().head
    assert(row.getLong(6) == 0L, "incremental composition != batch clustering")
    assert(row.getLong(3) > 0L, "no shard-incident edges — split degenerated")
    assert(row.getLong(3) < row.getLong(2), "incremental leg touches every edge")
    // engineered leg: the judged corpus's shard edges happen not to
    // bridge two base components, so the merge accounting never fires
    // there — pin it on a graph where shard doc 5 bridges base
    // components {1,2} and {3} (t = 5; 4 and 6 stay isolated)
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (5L, 1L), (5L, 3L)).toDF("a", "b")
    val thr = Seq(5L).toDF("t")
    val r = TextOps.incrementalCcStats(ids, pairs, thr).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)) == ((3L, 2L, 3L, 2L, 1L, 3L, 0L)),
      s"engineered bridge accounting wrong: $r")
  }

  test("q145 CDC survives the front-insert edit that zeroes fixed chunking") {
    // the oracle replays the chunk arithmetic; it cannot see the PROOF
    // degenerating (a boundary scheme drifting to chunk-per-token would
    // make cdc_shared trivially high; one that never fires would make
    // every doc one chunk and cdc_shared 0 — both keep hashes green).
    // Pin: the robustness claim (cdc strictly beats fixed, nonzero),
    // genuine chunking (more than one chunk per variant on average),
    // and the expected failure of offset chunking (~0 shared).
    val rows = TextOps.q145CdcChunking.run(spark, sfDir).collect()
    val n = rows.map(_.getLong(1)).sum
    val cdcChunks = rows.map(_.getLong(2)).sum
    val cdcShared = rows.map(_.getLong(3)).sum
    val fixedShared = rows.map(_.getLong(5)).sum
    assert(n > 0L)
    assert(cdcShared > 0L, "CDC shares nothing with the base — boundaries never re-align")
    assert(cdcShared > fixedShared, "CDC does not beat fixed chunking — the proof is gone")
    assert(cdcChunks > n, "fewer than one CDC boundary per variant — chunker degenerated")
    assert(cdcShared * 2 > cdcChunks,
      "CDC re-aligns on under half the chunk mass — boundary scheme drifted")
  }

  test("q145 CDC boundaries are shift-invariant beyond the edit window (scalacheck)") {
    // The formal reason the q145 robustness proof holds at any corpus:
    // a break decision at (1-based) position i ≥ 5 reads ONLY tokens
    // i−4..i−1, so prepending k tokens shifts every such decision by
    // exactly k — boundaries re-align one hash window past the edit.
    // Local replay of the engine's exact formula (md5 3-hex-char bucket
    // of the space-joined 4-gram, break when ≡ 0 mod 16).
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def bucket(gram: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(gram.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 3), 16)
    }
    def brk(w: IndexedSeq[String], i: Int): Boolean =
      i >= 5 && bucket(Seq(w(i - 5), w(i - 4), w(i - 3), w(i - 2)).mkString(" ")) % 16 == 0
    val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(4).mkString)
    val gen = for {
      w <- Gen.listOfN(30, word).map(_.toIndexedSeq)
      p <- Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, word).map(_.toIndexedSeq))
    } yield (w, p)
    val prop = Prop.forAll(gen) { case (w, p) =>
      val w2 = p ++ w
      (5 to w.length).forall(i => brk(w, i) == brk(w2, i + p.length))
    }
    assert(SCTest.check(SCTest.Parameters.default, prop).passed)
  }

  test("q142 bloom screen: no false negatives, genuinely approximate, both probe classes occur") {
    // The no-FN row (n_missed = 0) is the Bloom guarantee the accounting
    // verifies against ground truth; the oracle replays the arithmetic
    // but cannot see the screen degenerating into a no-op (m drifting so
    // large that FP = 0 makes the "approximate" framing vacuous, or so
    // small that everything is blocked).
    val rows = TextOps.q142BloomAdmission.run(spark, sfDir).collect()
    val tot = Array.tabulate(6)(i => rows.map(_.getLong(i + 1)).sum)
    val Array(probed, blocked, trueDup, falsePos, missed, admitted) = tot
    assert(probed > 0L && probed == blocked + admitted)
    assert(missed == 0L, "bloom screen missed a true duplicate — impossible by construction")
    assert(trueDup > 0L, "shard has no true duplicates — generator degenerated")
    assert(falsePos > 0L, "zero false positives — the screen is not exercising approximation")
    assert(admitted > 0L, "everything blocked — m degenerated small")
    assert(blocked == trueDup + falsePos)
  }
}
