package graft.state

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.TestSpark

/** Guards for the q156 compaction certificate beyond the oracle gate.
  * The oracle replays the upsert semantics and pins the contract columns
  * (n_files = 1, frag_before = 1, equiv_diff = 0), so a no-op compact or
  * an already-compact fixture IS oracle-visible — what it cannot see is
  * the store lifecycle behind the row: that the certificate really
  * compared two DISTINCT retained versions, that the bookkeeping column
  * survives compaction byte-for-byte (the multiset diff groups on _seq
  * too, but only a real pre-version makes that matter), and that the
  * updated keys' values actually flowed through the store's LWW path
  * rather than the fixture's own arithmetic.
  */
class StateQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q156 certificate row is non-degenerate and the store lifecycle is real") {
    val sf = TestSpark.testdata("0.001")
    val rows = graft.SparkEntry.queries("q156_compaction_cert")(spark, sf)
      .collect()
    assert(rows.length == 5, "one certificate row per hive partition")
    rows.foreach { r =>
      def g(n: String) = r.getLong(r.fieldIndex(n))
      assert(g("equiv_diff") == 0L, s"content drifted under compaction: $r")
      assert(g("n_files") == 1L, s"compaction missed its target layout: $r")
      assert(g("frag_before") == 1L,
        s"pre-compact version was already compact — the certificate is vacuous: $r")
      assert(g("n_rows") > 0L && g("key_sum") > 0L)
    }
  }

  test("q158 certificate rows are non-degenerate and the store ends vacuumed") {
    val sf = TestSpark.testdata("0.001")
    val rows = graft.SparkEntry.queries("q158_state_cdc_vacuum")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every lifecycle leg must actually fire on the corpus: LWW
    // updates, unseen-key inserts, purge deletes — a fixture where any
    // slice is empty would certify nothing for that change type (and
    // the spurious-change direction is oracle-visible: an unexpected
    // _change emits a metric row the oracle lacks)
    assert(rows("cdc12_update_keys") > 0L, "no LWW updates captured")
    assert(rows("cdc12_insert_keys") > 0L, "no inserts captured")
    assert(rows("cdc23_delete_keys") > 0L, "no purge deletes captured")
    assert(rows("versions_before_vacuum") == 3L && rows("versions_after_vacuum") == 1L)
    assert(rows("post_vacuum_rows") > 0L)
  }

  test("q156's store leaves both versions retained and LWW visible post-compact") {
    import spark.implicits._
    val sf = TestSpark.testdata("0.001")
    // replay the fixture against a table handle we keep, so the
    // lifecycle is inspectable (the judged query's own store is
    // invocation-scoped and swept)
    val o = graft.tables.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
    def part(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("part", (col("o_orderkey") % 5).cast("int"))
        .withColumn("ord", col("o_orderkey"))
    val st = new StateTable(spark,
      graft.core.Staging.invocationDir("graft_q156_spec", sf),
      Seq("o_orderkey"), partitionCols = Seq("part"))
    st.upsert(part(o.filter(col("o_orderkey") % 3 =!= 0)), Some("ord"))
    st.upsert(part(o.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))), Some("ord"))
    val preV = st.currentVersion.get
    st.compact()
    val postV = st.currentVersion.get
    assert(preV != postV, "compact must write a NEW immutable version")
    assert(st.history().size == 3, "first load + re-run + compact = 3 versions")
    // the pre-compact version is still readable (immutable until vacuum)
    // and _seq survives compaction exactly (multiset equality incl. _seq)
    val pre = spark.read.parquet(s"${st.root}/$preV")
    val post = spark.read.parquet(s"${st.root}/$postV")
    assert(pre.count() == post.count())
    assert(pre.select(col(StateTable.SeqCol)).as[Long].collect().sorted.toSeq
      == post.select(col(StateTable.SeqCol)).as[Long].collect().sorted.toSeq,
      "_seq not preserved byte-for-byte under compaction")
    // LWW through the REAL store: an even, non-mod-3 key must read back
    // at 1.1× its source price from the compacted version
    val k = o.filter(col("o_orderkey") % 2 === 0 && col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice")).as[(Long, Double)].head()
    val got = post.filter(col("o_orderkey") === k._1)
      .select(col("o_totalprice")).as[Double].head()
    assert(got == k._2 * 1.1, s"LWW value lost under compaction: $got vs ${k._2 * 1.1}")
  }
}
