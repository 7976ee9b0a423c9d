package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.tables.Tables

/** q110 invariants, checked against an INDEPENDENT in-memory
  * recomputation (java.util.regex directly, no Spark expressions) so
  * the Spark program and its own oracle can't share a bug.
  */
class PiiOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = TestSpark.testdata("0.001")

  test("redaction machinery on a crafted string") {
    val s = "write to a.b+c@ex-1.org or 555-123-4567, acct 123456789 ok"
    val red = s.replaceAll(PiiOps.EmailRe, "<EMAIL>")
      .replaceAll(PiiOps.PhoneRe, "<PHONE>")
      .replaceAll(PiiOps.IdRe, "<ID>")
    assert(red == "write to <EMAIL> or <PHONE>, acct <ID> ok")
    // 10-digit run is NOT an id (word boundaries bind the whole run)
    assert("x 1234567890 y".replaceAll(PiiOps.IdRe, "<ID>") == "x 1234567890 y")
  }

  test("q110 totals match an independent per-doc recomputation") {
    val rows = PiiOps.q110PiiRedaction.run(spark, sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    // independent recomputation: inject + scan with plain Java regex
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").collect()
    val expected = docs.groupBy(_.getString(1)).map { case (src, rs) =>
      val per = rs.map { r =>
        val id = r.getLong(0)
        val text = Option(r.getString(2)).getOrElse("")
        val aug = text + " contact user" + id + "@example.com" +
          (if (id % 3 == 0) " call 555-" + f"${id * 7 % 1000}%03d-${id * 13 % 10000}%04d" else "") +
          (if (id % 7 == 0) " ref " + f"${id * 37 % 1000000000L}%09d" else "")
        def hits(re: String) =
          java.util.regex.Pattern.compile(re).matcher(aug).results().count().toInt
        val red = aug.replaceAll(PiiOps.EmailRe, "<EMAIL>")
          .replaceAll(PiiOps.PhoneRe, "<PHONE>").replaceAll(PiiOps.IdRe, "<ID>")
        (hits(PiiOps.EmailRe), hits(PiiOps.PhoneRe), hits(PiiOps.IdRe),
          aug.length - red.length)
      }
      src -> ((per.length.toLong, per.map(_._1).sum.toLong, per.map(_._2).sum.toLong,
        per.map(_._3).sum.toLong, per.map(_._4).sum.toLong))
    }
    assert(rows.keySet == expected.keySet)
    expected.foreach { case (src, (nDocs, nEmails, nPhones, nIds, bytes)) =>
      val r = rows(src)
      assert(r.getLong(r.fieldIndex("n_docs")) == nDocs, s"$src n_docs")
      assert(r.getLong(r.fieldIndex("n_emails")) == nEmails, s"$src n_emails")
      assert(r.getLong(r.fieldIndex("n_phones")) == nPhones, s"$src n_phones")
      assert(r.getLong(r.fieldIndex("n_ids")) == nIds, s"$src n_ids")
      assert(r.getLong(r.fieldIndex("bytes_redacted")) == bytes, s"$src bytes_redacted")
      // every doc gains an email, so every doc has PII
      assert(r.getLong(r.fieldIndex("n_docs_with_pii")) == nDocs, s"$src n_docs_with_pii")
      assert(r.getLong(r.fieldIndex("n_residual")) == 0L, s"$src residual PII after redaction")
    }
  }
}
