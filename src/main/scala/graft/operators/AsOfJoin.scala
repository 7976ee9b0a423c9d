package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (time-travel) join: for each left row, the latest right row with
  * `rightTime <= leftTime` within the same key — an operator Spark lacks
  * natively.
  *
  * Implementation is compositional (SURVEY.md §7.3 preference (a)): tag
  * both sides, union, and carry the right side's values forward with a
  * `last(_, ignoreNulls)` running window ordered by (time, side) — right
  * rows sort before left rows at equal timestamps, so `<=` semantics hold.
  * Cost: ONE shuffle on the key (the union's window), versus a range-join
  * explosion (`left × right` per key) for the naive inequality join. At
  * 100 TB both sides stream through a single hash partitioning; state per
  * key inside the window is O(1) (just the carried values).
  */
object AsOfJoin {

  /** Columns of `right` other than key/time are carried onto matching
    * left rows (null when no right row precedes the left row — LEFT
    * as-of semantics).
    *
    * All right columns travel as ONE struct carried by a single
    * `last(_, ignoreNulls)`: the whole matched row survives or none of it
    * does. (Carrying columns independently would substitute a value from
    * an OLDER right row wherever the true match holds NULL — mixing
    * columns from different right rows.)
    *
    * SQL comparison semantics, matching DuckDB ASOF: a NULL join key
    * never matches (left rows with NULL keys are null-extended), and a
    * right row with NULL time can never satisfy `rightTime <= leftTime`.
    */
  def asof(
      left: DataFrame,
      right: DataFrame,
      key: Seq[String],
      leftTime: String,
      rightTime: String): DataFrame = {
    val carried = right.columns.filterNot(c => key.contains(c) || c == rightTime)
    // Right rows with a NULL key or NULL time can never be matched under
    // SQL comparison semantics — drop them before the union. Left rows
    // with NULL keys land in the window's null partition, which then
    // holds no right rows, so they null-extend naturally.
    val rMatchable = (key :+ rightTime).map(col(_).isNotNull).reduce(_ && _)
    val rStruct = struct((col(rightTime).as("_time") +: carried.map(col)).toIndexedSeq: _*)
    val rTagged = right.filter(rMatchable).select(
      key.map(col) ++
        Seq(col(rightTime).as("_t"), lit(0).as("_side"), rStruct.as("_r")): _*)
    val lRest = left.columns.filterNot(c => key.contains(c) || c == leftTime)
    val lTagged = left.select(
      key.map(col) ++
        Seq(col(leftTime).as("_t"), lit(1).as("_side"),
          lit(null).cast(rTagged.schema("_r").dataType).as("_r")) ++
        lRest.map(col): _*)

    // Total order: ties on (_t, _side) — multiple right rows with the
    // same (key, time) — are broken by the carried struct's lexicographic
    // order, so the surviving match is deterministic across runs and
    // partitionings. Left rows sort after right rows at equal timestamps
    // (`<=` semantics); a left row with NULL time sorts before every
    // right row (NULLS FIRST) and therefore null-extends.
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col("_t"), col("_side"), col("_r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = rTagged
      .unionByName(lTagged, allowMissingColumns = true)
      .withColumn("_m", last(col("_r"), ignoreNulls = true).over(w))

    matched.filter(col("_side") === 1)
      .select(
        key.map(col) ++ Seq(col("_t").as(leftTime)) ++ lRest.map(col) ++
          Seq(col("_m._time").as(s"asof_$rightTime")) ++
          carried.map(c => col(s"_m.$c").as(s"asof_$c")): _*)
  }

  /** Forward as-of: for each left row, the EARLIEST right row with
    * `rightTime >= leftTime` within the same key ("next event after").
    * Pure reduction to the backward join on negated time: the latest
    * right with −rt ≤ −lt is exactly the earliest right with rt ≥ lt,
    * inclusive ties included — one implementation, both directions.
    * The original right time column rides along as a carried value, so
    * the output matches [[asof]]'s shape (asof_<col> columns).
    */
  def asofForward(
      left: DataFrame,
      right: DataFrame,
      key: Seq[String],
      leftTime: String,
      rightTime: String): DataFrame = {
    val ln = "_fwd_lt"
    val rn = "_fwd_rt"
    val l2 = left.withColumn(ln, -unix_micros(col(leftTime)))
    val r2 = right.withColumn(rn, -unix_micros(col(rightTime)))
    asof(l2, r2, key, ln, rn)
      .drop(ln, s"asof_$rn")
  }
}
