package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join utilities for the scale path: skew-salted equi-join and an
  * as-of (nearest-prior-event) join — operators a training-data
  * pipeline needs that plain equi-joins don't cover.
  */
object Joins {

  /** Skew-salted inner equi-join: the large (skewed) side gets a random
    * salt in [0, saltFactor); the small side is replicated `saltFactor`
    * times, so one hot key spreads over `saltFactor` shuffle partitions
    * instead of melting a single reducer. AQE's skew handling covers
    * sort-merge joins it can see; this is the explicit form for when the
    * skew is known up front or the join is produced by an API.
    *
    * The salt uses a deterministic hash of the row (xxhash64 over all
    * large-side columns), not rand(), so retried tasks produce identical
    * output — nondeterministic salting breaks Spark's task-retry
    * assumptions.
    */
  def saltedJoin(
      large: DataFrame,
      small: DataFrame,
      key: String,
      saltFactor: Int = 8): DataFrame = {
    require(saltFactor > 0, s"saltFactor must be positive, got $saltFactor")
    val saltedLarge = large.withColumn("_salt",
      pmod(xxhash64(large.columns.map(col).toIndexedSeq: _*), lit(saltFactor)))
    val saltedSmall = small
      .withColumn("_salt", explode(sequence(lit(0), lit(saltFactor - 1))))
      .withColumn("_salt", col("_salt").cast("long"))
    saltedLarge.join(saltedSmall, Seq(key, "_salt")).drop("_salt")
  }

  /** Range (interval) join: left point-events joined to right intervals
    * containing them (`start ≤ ts < end`), same key. A naive theta-join
    * is a per-key cartesian; here both sides are bucketed into
    * `binWidth`-second time bins — intervals explode into the bins they
    * overlap, points into their single bin — so the join is an equi-join
    * on (key, bin) with an exact containment filter after. Shuffle key =
    * (key, bin); an interval costs ceil(len/binWidth) replicas, so pick
    * binWidth near the typical interval length.
    */
  def rangeJoin(
      points: DataFrame,
      intervals: DataFrame,
      key: String,
      tsCol: String,
      startCol: String,
      endCol: String,
      binWidthSec: Long = 3600L): DataFrame = {
    require(binWidthSec > 0, s"binWidthSec must be positive, got $binWidthSec")
    val binnedPoints = points.withColumn("_bin",
      floor(unix_timestamp(col(tsCol)) / binWidthSec))
    val binnedIntervals = intervals.withColumn("_bin",
      explode(sequence(
        floor(unix_timestamp(col(startCol)) / binWidthSec),
        // end is exclusive: a zero-length tail bin is still generated,
        // the exact filter discards non-matches
        floor(unix_timestamp(col(endCol)) / binWidthSec))))
    binnedPoints.join(binnedIntervals, Seq(key, "_bin"))
      .filter(col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop("_bin")
  }

  /** As-of join: for every left row, the single right row with the
    * greatest `rightTs` ≤ `leftTs` within the same `key` (classic
    * market-data / feature-store semantics). Implemented as union +
    * window `last_value(ignoreNulls)` ordered by time — one shuffle on
    * (key), no per-row range scan, no cartesian; scales as a plain
    * window over the combined stream.
    *
    * Left columns are preserved; right columns (minus the key, but
    * including `rightTs`) are appended, null when no prior right row
    * exists.
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String): DataFrame = {
    val (tagged, rightVals, leftCols) = tagSides(left, right, key, leftTs, rightTs)
    val w = Window.partitionBy(col(key))
      .orderBy(col("_ts").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    projectAsOf(fillLast(tagged, w, rightVals, leftCols, key), key, rightVals, leftCols)
  }

  /** [[asOfJoin]] for HOT keys: a single pathological key serializes one
    * window partition in the plain form (everything for that key lands on
    * one reducer). Here time is cut into `bucketSec` buckets and the
    * window runs per (key, bucket) — parallelism grows with the key's
    * time span. Correctness across bucket boundaries comes from a
    * carry-in pass: the last right row of every earlier bucket (a tiny
    * per-(key, bucket) summary, shuffled once) is injected into each
    * bucket as a synthetic predecessor row.
    *
    * Equivalent to [[asOfJoin]] whenever right rows have distinct
    * timestamps per key (on exact right-ts ties the two forms may pick
    * different tied rows — the plain window's pick is itself
    * order-dependent there).
    */
  def asOfJoinSalted(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      bucketSec: Long = 86400L): DataFrame = {
    require(bucketSec > 0, s"bucketSec must be positive, got $bucketSec")
    val (tagged0, rightVals, leftCols) = tagSides(left, right, key, leftTs, rightTs)
    val rCols = rightVals.map(c => s"_r_$c")
    val tagged = tagged0.withColumn("_bucket",
      floor(unix_timestamp(col("_ts")) / bucketSec))

    // last right row of each (key, bucket): max of (ts, side, values) —
    // struct ordering puts the greatest timestamp first
    val rightSummary = tagged.filter(col("_side") === 0)
      .groupBy(col(key), col("_bucket"))
      .agg(max(struct((col("_ts") +: rCols.map(col)): _*)).as("_last"))

    // running carry: for every bucket the key appears in, the last right
    // row from any STRICTLY EARLIER bucket (a per-(key,bucket) summary —
    // the hot key contributes #buckets rows here, not #events)
    val wc = Window.partitionBy(col(key)).orderBy(col("_bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = tagged.select(col(key), col("_bucket")).distinct()
      .join(rightSummary, Seq(key, "_bucket"), "left")
      .withColumn("_carry", last(col("_last"), ignoreNulls = true).over(wc))
      .filter(col("_carry").isNotNull)

    val carryRows = carry.select(
      Seq(col(key), col("_carry._ts").as("_ts"), lit(-1).as("_side"), col("_bucket")) ++
        rCols.map(c => col(s"_carry.$c").as(c)) ++
        leftCols.filterNot(_ == key).map(c => lit(null).as(s"_l_$c")): _*)

    val w = Window.partitionBy(col(key), col("_bucket"))
      .orderBy(col("_ts").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = fillLast(tagged.unionByName(carryRows), w, rightVals, leftCols, key)
    projectAsOf(filled, key, rightVals, leftCols)
  }

  /** Tag and align the two sides on (key, ts); right rows sort before
    * left rows at the same timestamp so "<=" semantics hold. */
  private def tagSides(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String): (DataFrame, Seq[String], Seq[String]) = {
    val rightVals = right.columns.filterNot(_ == key).toSeq
    val leftCols = left.columns.toSeq
    val taggedRight = right
      .withColumn("_ts", col(rightTs))
      .withColumn("_side", lit(0))
      .select(Seq(col(key), col("_ts"), col("_side")) ++
        rightVals.map(c => col(c).as(s"_r_$c")) ++
        leftCols.filterNot(_ == key).map(c => lit(null).as(s"_l_$c")): _*)
    val taggedLeft = left
      .withColumn("_ts", col(leftTs))
      .withColumn("_side", lit(1))
      .select(Seq(col(key), col("_ts"), col("_side")) ++
        rightVals.map(c => lit(null).cast(right.schema(c).dataType).as(s"_r_$c")) ++
        leftCols.filterNot(_ == key).map(c => col(c).as(s"_l_$c")): _*)
    (taggedRight.unionByName(taggedLeft), rightVals, leftCols)
  }

  private def fillLast(
      tagged: DataFrame,
      w: org.apache.spark.sql.expressions.WindowSpec,
      rightVals: Seq[String],
      leftCols: Seq[String],
      key: String): DataFrame =
    tagged.select(
      (Seq(col(key), col("_ts"), col("_side")) ++
        leftCols.filterNot(_ == key).map(c => col(s"_l_$c")) ++
        rightVals.map(c => last(col(s"_r_$c"), ignoreNulls = true).over(w).as(s"_r_$c"))): _*)
      .filter(col("_side") === 1)

  private def projectAsOf(
      filled: DataFrame,
      key: String,
      rightVals: Seq[String],
      leftCols: Seq[String]): DataFrame =
    filled.select(
      leftCols.map(c => if (c == key) col(key) else col(s"_l_$c").as(c)) ++
        rightVals.map(c => col(s"_r_$c").as(c)): _*)
}
