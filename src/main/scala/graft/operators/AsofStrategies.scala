package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The measured ALTERNATIVE as-of strategy (VERDICT r12 item 3).
  *
  * [[TimeSeriesOps.asOfLookup]] unions both streams and runs incremental
  * window frames partitioned by the series keys — one shuffle, but a HOT
  * KEY serializes: every row of a 50%-of-the-data site lands in one task
  * whose sort and window scan run single-threaded. This variant adds a
  * TIME BUCKET to the partition key so a hot series parallelizes across
  * its buckets, at the price of extra (small) shuffles for the
  * cross-bucket carry:
  *
  *  1. union the tagged streams, bucket `__b = floor(ts / W)`, and run
  *     the SAME incremental within-bucket frames — but partitioned by
  *     (keys, __b), so partitions are bucket-sized, never series-sized;
  *  2. a per-(keys, bucket) carry grid — latest right row at/under each
  *     bucket's end and earliest at/over each bucket's start, run as a
  *     running window over the BUCKET grid (cardinality = distinct
  *     (keys, bucket), orders of magnitude below row count);
  *  3. one co-partitioned equi-join of left rows against the carry grid
  *     on (keys, __b); backward = within-bucket pick else previous
  *     carry, forward = within-bucket pick else next carry.
  *
  * Same contract as `asOfLookup(backward = true, forward = true)` with
  * inclusive coincident-timestamp matching. One deliberate divergence:
  * matching is by right-ROW presence (the matched row's values carry
  * over even if some are null), i.e. [[TimeSeriesOps.asofJoin]]'s
  * convention, not per-column ignoreNulls — identical whenever the
  * carried columns are non-null, which is the J4 pipeline case.
  *
  * Verdict after measuring (bench/ASOF_SPIKE_r13_mult{50,200}.json,
  * SCALE.md §8): NOT adopted as the default — the union form wins at
  * production skew (and the level pipeline's per-site series are
  * calendar-bounded anyway); this exists as the documented escape hatch
  * for a pathological single-series workload, the same role
  * [[SkewOps.saltedJoin]] plays for joins.
  */
object AsofStrategies {

  def asOfLookupBucketed(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      outSuffix: String = "_asof",
      bucketSeconds: Long = 86400L): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val leftCols = left.columns.toSeq
    val leftTypes = left.schema.map(f => f.name -> f.dataType).toMap
    val rightTypes = right.schema.map(f => f.name -> f.dataType).toMap

    // Tagged union, exactly asOfLookup's framing (right rows surface the
    // value columns as __v_*; left rows carry typed nulls there).
    val lU = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__is_left", lit(1))
      .select(
        (leftCols.map(col) ++ Seq(col("__ts"), col("__is_left")) ++
          valueCols.map(c => lit(null).cast(rightTypes(c)).as(s"__v_$c"))): _*)
    val rU = right
      .withColumn("__ts", col(rightTs))
      .withColumn("__is_left", lit(0))
      .select(
        (leftCols.map(c =>
          if (keys.contains(c)) col(c)
          else lit(null).cast(leftTypes(c)).as(c)) ++
          Seq(col("__ts"), col("__is_left")) ++
          valueCols.map(c => col(c).as(s"__v_$c"))): _*)

    val keyCols = keys.map(col)
    def bucketOf(ts: Column): Column = floor(ts.cast("long") / bucketSeconds)
    // the matched right row as one struct, __ts FIRST so struct min/max
    // order by time (ties resolved by the value fields — deterministic
    // for deterministic inputs)
    val rowStruct = struct(
      (col("__ts").as("__sts") +:
        valueCols.map(c => col(s"__v_$c").as(c))): _*)

    val unioned = lU.unionByName(rU).withColumn("__b", bucketOf(col("__ts")))
    val bucketKeys = keyCols :+ col("__b")

    // (1) within-bucket picks: asOfLookup's incremental frames, but the
    // partition is (keys, bucket) — a hot series spreads over its
    // buckets instead of serializing into one task
    val wSameB = Window.partitionBy(bucketKeys: _*)
      .orderBy(col("__ts").asc, col("__is_left").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSameF = Window.partitionBy(bucketKeys: _*)
      .orderBy(col("__ts").desc, col("__is_left").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rightRow = when(col("__is_left") === 0, rowStruct)
    val withSame = unioned
      .withColumn("__backSame", last(rightRow, ignoreNulls = true).over(wSameB))
      .withColumn("__fwdSame", last(rightRow, ignoreNulls = true).over(wSameF))

    // (2) the carry grid: every (keys, bucket) seen on EITHER side, with
    // the latest right row of strictly-earlier buckets and the earliest
    // of strictly-later ones. Grid cardinality is #distinct buckets per
    // series — the windows here run over bucket counts, not row counts.
    val perBucket = rU.withColumn("__b", bucketOf(col("__ts")))
      .groupBy(bucketKeys: _*)
      .agg(max(rowStruct).as("__bLast"), min(rowStruct).as("__bFirst"))
    val grid = unioned.select(bucketKeys: _*).distinct()
      .join(perBucket, keys :+ "__b", "left")
    val wPrev = Window.partitionBy(keyCols: _*).orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(keyCols: _*).orderBy(col("__b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = grid
      .withColumn("__prevCarry", last(col("__bLast"), ignoreNulls = true).over(wPrev))
      .withColumn("__nextCarry", last(col("__bFirst"), ignoreNulls = true).over(wNext))
      .select((keyCols :+ col("__b") :+ col("__prevCarry") :+
        col("__nextCarry")): _*)

    // (3) resolve: within-bucket pick, else the carry across buckets;
    // backward wins over forward (asOfLookup's fallback order)
    val picked = withSame
      .filter(col("__is_left") === 1)
      .join(carries, keys :+ "__b")
      .withColumn("__pick", coalesce(
        col("__backSame"), col("__prevCarry"),
        col("__fwdSame"), col("__nextCarry")))
    picked.select(
      (leftCols.map(col) ++
        valueCols.map(c => col("__pick").getField(c).as(s"$c$outSuffix"))): _*)
  }
}
