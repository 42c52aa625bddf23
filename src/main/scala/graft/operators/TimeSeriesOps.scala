package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Set-based re-expressions of the reference's row-at-a-time temporal
  * operators (CSIRO-enviro-informatics/cosmoz-data-pipeline). Each is a
  * single-shuffle plan: one hash partitioning on the series keys plus a
  * per-partition sort, so it scales linearly with data volume and keeps
  * all work inside whole-stage codegen (no UDFs, no driver loops).
  */
object TimeSeriesOps {

  /** As-of lookup with backward-then-forward fallback.
    *
    * Reference: `pipeline/cosmoz_process_levels.py:259-285` — for each left
    * row at time t, take LAST(right.value) with rts <= t; if none, take
    * FIRST(right.value) with rts >= t; if none, null (caller substitutes a
    * default, e.g. intensity_corr = 1.0).
    *
    * Implementation: union the two streams tagged with `__is_left` and run
    * `last(_, ignoreNulls)` / `first(_, ignoreNulls)` over unbounded frames
    * partitioned by the series keys. At equal timestamps right rows sort
    * before left rows, so an exactly-coincident right row is matched by the
    * backward tier (rts <= t is inclusive). One shuffle, no join explosion —
    * this is what a sort-merge as-of join does, expressed with built-ins.
    *
    * @param valueCols right-side columns to carry to matching left rows;
    *                  emitted as `<name><outSuffix>`.
    */
  /** @param backwardPickFirst when true, the backward tier picks the
    *   EARLIEST right row at/before t instead of the latest — the
    *   reference's `emulate_old_version` quirk (`FIRST(intensity) WHERE
    *   time <= t`, `pipeline/cosmoz_process_levels.py:262-264`).
    */
  def asOfLookup(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      outSuffix: String = "_asof",
      backward: Boolean = true,
      forward: Boolean = true,
      backwardPickFirst: Boolean = false): DataFrame = {
    require(backward || forward, "at least one direction required")
    val leftCols = left.columns.toSeq
    val leftTypes = left.schema.map(f => f.name -> f.dataType).toMap
    val rightTypes = right.schema.map(f => f.name -> f.dataType).toMap

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

    // Both tiers are expressed as last(_, ignoreNulls) over an UNBOUNDED-
    // PRECEDING frame, which Spark evaluates incrementally (O(rows)). The
    // naive forward formulation — first() over currentRow->unboundedFollowing
    // — recomputes the frame from scratch for every row, i.e. O(rows^2) per
    // series: at 1000x data that's the difference between seconds and days.
    //
    // Backward: (ts asc, right-before-left at ties) — the running last
    //   non-null is the largest rts <= t, coincident rows included.
    // Forward: same frame over (ts DESC, right-before-left at ties) — the
    //   running last non-null is the SMALLEST rts >= t, coincident included.
    // Same partitioning for both, so the second ordering is a re-sort
    // within the single shuffle, not another exchange.
    val wBack = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__is_left").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").desc, col("__is_left").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val withPicks = valueCols.foldLeft(lU.unionByName(rU)) { (df, c) =>
      val back =
        if (!backward) lit(null).cast(rightTypes(c))
        // first(ignoreNulls) over unboundedPreceding is also incremental.
        else if (backwardPickFirst) first(col(s"__v_$c"), ignoreNulls = true).over(wBack)
        else last(col(s"__v_$c"), ignoreNulls = true).over(wBack)
      val fwd =
        if (forward) last(col(s"__v_$c"), ignoreNulls = true).over(wFwd)
        else lit(null).cast(rightTypes(c))
      df.withColumn(s"$c$outSuffix", coalesce(back, fwd))
    }
    withPicks
      .filter(col("__is_left") === 1)
      .select((leftCols.map(col) ++ valueCols.map(c => col(s"$c$outSuffix"))): _*)
  }

  /** General as-of join with `merge_asof` parity — [[asOfLookup]]'s
    * sibling for the full contract: `direction` backward / forward /
    * nearest (nearest ties break backward, the pandas convention), an
    * optional `toleranceSeconds` beyond which a match is discarded, and
    * the matched right timestamp emitted alongside the values
    * (`<rightTs><outSuffix>`) so callers can audit match distance.
    *
    * Same scale shape as [[asOfLookup]]: union the tagged streams, one
    * shuffle on the keys, and each direction is an incremental
    * `last(_, ignoreNulls)` over an unbounded-preceding frame — O(rows)
    * per series, never a range-join explosion. The right row rides as
    * ONE struct per direction, so a null value column cannot desync
    * from its matched timestamp (matching is by row presence, like
    * merge_asof — not by value non-nullness). Coincident timestamps
    * match in both directions (distance 0).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      direction: String = "backward",
      toleranceSeconds: Long = -1L,
      outSuffix: String = "_asof"): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asofJoin: direction must be backward|forward|nearest, got $direction")
    require(toleranceSeconds >= -1L,
      s"asofJoin: toleranceSeconds must be -1 (none) or >= 0")
    val reserved = Seq("__ts", "__is_left", "__vr", "__back", "__fwd")
    for (c <- reserved; side <- Seq(left, right))
      require(!side.columns.contains(c),
        s"asofJoin reserves column $c — rename it on the input")
    val leftCols = left.columns.toSeq
    val leftTypes = left.schema.map(f => f.name -> f.dataType).toMap
    val rightStruct = struct(
      (col(rightTs).as("rts") +: valueCols.map(c => col(c))): _*)
    val vrType = right.select(rightStruct).schema.head.dataType
    val lU = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__is_left", lit(1))
      .withColumn("__vr", lit(null).cast(vrType))
    val rU = right
      .withColumn("__ts", col(rightTs))
      .withColumn("__is_left", lit(0))
      .withColumn("__vr", rightStruct)
      .select(
        (leftCols.map(c =>
          if (keys.contains(c)) col(c)
          else lit(null).cast(leftTypes(c)).as(c)) ++
          Seq(col("__ts"), col("__is_left"), col("__vr"))): _*)
    // __vr as the final sort key makes the order TOTAL over right rows:
    // two right rows sharing (key, ts) would otherwise sit in
    // partitioning-dependent order and last() would match either one —
    // nondeterminism the oracle (and any retry) cannot tolerate. Left
    // rows tie only with left rows (null __vr), whose relative order
    // cannot affect their own window results.
    val wBack = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__is_left").asc, col("__vr").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").desc, col("__is_left").asc, col("__vr").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val back =
      if (direction == "forward") lit(null).cast(vrType)
      else last(col("__vr"), ignoreNulls = true).over(wBack)
    val fwd =
      if (direction == "backward") lit(null).cast(vrType)
      else last(col("__vr"), ignoreNulls = true).over(wFwd)
    val tolMicros =
      if (toleranceSeconds < 0) lit(Long.MaxValue)
      else lit(toleranceSeconds * 1000000L)
    val t = unix_micros(col("__ts"))
    def dist(pick: Column) = abs(t - unix_micros(pick.getField("rts")))
    val picked = direction match {
      case "backward" => col("__back")
      case "forward"  => col("__fwd")
      case _ =>
        when(col("__back").isNull, col("__fwd"))
          .when(col("__fwd").isNull, col("__back"))
          .when(dist(col("__back")) <= dist(col("__fwd")), col("__back"))
          .otherwise(col("__fwd"))
    }
    val chosen = when(picked.isNotNull && dist(picked) <= tolMicros, picked)
    lU.unionByName(rU)
      .withColumn("__back", back)
      .withColumn("__fwd", fwd)
      .withColumn("__vr", chosen)
      .filter(col("__is_left") === 1)
      .select((leftCols.map(col) :+
        col("__vr").getField("rts").as(s"$rightTs$outSuffix")) ++
        valueCols.map(c =>
          col("__vr").getField(c).as(s"$c$outSuffix")): _*)
  }

  /** Near-duplicate suppression within a trailing time window.
    *
    * Reference: `pipeline/cosmoz_process_levels.py:375-390` + `is_duplicate`
    * `:316-337` — a row is a duplicate iff some strictly-earlier row of the
    * same series within [t - window, t) has every comparison column equal.
    *
    * Implementation: "some equal row in the trailing window" is equivalent
    * to "the LATEST strictly-earlier equal row is in the trailing window",
    * so partition by (series keys ++ comparison columns) — null-safe
    * grouping, like the reference's field equality — order by microsecond
    * time, and take max(ts) over the strict-predecessor range frame
    * (unboundedPreceding, -1µs]; the frame excludes coincident rows, like
    * the reference's inclusive=(True, False) probe. One shuffle, O(1)
    * work per row (the collect_list-per-row formulation costs O(window
    * occupancy) per row and dominates dense streams), and the wider hash
    * key only spreads the shuffle more evenly.
    */
  def dedupWithin(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      windowSeconds: Long,
      cmpCols: Seq[String],
      markOnly: Boolean = false,
      dupFlagCol: String = "__is_dup"): DataFrame = {
    val tsMicros = unix_micros(col(tsCol))
    val w = Window
      .partitionBy((keys ++ cmpCols).map(col): _*)
      .orderBy(tsMicros)
      .rangeBetween(Window.unboundedPreceding, -1)
    val latestPriorEqual = max(tsMicros).over(w)
    val isDup = latestPriorEqual.isNotNull &&
      latestPriorEqual >= tsMicros - windowSeconds * 1000000L
    val marked = df.withColumn(dupFlagCol, isDup)
    if (markOnly) marked
    else marked.filter(!col(dupFlagCol)).drop(dupFlagCol)
  }

  /** Near-duplicate AUDIT (the reference's standalone detector,
    * `pipeline/detect_duplicates.py:62-111`): for each row, count prior
    * rows within the trailing window where >= minMatches of the audit
    * fields are equal — the pressure field is chosen dynamically from the
    * CURRENT row (pressure2 when it is live (>10) and pressure1 is not,
    * `:72-77`) and the SAME choice is read from both rows.
    *
    * Shape: banded range self-join — each row probes its own window-width
    * bucket and the previous one (any prior row within windowSeconds lands
    * in one of the two), so the join is an equi-join on (keys, bucket)
    * with the exact time bound applied after. No theta-join explosion;
    * bucket occupancy bounds the per-row work.
    */
  /** The matched audit pairs (shared by the count and report forms):
    * one row per (current row, prior row within window, >= minMatches
    * equal fields), carrying both rows' audit fields as JSON.
    */
  private def nearDupAuditPairs(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      windowSeconds: Long,
      auditFields: Seq[String],
      pressure1: String,
      pressure2: String,
      minMatches: Int): DataFrame = {
    val bucket = floor(unix_micros(col(tsCol)) / (windowSeconds * 1000000L))
    val a = df.withColumn("__bkt", bucket).alias("a")
    val b = df.withColumn("__bkt", bucket).alias("b")
    val probe = a.withColumn("__probe",
      explode(array(col("a.__bkt"), col("a.__bkt") - 1)))
    val keyCond = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    val joined = probe.join(b,
      keyCond && col("__probe") === col("b.__bkt") &&
        col(s"b.$tsCol") >= col(s"a.$tsCol") - expr(s"INTERVAL $windowSeconds SECOND") &&
        col(s"b.$tsCol") < col(s"a.$tsCol"))
    val usePressure2 = col(s"a.$pressure2").isNotNull && col(s"a.$pressure2") > 10 &&
      (col(s"a.$pressure1").isNull || col(s"a.$pressure1") < 10)
    val pA = when(usePressure2, col(s"a.$pressure2")).otherwise(col(s"a.$pressure1"))
    val pB = when(usePressure2, col(s"b.$pressure2")).otherwise(col(s"b.$pressure1"))
    val matches = (auditFields.map(f =>
      when(col(s"a.$f") <=> col(s"b.$f"), 1).otherwise(0)) :+
      when(pA <=> pB, 1).otherwise(0)).reduce(_ + _)
    val recCols = auditFields :+ pressure1 :+ pressure2
    joined
      .filter(matches >= minMatches)
      .select(keys.map(k => col(s"a.$k").as(k)) ++ Seq(
        col(s"a.$tsCol").as(tsCol),
        to_json(struct(recCols.map(f => col(s"a.$f").as(f)): _*)).as("a_rec"),
        col(s"b.$tsCol").as("prior_ts"),
        to_json(struct(recCols.map(f => col(s"b.$f").as(f)): _*)).as("b_rec"),
        (unix_micros(col(s"a.$tsCol")) - unix_micros(col(s"b.$tsCol")))
          .as("offset_us")): _*)
  }

  def nearDupAudit(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      windowSeconds: Long,
      auditFields: Seq[String],
      pressure1: String = "pressure1",
      pressure2: String = "pressure2",
      minMatches: Int = 5): DataFrame =
    nearDupAuditPairs(df, keys, tsCol, windowSeconds, auditFields,
      pressure1, pressure2, minMatches)
      .groupBy(keys.map(col) :+ col(tsCol): _*)
      .agg(count(lit(1)).as("n_dups"))

  /** Human-review report for the audit — the reference writes a text file
    * per site (`pipeline/detect_duplicates.py:89-111`: a station header,
    * then per duplicate time the current record and each prior record with
    * its minutes/seconds offset). Emitted as ORDERED REPORT LINES
    * (keys..., at_time, pos, line) so formatting stays distributed; pair
    * with [[writeAuditReport]] to lay them down as per-site text files.
    */
  def nearDupAuditReport(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      windowSeconds: Long,
      auditFields: Seq[String],
      pressure1: String = "pressure1",
      pressure2: String = "pressure2",
      minMatches: Int = 5): DataFrame = {
    val pairs = nearDupAuditPairs(df, keys, tsCol, windowSeconds,
      auditFields, pressure1, pressure2, minMatches)
    val perTime = pairs
      .groupBy(keys.map(col) :+ col(tsCol): _*)
      .agg(
        any_value(col("a_rec")).as("a_rec"),
        array_sort(collect_list(struct(col("prior_ts"), col("offset_us"),
          col("b_rec")))).as("priors"))
    // offset < 1 minute is reported in seconds, like the reference
    val priorLines = flatten(transform(col("priors"), p => {
      val secs = p("offset_us").cast("double") / 1e6
      val line1 = when(secs < 60.0,
        format_string("\tRecord at %s seconds before:", secs.cast("string")))
        .otherwise(format_string("\tRecord at %s minutes before:",
          (secs / 60.0).cast("string")))
      array(line1,
        format_string("\t%s - %s", p("prior_ts").cast("string"), p("b_rec")))
    }))
    val body = perTime.select(keys.map(col) ++ Seq(
      col(tsCol).as("at_time"),
      posexplode(concat(
        array(
          format_string("%nTime %s is potentially a duplicate of %d previous records:",
            col(tsCol).cast("string"), size(col("priors"))),
          format_string("\tThis record: %s", col("a_rec"))),
        priorLines))): _*)
      .withColumnRenamed("col", "line")
    // one header line per key group; null at_time sorts first
    val header = df.select(keys.map(col): _*).distinct()
      .join(body.select(keys.map(col): _*).distinct(), keys, "left_semi")
      .select(keys.map(col) ++ Seq(
        lit(null).cast("timestamp").as("at_time"), lit(0).as("pos"),
        format_string("Results of search for duplicates at station number %s",
          concat_ws("/", keys.map(k => col(k).cast("string")): _*))
          .as("line")): _*)
    header.unionByName(body)
  }

  /** Writes report lines as per-site text files (ops glue for the review
    * workflow; each key group's file reads top to bottom in report order).
    */
  def writeAuditReport(
      lines: DataFrame,
      keys: Seq[String],
      path: String): Unit =
    Layouts.writePartitioned(lines, path, keys, format = "text",
      prepare = _.sortWithinPartitions(keys.map(col) ++
        Seq(col("at_time").asc_nulls_first, col("pos")): _*)
        .select(keys.map(col) :+ col("line").as("value"): _*))

  /** Centered moving aggregate over a +/- time radius (the level4 filter).
    *
    * Reference: `pipeline/cosmoz_process_levels.py:62-77` — MEAN over rows in
    * [t - 3h - 1s, t + 3h + 1s] of the valid subset; the row itself is always
    * inside its own frame so the probe is never empty.
    *
    * `spec` maps output column name -> aggregate over the frame.
    */
  def centeredWindowAgg(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      radiusSeconds: Long,
      spec: Map[String, Column => Column],
      srcCols: Map[String, String]): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).cast("long"))
      .rangeBetween(-radiusSeconds, radiusSeconds)
    spec.foldLeft(df) { case (d, (out, agg)) =>
      d.withColumn(out, agg(col(srcCols(out))).over(w))
    }
  }

  /** Centered moving MEAN over a ± time radius in O(n) per partition —
    * the scale form of the A1/level4 smoothing filter.
    *
    * Spark evaluates a centered RANGE frame with
    * `SlidingWindowFunctionFrame`, which RE-ACCUMULATES the whole frame
    * for every row (aggregates cannot retract) — O(n·frame) per
    * partition. At production cadence frames hold ~7 rows and nobody
    * notices; at dense cadence the stage explodes: the r14 LEVELS
    * spike measured a single hot-site task pinned in
    * `AggregateProcessor.update` for ~10¹¹ operations (thread-dump
    * verified) with the chain 200×-densified.
    *
    * This form computes the same mean as TWO fixed-lower-bound frames —
    * `[unbounded, t+R]` minus `[unbounded, t−R−1]` — each of which
    * Spark runs incrementally (`UnboundedPrecedingWindowFunctionFrame`
    * only ever ADDS rows), then divides by the matching count
    * difference. Prefix-difference is unsafe in floating point (the
    * subtraction drifts), so the sums are DECIMAL: decimal addition is
    * exact, making the difference bit-equal to summing the frame
    * directly — which is why pl_levels_e2e/a1 could switch to this
    * form with unchanged oracle hashes. All 4·|cols| window functions
    * share one partitioning+sort → one exchange, one sort, O(n) scan.
    *
    * Inputs quantize to `scale` decimal places (exact for anything
    * already rounded coarser; ≤ 1e-scale perturbation otherwise).
    * Output is null iff the frame holds no non-null source value.
    */
  def centeredMeanPrefix(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      radiusSeconds: Long,
      cols: Map[String, String],
      scale: Int = 12): DataFrame = {
    require(radiusSeconds >= 0, "centeredMeanPrefix: radius must be >= 0")
    require(cols.nonEmpty, "centeredMeanPrefix: no output columns")
    val ord = col(tsCol).cast("long")
    val wHi = Window.partitionBy(keys.map(col): _*).orderBy(ord)
      .rangeBetween(Window.unboundedPreceding, radiusSeconds)
    val wLo = Window.partitionBy(keys.map(col): _*).orderBy(ord)
      .rangeBetween(Window.unboundedPreceding, -radiusSeconds - 1)
    // PRECISION HEADROOM IS LOAD-BEARING: subtracting two decimals of
    // precision p needs p+1; at p = 38 Spark cannot widen and instead
    // REDUCES THE SCALE, silently rounding the difference (and a
    // comparison against the full-scale value coerces both sides down,
    // hiding it — how the bug first slipped past a direct equality
    // probe). Inputs cast to precision scale+13 (13 integer digits per
    // value), sums get +10 (23 digits of sum headroom), the subtraction
    // +1 — all ≤ 38 for scale ≤ 14, so the difference keeps full scale
    // and stays EXACT.
    require(scale >= 0 && scale <= 14,
      "centeredMeanPrefix: scale must be in 0..14 (precision headroom)")
    cols.foldLeft(df) { case (d, (out, src)) =>
      val dec = col(src).cast(s"decimal(${scale + 13},$scale)")
      val zero = lit(0).cast(s"decimal(${scale + 23},$scale)")
      val s = sum(dec).over(wHi) - coalesce(sum(dec).over(wLo), zero)
      val n = count(col(src)).over(wHi) - count(col(src)).over(wLo)
      // divide in DOUBLE (the exact decimal frame-sum, then one IEEE
      // division) — a decimal quotient would quantize at the result
      // scale instead
      d.withColumn(out, when(n > 0, s.cast("double") / n))
    }
  }

  /** Regular-grid resampling with forward fill — the set-based form of
    * InfluxQL's `GROUP BY time(interval) fill(previous)` (the query
    * shape the reference's dashboards sit on): bucket each series to the
    * interval, aggregate decimal-exactly, then materialize EVERY bucket
    * between each key's first and last (gaps included) and carry the
    * last seen value across gaps.
    *
    * Scale shape: one partial-aggregable (key, bucket) rollup; the grid
    * comes from per-key spans (one tiny agg + an explode — never a
    * cross join against a global calendar, so sparse keys don't pay for
    * the fleet's full range); the gap join is an equi-join on
    * (key, bucket); the fill is one O(rows) unbounded-preceding window
    * per key. Grid size = keys x own-span/interval, caller-controlled
    * via the interval.
    *
    * @return (key, bucket_start epoch-seconds, n_events, avg_v, v_fill,
    *         is_gap), one row per key per interval in the key's span
    */
  def resample(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String,
      intervalSeconds: Long): DataFrame = {
    require(intervalSeconds > 0, "intervalSeconds must be positive")
    val bucket = (unix_timestamp(col(tsCol)) / intervalSeconds)
      .cast("long") // positive epochs: truncation == floor
    val agged = df
      .groupBy(col(keyCol), bucket.as("__b"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(round(col(valCol), 12).cast("decimal(38,12)"))
          .cast("double") / count(lit(1)), 6).as("avg_v"))
    val grid = agged
      .groupBy(col(keyCol))
      .agg(min(col("__b")).as("__lo"), max(col("__b")).as("__hi"))
      .select(col(keyCol),
        explode(sequence(col("__lo"), col("__hi"))).as("__b"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(agged, Seq(keyCol, "__b"), "left")
      .select(col(keyCol),
        (col("__b") * intervalSeconds).as("bucket_start"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("avg_v"),
        last(col("avg_v"), ignoreNulls = true).over(w).as("v_fill"),
        col("avg_v").isNull.as("is_gap"))
  }

  /** Regular-grid resampling with LINEAR interpolation — the
    * `fill(linear)` sibling of [[resample]] (InfluxQL's third fill
    * mode, and the gap repair a sensor series wants when carrying the
    * last value misstates a trend). Same bucket rollup and per-key
    * grid; each gap bucket then interpolates between the nearest
    * non-empty buckets on either side:
    *   v = pv + (nv − pv) · (b − pb)/(nb − pb)
    * with the ratio formed from exact integer bucket indices in ONE
    * double division, so both engines derive bit-identical values.
    * Non-gap buckets carry their own average. (The grid spans each
    * key's first..last OBSERVED bucket, so every gap has a neighbor on
    * both sides by construction — no edge-null case exists.)
    *
    * Float discipline — interpolation is MIDPOINT-PRONE: with 6-dp
    * neighbors and small integer denominators (a 2-bucket gap divides
    * by 2), v lands EXACTLY on 6-dp rounding midpoints, where Spark's
    * exact-expansion HALF_UP and DuckDB's float round() systematically
    * disagree (hit in round 14: 65.9733335 → .334 vs .333). So no
    * round() touches a derived double: neighbors are recovered as
    * exact 6-dp integers (decimal cast ×10⁶ — safe, they sit ~1 ulp
    * from a 6-dp value, never near a midpoint), the interpolation is
    * integer arithmetic with explicit half-up ((2·num + den) div
    * (2·den), values nonneg by the caller's data), and the ONE double
    * division by 10⁶ at the end is exact-input deterministic.
    *
    * Scale shape: identical to [[resample]] — the prev/next carriers
    * are two ignore-nulls struct windows over the SAME partitioning
    * and sort (one exchange, one sort; the forward frame reads the
    * sorted run in reverse, no second sort).
    */
  def resampleInterp(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String,
      intervalSeconds: Long): DataFrame = {
    require(intervalSeconds > 0, "intervalSeconds must be positive")
    val bucket = (unix_timestamp(col(tsCol)) / intervalSeconds)
      .cast("long")
    val agged = df
      .groupBy(col(keyCol), bucket.as("__b"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(round(col(valCol), 12).cast("decimal(38,12)"))
          .cast("double") / count(lit(1)), 6).as("avg_v"))
    val grid = agged
      .groupBy(col(keyCol))
      .agg(min(col("__b")).as("__lo"), max(col("__b")).as("__hi"))
      .select(col(keyCol),
        explode(sequence(col("__lo"), col("__hi"))).as("__b"))
    val wPrev = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obs = when(col("avg_v").isNotNull,
      struct(col("__b").as("b"), col("avg_v").as("v")))
    val joined = grid.join(agged, Seq(keyCol, "__b"), "left")
      .withColumn("__p", last(obs, ignoreNulls = true).over(wPrev))
      .withColumn("__x", first(obs, ignoreNulls = true).over(wNext))
      .withColumn("__pd6",
        (col("__p.v").cast("decimal(24,6)") * 1000000).cast("long"))
      .withColumn("__nd6",
        (col("__x.v").cast("decimal(24,6)") * 1000000).cast("long"))
      .withColumn("__den", col("__x.b") - col("__p.b"))
      .withColumn("__num",
        col("__pd6") * (col("__x.b") - col("__b")) +
          col("__nd6") * (col("__b") - col("__p.b")))
      .withColumn("__v6", expr("(__num * 2 + __den) div (__den * 2)"))
    joined.select(col(keyCol),
      (col("__b") * intervalSeconds).as("bucket_start"),
      coalesce(col("n_events"), lit(0L)).as("n_events"),
      col("avg_v"),
      when(col("avg_v").isNotNull, col("avg_v"))
        .otherwise(col("__v6").cast("double") / 1000000.0)
        .as("v_interp"),
      col("avg_v").isNull.as("is_gap"))
  }

  /** Per-series lag, the set-based form of InfluxQL `DIFFERENCE`
    * (`pipeline/cosmoz_process_levels.py:357-361`). Emits `<col>_prev`.
    */
  def withLag(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      cols: Seq[String],
      tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.asc): _*)
    cols.foldLeft(df)((d, c) => d.withColumn(s"${c}_prev", lag(col(c), 1).over(w)))
  }

  /** [[withLag]] by BUCKET-AND-CARRY — the same answer with the
    * hot-series serialization broken up. `withLag`'s window partitions
    * on the series keys alone, so one hot series is one task sorting
    * the whole series (the measured 40-of-71.5 s level1 residual,
    * SCALE.md §10 finding 2). Here rows shuffle on (keys, time bucket)
    * — a hot series spreads over span/bucketSeconds tasks — the lag
    * resolves within each bucket, and only the FIRST row of a bucket
    * needs cross-bucket data: the last value of the latest previous
    * non-empty bucket, ONE carried value per (series, bucket), computed
    * on a metadata-scale summary frame (distinct non-empty buckets per
    * series) and joined back on the bucket key. Same grid trick as
    * [[graft.operators.AsofStrategies.asOfLookupBucketed]] (j11).
    *
    * Equivalence with [[withLag]] needs (tsCol ++ tieBreak) to order
    * rows deterministically within a series (same caveat as `withLag`
    * itself — ties without a tie-break are nondeterministic in BOTH
    * forms). Null series keys form their own series, exactly like the
    * window form (the carry join is null-safe on the keys).
    *
    * Timestamps are assumed post-epoch (`div` truncation == floor);
    * every fixture and the reference's feeds satisfy this.
    */
  def withLagBucketed(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      cols: Seq[String],
      bucketSeconds: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(bucketSeconds > 0,
      s"withLagBucketed: bucketSeconds must be positive, got $bucketSeconds")
    val reserved = Set("__b", "__rn") ++ cols.map(c => s"__lag_$c") ++
      cols.map(c => s"__last_$c") ++ cols.map(c => s"__carry_$c")
    for (c <- df.columns)
      require(!reserved(c),
        s"withLagBucketed reserves column $c — rename it on the input")
    val bMicros = bucketSeconds * 1000000L
    val withB = df.withColumn("__b", expr(s"unix_micros($tsCol) div $bMicros"))
    val ord = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val wB = Window
      .partitionBy((keys.map(col) :+ col("__b")): _*)
      .orderBy(ord: _*)
    val local = cols.foldLeft(withB)((d, c) =>
      d.withColumn(s"__lag_$c", lag(col(c), 1).over(wB)))
      .withColumn("__rn", row_number().over(wB))
    // one row per (series, non-empty bucket): the bucket's LAST value
    // of each lag column under the same (ts, tieBreak) order
    val ordStruct = struct((col(tsCol) +: tieBreak.map(col)): _*)
    val summary = withB
      .groupBy((keys.map(col) :+ col("__b")): _*)
      .agg(max_by(struct(cols.map(col): _*), ordStruct).as("__last"))
    // the carry: previous NON-EMPTY bucket's last values — a plain lag
    // over the summary frame (metadata scale: distinct buckets/series)
    val wS = Window.partitionBy(keys.map(col): _*).orderBy(col("__b"))
    val carry = summary.select(
      (keys.map(col) :+ col("__b")) ++ cols.map(c =>
        lag(col(s"__last.$c"), 1).over(wS).as(s"__carry_$c")): _*)
    val l = local.alias("l")
    val r = carry.alias("r")
    val cond = (keys.map(k => col(s"l.$k") <=> col(s"r.$k")) :+
      (col("l.__b") <=> col("r.__b"))).reduce(_ && _)
    // withLag REPLACES a pre-existing `<col>_prev` via withColumn — IN
    // PLACE, keeping the column's position; match both halves of that
    // here (ADVICE r15 flagged the duplicate column; ADVICE r16 the
    // end-appended position): substitute the new expression at the
    // original position, append only the genuinely new names.
    // first-in-bucket takes the carry; row_number (not lag-is-null)
    // distinguishes "no prior row" from a prior row whose VALUE is
    // null — both are legitimate lag results
    val prevExpr: Map[String, Column] = cols.map(c => s"${c}_prev" ->
      when(col("l.__rn") === 1, col(s"r.__carry_$c"))
        .otherwise(col(s"l.__lag_$c"))).toMap
    val inPlace = df.columns.map(c =>
      prevExpr.get(c).map(_.as(c)).getOrElse(col(s"l.$c")))
    val appended = cols.map(c => s"${c}_prev")
      .filterNot(df.columns.contains)
      .map(n => prevExpr(n).as(n))
    l.join(r, cond).select(inPlace ++ appended: _*)
  }

  /** [[dedupWithin]] by BUCKET-AND-CARRY — same answer, no serialized
    * group. `dedupWithin` partitions on (keys ++ cmpCols); a series
    * emitting IDENTICAL sensor tuples at volume (the true-duplicate
    * flood) lands one giant group on one task. With
    * `bucketSeconds >= windowSeconds`, a row's latest strictly-earlier
    * equal row within the window lies either in the row's own bucket
    * (the same strict-predecessor range frame, now per bucket) or in
    * bucket b−1 (anything in b−2 or earlier is > bucketSeconds >=
    * windowSeconds away — and strictly so, since a b−1-or-earlier row
    * sits below the bucket boundary), so the cross-bucket state is ONE
    * carried max-timestamp per (group, bucket), computed on the
    * group×bucket summary frame and joined back null-safe.
    *
    * NOTE: with `keyWidthGuard = true` (default) this call is NOT
    * purely lazy — it runs one bounded probe job (first ~100k rows, one
    * map-side agg) at plan-build time to refuse near-unique partition
    * keys; see the guard comment in the body for the warn/throw band.
    */
  def dedupWithinBucketed(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      windowSeconds: Long,
      cmpCols: Seq[String],
      bucketSeconds: Long,
      markOnly: Boolean = false,
      dupFlagCol: String = "__is_dup",
      keyWidthGuard: Boolean = true): DataFrame = {
    require(bucketSeconds >= windowSeconds,
      s"dedupWithinBucketed: bucketSeconds ($bucketSeconds) must be >= " +
        s"windowSeconds ($windowSeconds) so only the previous bucket " +
        "can hold an in-window predecessor")
    // Wide-key misuse guard (VERDICT r15 item 6): this form pays for
    // itself ONLY when the partition key (keys ++ cmpCols) has few
    // distinct values relative to rows — the identical-tuple flood it
    // exists for. On near-unique keys the per-(group, bucket) carry
    // summary is corpus-sized and the null-safe carry join re-shuffles
    // everything: measured 2× SLOWER than plain dedupWithin (SCALE.md
    // §10b finding 2). One bounded probe refuses the pessimizing call
    // instead of leaving the rule as tribal knowledge; pass
    // keyWidthGuard = false to override when the head of the data is
    // unrepresentative.
    //
    // The probe is EAGER — this otherwise-lazy plan builder runs one
    // small Spark job at call time — and SAMPLED: limit(100000) with no
    // ordering takes whatever rows arrive first (partition-order
    // dependent), judged by approx_count_distinct (rsd ~5%). A hard
    // cutoff on such a signal would flap on borderline inputs across
    // runs (ADVICE r16), so the rule is a BAND: distinct/row ratio
    // above 0.9 throws (no plausible sample noise rescues a key that
    // wide), (0.7, 0.9] logs a warning and proceeds (the caller sees
    // the risk; a rerun never flips between silent success and an
    // exception), at or below 0.7 the guard is silent.
    if (keyWidthGuard) {
      val probe = df.select((keys ++ cmpCols).map(col): _*).limit(100000)
        .agg(count(lit(1)).as("n"),
          approx_count_distinct(struct((keys ++ cmpCols).map(col): _*))
            .as("d"))
        .collect()(0)
      val (n, d) = (probe.getLong(0), probe.getLong(1))
      val ratio = if (n == 0L) 0.0 else d.toDouble / n
      if (n >= 1000 && ratio > 0.9)
        throw new IllegalArgumentException(
          f"dedupWithinBucketed: the partition key (${(keys ++ cmpCols)
            .mkString(", ")}) is near-unique (~$d%d distinct in the first " +
            f"$n%d rows) — bucket-and-carry is measured 2x SLOWER than " +
            "dedupWithin on wide keys (its carry summary is corpus-sized); " +
            "use dedupWithin, or pass keyWidthGuard = false to override")
      else if (n >= 1000 && ratio > 0.7)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          f"dedupWithinBucketed: the partition key (${(keys ++ cmpCols)
            .mkString(", ")}) sampled ~$d%d distinct in the first $n%d " +
            f"rows (ratio $ratio%.2f, warn band 0.7-0.9) — if the key is " +
            "truly near-unique, plain dedupWithin is ~2x faster")
    }
    for (c <- Seq("__b", "__prior_in", "__bmax", "__prev_bmax"))
      require(!df.columns.contains(c),
        s"dedupWithinBucketed reserves column $c — rename it on the input")
    val gk = keys ++ cmpCols
    val bMicros = bucketSeconds * 1000000L
    val tsMicros = unix_micros(col(tsCol))
    val withB = df.withColumn("__b", expr(s"unix_micros($tsCol) div $bMicros"))
    val wIn = Window
      .partitionBy((gk.map(col) :+ col("__b")): _*)
      .orderBy(tsMicros)
      .rangeBetween(Window.unboundedPreceding, -1)
    val local = withB.withColumn("__prior_in", max(tsMicros).over(wIn))
    val summary = withB
      .groupBy((gk.map(col) :+ col("__b")): _*)
      .agg(max(tsMicros).as("__bmax"))
    // exactly bucket b−1's max (empty bucket → null): RANGE frame
    // [−1, −1] on the bucket id, over the metadata-scale summary
    val wPrev = Window.partitionBy(gk.map(col): _*)
      .orderBy(col("__b")).rangeBetween(-1, -1)
    val carry = summary.select(
      (gk.map(col) :+ col("__b")) :+
        max(col("__bmax")).over(wPrev).as("__prev_bmax"): _*)
    val l = local.alias("l")
    val r = carry.alias("r")
    val cond = (gk.map(k => col(s"l.$k") <=> col(s"r.$k")) :+
      (col("l.__b") <=> col("r.__b"))).reduce(_ && _)
    val tsL = unix_micros(col(s"l.$tsCol"))
    // greatest skips nulls; __prev_bmax < bucket start <= ts, so the
    // carried candidate is strictly earlier by construction
    val latestPriorEqual = greatest(col("l.__prior_in"), col("r.__prev_bmax"))
    val isDup = latestPriorEqual.isNotNull &&
      latestPriorEqual >= tsL - windowSeconds * 1000000L
    val marked = l.join(r, cond)
      .select(df.columns.map(c => col(s"l.$c")) :+ isDup.as(dupFlagCol): _*)
    if (markOnly) marked
    else marked.filter(!col(dupFlagCol)).drop(dupFlagCol)
  }

  /** Bucketed point-in-interval join — the non-equi time join Spark
    * otherwise executes as BroadcastNestedLoopJoin (every point against
    * every interval: O(points x intervals), the plan that dies first at
    * scale). Both sides map onto `bucketSeconds` time buckets — each
    * point to its one bucket, each interval to EVERY bucket it overlaps
    * — and the join becomes an equi join on the bucket with the exact
    * [start, end) predicate as a post-filter. A (point, interval) match
    * shares exactly one bucket (the point's), so no dedup is needed.
    *
    * Cost model: the interval side inflates by avg(interval length /
    * bucketSeconds) rows — pick the bucket near the TYPICAL interval
    * length so the inflation is a small constant, and the shuffle
    * carries points + inflated intervals instead of a nested loop over
    * their product. Empty/invalid intervals (end <= start) are dropped
    * up front (they can match nothing; `sequence` would otherwise
    * descend). Both inputs keep all their columns — name collisions
    * between the two sides are the caller's to resolve, like any join.
    */
  def pointInInterval(
      points: DataFrame,
      ptsTsCol: String,
      intervals: DataFrame,
      startCol: String,
      endCol: String,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    for (side <- Seq(points, intervals))
      require(!side.columns.contains("__b"),
        "pointInInterval reserves column __b — rename it on the input")
    // Bucket boundaries are whole seconds, so second-truncating a point
    // (or an interval start) never moves it across a bucket edge. The
    // EXCLUSIVE end is different: with a sub-second end (10:02:00.5),
    // truncate-then-minus-one tops the bucket list out one bucket short
    // of the last point the exact predicate admits — so the upper bound
    // works in microseconds: the last admissible instant is end − 1 µs,
    // and its bucket is floor((µs(end) − 1) / µs-per-bucket).
    val pb = points.withColumn("__b",
      floor(unix_timestamp(col(ptsTsCol)) / bucketSeconds).cast("long"))
    val ib = intervals
      .filter(col(endCol) > col(startCol))
      .withColumn("__b", explode(coveredBuckets(
        col(startCol), col(endCol), bucketSeconds, endExclusive = true)))
    pb.join(ib, Seq("__b"))
      .filter(col(ptsTsCol) >= col(startCol) && col(ptsTsCol) < col(endCol))
      .drop("__b")
  }

  /** The whole-second bucket ids an interval covers — the shared
    * decomposition under [[pointInInterval]] (exclusive end: the last
    * admissible instant is end − 1 µs) and [[intervalOverlapJoin]]
    * (closed end: end itself is covered). The sub-second end handling
    * lives HERE only — a precision fix must not have to find two
    * copies.
    */
  private def coveredBuckets(
      s: Column, e: Column, bucketSeconds: Long,
      endExclusive: Boolean): Column = {
    val endMicros = if (endExclusive) unix_micros(e) - 1 else unix_micros(e)
    sequence(
      floor(unix_timestamp(s) / bucketSeconds).cast("long"),
      floor(endMicros / (bucketSeconds * 1000000L)).cast("long"))
  }

  /** Interval-OVERLAP join — [[pointInInterval]]'s two-sided sibling:
    * pair every left interval with the right intervals it overlaps
    * (closed-interval convention: touching endpoints overlap). The
    * classic meeting/downtime/coverage cross-reference, and the other
    * inequality join BroadcastNestedLoop would otherwise eat.
    *
    * Same bucket decomposition: both sides explode to the whole-second
    * buckets they cover and the join runs as a (bucket) equi-join with
    * the exact predicate as residual. A pair sharing several buckets is
    * matched in exactly ONE of them — the bucket of the overlap
    * region's start, greatest(lStart, rStart), which both sides cover
    * by construction — so no dedup pass exists at all: duplicate input
    * rows multiply like any join's, and the whole-row distinct shuffle
    * the naive formulation needs is gone. Bucket width trades explode
    * factor against bucket occupancy, exactly as in
    * [[pointInInterval]].
    */
  def intervalOverlapJoin(
      left: DataFrame,
      lStart: String,
      lEnd: String,
      right: DataFrame,
      rStart: String,
      rEnd: String,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    for (side <- Seq(left, right))
      require(!side.columns.contains("__b"),
        "intervalOverlapJoin reserves column __b — rename it on the input")
    def buckets(df: DataFrame, s: String, e: String) = df
      .filter(col(e) >= col(s)) // inverted intervals match nothing
      .withColumn("__b", explode(coveredBuckets(
        col(s), col(e), bucketSeconds, endExclusive = false)))
    // the canonical bucket: where the overlap region starts. Second-
    // truncation only lowers, so it is >= both start buckets' ids and
    // <= both end buckets' ids — always in both sides' exploded ranges.
    val canonical = floor(
      unix_timestamp(greatest(col(lStart), col(rStart))) / bucketSeconds)
      .cast("long")
    buckets(left, lStart, lEnd)
      .join(buckets(right, rStart, rEnd), Seq("__b"))
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
        col("__b") === canonical)
      .drop("__b")
  }

  /** Gap-based sessionization: within each key, a row starts a new
    * session when it arrives more than `gapSeconds` after its
    * predecessor (or is the key's first row). Session ids are the
    * running count of boundaries (1-based, in time order, `tieBreak`
    * makes equal timestamps deterministic), so they are stable under
    * re-partitioning and restatable by any engine. Returns one row per
    * session: (keys..., session_no, session_start, session_end,
    * n_events).
    *
    * Plan shape: ONE shuffle on the key — lag and the running sum share
    * the same window ordering, so both evaluate in the single sorted
    * pass, and the per-session rollup groups on (key, session_no),
    * which is a prefix of the window partitioning and partial-aggs
    * map-side. Epoch-MICROsecond arithmetic — the full precision of a
    * Spark/DuckDB timestamp, so gaps a fraction of a second over the
    * threshold split exactly as the streaming twin
    * ([[graft.streaming.StreamingOps.sessionStream]]) splits them
    * (second-truncating here would merge every true gap in
    * (gap, gap+1s) whose truncated difference equals the threshold).
    * Engine-portable: DuckDB restates it with epoch_us. Sessions are
    * the unit of work in event-log curation (bot detection, dialogue
    * turn assembly) — the gap rule is the standard web-analytics
    * definition.
    */
  def sessionize(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      gapSeconds: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(gapSeconds > 0, "gapSeconds must be positive")
    for (c <- Seq("__e", "__boundary", "session_no"))
      require(!df.columns.contains(c),
        s"sessionize reserves column $c — rename it on the input")
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.asc): _*)
    val epoch = unix_micros(col(tsCol))
    val gapMicros = gapSeconds * 1000000L
    df
      .withColumn("__e", epoch)
      .withColumn("__boundary",
        when(col("__e") - lag(col("__e"), 1).over(w) > gapMicros ||
          lag(col("__e"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("__boundary")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy((keys.map(col) :+ col("session_no")): _*)
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Greedy-earliest funnel: per key, step 1's time is the earliest
    * step-1 event, and step i's time is the earliest step-i event
    * STRICTLY after step i−1's time — the chain a product analyst means
    * by "viewed, then clicked, then purchased". Greedy-earliest is the
    * standard semantics (ClickHouse `windowFunnel`-style) and, unlike
    * "any matching subsequence", is order-deterministic and
    * SQL-restatable as a k-deep min-chain.
    *
    * ONE shuffle: groupBy key collects each key's events (bounded by
    * per-key activity, not corpus size), sorts them in place, and a
    * native `aggregate` HOF folds the sorted list once, carrying the
    * k step-times as its state — no per-step join cascade (a k-step
    * funnel as SQL is k shuffles), no UDF. Emits one row per key:
    * `step_1..step_k` timestamps (null once the chain breaks) and
    * `steps_completed`. Events with identical timestamps cannot
    * advance the chain past each other (strict `>`), so `tieBreak`
    * only stabilizes the sort, not the result.
    */
  def funnel(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(steps.nonEmpty, "funnel: empty step list")
    require(steps.distinct.size == steps.size,
      "funnel: duplicate step types make the chain ambiguous")
    val k = steps.size
    // (epoch-micros ts, tiebreaks..., type) structs sort chronologically;
    // the fold only reads ts and type
    val ev = struct(
      (unix_micros(col(tsCol)).as("t") +:
        tieBreak.map(c => col(c).as(s"__tb_$c"))) :+
        col(typeCol).as("ty"): _*)
    val sorted = array_sort(collect_list(ev))
    // state: array<long> of k step-times, null = step not reached; each
    // event may fill the FIRST unfilled step whose type matches and whose
    // predecessor fired strictly earlier
    val zero = array_repeat(lit(null).cast("long"), k)
    val folded = aggregate(
      sorted,
      zero,
      (acc, x) => {
        val upd = (i: Int) => {
          val prevOk =
            if (i == 0) lit(true)
            else element_at(acc, i).isNotNull &&
              x.getField("t") > element_at(acc, i)
          when(element_at(acc, i + 1).isNull &&
            x.getField("ty") === steps(i) && prevOk, x.getField("t"))
            .otherwise(element_at(acc, i + 1))
        }
        // rebuild the k-slot state; k is a literal handful, so this is a
        // fixed-width codegen-friendly expression, not a loop over data
        array((0 until k).map(upd): _*)
      })
    val stepCols = steps.indices.map(i =>
      timestamp_micros(element_at(col("__funnel"), i + 1))
        .as(s"step_${i + 1}"))
    df.groupBy(keys.map(col): _*)
      .agg(folded.as("__funnel"))
      .select((keys.map(col) ++ stepCols :+
        size(filter(col("__funnel"), _.isNotNull))
          .as("steps_completed")): _*)
  }

  /** Cohort retention: bucket each entity by the period of its FIRST
    * event (its cohort), then count distinct entities active per
    * (cohort, period-offset) — the retention matrix behind every
    * "week-1 / week-2 retention" product chart. `bucket` is any
    * `date_trunc` unit (`day`, `week`, `month`).
    *
    * Two shuffles, both on reduced data: a whole-partition window on
    * the entity (min-ts — no sort, the frame is unbounded) attaches the
    * cohort with the events already co-located by entity, then the
    * distinct-count groupBy's partial expand dedups (cohort, offset,
    * entity) map-side, so the second exchange carries near-distinct
    * triples, not raw events. `retention_pct` is each cell against its
    * cohort's offset-0 size via one more window over the (tiny,
    * cohorts × offsets) aggregated frame.
    */
  def cohortRetention(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      bucket: String): DataFrame = {
    val units = Map("day" -> 1L, "week" -> 7L, "month" -> -1L)
    require(units.contains(bucket),
      s"cohortRetention: bucket must be one of ${units.keys.mkString("/")}")
    val firstTs = min(col(tsCol))
      .over(Window.partitionBy(col(entityCol)))
    val cohort = date_trunc(bucket, firstTs)
    val period = date_trunc(bucket, col(tsCol))
    // integral by construction: both endpoints are truncated to `bucket`
    val offset =
      if (bucket == "month")
        (months_between(period, cohort)).cast("int")
      else
        (datediff(period, cohort) / units(bucket)).cast("int")
    val cells = df
      .select(col(entityCol), cohort.as("cohort"), offset.as("period_offset"))
      .groupBy(col("cohort"), col("period_offset"))
      .agg(countDistinct(col(entityCol)).as("n_active"))
    val cohortSize = first(col("n_active"))
      .over(Window.partitionBy(col("cohort")).orderBy(col("period_offset")))
    cells.select(
      col("cohort").cast("date").as("cohort"),
      col("period_offset"),
      col("n_active"),
      round(col("n_active").cast("double") / cohortSize * 100.0, 4)
        .as("retention_pct"))
  }

  /** Rolling z-score anomaly flags: per key, each value against the mean
    * and sample-stddev of the ±`radius`-row window around it (edges
    * truncate; the point itself is included, the standard control-chart
    * convention). Emits `z` (null when the window has <2 rows or zero
    * variance) and `is_anomaly` = |z| > threshold.
    *
    * Engine-portable determinism, the part that makes an FP rolling
    * stat oracle-checkable at all: the windowed sums run over
    * decimal(18,2) casts of the values — exact, order-independent
    * addition — and mean/variance are then derived in double arithmetic
    * from those exact sums, so both engines evaluate the same IEEE
    * operations on the same operands. Summing raw doubles instead would
    * hash-diverge on summation order (Spark folds the frame
    * incrementally; a segment-tree engine sums in a different
    * association).
    *
    * One shuffle: a single (keys, ts)-sorted window feeds all three
    * frame aggregates.
    */
  def rollingZscore(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      radius: Int,
      threshold: Double = 2.0,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(radius >= 1, "rollingZscore: radius must be >= 1")
    require(threshold > 0, "rollingZscore: threshold must be positive")
    for (c <- Seq("z", "is_anomaly"))
      require(!df.columns.contains(c),
        s"rollingZscore reserves column $c — rename it on the input")
    // a rows frame is only deterministic under a TOTAL order — equal
    // timestamps need the tieBreak columns or window membership is
    // engine/run-dependent
    val f = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.asc): _*)
      .rowsBetween(-radius, radius)
    val dec = col(valueCol).cast("decimal(18,2)")
    val n = count(lit(1)).over(f).cast("double")
    val s1 = sum(dec).over(f).cast("double")
    val s2 = sum((dec * dec).cast("decimal(38,4)")).over(f).cast("double")
    val mean = s1 / n
    // sample variance from exact sums: (n·s2 − s1²) / (n·(n−1))
    val variance = (n * s2 - s1 * s1) / (n * (n - lit(1.0)))
    val z = when(n > 1 && variance > 0,
      round((col(valueCol) - mean) / sqrt(variance), 6))
    df.withColumn("z", z)
      .withColumn("is_anomaly",
        coalesce(abs(col("z")) > threshold, lit(false)))
  }

  /** Merge overlapping-or-touching [start, end] intervals per key into
    * their union spans — coverage windows from possibly-overlapping
    * observation intervals (gap-sessionize's sibling: sessionize chains
    * POINTS by gap; this unions EXTENTS by overlap). `end < start` rows
    * are rejected up front. Touching intervals (next.start == running
    * max end) merge; a new span starts only when start exceeds the
    * running max of all prior ends — max, not lag(end), because an
    * interval can swallow its successors entirely.
    *
    * One shuffle: the sort by (start, end) and both running-max /
    * running-sum windows share one partitioning on the keys, then the
    * span groupBy arrives pre-partitioned (no second exchange).
    */
  def mergeIntervals(
      df: DataFrame,
      keys: Seq[String],
      startCol: String,
      endCol: String): DataFrame = {
    for (c <- Seq("__maxEnd", "__boundary", "span_no"))
      require(!df.columns.contains(c),
        s"mergeIntervals reserves column $c — rename it on the input")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(startCol).asc, col(endCol).asc)
    val checked = df.withColumn(startCol,
      when(col(startCol) > col(endCol),
        raise_error(concat(lit(s"mergeIntervals: $startCol > $endCol at ("),
          concat_ws(", ", keys.map(col): _*), lit(")"))))
        .otherwise(col(startCol)))
    checked
      .withColumn("__maxEnd",
        max(col(endCol)).over(
          w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__boundary",
        when(col("__maxEnd").isNull ||
          col(startCol) > col("__maxEnd"), 1L).otherwise(0L))
      .withColumn("span_no", sum(col("__boundary")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy((keys.map(col) :+ col("span_no")): _*)
      .agg(min(col(startCol)).as("span_start"),
        max(col(endCol)).as("span_end"),
        count(lit(1)).as("n_intervals"))
  }

  /** UNCOVERED time per key: the gaps between [[mergeIntervals]]'s merged
    * spans — outage/blind-window reporting from possibly-overlapping
    * observation intervals (the union's complement, bounded by the key's
    * own first and last coverage; open-ended edges are not gaps). Merged
    * spans are strictly disjoint and non-touching by construction, so
    * every adjacent pair yields one gap of positive width: one lag over
    * the span frame, gap width exact in microseconds (integer
    * arithmetic, engine-portable).
    *
    * Cost: the merge's one shuffle plus one window over the SPAN frame —
    * union-output-sized, orders of magnitude below the interval input at
    * any realistic coverage density.
    */
  def intervalGaps(
      df: DataFrame,
      keys: Seq[String],
      startCol: String,
      endCol: String): DataFrame = {
    require(!df.columns.contains("__prevEnd"),
      "intervalGaps reserves column __prevEnd — rename it on the input")
    val spans = mergeIntervals(df, keys, startCol, endCol)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("span_start").asc)
    spans
      .withColumn("__prevEnd", lag(col("span_end"), 1).over(w))
      .where(col("__prevEnd").isNotNull)
      .select((keys.map(col) :+
        col("__prevEnd").as("gap_start") :+
        col("span_start").as("gap_end") :+
        (unix_micros(col("span_start")) - unix_micros(col("__prevEnd")))
          .as("gap_micros")): _*)
  }

  /** Trapezoidal time-weighted average per key — the irregular-series
    * mean that duration-weights each value instead of letting burst
    * periods dominate a row-count average (the TSDB `integral / span`
    * aggregate): twa = Σ (vᵢ+vᵢ₊₁)/2 · Δtᵢ / (t_max − t_min) over the
    * key's samples in time order. A sensor that idles at 0 for an hour
    * then spikes for a second reads ~0 here and ~spike/2 in a plain
    * mean — that difference is the operator.
    *
    * Determinism: consecutive pairing is order-sensitive when
    * timestamps tie, so ordering is (ts, tieCol) — a tie-break the
    * oracle can restate exactly. Each trapezoid term rounds to 9 dp
    * and sums as exact decimals (a17's discipline); the denominator
    * telescopes to max−min in exact integer micros. Keys with zero
    * span (one sample, or all samples at one instant) surface a null
    * twa, not an Inf.
    *
    * Cost: ONE shuffle on the keys — the lead window and the final
    * aggregation share the same hash partitioning, and the window
    * frame is (1 following), no full-partition materialization.
    *
    * @return keys..., n_points, mean_v (plain decimal-summed mean for
    *         contrast), twa
    */
  def timeWeightedAvg(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      tieCol: String): DataFrame = {
    val reserved = Seq("__v2", "__tu", "__tu2", "__term", "n_points",
      "mean_v", "twa").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"timeWeightedAvg reserves column(s) ${reserved.mkString(", ")} — " +
        "rename them on the input")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val withNext = df
      .withColumn("__tu", unix_micros(col(tsCol)))
      .withColumn("__v2", lead(col(valueCol), 1).over(w))
      .withColumn("__tu2", lead(col("__tu"), 1).over(w))
      .withColumn("__term",
        round((col(valueCol) + col("__v2")) * lit(0.5) *
          ((col("__tu2") - col("__tu")).cast("double") / lit(1000000.0)), 9)
          .cast("decimal(28,9)"))
    withNext
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_points"),
        round(sum(round(col(valueCol), 9).cast("decimal(28,9)"))
          .cast("double") / count(lit(1)), 6).as("mean_v"),
        min(col("__tu")).as("__mn"),
        max(col("__tu")).as("__mx"),
        sum(col("__term")).as("__num"))
      .withColumn("twa",
        when(col("__mx") > col("__mn"),
          round(col("__num").cast("double") /
            ((col("__mx") - col("__mn")).cast("double") / lit(1000000.0)),
            6)))
      .drop("__mn", "__mx", "__num")
  }

  /** Gaps-and-islands run-length encoding: collapse consecutive rows that
    * share the same `valueCol` (per `keys`, in (`orderCol`, `tieCol`)
    * order) into one row per run — sequential `run_id`, `run_len`, and
    * the run's (`run_start`, `run_end`) span. The boundary test is
    * null-safe (`<=>`), so null-valued rows form their own runs instead
    * of merging with their neighbors.
    *
    * Shuffle shape: ONE hash exchange on `keys` feeds the boundary
    * window, the running-sum window, and the run aggregation —
    * HashPartitioning(keys) satisfies the (keys, run_id, value)
    * clustering, so the groupBy adds no second exchange. Runs nest
    * inside keys by construction, so a run can never span partitions;
    * the only skew risk is a single hot key, the same profile as every
    * keyed window op here (SkewOps.skewProfile is the detector).
    */
  def islands(
      df: DataFrame,
      keys: Seq[String],
      orderCol: String,
      tieCol: String,
      valueCol: String): DataFrame = {
    val reserved = Seq("__rn", "__prev", "__new", "run_id", "run_len",
      "run_start", "run_end").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"islands reserves column(s) ${reserved.mkString(", ")} — rename " +
        "them on the input")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol), col(tieCol))
    df
      .withColumn("__rn", row_number().over(w))
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .withColumn("__new",
        when(col("__rn") === 1 || !(col("__prev") <=> col(valueCol)),
          lit(1L)).otherwise(lit(0L)))
      .withColumn("run_id",
        sum(col("__new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(keys.map(col) ++ Seq(col("run_id"), col(valueCol)): _*)
      .agg(
        count(lit(1)).as("run_len"),
        min(col(orderCol)).as("run_start"),
        max(col(orderCol)).as("run_end"))
  }

  /** Per-key ordinary-least-squares TREND of a value over time — slope
    * (value units per DAY), intercept (value at `origin`), and r² —
    * the regression twin of e11's drift validation and the statistic a
    * fleet-health monitor fits per sensor/source ("is this series
    * drifting, and how fast, with what fit quality").
    *
    * Exactness: x = whole seconds since `origin` (integer), y = value
    * scaled by `yScale` half-up to an integer — so ALL five moment
    * sums (Σx, Σy, Σxy, Σx², Σy²) fold exactly (x·y ≤ ~1e15 per term,
    * summed as decimal(38,0)), the closed-form numerators/denominators
    * assemble in exact integer arithmetic including the day and
    * y-scale factors, and each output is ONE double division rounded
    * (slope 9 dp, intercept 6 dp; r² = num²/(den·den2) folds the same
    * exact operands in IEEE double — identical on any engine). A
    * zero-variance series (den ≤ 0) yields null slope/intercept/r².
    *
    * Scale shape: one partial-aggregable groupBy on the keys — a
    * single exchange carrying five decimals per group, nothing
    * corpus-sized; 100 TB of events reduce map-side first.
    */
  def olsTrend(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      yScale: Int = 100,
      origin: String = "2024-01-01 00:00:00"): DataFrame =
    olsEstimate(
      olsSummarize(df, keys, tsCol, valueCol, yScale, origin), keys, yScale)

  /** [[olsTrend]]'s MERGEABLE summary — the five moment sums + n per
    * key. Because every field is an exact integer/decimal SUM, two
    * summaries combine by plain addition ([[olsMerge]]) — the additive-
    * sketch property (KMV/CMS/Bloom/MG all have a merge; regression
    * state gets the same treatment), so per-day/per-partition/per-
    * stream-batch trend state folds without re-reading history, and
    * [[olsEstimate]] recovers the identical trend the one-shot pass
    * computes (exact, not approximate — addition is associative).
    */
  def olsSummarize(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      yScale: Int = 100,
      origin: String = "2024-01-01 00:00:00"): DataFrame = {
    require(yScale > 0, s"olsSummarize: yScale must be positive, got $yScale")
    val x = expr(
      s"(unix_micros($tsCol) - unix_micros(timestamp'$origin')) div 1000000")
    val y = round(col(valueCol).cast("double") * yScale, 0).cast("bigint")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    df.select((keys.map(col) :+ x.as("__x") :+ y.as("__y")): _*)
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        // sx/sy as decimal too: a BIGINT sum of x ~1e8 s silently
        // wraps past ~9e10 rows per key, breaking the exact-merge
        // contract the other three moments already guard against
        sum(dec(col("__x"))).as("sx"),
        sum(dec(col("__y"))).as("sy"),
        sum(dec(col("__x") * col("__y"))).as("sxy"),
        sum(dec(col("__x") * col("__x"))).as("sxx"),
        sum(dec(col("__y") * col("__y"))).as("syy"))
  }

  /** Combine [[olsSummarize]] frames (same keys/yScale/origin):
    * element-wise addition per key — exact, associative, commutative.
    */
  def olsMerge(summaries: DataFrame, keys: Seq[String]): DataFrame =
    summaries.groupBy(keys.map(col): _*)
      .agg(
        sum(col("n")).cast("bigint").as("n"),
        sum(col("sx")).cast("decimal(38,0)").as("sx"),
        sum(col("sy")).cast("decimal(38,0)").as("sy"),
        sum(col("sxy")).cast("decimal(38,0)").as("sxy"),
        sum(col("sxx")).cast("decimal(38,0)").as("sxx"),
        sum(col("syy")).cast("decimal(38,0)").as("syy"))

  /** Closed-form trend from a summary — shared by the one-shot and the
    * merged path; see [[olsTrend]] for the numeric discipline.
    */
  def olsEstimate(
      summary: DataFrame,
      keys: Seq[String],
      yScale: Int = 100): DataFrame = {
    require(yScale > 0, s"olsEstimate: yScale must be positive, got $yScale")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val n = dec(col("n"))
    val num = n * col("sxy") - dec(col("sx")) * dec(col("sy"))
    val den = n * col("sxx") - dec(col("sx")) * dec(col("sx"))
    val den2 = n * col("syy") - dec(col("sy")) * dec(col("sy"))
    val ok = den > lit(0)
    summary.select((keys.map(col) :+ col("n") :+
        when(ok, round((num * lit(86400)).cast("double") /
          (den * lit(yScale)).cast("double"), 9)).as("slope_per_day") :+
        when(ok, round(
          (dec(col("sy")) * col("sxx") -
            dec(col("sx")) * col("sxy")).cast("double") /
          (den * lit(yScale)).cast("double"), 6)).as("intercept") :+
        when(ok && den2 > lit(0), round(
          num.cast("double") * num.cast("double") /
            (den.cast("double") * den2.cast("double")), 9)).as("r2")): _*)
      .orderBy(keys.map(col): _*)
  }

  /** DISTRIBUTED-EXACT global row number over a total order — the
    * two-pass partition-offset construction that replaces
    * `row_number() OVER (ORDER BY …)`'s move-everything-to-one-
    * partition plan: range-repartition on the order columns, count
    * rows per partition (a parts-sized metadata frame), prefix-sum
    * those counts into per-partition offsets, then broadcast the
    * offsets back and add the partition-local row_number. The only
    * global stage runs over `parts` rows of metadata; the corpus
    * never leaves its range partition (same boundary discipline as
    * sortedNeighborPairs).
    *
    * `order` must be a TOTAL order (caller supplies a unique
    * tie-break column, e.g. the id) — equal keys may straddle a range
    * boundary, and only totality makes the assigned numbers
    * well-defined.
    *
    * @return the input columns plus `rn` (1-based LongType)
    */
  def globalRowNumber(
      df: DataFrame,
      order: Seq[Column],
      numParts: Int = 0): DataFrame = {
    require(order.nonEmpty, "globalRowNumber: order columns required")
    val spark = df.sparkSession
    val parts =
      if (numParts > 0) numParts
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val base = df
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // parts rows: the single-partition window is over metadata only
    val offsets = base.groupBy(col("__pid")).count()
      .select(col("__pid"),
        coalesce(sum(col("count")).over(wOff), lit(0L)).as("__off"))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(order: _*)
    base
      .join(broadcast(offsets), "__pid")
      .withColumn("rn",
        col("__off") + row_number().over(wLocal).cast("long"))
      .drop("__pid", "__off")
  }

  /** DISTRIBUTED-EXACT global running sums — [[globalRowNumber]]'s
    * prefix-sum sibling: each long column in `sumCols` gains a
    * `<col>_cum` running total under the global `order`, with NO
    * corpus-sized single-partition window. Same construction:
    * range-repartition on the order (a total order consistent across
    * partition boundaries), per-partition running sums, and a
    * parts-sized offset frame (the only partition-less window is
    * over per-partition TOTALS — metadata, not data) broadcast back.
    * Equal order keys within a partition accumulate in their local
    * row order, so pass a TIE-FREE order (append a unique id) when
    * per-row — not per-key-group — prefixes must be reproducible.
    */
  def globalPrefixSum(
      df: DataFrame,
      order: Seq[Column],
      sumCols: Seq[String],
      numParts: Int = 0): DataFrame = {
    require(order.nonEmpty, "globalPrefixSum: order columns required")
    require(sumCols.nonEmpty, "globalPrefixSum: sum columns required")
    val spark = df.sparkSession
    val parts =
      if (numParts > 0) numParts
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val base = df
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("__pid"))
      .agg(sumCols.head -> "sum", sumCols.tail.map(_ -> "sum"): _*)
      .select(col("__pid") +: sumCols.map { c =>
        coalesce(sum(col(s"sum($c)")).over(wOff), lit(0L))
          .as(s"__off_$c")
      }: _*)
    val wLocal = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withCum = base
      .join(broadcast(offsets), "__pid")
    sumCols.foldLeft(withCum) { (acc, c) =>
      acc.withColumn(s"${c}_cum",
        col(s"__off_$c") + sum(col(c)).over(wLocal))
    }.drop("__pid" +: sumCols.map(c => s"__off_$c"): _*)
  }
}
