package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference pipeline's four processing levels as pure
  * `DataFrame => DataFrame` stages (CSIRO-enviro-informatics/
  * cosmoz-data-pipeline, `pipeline/cosmoz_process_levels.py`), re-expressed
  * set-based: every per-row correlated lookup of the reference becomes a
  * join, every sequential probe a window — one partitioning on `site_no`
  * carries through all four stages, so the whole pipeline is a handful of
  * shuffles regardless of row count, and all physics stays inside
  * whole-stage codegen (pure Column expressions, zero UDFs).
  *
  * Input schemas follow SURVEY.md §1.2 (raw_values / silo_data / intensity
  * measurements + the all_stations sidecar); timestamps are UTC
  * TimestampType, tags are numeric columns.
  */
object LevelPipeline {

  /** Station calibration metadata (Mongo `all_stations` document,
    * `pipeline/csv_mongodb_converter.py:47-77`); Decimal128 params arrive
    * as doubles (converted at use sites in the reference,
    * `pipeline/cosmoz_process_levels.py:125-129`).
    */
  final case class Station(
      site_no: Int,
      beta: Double,
      ref_pressure: Double,
      ref_intensity: Double,
      elev_scaling: Double,
      latit_scaling: Double,
      n0_cal: Double,
      bulk_density: Double,
      lattice_water_g_g: Double,
      soil_organic_matter_g_g: Double,
      alternate_algorithm: Option[String] = None)

  private val sensorFields = Seq(
    "count", "pressure1", "internal_temperature", "internal_humidity",
    "battery", "tube_temperature", "tube_humidity", "rain",
    "vwc1", "vwc2", "vwc3", "pressure2",
    "external_temperature", "external_humidity")

  /** raw_values -> level1 (`pipeline/cosmoz_process_levels.py:340-429`):
    *
    *  1. drop corrupt rows (`count IS NULL AND battery IS NULL`, fix_raws
    *     `:440-444`);
    *  2. per-site lag of `count` over the RAW (pre-dedup) sequence — a
    *     skipped duplicate still consumes its diff, so `prev_count` for a
    *     kept row can come from a duplicate (`:389-396`);
    *  3. 29-minute near-duplicate suppression (J6, `:375-390`): equal on
    *     every sensor field, keys time/site_no/flag excluded (`:331-332`);
    *  4. flag rule E9 (`:397-402`): battery < 10 -> 4; count outside
    *     [0.8, 1.2] x prev_count -> 1; else the raw flag;
    *  5. the diff-less first row of each site is skipped (`:365-369`).
    */
  /** @param bucketSeconds engage the bucket-and-carry LAG
    *   ([[TimeSeriesOps.withLagBucketed]]): rows shuffle on (site_no,
    *   time bucket) instead of site_no alone, so ONE hot site spreads
    *   over span/bucket tasks instead of serializing its whole sequence
    *   through one sort (the measured 40-of-71.5 s level1 residual at
    *   mult=200 hot, SCALE.md §10 finding 2). The 29-min dedup stays in
    *   window form DELIBERATELY: its partition key is (site_no ++ all
    *   14 sensor fields), which a hot site does NOT serialize — only an
    *   identical-tuple flood does — and LEVELS_SPIKE_r15 measured the
    *   bucketed dedup 2× SLOWER here (near-unique sensor tuples make
    *   the bucket summary corpus-sized, so its carry join re-shuffles
    *   the whole stream on a 16-column key for nothing). Use
    *   [[TimeSeriesOps.dedupWithinBucketed]] directly for the flood
    *   case. Same values row-for-row — the lag-before-dedup order of
    *   the reference (`pipeline/cosmoz_process_levels.py:389-396`) is
    *   preserved; must be >= dedupWindowSeconds (the carry-width
    *   contract the dedup form would need if engaged).
    */
  def level1(
      raw: DataFrame,
      dedupWindowSeconds: Long = 29 * 60,
      bucketSeconds: Option[Long] = None): DataFrame = {
    val filtered = raw
      .filter(!(col("count").isNull && col("battery").isNull))
    val lagged = bucketSeconds match {
      case Some(b) =>
        TimeSeriesOps.withLagBucketed(
          filtered, Seq("site_no"), "time", Seq("count"), b)
          .withColumnRenamed("count_prev", "prev_count")
      case None =>
        val w = Window.partitionBy(col("site_no")).orderBy(col("time"))
        filtered.withColumn("prev_count", lag(col("count"), 1).over(w))
    }
    val deduped = TimeSeriesOps.dedupWithin(
      lagged, Seq("site_no"), "time", dedupWindowSeconds,
      cmpCols = sensorFields)
    deduped
      .filter(col("prev_count").isNotNull)
      .withColumn("flag",
        when(col("battery") < 10, lit(4))
          .when(col("count") < lit(0.8) * col("prev_count") ||
            col("count") > lit(1.2) * col("prev_count"), lit(1))
          .otherwise(col("flag")))
      .drop("prev_count")
  }

  /** Water-vapour correction kernel (`:224-225`). */
  def wvCorrExpr(tC: Column, h: Column): Column =
    lit(1.0) + lit(0.0054) *
      ((lit(2165.0) * ((lit(0.6108) * exp((lit(17.27) * tC) / (tC + lit(237.3)))) *
        (h / lit(100.0)))) / (tC + lit(273.16)))

  /** level1 -> level2 (`pipeline/cosmoz_process_levels.py:171-314`): the
    * correction stage. The reference's up-to-3-correlated-queries-per-row
    * become: one broadcast join (stations), one day-equality join with a
    * last-per-day selector (SILO), one hour-equality join plus an as-of
    * backward/forward fallback (intensity) — a fixed number of set-based
    * joins total.
    *
    * @param silo       daily climate (site_no, time, average_temperature,
    *                   average_humidity)
    * @param intensity  neutron-monitor stream (site_no, time, intensity)
    */
  /** @param emulateOldVersion reproduce the legacy system byte-for-byte
    *   (`:229-249, :262-264`): the backward intensity tier picks FIRST
    *   (earliest at/before t) instead of LAST, and the STORED wv_corr is
    *   1.0 for the mixed fallback tier (the computed value still feeds
    *   corr_count, exactly like the reference's use/store split).
    */
  /** @param bucketedAsofSeconds engage the j11 skew hatch for the J4
    *   as-of: [[AsofStrategies.asOfLookupBucketed]] with this bucket
    *   width instead of the union+window form. Same values whenever the
    *   right feed's carried column is non-null (the intensity case —
    *   LevelPipelineSpec pins chain equality); use when a18's
    *   skewProfile says one site dominates the stream (SCALE.md §9).
    *   Not compatible with `emulateOldVersion` (the legacy
    *   pick-first-backward quirk only exists in the union form).
    */
  def level2(
      level1: DataFrame,
      stations: DataFrame,
      silo: DataFrame,
      intensity: DataFrame,
      emulateOldVersion: Boolean = false,
      bucketedAsofSeconds: Option[Long] = None): DataFrame = {
    require(bucketedAsofSeconds.isEmpty || !emulateOldVersion,
      "level2: the bucketed as-of hatch cannot emulate the legacy " +
        "pick-first-backward quirk — use the union form for old-version " +
        "emulation")
    // J1 — hoisted station lookup -> broadcast hash join (22-row dim).
    val withStation = level1.join(broadcast(stations), "site_no")

    // J2 + A3 — SILO day join with LAST(*) selector (`:200-216`). Quirk
    // preserved: the reference's "day end" is 11:59:59.999999 AM (`:202`,
    // d_time(11,59,59)), so only rows in the FIRST HALF of the day are
    // candidates for the last-per-day pick.
    val siloDaily = silo
      .filter(hour(col("time")) < 12)
      .groupBy(col("site_no"), to_date(col("time")).as("__day"))
      .agg(
        max_by(col("average_temperature"), col("time")).as("__silo_t"),
        max_by(col("average_humidity"), col("time")).as("__silo_h"))
    val withSilo = withStation
      .withColumn("__day", to_date(col("time")))
      .join(siloDaily, Seq("site_no", "__day"), "left")

    // J3 — intensity hour-equality join, first-in-hour pick (`:251-257`).
    val intensityHourly = intensity
      .groupBy(col("site_no"), date_trunc("hour", col("time")).as("__hr"))
      .agg(min_by(col("intensity"), col("time")).as("__int_hour"))
    val withHour = withSilo
      .withColumn("__hr", date_trunc("hour", col("time")))
      .join(intensityHourly, Seq("site_no", "__hr"), "left")

    // J4 — as-of fallback: LAST(intensity) at/before t, else FIRST at/after
    // (`:259-285`), via the union+window as-of (one shuffle, no probe
    // loop) — or the bucketed hatch when a hot site would serialize the
    // site_no window partition.
    val asofRight = intensity
      .select(col("site_no"), col("time"), col("intensity"))
    val withAsof = bucketedAsofSeconds match {
      case Some(w) =>
        AsofStrategies.asOfLookupBucketed(
          withHour, asofRight, keys = Seq("site_no"),
          leftTs = "time", rightTs = "time",
          valueCols = Seq("intensity"), bucketSeconds = w)
      case None =>
        TimeSeriesOps.asOfLookup(
          withHour, asofRight,
          keys = Seq("site_no"), leftTs = "time", rightTs = "time",
          valueCols = Seq("intensity"),
          backwardPickFirst = emulateOldVersion)
    }
    val iVal = coalesce(col("__int_hour"), col("intensity_asof"), lit(0.0))

    // E1 — pressure correction with zero-sentinel chain (`:192-199`).
    val p = when(col("pressure2") =!= 0.0, col("pressure2"))
      .when(col("pressure1") =!= 0.0, col("pressure1"))
    val pressCorr = when(p.isNotNull, exp(col("beta") * (p - col("ref_pressure"))))
      .otherwise(lit(1.0))

    // E2 — water-vapour correction, full three-tier chain (`:221-249`):
    // (1) both externals nonzero -> externals; (2) SILO humidity found ->
    // SILO pair (temp nulled to 0.0); (3) mixed: take SILO for whichever
    // external is zero, 1.0 only if the resulting humidity is null/zero.
    // (wv_corr_store == wv_corr_use in modern mode, `:229-249`.)
    val extT = col("external_temperature")
    val extH = col("external_humidity")
    val useH3 = when(extH === 0.0, col("__silo_h")).otherwise(extH)
    val useT3 = when(extT === 0.0, col("__silo_t")).otherwise(extT)
    val tier1 = extT =!= 0.0 && extH =!= 0.0
    val tier2 = col("__silo_h").isNotNull
    val wv = when(tier1, wvCorrExpr(extT, extH))
      .when(tier2,
        wvCorrExpr(coalesce(col("__silo_t"), lit(0.0)), col("__silo_h")))
      .otherwise(
        when(useH3.isNull || useH3 === 0.0, lit(1.0))
          .otherwise(wvCorrExpr(coalesce(useT3, lit(0.0)), useH3)))
    // use/store split: corr_count always uses the computed value; what is
    // WRITTEN (and what level3's flag rule reads) is 1.0 for the mixed
    // tier under legacy emulation.
    val wvStore =
      if (!emulateOldVersion) wv
      else when(tier1 || tier2, wv).otherwise(lit(1.0))

    // E3 — intensity correction; 0 intensity -> 1.0 (`:278-285`).
    val intCorr = when(iVal === 0.0, lit(1.0))
      .otherwise(iVal / col("ref_intensity"))

    // E4 — corrected count (`:286-296`).
    val corrCount = (col("count") * wv * pressCorr / intCorr) /
      (col("latit_scaling") / col("elev_scaling"))

    withAsof
      .withColumn("press_corr", pressCorr)
      .withColumn("wv_corr", wvStore)
      .withColumn("intensity_corr", intCorr)
      .withColumn("corr_count", corrCount)
      .select(col("site_no"), col("time"), col("flag"), col("count"),
        col("press_corr"), col("wv_corr"), col("intensity_corr"),
        col("corr_count"), col("rain"))
  }

  /** level2 -> level3 (`pipeline/cosmoz_process_levels.py:96-168`):
    * soil-moisture conversion (default E5 or "sandy" alternate E6),
    * effective depth E7 (uses the UNSCALED moisture value), rainfall E8,
    * flag rule E10 (default thresholds n0/0.4*n0; sandy 3*n0/0.5*n0).
    */
  def level3(level2: DataFrame, stations: DataFrame): DataFrame = {
    val withStation = level2.join(broadcast(stations), "site_no")
    val sandy = coalesce(col("alternate_algorithm"), lit("")) === "sandy"
    val latticeOrg = col("lattice_water_g_g") + col("soil_organic_matter_g_g")
    val cmDefault = (lit(0.0808) / ((col("corr_count") / col("n0_cal")) - lit(0.372)) -
      lit(0.115) - latticeOrg) * col("bulk_density")
    val cmSandy = lit(1216036430.0) * pow(col("corr_count"), lit(-3.272))
    val cm = when(sandy, cmSandy).otherwise(cmDefault)
    val flag3 = when(col("wv_corr") === 1.0, lit(5))
      .when(sandy && col("corr_count") > lit(3.0) * col("n0_cal"), lit(3))
      .when(sandy && col("corr_count") < lit(0.5) * col("n0_cal"), lit(2))
      .when(!sandy && col("corr_count") > col("n0_cal"), lit(3))
      .when(!sandy && col("corr_count") < lit(0.4) * col("n0_cal"), lit(2))
      .otherwise(col("flag"))
    withStation
      .select(col("site_no"), col("time"), flag3.as("flag"),
        (cm * 100.0).as("soil_moist"),
        (lit(5.8) / (latticeOrg * col("bulk_density") + cm + lit(0.0829)))
          .as("effective_depth"),
        (col("rain") * 0.2).as("rainfall"))
  }

  /** level3 -> level4 (`pipeline/cosmoz_process_levels.py:42-93`): the
    * smoothing stage — over VALID (flag=0) rows only, centered moving
    * average in [t-3h-1s, t+3h+1s] per site (A1; the row itself is always
    * in-frame, so the reference's own-row fallback is implicit). The
    * reference's LIMIT 7 is vacuous at hourly cadence (<=7 rows fit the
    * frame) and is adopted as the range-frame reading (SURVEY §2.4 A1).
    * The frame runs as the O(n) decimal prefix difference
    * ([[TimeSeriesOps.centeredMeanPrefix]]), not the literal centered
    * RANGE frame, which re-accumulates O(frame) work per row
    * (`SlidingWindowFunctionFrame` cannot retract); the two forms are
    * measured in bench/LEVELS_SPIKE_r14_mult20{,_naiveL4}.json.
    */
  def level4(
      level3: DataFrame,
      radiusSeconds: Long = 3 * 3600 + 1): DataFrame = {
    val smoothed = TimeSeriesOps.centeredMeanPrefix(
      level3.filter(col("flag") === 0), Seq("site_no"), "time",
      radiusSeconds, Map(
        "soil_moist_filtered" -> "soil_moist",
        "depth_filtered" -> "effective_depth"))
    smoothed
      .select(col("site_no"), col("time"), col("soil_moist"),
        col("effective_depth"), col("rainfall"),
        col("soil_moist_filtered"), col("depth_filtered"))
  }

  /** The measured skew decision for one chain run: the a18 top-key
    * share of the raw feed, the skew-qualified hot keys' SUMMED share
    * (VERDICT r17 item 7 — two comparable hot sites are the same
    * single-task pile-up as one site holding their combined share),
    * and the hatches the rule engages (SCALE.md §10: bucketed J4 wins
    * 1.45× at share 0.60, loses-or-ties uniform — rule: engage at
    * top-1 share >= ~0.5 OR qualified summed share >= ~0.5; the level1
    * bucket-and-carry rides the same signal).
    */
  final case class SkewPlan(
      topShare: Double,
      bucketedAsofSeconds: Option[Long],
      bucketedLevel1Seconds: Option[Long],
      hotSetShare: Double = 0.0)

  /** Profile the raw feed's series key and decide the hatches — ONE
    * cheap aggregation ([[SkewOps.hotKeyProfile]], same single scan
    * the old top-1 profile paid; only the TakeOrdered limit grew)
    * ahead of the chain. Decision rule = [[SkewOps.engages]]: top-1
    * share OR the skew-qualified hot keys' summed share clearing
    * `threshold`. A uniform feed of ANY cardinality qualifies no keys
    * — every skew ≈ 1, under both [[SkewOps.HotSkewFactor]] and the
    * share-floor arm's [[SkewOps.SoloMinSkew]] co-requirement (ADVICE
    * r18: the bare 0.3 floor let a uniform 3-key feed qualify at
    * share ≈ 0.333 each) — so its summed share is 0 and it can never
    * engage through the multi-hot arm.
    */
  def planSkew(
      raw: DataFrame,
      threshold: Double = 0.5,
      bucketSeconds: Long = 21600L): SkewPlan = {
    val p = SkewOps.hotKeyProfile(raw, Seq("site_no"))
    if (SkewOps.engages(p, threshold))
      SkewPlan(p.share, Some(bucketSeconds), Some(bucketSeconds),
        p.hotSetShare)
    else SkewPlan(p.share, None, None, p.hotSetShare)
  }

  /** The full raw -> level4 chain with shared inputs.
    * `bucketedAsofSeconds` threads the j11 hatch into level2's J4;
    * `bucketedLevel1Seconds` the bucket-and-carry into level1.
    * `autoSkew = true` measures the a18 top-key share instead
    * ([[planSkew]]) and engages BOTH hatches at share >= `autoSkewThreshold`
    * — the caller arguments are ignored in that mode.
    */
  def processLevels(
      raw: DataFrame,
      stations: DataFrame,
      silo: DataFrame,
      intensity: DataFrame,
      bucketedAsofSeconds: Option[Long] = None,
      bucketedLevel1Seconds: Option[Long] = None,
      autoSkew: Boolean = false,
      autoSkewThreshold: Double = 0.5,
      autoSkewBucketSeconds: Long = 21600L): DataFrame = {
    val (asofB, l1B) =
      if (autoSkew) {
        val plan = planSkew(raw, autoSkewThreshold, autoSkewBucketSeconds)
        (plan.bucketedAsofSeconds, plan.bucketedLevel1Seconds)
      } else (bucketedAsofSeconds, bucketedLevel1Seconds)
    val l1 = level1(raw, bucketSeconds = l1B)
    val l2 = level2(l1, stations, silo, intensity,
      bucketedAsofSeconds = asofB)
    val l3 = level3(l2, stations)
    level4(l3)
  }

  /** One profiled chain run: the frame to act on, the skew plan it was
    * built under, and the refresh callback to invoke AFTER the caller's
    * action completes (it folds the free observation into the persisted
    * profile; None if no action ran).
    */
  final case class ProfiledLevels(
      df: DataFrame,
      plan: SkewPlan,
      refresh: () => Option[SkewOps.SkewProfile])

  /** [[processLevels]](autoSkew) with the profile scan made ~FREE for
    * the scheduled-ingest reality (VERDICT r15 item 3: the dedicated
    * [[SkewOps.topKeyShare]] job was ~17 s of hot_auto's 63 s at
    * mult=200). The hatch decision comes from LAST run's persisted
    * profile at `profilePath` — zero jobs — and THIS run's raw scan
    * carries a free `observe()` ([[SkewOps.observeProfile]]) that
    * re-measures (total rows, stored-hot-key share, current mode);
    * calling `refresh()` after the caller's action persists the update.
    * A dedicated scan runs ONLY when there is no usable profile: the
    * first run ever, or the run after the observed mode moved off the
    * stored hot key (share = -1 in the sidecar). Decision rule and
    * hatches are EXACTLY [[planSkew]]'s, so the e2e result is
    * hash-identical to `processLevels(autoSkew = true)` (pinned in
    * LevelPipelineSpec; `pl_levels_bucketed` carries the oracle).
    */
  /** @param observeRefresh master switch for the profile observation
    *   (the metrics ride the chain's own action, but the CollectMetrics
    *   node is a non-codegen row barrier over the raw scan — measured
    *   15–40% on the mult=200 chain). `false` plans from the stored
    *   profile with ZERO added cost and returns a no-op refresh
    *   (LEVELS_SPIKE_r16: hot_profiled_norefresh == hot_full_bucketed).
    * @param refreshEveryN the refresh CADENCE, persisted state rather
    *   than caller discipline (VERDICT r16 item 2): the profile sidecar
    *   carries `runsSinceRefresh`, and the observation is attached only
    *   on the run where `runsSinceRefresh + 1 >= refreshEveryN`;
    *   skipping runs just bump the counter (one tiny sidecar write, no
    *   Spark job). The default 4 amortizes the measured 15–40% barrier
    *   to ~4–10% of steady-state chain time while a moved hot key is
    *   still noticed within N runs (and then re-measured once — the
    *   existing convergence). `1` = refresh every run (the pre-r17
    *   behavior); a freshly MEASURED profile (first run / post-move
    *   re-measure) starts its counter at 0, so the next refresh lands
    *   N runs later.
    */
  def processLevelsProfiled(
      raw: DataFrame,
      stations: DataFrame,
      silo: DataFrame,
      intensity: DataFrame,
      profilePath: String,
      threshold: Double = 0.5,
      bucketSeconds: Long = 21600L,
      observeRefresh: Boolean = true,
      refreshEveryN: Int = 4): ProfiledLevels = {
    require(refreshEveryN >= 1,
      s"processLevelsProfiled: refreshEveryN must be >= 1, got $refreshEveryN")
    val spark = raw.sparkSession
    val keys = Seq("site_no")
    val prior = SkewOps.readProfile(spark, profilePath) match {
      case Some(p) if p.share >= 0.0 => p
      case _ =>
        // first run, or the hot key moved (share unknown): pay the one
        // dedicated scan and persist what it measured (counter 0 — the
        // cadence starts counting from this fresh measurement)
        val measured = SkewOps.hotKeyProfile(raw, keys)
        SkewOps.writeProfile(spark, profilePath, measured)
        measured
    }
    val plan =
      if (SkewOps.engages(prior, threshold))
        SkewPlan(prior.share, Some(bucketSeconds), Some(bucketSeconds),
          prior.hotSetShare)
      else SkewPlan(prior.share, None, None, prior.hotSetShare)
    val refreshDue = prior.runsSinceRefresh + 1 >= refreshEveryN
    val (chainRaw, refresh) =
      if (observeRefresh && refreshDue) {
        val (observedRaw, obs) =
          SkewOps.observeProfile(raw, keys, Some(prior))
        (observedRaw,
          () => SkewOps.refreshProfile(spark, profilePath, keys,
            Some(prior), obs, degradeShare = threshold / 2))
      } else {
        if (observeRefresh) {
          // off-cadence run: record that a run planned off this profile
          // without refreshing it — sidecar-only, no observation barrier
          SkewOps.writeProfile(spark, profilePath,
            prior.copy(runsSinceRefresh = prior.runsSinceRefresh + 1))
        }
        (raw, () => Option.empty[SkewOps.SkewProfile])
      }
    val out = processLevels(chainRaw, stations, silo, intensity,
      bucketedAsofSeconds = plan.bucketedAsofSeconds,
      bucketedLevel1Seconds = plan.bucketedLevel1Seconds)
    ProfiledLevels(out, plan, refresh)
  }
}
