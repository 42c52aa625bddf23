package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental recompute-and-overwrite semantics (SURVEY.md §2.7, S6/S8/S9):
  * the reference re-derives a sliding look-back window twice a day and
  * overwrites by (tags, time) — InfluxDB point-overwrite plus an optional
  * `DROP SERIES ... WHERE site_no=N` (`pipeline/cosmoz_process_levels.py:
  * 56-58`, `process_levels.sh:20`). The Spark equivalent is a day-bucketed
  * layout with DYNAMIC partition overwrite: only the (site, day)
  * partitions present in the recomputed frame are replaced, everything
  * else is untouched, and re-running the same window is idempotent.
  *
  * At scale this is the difference between rewriting a 100 TB table and
  * rewriting the ~31 affected day-partitions per site; the layout also
  * gives every downstream scan partition pruning on site and time.
  */
object IncrementalRunner {

  /** Columns a day-partitioned level table is bucketed by. */
  private val DayCol = "day"

  /** Idempotent windowed upsert: writes `updated` partitioned by
    * (site_no, day) with dynamic overwrite — partitions NOT present in
    * `updated` survive (the set-based DROP SERIES + rewrite).
    *
    * Each (site, day) directory gets ONE file (see
    * [[Layouts.writePartitioned]]) — without the clustering, a 31-day x
    * 100-site recompute at 200 shuffle partitions lays down ~600k
    * near-empty files (the classic small-files failure). A single
    * (site, day) is bounded by the hourly cadence, so the per-task write
    * never skews large.
    */
  def upsertByDay(updated: DataFrame, path: String, tsCol: String = "time"): Unit =
    Layouts.writePartitioned(
      updated.withColumn(DayCol, date_format(col(tsCol), "yyyy-MM-dd")),
      path, Seq("site_no", DayCol), dynamic = true)

  /** Reads a day-partitioned level table back (partition-pruning friendly:
    * filters on site_no / day prune directories before any IO).
    */
  def readLevel(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(DayCol)

  /** POINT upsert into a day-partitioned store: like [[upsertByDay]] but
    * rows already stored in the affected (site, day) partitions that do
    * NOT collide on `keyCols` survive the write. This is the reference's
    * InfluxDB point-overwrite (`nmdb/influx_db.py:76-147`: writing a point
    * at an existing (tags, time) replaces it, everything else is
    * untouched) — the semantics a partial-window append needs. A plain
    * [[upsertByDay]] of a frame holding only part of a day silently
    * deletes the rest of that day's rows; use THIS when the frame is not
    * a full recompute of every partition it touches (e.g. the NMDB
    * catch-up, which appends only hours >= each site's resume point).
    *
    * Scale shape: survivors are read ONLY from the affected partitions —
    * the semi join is on the store's real partition columns with a
    * broadcast build side, so dynamic partition pruning keeps the scan at
    * O(affected days), not O(store). The merged frame is then
    * `localCheckpoint`ed (it is bounded by the affected window, not the
    * store) because a parquet path cannot be overwritten by a plan that
    * still reads from it; a transactional table format (MERGE) subsumes
    * this on a production lake.
    */
  def upsertByKey(
      updated: DataFrame,
      path: String,
      keyCols: Seq[String] = Nil,
      tsCol: String = "time"): Unit = {
    // The key must cover the partition identity (site_no) and the time
    // column the day bucketing derives from — a key that misses either
    // would dedup against the wrong rows or break the partition scan.
    val keys = if (keyCols.isEmpty) Seq("site_no", tsCol) else keyCols
    require(keys.contains("site_no") && keys.contains(tsCol),
      s"upsertByKey keyCols must include site_no and tsCol=$tsCol, got $keys")
    val spark = updated.sparkSession
    val merged =
      if (!storeExists(spark, path)) updated
      else {
        // Materialize the append ONCE up front (it is bounded by the
        // recompute window): the affected-days broadcast, the anti-join
        // build side, and the union each consume it, and without the
        // checkpoint each would re-execute the full upstream plan —
        // plus the final write may not read the path it overwrites.
        val u = updated.localCheckpoint(true)
        val existing = spark.read.parquet(path)
        val affected = u
          .select(col("site_no"),
            date_format(col(tsCol), "yyyy-MM-dd").as(DayCol))
          .distinct()
        val survivors = existing
          .join(broadcast(affected), Seq("site_no", DayCol), "left_semi")
          .drop(DayCol)
          .join(u.select(keys.map(col): _*), keys, "left_anti")
        // second checkpoint: survivors' lineage still scans `path`, and
        // the write below overwrites it — break that reference too
        u.unionByName(survivors.select(u.columns.map(col).toIndexedSeq: _*))
          .localCheckpoint(true)
      }
    upsertByDay(merged, path, tsCol)
  }

  private def storeExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** The reference CLI's backprocess window (`-d` days before `now`,
    * `pipeline/cosmoz_process_levels.py:697-716`): rows with
    * ts > now - backprocess.
    */
  def backprocessFilter(
      df: DataFrame,
      tsCol: String,
      now: java.sql.Timestamp,
      backprocessDays: Int): DataFrame =
    df.filter(col(tsCol) > lit(now) - expr(s"INTERVAL $backprocessDays DAYS"))

  /** Windowed incremental run of the full level pipeline with HISTORY
    * PADDING: windowed operators (lag, 29-min dedup, ±3h smoothing, as-of)
    * read `padSeconds` of history before the recompute window so the
    * window's first rows see their true predecessors — the reference
    * instead truncates at the window edge (SURVEY §2.7 risk 4); pass
    * padSeconds = 0 for bug-compatible truncation. Only rows INSIDE the
    * window are written back, through [[upsertWindow]], so the stored
    * rows of the window's first day at or before its start survive.
    */
  def processLevelsIncremental(
      raw: DataFrame,
      stations: DataFrame,
      silo: DataFrame,
      intensity: DataFrame,
      outPath: String,
      now: java.sql.Timestamp,
      backprocessDays: Int,
      padSeconds: Long = 6 * 3600): Unit =
    upsertWindow(
      levelsWindow(raw, stations, silo, intensity, now, backprocessDays,
        padSeconds),
      outPath, windowStartOf(now, backprocessDays))

  /** Sink-parameterized form: the recomputed window goes through the
    * pluggable write boundary (parquet, external DB, test collector —
    * see [[Sink]]). A partition-replace sink here has the boundary-day
    * caveat [[upsertWindow]] repairs for the path form.
    */
  def processLevelsIncremental(
      raw: DataFrame,
      stations: DataFrame,
      silo: DataFrame,
      intensity: DataFrame,
      sink: Sink,
      now: java.sql.Timestamp,
      backprocessDays: Int,
      padSeconds: Long): Unit =
    sink.upsert(levelsWindow(raw, stations, silo, intensity, now,
      backprocessDays, padSeconds))

  private def windowStartOf(now: java.sql.Timestamp, backprocessDays: Int): Column =
    lit(now) - expr(s"INTERVAL $backprocessDays DAYS")

  /** level4 over the padded window, cut back to `(windowStart, now]`. */
  private def levelsWindow(
      raw: DataFrame,
      stations: DataFrame,
      silo: DataFrame,
      intensity: DataFrame,
      now: java.sql.Timestamp,
      backprocessDays: Int,
      padSeconds: Long): DataFrame = {
    val windowStart = windowStartOf(now, backprocessDays)
    val padded = raw.filter(
      col("time") > windowStart - expr(s"INTERVAL $padSeconds SECOND") &&
        col("time") <= lit(now))
    LevelPipeline.processLevels(padded, stations, silo, intensity)
      .filter(col("time") > windowStart)
  }

  /** [[upsertByDay]] of a recomputed window `(windowStart, now]` that
    * keeps what lies before the window. A `windowStart` that is not
    * midnight cuts its day in two, and a plain partition replace would
    * rewrite that (site, day) with only its in-window rows, deleting
    * the day's earlier ones (the reference point-overwrites and never
    * does). So the stored rows of that day at or before `windowStart` are
    * unioned back, for the sites whose boundary partition the window
    * rewrites; every other partition is left to the dynamic overwrite.
    *
    * Scale shape: the window is checkpointed once (it is read by the
    * site set and the write); the stored rows come from ONE day's
    * partitions (the day literal prunes directories before any IO) and
    * are checkpointed because the write overwrites the path they are
    * read from. A fresh store skips both: a backfill is a plain write.
    */
  def upsertWindow(
      window: DataFrame,
      path: String,
      windowStart: Column,
      tsCol: String = "time"): Unit = {
    val spark = window.sparkSession
    if (!storeExists(spark, path)) upsertByDay(window, path, tsCol)
    else {
      val firstDay = date_format(windowStart, "yyyy-MM-dd")
      val u = window.localCheckpoint(true)
      val sites = u
        .filter(date_format(col(tsCol), "yyyy-MM-dd") === firstDay)
        .select(col("site_no")).distinct()
      val kept = spark.read.parquet(path)
        .filter(col(DayCol) === firstDay && col(tsCol) <= windowStart)
        .drop(DayCol)
        .join(broadcast(sites), Seq("site_no"), "left_semi")
        .localCheckpoint(true)
      upsertByDay(u.unionByName(kept), path, tsCol)
    }
  }

  /** Snapshot diff — which keys were added, removed, or changed between
    * two table generations, and WHICH columns changed (the audit the
    * reference's old-vs-new golden tests do by hand, as an operator;
    * also the change-feed a plain-parquet lake derives by comparing
    * snapshots). One full outer join on the key; comparisons are
    * null-safe (`<=>`), so null→value and value→null both count as
    * changes. Unchanged keys are dropped — the output is the change
    * set, sized by churn, not by the table.
    *
    * Output: keys..., `change` ('added'|'removed'|'changed'),
    * `changed_cols` (array of changed column names; empty for
    * added/removed).
    */
  def diffSnapshots(
      oldDf: DataFrame,
      newDf: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "diffSnapshots: at least one key column")
    require(compareCols.nonEmpty, "diffSnapshots: at least one compare column")
    // only keys/compareCols survive the initial selects, so the clash
    // that matters is one of THEM carrying a reserved name
    val reserved = Set("__old", "__new", "change", "changed_cols") ++
      compareCols.map(c => s"__new_$c")
    val clash = (keys ++ compareCols).filter(reserved.contains)
    require(clash.isEmpty,
      s"diffSnapshots reserves column(s) ${clash.mkString(", ")} — " +
        "rename them on the input")
    val o = oldDf.select((keys ++ compareCols).map(col): _*)
      .withColumn("__old", lit(1))
    val n = newDf.select(
      (keys.map(col) ++
        compareCols.map(c => col(c).as(s"__new_$c"))): _*)
      .withColumn("__new", lit(1))
    val joined = o.join(n, keys, "full_outer")
    val changedCols = array_compact(array(compareCols.map(c =>
      when(!(col(c) <=> col(s"__new_$c")), lit(c))): _*))
    joined
      .withColumn("change",
        when(col("__old").isNull, "added")
          .when(col("__new").isNull, "removed")
          .when(size(changedCols) > 0, "changed"))
      .withColumn("changed_cols",
        when(col("change") === "changed", changedCols)
          .otherwise(array().cast("array<string>")))
      .where(col("change").isNotNull)
      .select((keys.map(col) :+ col("change") :+ col("changed_cols")): _*)
  }

  /** Apply a CDC changelog to a snapshot — [[diffSnapshots]]' inverse
    * and the lake-side MERGE primitive: per key, the LATEST change (by
    * `seqCol`) wins; an 'I'/'U' replaces the snapshot row, a 'D'
    * removes it, and untouched snapshot rows pass through. Changes must
    * carry the snapshot's columns plus (`opCol`, `seqCol`); a 'D' row's
    * value columns are ignored.
    *
    * Scale shape: one window over the CHANGELOG (churn-sized, never the
    * snapshot) picks each key's latest op; the snapshot is touched by
    * exactly one anti-join on the change keys — unhinted, so a routine
    * churn set broadcasts and a backfill-sized one shuffles — plus the
    * union of surviving upserts. The snapshot itself is never windowed,
    * shuffled, or collected.
    */
  def applyChangelog(
      snapshot: DataFrame,
      changes: DataFrame,
      keys: Seq[String],
      opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    require(keys.nonEmpty, "applyChangelog: at least one key column")
    require(!snapshot.columns.contains("__rn") &&
      !changes.columns.contains("__rn"),
      "applyChangelog reserves column __rn — rename it on the input")
    require(!snapshot.columns.contains(opCol) &&
      !snapshot.columns.contains(seqCol),
      s"applyChangelog: snapshot must not carry $opCol/$seqCol")
    // seqCol should be unique per key (a changelog's sequence number);
    // the opCol tie-break only makes a malformed tie deterministic
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol).asc)
    val latest = changes
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
    snapshot
      .join(latest.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(
        latest.where(col(opCol) =!= "D").drop(opCol, seqCol))
  }

  /** SCD-2 history from a versioned changelog: every non-delete version
    * becomes one history row valid from its own sequence number until
    * the NEXT event on the same key (any op — a later version supersedes,
    * a delete closes); the last open version is flagged current. Deletes
    * emit no row of their own — their entire effect is bounding the
    * predecessor's validity, which one `lead()` expresses — so the
    * operator is a single per-key window pass: no self-join, no
    * snapshot scan, cost O(changelog), never O(history).
    *
    * [[applyChangelog]] answers "what is true NOW" (SCD-1); this keeps
    * every version addressable by sequence — the as-of audit shape
    * (which price did we show at seq 5?) that regulatory replay needs.
    *
    * PRECONDITION: (keys, seq) is unique — the same contract
    * [[applyChangelog]] assumes of its changelog. A duplicate sequence
    * number on one key has no well-defined version order, and under
    * the (seq asc, op asc) tie-break a same-seq 'D' would sort BEFORE
    * the 'I'/'U' it was meant to close, leaving a deleted key flagged
    * is_current. Enforced here (cheap: rides the window pass's own
    * partitioning) rather than documented-only, because a violated
    * precondition at 100 TB is a silent wrong history.
    */
  def scd2History(
      changelog: DataFrame,
      keys: Seq[String],
      opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    require(keys.nonEmpty, "scd2History: at least one key column")
    val reserved = Seq("valid_from", "valid_to", "is_current")
      .filter(changelog.columns.contains)
    require(reserved.isEmpty,
      s"scd2History reserves column(s) ${reserved.mkString(", ")} — " +
        "rename them on the input")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).asc, col(opCol).asc)
    // Duplicate-(keys, seq) detection is a neighbor test under w's own
    // sort (equal seqs are adjacent), so the guard shares the ONE
    // exchange+sort the lead() needs anyway — no extra window pass.
    val nextSeq = lead(col(seqCol), 1).over(w)
    val prevSeq = lag(col(seqCol), 1).over(w)
    val dupSeq = (nextSeq === col(seqCol)) || (prevSeq === col(seqCol))
    changelog
      .withColumn("valid_from", col(seqCol))
      .withColumn("valid_to",
        when(dupSeq, raise_error(concat(
          lit("scd2History: duplicate (keys, seq) — version order is " +
            "undefined; offending seq="), col(seqCol).cast("string"))))
          .otherwise(nextSeq))
      .where(col(opCol) =!= "D")
      .withColumn("is_current", col("valid_to").isNull)
      .drop(opCol, seqCol)
  }
}
