package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.PipelineCli
import graft.operators.{DedupOps, IncrementalRunner, LevelPipeline, NmdbCatchup, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The product benchmark's JVM side: drives `PipelineCli.run` the way the
  * operators' cron does, on inputs `gen.py` wrote under `--dir`, checks
  * the outputs, and prints one `PERFBENCH_RESULT {json}` line. See
  * README.md in this directory for the workloads and metrics.
  *
  * {{{
  * perfbench.Main --workload W --dir D --seconds S --trace 0|1 --cpus N
  *   [--trace-out FILE]
  * }}}
  */
object Main {

  final case class Args(workload: String, dir: String, seconds: Double,
      trace: Boolean, cpus: Int, traceOut: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--dir"), need("--seconds").toDouble,
      need("--trace") == "1", need("--cpus").toInt,
      m.getOrElse("--trace-out", ""))
  }

  /** `PipelineCli.main`'s session builder, setting for setting: the
    * product's session is what gets measured, not a tuned one.
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a.cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, a, sessionS)
    try {
      a.workload match {
        case "levels_backfill" => Workloads.backfill(ctx)
        case "levels_cron" => Workloads.cron(ctx)
        case "nmdb_catchup" => Workloads.nmdbCatchup(ctx)
        case "curate" => Workloads.curate(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        ctx.check("workload_completed", ok = false,
          s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    // the result line goes out BEFORE spark.stop(): a hang in stop must
    // not lose it, and stop itself is bounded below
    println("PERFBENCH_RESULT " + ctx.resultJson)
    System.out.flush()
    if (a.traceOut.nonEmpty) ctx.rec.foreach(r =>
      Files.write(Paths.get(a.traceOut), r.toJson.getBytes("UTF-8")))
    val stopper = new Thread(() => spark.stop())
    stopper.setDaemon(true)
    stopper.start()
    stopper.join(20000L)
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}

/** Per-run state: timings, checks, layer counters, the recorder. */
final class Ctx(val spark: SparkSession, val a: Main.Args, sessionS: Double) {
  val rec: Option[Recorder] = if (a.trace) Some(new Recorder(spark)) else None
  val dir: String = a.dir
  val planted: Map[String, Any] = Planted.read(s"${a.dir}/planted.json")
  private val setupParts = mutable.LinkedHashMap[String, Double](
    "session_s" -> sessionS)
  val checks = ArrayBuffer[(String, Boolean, String)]()
  val opSeconds = ArrayBuffer[Double]()
  val tracedOpSeconds = ArrayBuffer[Double]()
  var attemptedOps = 0
  var failedOps = 0
  var measureStartMs = 0L
  var rowsPerOp = 0.0
  val e2e = mutable.LinkedHashMap[String, Any]()
  val layer = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val info = mutable.LinkedHashMap[String, Any]()

  def setup(name: String, seconds: Double): Unit = {
    System.err.println(f"[perfbench] setup $name $seconds%.3f s")
    setupParts(name) = seconds
  }

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    ok
  }

  def layerAdd(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, ArrayBuffer()) += v

  /** Closed loop: run `op(i, traced)` until `--seconds` have passed, and
    * at least three times, so the median drops one slow op; in the traced
    * run at least two untraced and two traced ops, alternating, so
    * `trace.overhead_frac` compares like with like. The recorder's
    * listeners are attached only around traced ops: an untraced op runs
    * as in the `--trace 0` run. `op` returns its measured seconds and
    * whether its checks passed.
    */
  def loop(op: (Int, Boolean) => (Double, Boolean)): Unit = {
    measureStartMs = System.currentTimeMillis()
    val start = System.nanoTime()
    var i = 0
    val minOps = if (a.trace) 4 else 3
    while (i < minOps || (System.nanoTime() - start) / 1e9 < a.seconds) {
      val traced = a.trace && i % 2 == 1
      rec.foreach(r => if (traced) r.attach() else r.detach())
      val (s, ok) =
        try op(i, traced)
        catch {
          case e: Exception =>
            check(s"op_$i", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
            e.printStackTrace()
            (Double.NaN, false)
        }
      System.err.println(f"[perfbench] op $i traced=$traced $s%.3f s ok=$ok")
      attemptedOps += 1
      if (!ok) failedOps += 1
      if (!s.isNaN) (if (traced) tracedOpSeconds else opSeconds) += s
      i += 1
    }
    rec.foreach(_.detach())
    info("measure_wall_s") = (System.nanoTime() - start) / 1e9
  }

  def span[T](traced: Boolean, name: String)(body: => T): T = rec match {
    case Some(r) if traced => r.span(name)(body)
    case _ => body
  }

  def resultJson: String = {
    val env = Env.describe(spark, a.cpus)
    val layerOut = layer.map { case (k, vs) => k -> Stats.median(vs.toSeq) }
    if (a.trace && opSeconds.nonEmpty && tracedOpSeconds.nonEmpty)
      layerOut("trace.overhead_frac") =
        Stats.median(tracedOpSeconds.toSeq) / Stats.median(opSeconds.toSeq) - 1
    Json.obj(Seq(
      "ok" -> checks.forall(_._2),
      "attempted" -> attemptedOps,
      "failed" -> failedOps,
      "checks" -> checks.toSeq.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "setup" -> setupParts.toMap,
      "jvm_start_ms" -> java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime,
      "measure_start_ms" -> measureStartMs,
      "op_seconds" -> opSeconds.toSeq,
      "traced_op_seconds" -> tracedOpSeconds.toSeq,
      "rows_per_op" -> rowsPerOp,
      "e2e" -> e2e.toMap,
      "layer" -> layerOut.toMap,
      "info" -> info.toMap,
      "env" -> env,
      "peak_rss_mb" -> Env.peakRssMb))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Env {
  def peakRssMb: Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(
        _.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)

  def describe(spark: SparkSession, cpus: Int): Map[String, Any] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "local_n" -> cpus,
      "xmx" -> rt.getInputArguments.asScala.filter(_.startsWith("-Xmx")).mkString(" "),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "session_conf" -> spark.sparkContext.getConf.getAll.toSeq
        .filterNot { case (k, _) => k.startsWith("spark.driver.") ||
          k == "spark.app.id" || k == "spark.app.startTime" ||
          k == "spark.executor.id" || k.startsWith("spark.app.submitTime") }
        .sorted.map { case (k, v) => s"$k=$v" })
  }
}

/** planted.json, read with the JSON parser Spark already ships. */
object Planted {
  def read(path: String): Map[String, Any] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    conv(m.readValue(new File(path), classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]
  }
  private def conv(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> conv(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(conv).toSeq
    case other => other
  }
  def long(p: Map[String, Any], k: String): Long = p(k) match {
    case n: java.lang.Number => n.longValue()
    case other => throw new IllegalArgumentException(s"$k: $other")
  }
  def longs(p: Map[String, Any], k: String): IndexedSeq[Long] =
    p(k).asInstanceOf[Seq[Any]].map(_.asInstanceOf[Number].longValue()).toIndexedSeq
}

/** File-level helpers: the stores are plain parquet directories. */
object Fs {
  def rmrf(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Data files under `root`: relative path -> (bytes, mtime ms). */
  def dataFiles(root: String): Map[String, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(f => p.relativize(f).toString ->
        ((Files.size(f), Files.getLastModifiedTime(f).toMillis)))
      .toMap
  }

  def bytes(root: String): Long = dataFiles(root).values.map(_._1).sum

  def copyTree(from: String, to: String): Unit = {
    rmrf(to)
    val src = Paths.get(from)
    val dst = Paths.get(to)
    Files.walk(src).iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** What a write left behind: files whose mtime is at or after `sinceMs`,
    * the partition directories holding them, and their bytes.
    */
  def written(root: String, sinceMs: Long): (Int, Int, Long) = {
    val fresh = dataFiles(root).filter(_._2._2 >= sinceMs)
    val parts = fresh.keys.map(k => Option(Paths.get(k).getParent)
      .map(_.toString).getOrElse("")).toSet
    (parts.size, fresh.size, fresh.values.map(_._1).sum)
  }
}

object Workloads {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Operations run before the measured loop, counted in setup. The
    * first operation of a fresh JVM runs about 2x slow, and the next ones
    * keep getting faster by 5-20 % each as the JIT compiles more of the
    * program; after three, the measured operations of one run agree to
    * about 10 %. The backfill's and curate's first warm-up runs on a small
    * part of the input: it loads and compiles the code paths as well.
    */
  val WarmupOps = 3

  val Level4Cols = Seq("soil_moist", "effective_depth", "rainfall",
    "soil_moist_filtered", "depth_filtered")

  /** Order-independent content hash of a level4 table: row count and the
    * sum of per-row xxhash64 over every column.
    */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = (Seq("site_no", "time") ++ Level4Cols).map(col)
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).cast("string")).head()
    (r.getLong(0), Option(r.getString(1)).getOrElse("0"))
  }

  def ts(epochSeconds: Long): Timestamp = new Timestamp(epochSeconds * 1000L)

  /** Per-level self time, each level forced over its checkpointed input. */
  def levelLayers(c: Ctx, raw: DataFrame, stations: DataFrame,
      silo: DataFrame, intensity: DataFrame): DataFrame = {
    val r = c.rec.get
    val rawCp = raw.localCheckpoint(true)
    val l1 = r.span("LevelPipeline.level1") {
      LevelPipeline.level1(rawCp).localCheckpoint(true) }
    val l2 = r.span("LevelPipeline.level2") {
      LevelPipeline.level2(l1, stations, silo, intensity).localCheckpoint(true) }
    val l3 = r.span("LevelPipeline.level3") {
      LevelPipeline.level3(l2, stations).localCheckpoint(true) }
    val l4 = r.span("LevelPipeline.level4") {
      LevelPipeline.level4(l3).localCheckpoint(true) }
    c.layerAdd("LevelPipeline.level1.rows_out", l1.count().toDouble)
    c.layerAdd("LevelPipeline.level1.rows_flagged",
      l1.filter(col("flag") =!= 0).count().toDouble)
    c.layerAdd("LevelPipeline.level2.rows_out", l2.count().toDouble)
    c.layerAdd("LevelPipeline.level3.rows_out", l3.count().toDouble)
    c.layerAdd("LevelPipeline.level4.rows_out", l4.count().toDouble)
    l4
  }

  /** Self times of every span named in `names` recorded since `from`. */
  def addSelfTimes(c: Ctx, from: Int, names: Seq[String]): Unit = {
    val r = c.rec.get
    names.foreach { n =>
      val xs = r.spans.drop(from).filter(_.name == n)
      if (xs.nonEmpty) c.layerAdd(s"$n.self_s", xs.map(r.selfSeconds).sum)
    }
  }

  def addEngine(c: Ctx, root: Span): Unit =
    c.rec.get.engineMetrics(root).foreach { case (k, v) => c.layerAdd(k, v) }

  val LevelSpans = Seq("LevelPipeline.level1", "LevelPipeline.level2",
    "LevelPipeline.level3", "LevelPipeline.level4")

  // ---------------------------------------------------------------- backfill

  /** One `--mode levels` run over the whole generated history into an
    * empty store (the reference's `populate_dbs.sh -d 7300` repopulate).
    */
  def backfill(c: Ctx): Unit = {
    val spark = c.spark
    val start = Planted.long(c.planted, "start")
    val end = Planted.long(c.planted, "end")
    val in = s"${c.dir}/in"
    val days = ((end - start) / 86400 + 1).toInt
    def cfg(out: String, d: Int, now: Long) = PipelineCli.Config(
      input = in, output = out, mode = "levels",
      backprocessDays = Some(d), now = Some(ts(now)))
    val (_, warm) = timed((0 until WarmupOps).foreach { w =>
      PipelineCli.run(spark, cfg(s"${c.dir}/warm", if (w == 0) days / 4 else days, end))
      Fs.rmrf(s"${c.dir}/warm")
    })
    c.setup("warmup_s", warm)

    val raw = spark.read.parquet(s"$in/raw_values")
    val rawRows = Planted.long(c.planted, "raw_rows")
    c.rowsPerOp = rawRows.toDouble
    val rawBytes = Fs.bytes(s"$in/raw_values")

    var firstHash = Option.empty[String]
    var storeBytes = 0L
    var storeRows = 0L
    c.loop { (i, traced) =>
      val out = s"${c.dir}/out/$i"
      val from = c.rec.map(_.spans.size).getOrElse(0)
      val sinceMs = System.currentTimeMillis()
      val (_, s) = timed(c.span(traced, "op") {
        c.span(traced, "PipelineCli.run") {
          PipelineCli.run(spark, cfg(out, days, end)) } })
      val (n, h) = contentHash(IncrementalRunner.readLevel(spark, out))
      if (firstHash.isEmpty) firstHash = Some(h)
      val ok = c.check(s"level4_hash_repeats_$i", firstHash.contains(h),
        s"hash $h, first op $firstHash") &
        c.check(s"level4_rows_$i", n > 0, s"rows $n")
      storeBytes = Fs.bytes(out)
      storeRows = n
      if (traced) {
        val r = c.rec.get
        addEngine(c, r.spans(from))
        val (parts, files, bytes) = Fs.written(out, sinceMs)
        c.layerAdd("IncrementalRunner.partitions_written", parts)
        c.layerAdd("IncrementalRunner.files_written", files)
        c.layerAdd("IncrementalRunner.bytes_written", bytes.toDouble)
        c.layerAdd("IncrementalRunner.write_amp", bytes.toDouble / rawBytes)
        // the layer split: the same chain, each level over its
        // checkpointed input, then the day-partitioned write
        val mark = r.spans.size
        val windowStart = ts(end - days * 86400L)
        val padded = raw.filter(col("time") > lit(windowStart) -
          expr("INTERVAL 21600 SECOND") && col("time") <= lit(ts(end)))
        val l4 = levelLayers(c, padded,
          spark.read.parquet(s"$in/stations"),
          spark.read.parquet(s"$in/silo_data"),
          spark.read.parquet(s"$in/intensity"))
        val shadow = s"${c.dir}/layers/$i"
        r.span("IncrementalRunner.upsertByDay") {
          IncrementalRunner.upsertByDay(
            l4.filter(col("time") > lit(windowStart)), shadow) }
        addSelfTimes(c, mark, LevelSpans :+ "IncrementalRunner.upsertByDay")
        Fs.rmrf(shadow)
      }
      Fs.rmrf(out)
      (s, ok)
    }
    val want = c.planted("level1_flags").asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.asInstanceOf[Number].longValue() }
      .filter(_._2 > 0)
    val got = LevelPipeline.level1(raw).groupBy("flag").count().collect()
      .map(r => r.getInt(0).toString -> r.getLong(1)).toMap
    c.check("level1_rows_per_flag", got == want, s"got $got want $want")
    c.e2e("store_bytes") = storeBytes
    c.e2e("store_rows") = storeRows
    firstHash.foreach(h => c.e2e("content_hash") = h)
  }

  // ------------------------------------------------------------ cron inputs

  /** The inputs the cron workloads share: `gen.py`'s history, the
    * intensity store the catch-up appends to, and the staged 12-hour
    * ticks of raw and feed rows.
    */
  final class Cron(c: Ctx) {
    val spark: SparkSession = c.spark
    val d: String = c.dir
    val in = s"$d/in"
    // the intensity store, generated with its history
    val intensityStore = s"$in/intensity"
    val ticks: Seq[Long] = Planted.longs(c.planted, "ticks")
    var next = 0

    /** Moves tick `k`'s staged raw and feed rows into the input tables;
      * returns the bytes ingested.
      */
    def append(k: Int): Long = {
      require(k < ticks.size, s"ran out of staged ticks (${ticks.size})")
      var bytes = 0L
      Seq("raw_values" -> s"$in/raw_values", "feed" -> s"$d/feed").foreach {
        case (t, dst) =>
          val f = Paths.get(f"$d/stage/$t/tick-$k%05d.parquet")
          bytes += Files.size(f)
          Files.move(f, Paths.get(dst, f.getFileName.toString))
      }
      bytes
    }

    def catchup(now: Long): Unit = PipelineCli.run(spark, PipelineCli.Config(
      input = in, output = intensityStore, mode = "nmdb-catchup",
      feed = s"$d/feed", now = Some(ts(now))))

    def levels(out: String, days: Int, now: Long): Unit = PipelineCli.run(spark,
      PipelineCli.Config(input = in, output = out, mode = "levels",
        backprocessDays = Some(days), now = Some(ts(now))))

    def snapshotIntensity(): Unit =
      Fs.copyTree(intensityStore, s"$d/shadow/intensity")

    /** NmdbCatchup's layer split of tick `now`: plan and validated append
      * forced over the pre-tick intensity store (the shadow copy), then
      * the point upsert into that copy.
      */
    def catchupLayers(now: Long): Unit = {
      val r = c.rec.get
      val mark = r.spans.size
      val shadowInt = s"$d/shadow/intensity"
      val intensity = spark.read.parquet(shadowInt)
      val raw = spark.read.parquet(s"$in/raw_values")
      val feed = spark.read.parquet(s"$d/feed")
      val nowHour = date_trunc("hour", lit(ts(now)))
      val (plan, appended) = r.span("NmdbCatchup") {
        val plan = NmdbCatchup.fetchPlan(intensity, raw, nowHour,
          NmdbCatchup.DefaultMaxLookbackHours).localCheckpoint(true)
        (plan, NmdbCatchup.catchupAppend(intensity, feed, plan)
          .localCheckpoint(true))
      }
      c.layerAdd("NmdbCatchup.hours_planned", plan.count().toDouble)
      c.layerAdd("NmdbCatchup.hours_appended", appended.count().toDouble)
      r.span("IncrementalRunner.upsertByKey") {
        IncrementalRunner.upsertByKey(appended, shadowInt) }
      addSelfTimes(c, mark, Seq("NmdbCatchup", "IncrementalRunner.upsertByKey"))
    }
  }

  /** Files, partitions and bytes the tick wrote into `stores`. */
  def addWriteStats(c: Ctx, stores: Seq[String], sinceMs: Long,
      ingested: Long): Unit = {
    val w = stores.map(Fs.written(_, sinceMs))
    val bytes = w.map(_._3).sum
    c.layerAdd("IncrementalRunner.partitions_written", w.map(_._1).sum)
    c.layerAdd("IncrementalRunner.files_written", w.map(_._2).sum)
    c.layerAdd("IncrementalRunner.bytes_written", bytes.toDouble)
    c.layerAdd("IncrementalRunner.write_amp", bytes.toDouble / ingested)
  }

  /** Useful work of a write: of the rows in the partitions of `store`
    * rewritten since `sinceMs`, the share that is new or changed against
    * the pre-write copy `shadow`.
    */
  def addChangedFrac(c: Ctx, store: String, shadow: String, sinceMs: Long,
      keys: Seq[String], same: (Column, Column) => Column,
      values: Seq[String]): Unit = {
    val rewritten = Fs.dataFiles(store).filter(_._2._2 >= sinceMs)
      .keys.map(p => s"$store/" + Paths.get(p).getParent.toString).toSeq.distinct
    if (rewritten.nonEmpty) {
      val after = c.spark.read.option("basePath", store).parquet(rewritten: _*)
        .drop("day")
      val (rows, changed) = diffRows(after,
        IncrementalRunner.readLevel(c.spark, shadow), keys, values, same)
      c.layerAdd("IncrementalRunner.rows_changed_frac",
        changed.toDouble / math.max(1L, rows))
    }
  }

  /** Rows of `a`, and of them those with no row of `b` on `keys` or whose
    * `values` are not `same` as that row's.
    */
  def diffRows(a: DataFrame, b: DataFrame, keys: Seq[String],
      values: Seq[String], same: (Column, Column) => Column): (Long, Long) = {
    val r = b.select((keys.map(col) ++ values.map(v => col(v).as(s"__b_$v"))): _*)
      .withColumn("__b", lit(1))
    val ok = col("__b").isNotNull &&
      values.map(v => same(col(v), col(s"__b_$v"))).reduce(_ && _)
    val row = a.select((keys ++ values).map(col): _*).join(r, keys, "left")
      .agg(count(lit(1)), sum(when(ok, 0L).otherwise(1L))).head()
    (row.getLong(0), Option(row.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Equal within the level4 `do_tests` tolerance (abs < 3.29e-5 or
    * rel < 4.8e-6 %), or both null.
    */
  def level4Close(x: Column, y: Column): Column =
    (x.isNull && y.isNull) || abs(x - y) < 3.29e-5 || abs(x - y) < abs(y) * 4.8e-8

  val IntensityCols = Seq("intensity", "bad_data_flag")
  val SiteTime = Seq("site_no", "time")

  // ------------------------------------------------------------ nmdb catch-up

  /** The NMDB leg of the twice-daily cron, replayed in compressed time:
    * each tick appends 12 h of raw and feed rows, then runs
    * `--mode nmdb-catchup --now <tick>`, a point upsert into the
    * day-partitioned intensity store.
    */
  def nmdbCatchup(c: Ctx): Unit = {
    val spark = c.spark
    val cr = new Cron(c)
    val (_, warmS) = timed((0 until WarmupOps).foreach { _ =>
      cr.append(cr.next); cr.catchup(cr.ticks(cr.next)); cr.next += 1 })
    c.setup("warmup_ticks_s", warmS)

    val rowsAfter = Planted.longs(c.planted, "catchup_rows_after")
    val flaggedAfter = Planted.longs(c.planted, "catchup_flagged_after")
    val feedRows = Planted.longs(c.planted, "tick_feed_rows")
    val measured = ArrayBuffer[Int]()
    c.loop { (_, traced) =>
      val k = cr.next
      cr.next += 1
      val now = cr.ticks(k)
      if (traced) cr.snapshotIntensity()
      val ingested = cr.append(k)
      val sinceMs = System.currentTimeMillis()
      val from = c.rec.map(_.spans.size).getOrElse(0)
      val (_, s) = timed(c.span(traced, "op") {
        c.span(traced, "PipelineCli.nmdb-catchup") { cr.catchup(now) } })
      val r = spark.read.parquet(cr.intensityStore).agg(count(lit(1)),
        sum(col("bad_data_flag").cast("long"))).head()
      val got = (r.getLong(0), r.getLong(1))
      val want = (rowsAfter(k), flaggedAfter(k))
      val ok = c.check(s"tick_${k}_store_rows_and_flags", got == want,
        s"(rows, flagged) got $got want $want")
      measured += k
      if (traced) {
        addEngine(c, c.rec.get.spans(from))
        addWriteStats(c, Seq(cr.intensityStore), sinceMs, ingested)
        addChangedFrac(c, cr.intensityStore, s"${c.dir}/shadow/intensity",
          sinceMs, SiteTime, (x, y) => x <=> y, IntensityCols)
        cr.catchupLayers(now)
      }
      (s, ok)
    }
    // the tick's input size: the new feed rows it must take in (what it
    // upserts also depends on where the feed's gaps stall a site)
    c.rowsPerOp = measured.map(feedRows(_)).sum.toDouble / measured.size

    // after the last tick: the store holds exactly the history plus every
    // tick's upserts, the latest copy of each (site, hour)
    val last = cr.next - 1
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(SiteTime.map(col): _*).orderBy(col("tick").desc)
    val expected = spark.read.parquet(s"${c.dir}/intensity_hist")
      .withColumn("tick", lit(-1))
      .unionByName(spark.read.parquet(s"${c.dir}/expect/upserts.parquet")
        .filter(col("tick") <= last))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1).drop("__r", "tick")
    val stored = IncrementalRunner.readLevel(spark, cr.intensityStore)
    val (n, bad) = diffRows(stored, expected, SiteTime, IntensityCols, _ <=> _)
    val (m, _) = diffRows(expected, stored, SiteTime, IntensityCols, _ <=> _)
    c.check("final_store_equals_reference_walk", bad == 0 && n == m,
      s"$bad of $n stored rows differ or are unexpected; $m expected")
    c.e2e("store_bytes") = Fs.bytes(cr.intensityStore)
    c.e2e("store_rows") = n
  }

  // -------------------------------------------------------------------- cron

  /** The twice-daily cron replayed in compressed time: each tick appends
    * 12 h of raw and feed rows, runs `--mode nmdb-catchup`, then
    * `--mode levels -d 31 --now <tick>`.
    */
  def cron(c: Ctx): Unit = {
    val spark = c.spark
    val cr = new Cron(c)
    val d = c.dir
    val in = cr.in
    val store = s"$d/out/level4"
    val histEnd = Planted.long(c.planted, "history_end")
    val histDays = Planted.long(c.planted, "history_days").toInt
    val Days = 31

    // setup: the level4 history, pre-populated twice (the median is
    // setup, the second store is kept)
    val pre = (0 until 2).map { i =>
      timed(cr.levels(if (i == 1) store else s"$d/prepop$i", histDays, histEnd))._2 }
    c.setup("prepopulate_s", Stats.median(pre))

    def tick(k: Int, traced: Boolean): Double = {
      val now = cr.ticks(k)
      timed(c.span(traced, "op") {
        val (_, a) = timed(c.span(traced, "PipelineCli.nmdb-catchup") { cr.catchup(now) })
        val (_, b) = timed(c.span(traced, "PipelineCli.levels") { cr.levels(store, Days, now) })
        System.err.println(f"[perfbench] tick $k nmdb-catchup $a%.3f s levels $b%.3f s")
      })._2
    }
    val (_, warmS) = timed((0 until WarmupOps).foreach { _ =>
      cr.append(cr.next); tick(cr.next, traced = false); cr.next += 1 })
    c.setup("warmup_ticks_s", warmS)

    c.rowsPerOp = 0.0
    c.loop { (_, traced) =>
      val k = cr.next
      cr.next += 1
      val now = cr.ticks(k)
      val windowStart = now - Days * 86400L
      val boundaryDay = java.time.Instant.ofEpochSecond(windowStart)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
      // before: listing of every partition wholly before the window, and
      // the hash of the boundary day's rows at or before the window start
      val before = Fs.dataFiles(store).filter { case (p, _) => dayOf(p) < boundaryDay }
      val boundaryBefore = boundaryHash(spark, store, boundaryDay, windowStart)
      if (traced) {
        Fs.copyTree(store, s"$d/shadow/level4")
        cr.snapshotIntensity()
      }
      val ingested = cr.append(k)
      val sinceMs = System.currentTimeMillis()
      val from = c.rec.map(_.spans.size).getOrElse(0)
      val s = tick(k, traced)
      val after = Fs.dataFiles(store).filter { case (p, _) => dayOf(p) < boundaryDay }
      val boundaryAfter = boundaryHash(spark, store, boundaryDay, windowStart)
      val ok1 = c.check(s"tick_${k}_partitions_before_window_untouched",
        before == after,
        s"${(before.keySet diff after.keySet).size} removed, " +
          s"${(after.keySet diff before.keySet).size} added, " +
          s"${before.count { case (p, v) => after.get(p).exists(_ != v) }} changed")
      val ok2 = c.check(s"tick_${k}_rows_before_window_start_unchanged",
        boundaryBefore == boundaryAfter,
        s"boundary day $boundaryDay: before $boundaryBefore after $boundaryAfter")
      if (traced) {
        addEngine(c, c.rec.get.spans(from))
        addWriteStats(c, Seq(store, cr.intensityStore), sinceMs, ingested)
        addChangedFrac(c, store, s"$d/shadow/level4", sinceMs, SiteTime,
          level4Close, Level4Cols)
        cr.catchupLayers(now)
        // levels over the updated shadow intensity, as the product tick did
        val mark = c.rec.get.spans.size
        val l4 = levelLayers(c,
          spark.read.parquet(s"$in/raw_values").filter(
            col("time") > lit(ts(windowStart - 21600)) && col("time") <= lit(ts(now))),
          spark.read.parquet(s"$in/stations"),
          spark.read.parquet(s"$in/silo_data"),
          spark.read.parquet(s"$d/shadow/intensity"))
        c.rec.get.span("IncrementalRunner.upsertByDay") {
          IncrementalRunner.upsertByDay(
            l4.filter(col("time") > lit(ts(windowStart))), s"$d/shadow/level4") }
        addSelfTimes(c, mark, LevelSpans :+ "IncrementalRunner.upsertByDay")
      }
      c.rowsPerOp = spark.read.parquet(s"$in/raw_values")
        .filter(col("time") > lit(ts(windowStart - 21600)) &&
          col("time") <= lit(ts(now))).count().toDouble
      (s, ok1 && ok2)
    }

    // after the last tick: the window rows equal a one-shot processLevels
    // over the same final raw, within the reference's do_tests tolerances
    val last = cr.ticks(cr.next - 1)
    val windowStart = ts(last - Days * 86400L)
    val oneShot = LevelPipeline.processLevels(
      spark.read.parquet(s"$in/raw_values"),
      spark.read.parquet(s"$in/stations"),
      spark.read.parquet(s"$in/silo_data"),
      spark.read.parquet(cr.intensityStore))
      .filter(col("time") > lit(windowStart) && col("time") <= lit(ts(last)))
    val stored = IncrementalRunner.readLevel(spark, store)
      .filter(col("time") > lit(windowStart))
    val (rows, bad) = diffRows(stored, oneShot, SiteTime, Level4Cols, level4Close)
    val (oneShotRows, _) = diffRows(oneShot, stored, SiteTime, Level4Cols, level4Close)
    c.check("final_window_equals_one_shot", bad == 0 && rows == oneShotRows,
      s"$bad of $rows stored window rows differ or are unexpected; " +
        s"$oneShotRows one-shot rows")
    c.e2e("store_bytes") = Fs.bytes(store)
    c.e2e("store_rows") = IncrementalRunner.readLevel(spark, store).count()
  }

  private def dayOf(rel: String): String = {
    val i = rel.indexOf("day=")
    if (i < 0) "" else rel.substring(i + 4, i + 14)
  }

  private def boundaryHash(spark: SparkSession, store: String, day: String,
      windowStart: Long): Map[Int, (Long, String)] = {
    val dirs = new File(store).listFiles().toSeq
      .filter(_.getName.startsWith("site_no="))
      .map(s => new File(s, s"day=$day"))
      .filter(_.isDirectory).map(_.getPath)
    if (dirs.isEmpty) Map.empty
    else {
      val cols = (Seq("time") ++ Level4Cols).map(col)
      spark.read.option("basePath", store).parquet(dirs: _*)
        .filter(col("time") <= lit(ts(windowStart)))
        .groupBy(col("site_no"))
        .agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))
          .cast("string"))
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getString(2))))
        .toMap
    }
  }

  // ------------------------------------------------------------------ curate

  /** One `--mode curate --benchmark <eval>` run over the generated corpus. */
  def curate(c: Ctx): Unit = {
    val spark = c.spark
    val d = c.dir
    def cfg(input: String, out: String) = PipelineCli.Config(
      input = input, output = out, mode = "curate",
      benchmark = Some(s"$d/eval"))
    val (_, warm) = timed((0 until WarmupOps).foreach { w =>
      val input = if (w == 0) s"$d/warm_in" else s"$d/in"
      if (w == 0) spark.read.parquet(s"$d/in/documents")
        .filter(col("doc_id") % 5 === 0).write.parquet(s"$input/documents")
      PipelineCli.run(spark, cfg(input, s"$d/warm"))
      Fs.rmrf(s"$d/warm")
    })
    Fs.rmrf(s"$d/warm_in")
    c.setup("warmup_s", warm)
    val docsN = Planted.long(c.planted, "docs")
    c.rowsPerOp = docsN.toDouble
    def want(k: String) = Planted.long(c.planted, k)
    var storeBytes = 0L
    c.loop { (i, traced) =>
      val out = s"$d/out/$i"
      val from = c.rec.map(_.spans.size).getOrElse(0)
      val (_, s) = timed(c.span(traced, "op") {
        c.span(traced, "PipelineCli.run") {
          PipelineCli.run(spark, cfg(s"$d/in", out)) } })
      val dec = spark.read.parquet(s"$out/decisions")
      val r = dec.agg(count(lit(1)),
        sum(when(col("passed_quality"), 1L).otherwise(0L)),
        sum(when(col("is_exact_dup"), 1L).otherwise(0L)),
        sum(when(col("is_contaminated"), 1L).otherwise(0L)),
        sum(when(col("keep"), 1L).otherwise(0L)),
        sum(col("n_segments") - col("n_kept"))).head()
      val got = (0 until 6).map(j => r.getLong(j))
      val exp = Seq(docsN, docsN - want("low_quality"), want("exact_dups"),
        want("contaminated"), want("kept"), want("repeated_lines"))
      val curated = spark.read.parquet(s"$out/curated").count()
      val ok = c.check(s"curate_counts_$i", got == exp && curated == want("kept"),
        s"(docs, passed_quality, exact_dups, contaminated, kept, " +
          s"repeated_lines) got $got want $exp; curated $curated")
      storeBytes = Fs.bytes(out)
      if (traced) {
        addEngine(c, c.rec.get.spans(from))
        curateLayers(c, i, out)
      }
      Fs.rmrf(out)
      (s, ok)
    }
    c.e2e("store_bytes") = storeBytes
    c.e2e("store_rows") = docsN
  }

  /** The layer functions `runCurate` calls, each forced over
    * checkpointed input, then the write share: the product run's own
    * decision log (in `out`), re-read and materialized, written again with
    * its curated split. That rewrite is the benchmark's approximation of
    * the run's write time; the run itself computes and writes the decision
    * log in one job.
    */
  private def curateLayers(c: Ctx, i: Int, out: String): Unit = {
    val spark = c.spark
    val r = c.rec.get
    val d = c.dir
    val mark = r.spans.size
    val docs = spark.read.parquet(s"$d/in/documents").localCheckpoint(true)
    val bench = spark.read.parquet(s"$d/eval").localCheckpoint(true)
    val deduped = r.span("DedupOps.lineDedup") {
      DedupOps.lineDedup(docs, "doc_id", "text",
        java.util.regex.Pattern.quote("\n"), "\n").localCheckpoint(true) }
    r.span("TextOps.qualityScore") {
      docs.select(col("doc_id"), TextOps.qualityScore(col("text"),
        TextOps.tokens(col("text")), Seq("the", "a", "of", "to"))("quality")
        .as("quality")).localCheckpoint(true) }
    val flags = r.span("DedupOps.flagContaminated") {
      DedupOps.flagContaminated(
        deduped.select(col("doc_id"), col("text_dedup").as("text")),
        bench, "doc_id", "text").localCheckpoint(true) }
    val hits = flags.filter(col("is_contaminated")).count()
    c.layerAdd("DedupOps.flagContaminated.hit_ratio",
      hits.toDouble / math.max(1L, flags.count()))
    val decisions = spark.read.parquet(s"$out/decisions").localCheckpoint(true)
    val copy = s"$d/layers/$i"
    r.span("PipelineCli.curate.write") {
      decisions.write.mode("overwrite").parquet(s"$copy/decisions")
      spark.read.parquet(s"$copy/decisions").filter(col("keep"))
        .select(col("doc_id"), col("text_dedup").as("text"))
        .write.mode("overwrite").parquet(s"$copy/curated")
    }
    addSelfTimes(c, mark, Seq("DedupOps.lineDedup", "TextOps.qualityScore",
      "DedupOps.flagContaminated"))
    r.spans.drop(mark).filter(_.name == "PipelineCli.curate.write")
      .foreach(s => c.layerAdd("PipelineCli.curate.write_s", s.seconds))
    Fs.rmrf(copy)
  }
}
