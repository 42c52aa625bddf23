package graft
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Benchmark harness. Methodology (deliberate, see SCALE.md §7):
  *
  *  - queries run in FIXED sorted-name order, so run-to-run and
  *    round-to-round comparisons are apples-to-apples and any
  *    session-cumulative effect (cache pressure, JIT) hits the same
  *    queries in the same sequence;
  *  - every output column is MATERIALIZED by summing xxhash64 over the
  *    full row — a bare count() lets Catalyst prune the very columns a
  *    per-row-derivation query exists to compute, benching it near zero;
  *  - TWO timed passes run back-to-back in the one JVM and both totals
  *    are reported: pass2 >> pass1 is the signature of session
  *    degradation (leaked caches, heap pressure), pass1 >> pass2 of
  *    cold-start noise. The headline `value` is the warm pass2 total;
  *  - a pass2 slot that exceeds 2.5× its own pass1 (by > 1 s), OR
  *    exceeds it by more than 2 s outright (the absolute arm —
  *    VERDICT r19 item 5), is re-measured once and the best of
  *    (pass2, re-measure) reported, with all three timings flagged
  *    under "anomalies" — a transient machine event can contaminate
  *    one measurement but never the round record unchallenged
  *    (VERDICT r17 item 1).
  */
object Bench {

  /** Materialize EVERY column: bit_xor(xxhash64(c1, ..., cn)) defeats
    * column pruning and forces per-row evaluation of the whole output
    * schema. bit_xor, not sum — summing uniform 64-bit hashes overflows
    * long, which ANSI mode (Spark 4 default) turns into a runtime error.
    * (Map columns aren't hashable — stringify those; none exist today.)
    */
  def materialize(df: DataFrame): Unit = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType.isInstanceOf[MapType]) col(f.name).cast("string")
      else col(f.name)
    }
    df.select(bit_xor(xxhash64(cols.toSeq: _*))).collect()
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()
    val names = SparkEntry.queries.keys.toSeq.sorted
    def force(name: String): Unit =
      materialize(SparkEntry.queries(name)(spark, sfDir))
    // One untimed run absorbs JVM/codegen/scan warm-up so the first timed
    // query isn't charged for it.
    try force("q1_agg") catch { case _: Throwable => () }
    // Between query FAMILIES (name prefix up to the first underscore's
    // letter group: a*, c*, d*, ...), drop leaked state OUTSIDE any
    // query's timer: clear the cache manager (a stray .cache() must not
    // tax the next family) and give the ContextCleaner a GC to reap
    // unreachable shuffles/broadcasts — the r14 artifact's pass2
    // inflation signature (VERDICT item 6).
    def familyOf(name: String): String = name.takeWhile(_.isLetter)
    def familyHygiene(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      System.gc()
    }
    // A failed query must be VISIBLE: its slot reports -1, never a
    // plausible-looking elapsed time.
    def timedPass(): Seq[(String, Double)] = {
      var family = ""
      names.map { name =>
        if (familyOf(name) != family) {
          family = familyOf(name)
          familyHygiene()
        }
        val t0 = System.nanoTime()
        val ok = try { force(name); true } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    }
    // Host-interference sample (VERDICT r18 item 7): the r18 local band
    // elevation was arbitrated by narrative ("visible CPU steal"); the
    // artifact now carries the machine's own word. /proc/stat's
    // aggregate cpu line, field 8 = steal jiffies — sampled before
    // pass1 and after the anomaly re-measures, reported as the
    // steal share of all jiffies elapsed across the run.
    def cpuJiffies(): Option[(Long, Long)] =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val parts =
          try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
          finally src.close()
        // denominator: fields 1..8 only (user nice system idle iowait
        // irq softirq steal) — guest/guest_nice (9, 10) are already
        // folded into user/nice by the kernel, so summing them would
        // double-count guest time and deflate steal_pct (ADVICE r19)
        Some((if (parts.length > 7) parts(7) else 0L, parts.take(8).sum))
      } catch { case _: Throwable => None }
    val jiffies0 = cpuJiffies()
    val pass1 = timedPass()
    val pass2raw = timedPass()
    // Outlier containment (VERDICT r17 item 1: BENCH_r17's official
    // pass2 carried a transient machine event — 12 alphabetically-
    // contiguous queries spiked 3–8× in pass2 only, while pass1 of the
    // SAME run and three independent local runs were in-band). A warm
    // pass2 slot that exceeds 2.5× its own pass1 by more than a second
    // is re-measured once; the reported slot is the best of (pass2,
    // re-measure) and all three values land in the artifact under
    // "anomalies", so a transient can never again sit unchallenged in
    // the round record. The 1 s absolute floor keeps sub-second timer
    // noise from triggering re-runs. A SECOND, absolute-delta arm
    // (pass2 − pass1 > 2 s at any ratio) catches transients on slots
    // too slow for 2.5× — r19's c25_heaps_fit sat at 1.83× its pass1
    // while being the round's largest absolute mover, +2.9 s (VERDICT
    // r19 item 5). Deliberately NO relative floor on this arm: for
    // every slot in the current suite (slowest pass1 ~7 s) a +2 s
    // move already implies ≥ 1.28×, so a floor is a no-op today, and
    // on a future slow slot it would disable exactly the
    // largest-absolute-mover coverage this arm exists for. The known
    // trade (round-20 self-review): each fired slot reports
    // min(pass2, remeasure) — a low-biased statistic vs the
    // single-sample slots of earlier rounds — which is why all three
    // timings land in the artifact's "anomalies" for the reader to
    // re-judge, and a re-measure costs one extra query run.
    val p1Map = pass1.toMap
    val anomalies: Seq[(String, (Double, Double, Double))] =
      pass2raw.flatMap { case (name, t2q) =>
        val t1q = p1Map.getOrElse(name, -1.0)
        if (t1q >= 0 && t2q >= 0 &&
          ((t2q > t1q * 2.5 && t2q - t1q > 1.0) || t2q - t1q > 2.0)) {
          // hygiene runs before EVERY re-measure (a mid-family pass2
          // slot only got it at its family boundary, so a re-measure is
          // marginally cleaner than the slot it re-checks) — recorded
          // honestly via the artifact's remeasure_hygiene note rather
          // than pretended away (ADVICE r18: the old comment claimed
          // in-pass conditions and carried a dead family var)
          familyHygiene()
          val t0 = System.nanoTime()
          val ok = try { force(name); true } catch { case _: Throwable => false }
          val t3q = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
          Some(name -> ((t1q, t2q, t3q)))
        } else None
      }
    val anomalyMap = anomalies.toMap
    val pass2 = pass2raw.map { case (name, t2q) =>
      anomalyMap.get(name) match {
        case Some((_, _, t3q)) if t3q >= 0 => name -> math.min(t2q, t3q)
        case _ => name -> t2q
      }
    }
    def fmt(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val anomaliesJson = anomalies.map { case (n, (a, b, c)) =>
      s""""$n":{"pass1":$a,"pass2":$b,"remeasure":$c}"""
    }.mkString("{", ",", "}")
    // -1 = /proc/stat unavailable (non-Linux or unreadable)
    val stealPct: Double = (jiffies0, cpuJiffies()) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        math.round((s1 - s0).toDouble / (t1 - t0) * 1e4) / 1e2
      case _ => -1.0
    }
    val envJson =
      s"""{"steal_pct":$stealPct,"remeasure_hygiene":"pre"}"""
    // Totals sum only SUCCESSFUL slots — a failed query's -1 sentinel must
    // not make the bench look faster; failures are counted separately.
    val t1 = pass1.map(_._2).filter(_ >= 0).sum
    val t2 = pass2.map(_._2).filter(_ >= 0).sum
    val f1 = pass1.count(_._2 < 0)
    val f2 = pass2.count(_._2 < 0)
    // stdout contract (VERDICT r21 item 2 — parsed:null in every round's
    // BENCH snapshot): the LAST line of stdout is the ONE contract JSON
    // line, `{"metric",...,"queries":{<query>:sec,...},"sf":...}` with a
    // real per-QUERY map (the driver's per_query/scaling comparisons key
    // on query names). Field order puts the big maps FIRST and the
    // scalars (totals, failures, env) LAST so the driver's ~2000-char
    // tail archive still ends with the human-readable summary even
    // though the full line is ~16 KB. A compact per-family line prints
    // BEFORE it for console readability; build.sbt strips sbt's
    // "[info] " prefix from forked run output and suppresses the
    // "[success] Total time" trailer so nothing follows the contract
    // line. Both prints happen after artifact persistence and BEFORE
    // spark.stop(): a hang in stop must not lose the contract line, and
    // stop itself runs bounded, logging only to stderr.
    val json = s"""{"metric":"total","queries":${fmt(pass2)},"pass1":${fmt(pass1)},"anomalies":$anomaliesJson,"value":$t2,"unit":"sec","sf":"$sfDir","n_queries":${names.size},"pass1_total":$t1,"pass2_total":$t2,"failed_pass1":$f1,"failed_pass2":$f2,"n_anomalies":${anomalies.size},"env":$envJson}"""
    val famTotals = pass2.groupBy { case (n, _) => familyOf(n) }.toSeq
      .sortBy(_._1)
      .map { case (fam, xs) =>
        val secs = xs.map(_._2).filter(_ >= 0).sum
        s""""$fam":${math.round(secs * 1000.0) / 1000.0}"""
      }.mkString("{", ",", "}")
    val famJson = s"""{"metric":"total","value":$t2,"unit":"sec","sf":"$sfDir","n_queries":${names.size},"pass1_total":$t1,"pass2_total":$t2,"failed_pass1":$f1,"failed_pass2":$f2,"n_anomalies":${anomalies.size},"env":$envJson,"families":$famTotals,"queries_detail":"bench/BENCH_driver_latest.json"}"""
    // Persist the complete record to a stable path the driver/judge can
    // read back whole — twice: the rolling "latest" and a per-ROUND
    // final artifact (VERDICT r16 item 5: the driver's BENCH_r{N}.json
    // snapshot is a 2000-char stdout tail that can never hold the
    // per-query map, so the self-contained round record is written from
    // THIS side). The round number is inferred as max(existing
    // BENCH_r*.json in the REPO ROOT) + 1 — the driver writes round N's
    // snapshot before round N+1 builds. The root is resolved explicitly
    // (sysprop/env override, else walk up from cwd to the nearest
    // build.sbt) rather than assumed to be the cwd: a bench launched
    // from elsewhere must not silently infer round 1 and overwrite
    // bench/BENCH_r1_final.json (ADVICE r17).
    try {
      import java.nio.file.{Files, Path, Paths}
      def isRoot(p: Path): Boolean = Files.exists(p.resolve("build.sbt"))
      val repoRoot: Option[Path] =
        sys.props.get("graft.bench.repoRoot")
          .orElse(sys.env.get("SPARK_GRAFT_REPO_ROOT"))
          .map(Paths.get(_)).filter(isRoot)
          .orElse {
            Iterator.iterate(Paths.get(".").toAbsolutePath.normalize)(
              _.getParent).takeWhile(_ != null).take(6).find(isRoot)
          }
      val benchDir = repoRoot.fold(Paths.get("bench"))(_.resolve("bench"))
      val full = json + "\n"
      Files.createDirectories(benchDir)
      Files.write(benchDir.resolve("BENCH_driver_latest.json"),
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      repoRoot match {
        case None =>
          // no identifiable repo root: the rolling latest is still
          // written next to the cwd, but a round-final artifact with a
          // guessed round number would be worse than none
          System.err.println("[bench] no build.sbt found above cwd — " +
            "skipping the per-round final artifact (set " +
            "-Dgraft.bench.repoRoot or SPARK_GRAFT_REPO_ROOT)")
        case Some(root) =>
          val rPat = java.util.regex.Pattern.compile("BENCH_r(\\d+)\\.json")
          // Files.list leaks a directory handle unless closed (ADVICE r17)
          val listing = Files.list(root)
          val prior =
            try listing.iterator().asScala.flatMap { p =>
              val m = rPat.matcher(p.getFileName.toString)
              if (m.matches()) Some(m.group(1).toInt) else None
            }.foldLeft(0)(math.max)
            finally listing.close()
          val round = prior + 1
          val roundJson = s"""{"round":$round,""" + full.stripPrefix("{")
          Files.write(benchDir.resolve(s"BENCH_r${round}_final.json"),
            roundJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not persist JSON: ${e.getMessage}")
    }
    // the two stdout lines — compact per-family summary for the
    // console, then the full contract line as the final line
    println(famJson)
    println(json)
    System.out.flush()
    val stopper = new Thread(() =>
      try spark.stop()
      catch { case e: Throwable =>
        System.err.println(s"[bench] spark.stop failed: ${e.getMessage}")
      })
    stopper.setDaemon(true)
    stopper.start()
    stopper.join(20000L)
    if (stopper.isAlive) {
      // a hung stop would keep the JVM alive on Spark's own threads
      System.err.println("[bench] spark.stop did not finish in 20 s; halting")
      Runtime.getRuntime.halt(0)
    }
  }
}
