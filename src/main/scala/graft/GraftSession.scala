package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured. Two shapes, no
  * per-setting knobs, so the session a harness measures is the product's
  * session plus a documented, fixed set of long-run settings:
  *
  *  - [[product]]: what `PipelineCli` runs in production;
  *  - [[harness]]: `product` plus the settings a long single-JVM run over
  *    the whole query suite needs (Bench, Verify, ProfileQuery, PlanSnap
  *    and the test suite's shared session).
  */
object GraftSession {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, default 4. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The production session: local[`cpus`], one shuffle partition per
    * core, UTC, no UI, graft's Catalyst extensions.
    */
  def product(cpus: Int = envCpus): SparkSession =
    create(productBuilder(cpus))

  /** [[product]] plus the long-run harness settings. */
  def harness(cpus: Int = envCpus): SparkSession =
    create(productBuilder(cpus)
      // the events table stores TIMESTAMP(NANOS); `Tables` reads it as a
      // long and normalizes
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // VERDICT r14 item 6: the 274×2-query single-JVM run inflated
      // 1.5–10× over fresh-session cost. The dominant leak is the LIVE
      // status stores, which run even with the UI off: defaults retain
      // 100k task records, 1k stages/jobs, and 1000 SQL executions —
      // each SQL record holding the full plan-graph string — so ~550
      // executions × thousands of tasks accumulate hundreds of MB of
      // old-gen and listener-bus churn by pass2. Benchmarks don't read
      // the UI; keep only a screenful.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.appStateStore.asyncTracking.enable", "true")
      // r21 write-path hygiene (guide §9-adjacent, scale-independent):
      // commit task output directly (algorithm 2 — one rename pass, not
      // two) and skip _SUCCESS markers nothing reads. Standard
      // production settings for FS sinks; measured on the persisted-
      // store queries (s6/s14/s24/d14), values identical either way.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      // r21: the default whole-stage-codegen class cache (100 entries)
      // thrashes under a 282-query suite — every pass-2 slot re-pays
      // Janino compilation for plans it already compiled in pass 1.
      // 5000 entries lets compiled classes survive the whole pass
      // (generated-class metadata is tens of KB each — bounded, and it
      // caches CODE, never data/results). The standard long-running-
      // session setting for any production endpoint serving many query
      // shapes; static conf, so it must be set at session creation.
      .config("spark.sql.codegen.cache.maxEntries", "5000"))

  private def productBuilder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  private def create(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
