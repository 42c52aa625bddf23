package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Optimization-round measurement helper (guide §1): run named queries
  * in Bench's session ([[GraftSession.harness]]) with the exact Bench
  * materialization ([[Bench.materialize]])
  * and report, per query, the per-Spark-job wall time with job
  * descriptions — the local stand-in for the UI's Jobs page, telling a
  * multi-action operator (k-means rounds, index write+read, persisted
  * round-trips) where its seconds actually go. Also reports the
  * dataframe-construction (planning-side) time and the gap between
  * summed job time and wall time (driver-side planning/IO between jobs).
  *
  * Usage: runMain graft.ProfileQuery <query> [query ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4).
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()

    @volatile var jobs = List.empty[(Int, String, Long, Long)] // id, desc, start, end
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("") +
          js.stageInfos.map(si => si.name.takeWhile(_ != '\n').take(60))
            .distinct.mkString(" | ")
        starts.put(js.jobId, (desc, js.time))
        ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (desc, t0) =>
          jobs synchronized { jobs = (je.jobId, desc, t0, je.time) :: jobs }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // same warm-up as Bench
    try Bench.materialize(SparkEntry.queries("q1_agg")(spark, sfDir))
    catch { case _: Throwable => () }

    val reps = sys.env.getOrElse("SPARK_GRAFT_PROF_REPS", "1").toInt
    args.foreach { name =>
      (1 to reps).foreach { rep =>
        jobs = Nil
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val tConstruct = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        Bench.materialize(df)
        val tAction = (System.nanoTime() - t1) / 1e9
        Thread.sleep(200) // let the listener bus drain job-end events
        val js = jobs.sortBy(_._1)
        val jobSum = js.map { case (_, _, s, e) => (e - s) / 1e3 }.sum
        println(f"===== $name rep$rep construct=$tConstruct%.3f s action=$tAction%.3f s " +
          f"wall=${tConstruct + tAction}%.3f s jobs=${js.size} jobSum=$jobSum%.3f s " +
          f"driverGap=${tConstruct + tAction - jobSum}%.3f s")
        if (rep == reps) js.foreach { case (id, desc, s, e) =>
          println(f"  job $id%4d ${(e - s) / 1e3}%8.3f s  $desc")
        }
      }
    }
    // Cumulative Catalyst rule timings across everything above — which
    // analyzer/optimizer rules the planning seconds go to (guide §7.3).
    println("===== catalyst rule time (top) =====")
    println(org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
      .linesIterator.take(40).mkString("\n"))
    spark.stop()
  }
}
