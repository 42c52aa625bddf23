package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: name, wall interval, the span that
  * caused it, and the JVM's GC time at both ends.
  */
final class Span(val id: Int, val parent: Int, val name: String,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = 0L
  var gcStartMs: Long = 0L
  var gcEndMs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine work attributed to one span: jobs carry the span id in the
  * `perfbench.span` local property, stages inherit their job's span, and
  * a query's Catalyst planning time goes to the innermost span whose
  * interval holds the end of its planning phase.
  */
final class Engine {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var scan = 0L
  val jobIntervals = ArrayBuffer[(Long, Long)]()
}

/** In-memory span recorder. Spans and engine counters stay in memory
  * until [[toJson]] writes them once at the end of the run. Construct it
  * only for the traced run; its SparkListener and QueryExecutionListener
  * are on the session only between [[attach]] and [[detach]].
  */
final class Recorder(spark: SparkSession) {
  val SpanProp = "perfbench.span"
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val engines = new ConcurrentHashMap[Int, Engine]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  // planning intervals of finished queries, attributed at report time
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def engine(span: Int): Engine =
    engines.computeIfAbsent(span, _ => new Engine)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      jobSpan.put(e.jobId, span)
      jobStartMs.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      engine(span).synchronized { engine(span).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val span = Option(jobSpan.remove(e.jobId)).getOrElse(-1)
      val start = Option(jobStartMs.remove(e.jobId)).getOrElse(e.time)
      val en = engine(span)
      en.synchronized { en.jobIntervals += ((start, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val span = Option(stageSpan.get(info.stageId)).getOrElse(-1)
      val en = engine(span)
      en.synchronized {
        en.stages += 1
        en.tasks += info.numTasks
        val m = info.taskMetrics
        if (m != null) {
          en.runMs += m.executorRunTime
          en.cpuNs += m.executorCpuTime
          en.gcMs += m.jvmGCTime
          en.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          en.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          en.spill += m.diskBytesSpilled
          en.scan += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
      val at = ph.get("planning").orElse(ph.get("analysis"))
        .map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      plans.add((at, ms))
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    attached = true
  }

  /** Removes the listeners once every event already posted is counted. */
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    attached = false
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Runs `body` inside a span named `name`; jobs it launches from this
    * thread (and the broadcast/subquery threads Spark hands the local
    * properties to) are tagged with the span's id.
    */
  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.size, parent, name, System.nanoTime(),
      System.currentTimeMillis())
    s.gcStartMs = gcMs()
    spans += s
    stack = s :: stack
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.gcEndMs = gcMs()
      sc.setLocalProperty(SpanProp, saved)
      stack = stack.tail
    }
  }

  def drain(): Unit = ListenerBusDrain.drain(spark.sparkContext)

  private def descendants(root: Span): Set[Int] = {
    val ids = mutable.Set(root.id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids.toSet
  }

  /** Self time: the span's wall time minus what its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Engine metrics of a span and everything under it. */
  def engineMetrics(root: Span): Map[String, Double] = {
    drain()
    val ids = descendants(root)
    val parts = ids.toSeq.flatMap(i => Option(engines.get(i)))
    val intervals = parts.flatMap(_.jobIntervals).sortBy(_._1)
    // union of the job intervals: the time at least one job was running
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a
        curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    val planMs = plans.asScala.collect {
      case (at, ms) if innermost(at).exists(ids.contains) => ms
    }.sum
    val wallMs = root.endMs - root.startMs
    Map(
      "spark.plan_s" -> planMs / 1e3,
      "spark.jobs" -> parts.map(_.jobs).sum.toDouble,
      "spark.stages" -> parts.map(_.stages).sum.toDouble,
      "spark.tasks" -> parts.map(_.tasks).sum.toDouble,
      "spark.task_run_s" -> parts.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> parts.map(_.cpuNs).sum / 1e9,
      "spark.driver_gap_s" -> math.max(0L, wallMs - covered) / 1e3,
      "spark.shuffle_write_bytes" -> parts.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> parts.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> parts.map(_.spill).sum.toDouble,
      "spark.scan_bytes" -> parts.map(_.scan).sum.toDouble,
      "spark.gc_task_ms" -> parts.map(_.gcMs).sum.toDouble,
      "spark.gc_jvm_ms" -> (root.gcEndMs - root.gcStartMs).toDouble)
  }

  private def innermost(atMs: Long): Option[Int] =
    spans.filter(s => s.startMs <= atMs && atMs <= s.endMs)
      .sortBy(s => -s.startNs).headOption.map(_.id)

  def toJson: String = Json.arr(spans.toSeq.map(s => Json.obj(Seq(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ms" -> s.startMs, "seconds" -> s.seconds,
    "self_seconds" -> selfSeconds(s)))))
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => arr(xs.map(value))
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
