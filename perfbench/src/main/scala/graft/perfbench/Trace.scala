package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in per-layer tracer. A span wraps one call into a layer's
  * public function; the benchmark opens it, never the library.
  *
  *  - Jobs reach a span through a Spark job group the tracer sets on the
  *    driver thread for the span's duration (the innermost open span owns
  *    the group); a [[SparkListener]] sums their tasks' executor CPU,
  *    shuffle-write and spill bytes.
  *  - Planning (analysis + optimization + planning) and execution times
  *    come from a [[QueryExecutionListener]]; each phase is attributed to
  *    the innermost span open when it started (the driver is one thread,
  *    so intervals identify the caller).
  *  - Counters recorded by the workload (cache entries listed before and
  *    after a call) are kept per span call as well.
  *
  * Spans and counters stay in memory and are summarised once, at the end
  * of the run. When disabled every method is a pass-through.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {

  final class Call(val id: Int, val name: String, val parent: Option[Int],
      val startMs: Long) {
    var endMs: Long = -1
    var buildMs: Double = 0
    var wallMs: Double = 0
    val jobs = new AtomicLong
    val cpuNs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val counters = scala.collection.mutable.Map[String, Long]()
  }

  private val calls = ArrayBuffer[Call]()
  private var stack: List[Call] = Nil
  private var paused = false
  private def active: Boolean = enabled && !paused

  /** Run `body` without recording spans or counters. */
  def suspended[R](body: => R): R = {
    paused = true
    try body finally paused = false
  }
  private val byId = new ConcurrentHashMap[Int, Call]()
  private val stageOwner = new ConcurrentHashMap[Int, Call]()
  // (phase start ms, duration ms, is execution) per finished query
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Boolean)]()

  private val group = "perfbench-span-"

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith(group)).map(_.stripPrefix(group).toInt)
        .flatMap(id => Option(byId.get(id))).foreach { c =>
          c.jobs.incrementAndGet()
          e.stageIds.foreach(s => stageOwner.put(s, c))
        }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).foreach { c =>
        val m = e.taskMetrics
        if (m != null) {
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      var planEnd = 0L
      ph.values.foreach { p =>
        phases.add((p.startTimeMs, p.durationMs.toDouble, false))
        planEnd = math.max(planEnd, p.endTimeMs)
      }
      if (planEnd > 0) phases.add((planEnd, durationNs / 1e6, true))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
  }

  /** One call into a layer: `build` constructs the layer's DataFrame
    * (eager jobs inside it count as build time), `run` consumes it.
    */
  def layer[R](name: String)(build: => DataFrame)(run: DataFrame => R): R =
    if (!active) run(build)
    else span(name) { c =>
      val t0 = System.nanoTime()
      val df = build
      c.buildMs = (System.nanoTime() - t0) / 1e6
      run(df)
    }

  /** A span with no separate build step (its whole body is build). */
  def call[R](name: String)(body: => R): R =
    if (!active) body
    else span(name) { c =>
      val t0 = System.nanoTime()
      val r = body
      c.buildMs = (System.nanoTime() - t0) / 1e6
      r
    }

  private def span[R](name: String)(body: Call => R): R = {
    val sc = spark.sparkContext
    val c = new Call(calls.size, name, stack.headOption.map(_.id), System.currentTimeMillis())
    calls += c
    byId.put(c.id, c)
    stack = c :: stack
    sc.setJobGroup(s"$group${c.id}", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body(c)
    finally {
      c.wallMs = (System.nanoTime() - t0) / 1e6
      c.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"$group${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Add to a counter of the innermost open span. */
  def count(counter: String, value: Long): Unit =
    if (active) stack.headOption.foreach(c =>
      c.counters(counter) = c.counters.getOrElse(counter, 0L) + value)

  /** Per span name: the median over its calls of each measure, with
    * children rolled into their parents (every measure is inclusive),
    * plus `self_ms`: the median of wall time minus the children's wall
    * time. Counters are summed over all calls. Also returns each span's
    * parent span name, as observed.
    */
  def summary(): Summary = {
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    def innermost(t: Long): Option[Call] =
      calls.filter(c => c.startMs <= t && t <= c.endMs).sortBy(-_.startMs).headOption
    val planMs = scala.collection.mutable.Map[Int, Double]().withDefaultValue(0.0)
    val execMs = scala.collection.mutable.Map[Int, Double]().withDefaultValue(0.0)
    phases.asScala.foreach { case (t, ms, isExec) =>
      innermost(t).foreach(c => if (isExec) execMs(c.id) += ms else planMs(c.id) += ms)
    }
    val children = calls.groupBy(_.parent)
    def kids(c: Call): Seq[Call] = children.getOrElse(Some(c.id), Nil).toSeq
    def subtree(c: Call): Seq[Call] = c +: kids(c).flatMap(subtree)
    val spans = calls.groupBy(_.name).map { case (name, cs) =>
      val per = cs.toSeq.map { c =>
        val t = subtree(c)
        Map(
          "wall_ms" -> c.wallMs,
          "build_ms" -> c.buildMs,
          "plan_ms" -> t.map(x => planMs(x.id)).sum,
          "exec_ms" -> t.map(x => execMs(x.id)).sum,
          "jobs" -> t.map(_.jobs.get.toDouble).sum,
          "cpu_ms" -> t.map(_.cpuNs.get / 1e6).sum,
          "shuffle_bytes" -> t.map(_.shuffleBytes.get.toDouble).sum,
          "spill_bytes" -> t.map(_.spillBytes.get.toDouble).sum,
          "self_ms" -> (c.wallMs - kids(c).map(_.wallMs).sum))
      }
      name -> per.head.keys.map(k => k -> Stats.median(per.map(_(k)))).toMap
    }
    val counters = calls.flatMap(_.counters.toSeq).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sum }
    val parents = calls.flatMap(c => c.parent.map(p => c.name -> byId.get(p).name)).toMap
    Summary(spans, counters, parents)
  }
}

/** Per span name, its measures; counters; each span's parent name. */
case class Summary(spans: Map[String, Map[String, Double]], counters: Map[String, Long],
    parents: Map[String, String])

object Tracer {
  /** The eight measures every span reports. */
  val measures: Seq[String] = Seq("wall_ms", "build_ms", "plan_ms", "exec_ms",
    "jobs", "cpu_ms", "shuffle_bytes", "spill_bytes")

  val units: Map[String, String] = Map("wall_ms" -> "ms", "build_ms" -> "ms",
    "plan_ms" -> "ms", "exec_ms" -> "ms", "jobs" -> "count", "cpu_ms" -> "ms",
    "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes")

  /** Every span of every workload, so each traced run reports the full
    * per-layer metric set (spans a workload never enters read 0).
    */
  val spans: Seq[String] = Seq(
    "llm.clean", "llm.dedup", "text.tokenize", "text.passages",
    "search.bm25.build", "search.ivfpq.build",
    "search.rrf", "search.bm25.query", "search.ivfpq.query",
    "llm.dedup_incremental", "predict.embed", "search.ivfpq.add",
    "streaming.commit")

  /** Counters and their units. */
  val counters: Seq[(String, String)] = Seq(
    "core.cache.hits" -> "count", "core.cache.misses" -> "count",
    "core.cache.bytes_written" -> "bytes",
    "streaming.commit.files_written" -> "count")
}
