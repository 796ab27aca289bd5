package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10,
    trace: Boolean = false,
    work: String = "") {
  /** local[nproc] */
  val cpus: Int = Runtime.getRuntime.availableProcessors()
}

object Opts {
  def parse(args: Array[String]): Opts = {
    def go(o: Opts, rest: List[String]): Opts = rest match {
      case "--workload" :: v :: t => go(o.copy(workload = v), t)
      case "--seed" :: v :: t => go(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(o.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(o.copy(trace = v == "1"), t)
      case "--work" :: v :: t => go(o.copy(work = v), t)
      case Nil => o
      case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
    }
    val o = go(Opts(), args.toList)
    require(o.work.nonEmpty, "--work <dir> is required")
    o
  }
}

/** Everything a workload pass needs: the session, its options, a tracer
  * (disabled on untraced passes) and a private scratch root.
  */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer,
    root: String) {
  private var n = 0
  /** A fresh, empty directory under this pass's root. */
  def freshDir(name: String): String = {
    n += 1
    val d = new File(root, s"$name-$n")
    Files.delete(d)
    d.mkdirs()
    d.getPath
  }
}

/** One workload pass: set up fresh state (repeatable), then timed steps. */
trait Workload {
  /** Generate the inputs and build/seed all cold state into fresh dirs. */
  def setup(): Unit
  /** Set-ups per measured run; set-up time takes their median. */
  def setupReps: Int = 3
  /** One timed operation (a job, a query batch, an arrival batch). */
  def step(): Unit
  /** One untimed step before timing starts (JIT, codegen and first-use
    * caches warm up here); its samples are dropped from the metrics.
    */
  def warmup(): Unit
  /** Output checks after the timed steps; throw [[CheckFailed]]. */
  def check(): Unit
  /** A digest of the pass's final output, compared across passes. */
  def outputDigest: String
  /** End-to-end metrics; `setupS` is the run's set-up time. */
  def metrics(setupS: Double): Seq[(String, Metric)]
  /** Operations attempted and failed in the timed part. */
  def attempted: Long
}

object Main {
  val workloads: Map[String, Ctx => Workload] = Map(
    "curate_batch" -> (c => new CurateBatch(c)),
    "retrieve_serve" -> (c => new RetrieveServe(c)),
    "ingest_stream" -> (c => new IngestStream(c)))

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.debug.maxToStringFields", "4096")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run `step` until `seconds` have passed (closed loop, one client). */
  def loop(seconds: Double)(step: () => Unit): Int = {
    val t0 = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val t1 = System.nanoTime()
      step()
      n += 1
      System.err.println(f"[perfbench] step $n: ${(System.nanoTime() - t1) / 1e6}%.1f ms")
    }
    n
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val make = workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(
        s"unknown workload '${o.workload}' (have ${workloads.keys.toSeq.sorted.mkString(", ")})"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val code =
      try if (o.trace) traced(spark, o, make) else untraced(spark, o, make, sessionS)
      finally spark.stop()
    sys.exit(code)
  }

  private def report(correct: Boolean, attempted: Long, failed: Long,
      ms: Seq[(String, Metric)]): Int = {
    println(Json.result(correct, attempted, failed, ms))
    if (correct) 0 else 1
  }

  /** The measured run: set up `w.setupReps` times, warm up, then timed
    * steps for `seconds`. Set-up time is session start plus the median
    * set-up plus the warm-up step: everything before the first timed step.
    */
  def untraced(spark: SparkSession, o: Opts, make: Ctx => Workload,
      sessionS: Double): Int = {
    val w = make(new Ctx(spark, o, new Tracer(spark, false), new File(o.work, "pass").getPath))
    val setups = (1 to w.setupReps).map { i =>
      val t0 = System.nanoTime()
      w.setup()
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up $i: $s%.2f s")
      s
    }
    val t0 = System.nanoTime()
    w.warmup()
    System.err.println(f"[perfbench] warm-up: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val setupS = sessionS + Stats.median(setups) + (System.nanoTime() - t0) / 1e9
    loop(o.seconds)(() => w.step())
    val t1 = System.nanoTime()
    val correct =
      try { w.check(); true }
      catch { case e: CheckFailed => System.err.println(s"CHECK FAILED: ${e.getMessage}"); false }
    val ms = w.metrics(setupS)
    System.err.println(f"[perfbench] checks and metrics: ${(System.nanoTime() - t1) / 1e9}%.2f s")
    report(correct, w.attempted, 0, ms)
  }

  /** The traced run: an untraced pass for half the time, then a traced
    * pass over the same inputs for the same number of steps. Both passes'
    * outputs must agree; the per-layer metrics come from the traced pass
    * and the tracing overhead is the ratio of their step times.
    */
  def traced(spark: SparkSession, o: Opts, make: Ctx => Workload): Int = {
    def pass(name: String, tracer: Tracer) =
      make(new Ctx(spark, o, tracer, new File(o.work, name).getPath))
    val plain = pass("plain", new Tracer(spark, false))
    plain.setup()
    plain.warmup()
    val t0 = System.nanoTime()
    val n = loop(o.seconds / 2)(() => plain.step())
    val plainS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, true)
    val tr = pass("traced", tracer)
    tr.setup()
    tracer.suspended(tr.warmup())
    val t1 = System.nanoTime()
    (1 to n).foreach(_ => tr.step())
    val tracedS = (System.nanoTime() - t1) / 1e9
    val correct =
      try {
        plain.check(); tr.check()
        Checks.allEqual("traced vs untraced output", Seq(plain.outputDigest, tr.outputDigest))
        true
      } catch { case e: CheckFailed =>
        System.err.println(s"CHECK FAILED: ${e.getMessage}"); false
      }
    // end-to-end figures of both passes (the traced pass's post-loop
    // calls, e.g. query batches, still land in spans), then the spans
    def e2e(w: Workload) = w.metrics(0).map { case (k, m) => s"${Json.str(k)}: ${Json.num(m.value)}" }
      .mkString("{", ", ", "}")
    val (plainM, trM) = (e2e(plain), e2e(tr))
    val sum = tracer.summary()
    val selfMs = sum.spans.map { case (k, m) => s"${Json.str(k)}: ${Json.num(m("self_ms"))}" }
    val parents = sum.parents.map { case (k, p) => s"${Json.str(k)}: ${Json.str(p)}" }
    println(s"""{"workload": ${Json.str(o.workload)}, "trace_overhead": ${Json.num(tracedS / plainS)}, """ +
      s""""steps": $n, "untraced_s": ${Json.num(plainS)}, "traced_s": ${Json.num(tracedS)}, """ +
      s""""self_ms": ${selfMs.mkString("{", ", ", "}")}, "parents": ${parents.mkString("{", ", ", "}")}, """ +
      s""""untraced": $plainM, "traced": $trM}""")
    val ms = Tracer.spans.flatMap { s =>
      Tracer.measures.map(m =>
        s"$s.$m" -> Metric(sum.spans.get(s).map(_(m)).getOrElse(0.0), Tracer.units(m)))
    } ++ Tracer.counters.map { case (c, u) =>
      // per timed step; the untraced warm-up step took any first-use misses
      c -> Metric(sum.counters.getOrElse(c, 0L).toDouble / n, u)
    }
    report(correct, plain.attempted + tr.attempted, 0, ms)
  }
}
