package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Profile driver gates on one shared session:
  *   runMain graft.tools.Profile <sfDir> <gate>[,<gate>...] [k=v;k=v]
  * For each gate it prints the formatted physical plan, the
  * build / plan / exec split (DataFrame construction incl. its eager
  * driver jobs, physical planning, noop-sink execution), every stage that
  * ran longer than 50 ms (wall, task run time, CPU, tasks) and the total.
  * The optional third argument sets extra Spark confs. Parallelism
  * follows SPARK_GRAFT_CPUS, as in [[graft.Bench]] and [[graft.Verify]].
  * Redirect stdout to keep the plans.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder0 = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.debug.maxToStringFields", "4096")
      .config("spark.ui.enabled", "false")
    val spark = args.lift(2).toSeq.flatMap(_.split(";").filter(_.contains("=")))
      .foldLeft(builder0) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
        val run = si.taskMetrics.executorRunTime / 1e3
        val cpu = si.taskMetrics.executorCpuTime / 1e9
        if (wall > 0.05 || run > 0.05)
          println(f"[stage ${si.stageId}%3d] wall=$wall%6.2f run=$run%7.2f cpu=$cpu%7.2f " +
            f"tasks=${si.numTasks}%3d  ${si.name.takeWhile(_ != '\n').take(90)}")
      }
    })
    val queries = graft.SparkEntry.queries
    names.split(',').foreach { name =>
      val t0 = System.nanoTime()
      val df = queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      val t3 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t4 = System.nanoTime()
      def s(a: Long, b: Long) = (b - a) / 1e9
      println(f"[profile] $name build=${s(t0, t1)}%.2f plan=${s(t1, t2)}%.2f " +
        f"exec=${s(t3, t4)}%.2f total=${s(t0, t2) + s(t3, t4)}%.2f s")
    }
    spark.stop()
  }
}
