package graft.perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Files {
  def bytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)

  def bytes(path: String): Long = bytes(new File(path))

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Every directory under `root` holding a `_SUCCESS` marker, with the
    * directory's modification time: the committed parquet outputs
    * (cache entries, table versions) of a cache or table dir.
    */
  def committed(root: String): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (!f.isDirectory) Nil
      else {
        val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
        val here =
          if (kids.exists(_.getName == "_SUCCESS")) Seq(f.getPath -> f.lastModified())
          else Nil
        here ++ kids.filter(_.isDirectory).flatMap(walk)
      }
    walk(new File(root)).toMap
  }

  /** Data files (non-hidden regular files) under `root`. */
  def dataFiles(root: String): Set[String] = {
    def walk(f: File): Seq[String] =
      if (f.isFile) {
        if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil else Seq(f.getPath)
      } else Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
    walk(new File(root)).toSet
  }
}

object Proc {
  /** The process's high-water resident set size, in MiB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Digest {
  /** Order-independent digest of a frame: its row count and the sums of
    * the two 32-bit halves of each row's xxhash64 over every column.
    */
  def of(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .collect()(0)
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"${r.getLong(0)}:${java.lang.Long.toHexString(lo)}:${java.lang.Long.toHexString(hi)}"
  }
}

/** The last line of a run: `correct`, `attempted`, `failed`, `metrics`. */
case class Metric(value: Double, unit: String)

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def metrics(ms: Seq[(String, Metric)]): String =
    ms.map { case (k, m) =>
      s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}"
    }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Long, failed: Long,
      ms: Seq[(String, Metric)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metrics(ms)}}"""
}

/** Ground truth for the near-duplicate detectors, from the library's own
  * shingling so "truth" and detector agree on what a shingle is.
  */
object NearTruth {
  /** The planted (copy, source) pairs whose exact word-3-shingle Jaccard
    * over cleaned text is at least `threshold`. `texts` holds every doc
    * of the pairs as (doc_id, text).
    */
  def pairsAbove(texts: DataFrame, pairs: Seq[(Long, Long)],
      threshold: Double): Seq[(Long, Long)] = {
    val spark = texts.sparkSession
    import spark.implicits._
    val ids = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    val sh = graft.llm.IngestPreset.cleaner(
        texts.select("doc_id", "text").filter(col("doc_id").isin(ids: _*)))
      .select(col("doc_id"), graft.llm.DedupOps.shingleHashes(col("text"), 3).as("sh"))
    graft.llm.DedupOps.withJaccard(
      pairs.toDF("a", "b")
        .join(sh.select(col("doc_id").as("a"), col("sh").as("sh_a")), "a")
        .join(sh.select(col("doc_id").as("b"), col("sh").as("sh_b")), "b"),
      "sh_a", "sh_b")
      .filter(col("jaccard") >= threshold).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  /** Share of `truth` pairs the detector merged (`caught`); 1 when empty. */
  def recall(truth: Seq[(Long, Long)], caught: ((Long, Long)) => Boolean): Double =
    if (truth.isEmpty) 1.0 else truth.count(caught).toDouble / truth.size
}
