package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** `curate_batch`: a one-shot curation job over a raw web-like corpus,
  * repeated cold (no cache dir) for the whole run.
  *
  * raw parquet → `IngestPreset.cleaner` → `MinHashLSHDedupPipe` +
  * `DedupOps.connectedComponents` (keep the min id per component) →
  * `TokenizerPipe` → `GeneratePassagesPipe` → passages parquet.
  */
final class CurateBatch(ctx: Ctx) extends Workload {
  import CurateBatch._
  private val spark = ctx.spark
  private val tr = ctx.tracer

  private var corpus: Gen.Corpus = _
  private var rawDir: String = _
  private val jobS = ArrayBuffer[Double]()
  private val outBytes = ArrayBuffer[Double]()
  private var lastOut: String = _
  private val digests = ArrayBuffer[String]()

  def setup(): Unit = {
    val v = Gen.vocab(ctx.opts.seed, VocabSize)
    corpus = Gen.corpus(ctx.opts.seed, Docs, v, maxRate = MaxRate)
    rawDir = ctx.freshDir("raw")
    import spark.implicits._
    corpus.ids.zip(corpus.texts).toSeq.toDF("doc_id", "text")
      .repartition(ctx.opts.cpus).write.mode(SaveMode.Overwrite).parquet(rawDir)
  }

  /** The curation job; every stage is one traced layer call. */
  private def job(out: String): Unit = {
    val raw = spark.read.parquet(rawDir)
    val clean = tr.layer("llm.clean")(
      graft.llm.IngestPreset.cleaner(raw).select("doc_id", "text"))(materialize)
    val kept = tr.layer("llm.dedup") {
      val pairs = graft.llm.MinHashLSHDedupPipe("text", "doc_id",
        jaccardThreshold = Threshold)(clean)
      val cc = graft.llm.DedupOps.connectedComponents(pairs)
      clean.join(cc.filter(col("id") =!= col("cluster")).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
    }(materialize)
    val toks = tr.layer("text.tokenize")(graft.text.TokenizerPipe("text")(kept))(materialize)
    tr.layer("text.passages")(
      graft.text.GeneratePassagesPipe(PassageSize, PassageStride,
        globalKeys = Seq("doc_id"))(toks)
        .select("doc_id", "passage_idx", "input_ids", "attention_mask", "text")) { p =>
      p.write.mode(SaveMode.Overwrite).parquet(out)
    }
  }

  /** Untraced, a stage is only a plan; traced, each stage's output is
    * materialized so its work lands inside its own span.
    */
  private def materialize(df: DataFrame): DataFrame =
    if (tr.enabled) df.localCheckpoint(true) else df

  def warmup(): Unit = { step(); jobS.clear() }

  def step(): Unit = {
    val out = ctx.freshDir("passages")
    val t0 = System.nanoTime()
    job(out)
    jobS += (System.nanoTime() - t0) / 1e9
    // every repetition's digest, taken as soon as its job ends; only the
    // newest output stays on disk
    outBytes += Files.bytes(out).toDouble
    digests += Digest.of(spark.read.parquet(out))
    Option(lastOut).foreach(d => Files.delete(new java.io.File(d)))
    lastOut = out
  }

  private lazy val keptIds: Set[Long] =
    spark.read.parquet(lastOut).select("doc_id").distinct().collect().map(_.getLong(0)).toSet

  def check(): Unit = {
    Checks.allEqual("passages digest", digests.toSeq)
    val family = corpus.nearPairs.groupBy(_._2).map { case (s, ps) => s -> ps.map(_._1) }
    Checks.exactGroupsCollapse(keptIds, corpus.exactGroups, s => family.getOrElse(s, Nil))
    val lowKept = corpus.lowQuality.filter(keptIds)
    Checks.ensure(lowKept.isEmpty, s"low-quality pages survived curation: ${lowKept.take(10).mkString(",")}")
  }

  def outputDigest: String = digests.lastOption.getOrElse("")
  def attempted: Long = jobS.size.toLong

  /** Planted near-copies caught: the copy and its source did not both
    * survive.
    */
  private def dupRecall: Double = {
    val caught = corpus.nearPairs.count { case (c, s, _) => !(keptIds(c) && keptIds(s)) }
    caught.toDouble / corpus.nearPairs.size
  }

  /** LSH recall against exact truth: of the planted near pairs whose
    * exact Jaccard clears the threshold, the share the job merged. Every
    * doc has fewer than ten such neighbours, so this is recall@10 of the
    * near-neighbour stage.
    */
  private def lshRecall: Double = NearTruth.recall(
    NearTruth.pairsAbove(spark.read.parquet(rawDir),
      corpus.nearPairs.map { case (c, s, _) => (c, s) }, Threshold),
    { case (a, b) => !(keptIds(a) && keptIds(b)) })

  def metrics(setupS: Double): Seq[(String, Metric)] = {
    val p50 = Stats.median(jobS.toSeq)
    val out = Stats.median(outBytes.toSeq)
    Seq(
      "setup_s" -> Metric(setupS, "s"),
      "peak_rss_mb" -> Metric(Proc.peakRssMb(), "MB"),
      "docs_per_s" -> Metric(Docs / p50, "1/s"),
      "dup_recall" -> Metric(dupRecall, "ratio"),
      "recall_at_10" -> Metric(lshRecall, "ratio"),
      "query_batch_ms_p50" -> Metric(p50 * 1000, "ms"),
      "query_batch_ms_p90" -> Metric(Stats.quantile(jobS.toSeq, 0.9) * 1000, "ms"),
      "queries_per_s" -> Metric(jobS.size / jobS.sum, "1/s"),
      "state_bytes_per_doc" -> Metric(out / keptIds.size, "bytes"),
      "ingest_batch_ms_p50" -> Metric(p50 * 1000, "ms"),
      "write_bytes_per_input_byte" -> Metric(out / corpus.rawBytes, "ratio"))
  }
}

object CurateBatch {
  val Docs = 4000
  val VocabSize = 30000
  val Threshold = 0.5
  /** near-copy word rates span [0.01, MaxRate]: mostly above the
    * Jaccard threshold, which sits near rate 0.12 */
  val MaxRate = 0.13
  val PassageSize = 64
  val PassageStride = 48
}
