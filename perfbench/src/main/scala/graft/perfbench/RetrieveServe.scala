package graft.perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.search.{BM25Engine, BruteForceDenseEngine, IVFPQDenseEngine,
  RRFFusionPipe, RecallEval, SearchConfig}

/** `retrieve_serve`: a standing hybrid index answering query batches.
  *
  * Set-up: a raw corpus of docs (text + a Gaussian-mixture embedding) is
  * near-deduplicated (MinHash-LSH + connected components, min id kept),
  * then indexed under a fresh state dir by a `BM25Engine` and a
  * KMeans-trained residual `IVFPQDenseEngine` (nprobe < nlist).
  * Timed: a closed loop with one client; each step sends one fixed-size
  * query batch to `RRFFusionPipe(Seq(bm25, ivfpq))` and collects the ranked
  * ids. Half the queries are verbatim spans of a known doc.
  */
final class RetrieveServe(ctx: Ctx) extends Workload {
  import RetrieveServe._
  private val spark = ctx.spark
  private val tr = ctx.tracer

  private var corpus: Gen.Corpus = _
  private var rawBytes = 0L
  private var indexed: Set[Long] = Set.empty
  private var bm25: BM25Engine = _
  private var ivfpq: IVFPQDenseEngine = _
  private var stateDirs: Seq[String] = Nil
  private var batches: IndexedSeq[DataFrame] = _
  private var spanSource: Map[Long, Long] = Map.empty
  private val buildS = ArrayBuffer[Double]()

  private val latMs = ArrayBuffer[Double]()
  private var issued = 0
  private var loopS = 0.0
  private val results = ArrayBuffer[(Long, Seq[Long], Seq[Double])]()

  private def config(field: String = "index") = SearchConfig(k = K, indexField = field,
    fillMaskedIndices = false, queryIdCol = Some("qid"), mergePreviousResults = false)

  def setup(): Unit = {
    val seed = ctx.opts.seed
    val v = Gen.vocab(seed, VocabSize)
    corpus = Gen.corpus(seed, Docs, v, exactShare = 0.02, nearShare = 0.08, lowShare = 0.0)
    val mix = new Gen.Mixture(seed, Dim, Clusters, Spread)
    val r = new SplittableRandom(seed ^ 0x7e7e7eL)
    val vecs = Array.fill(Docs)(mix.sample(r))
    // copies carry their source's embedding, slightly moved
    corpus.nearPairs.foreach { case (c, s, _) => vecs(c.toInt) = mix.jitter(r, vecs(s.toInt), 0.05) }
    corpus.exactGroups.foreach(g => g.tail.foreach(c => vecs(c.toInt) = vecs(g.head.toInt)))
    rawBytes = corpus.rawBytes + Docs.toLong * Dim * 8
    val rawDir = ctx.freshDir("raw")
    val schema = StructType(Seq(StructField("idx", LongType), StructField("text", StringType),
      StructField("vector", ArrayType(DoubleType))))
    spark.createDataFrame(spark.sparkContext.parallelize(
      corpus.ids.indices.map(i => Row(corpus.ids(i), corpus.texts(i), vecs(i).toSeq)), ctx.opts.cpus),
      schema).write.mode(SaveMode.Overwrite).parquet(rawDir)

    // queries: verbatim spans of docs with no planted copy (so dedup
    // keeps them), and free-text queries with a mixture-sampled vector
    val copied = corpus.exactGroups.flatten.toSet ++
      corpus.nearPairs.flatMap { case (c, s, _) => Seq(c, s) }
    val plain = corpus.ids.filterNot(copied)
    val rows = (0 until Batches * BatchSize).map { q =>
      if (q % 2 == 0) {
        val d = plain(r.nextInt(plain.length))
        spanSource += (q.toLong -> d)
        Row(q.toLong, Row(Gen.span(r, corpus.texts(d.toInt), SpanWords),
          mix.jitter(r, vecs(d.toInt), 0.05).toSeq))
      } else
        Row(q.toLong, Row((0 until 6).map(_ => v.draw(r)).mkString(" "), mix.sample(r).toSeq))
    }
    val qSchema = StructType(Seq(StructField("qid", LongType), StructField("query",
      StructType(Seq(StructField("text", StringType), StructField("vector", ArrayType(DoubleType)))))))
    import scala.jdk.CollectionConverters._
    batches = rows.grouped(BatchSize).map { b =>
      spark.createDataFrame(b.asJava, qSchema)
        .select(col("qid"), col("query.text").as("query.text"), col("query.vector").as("query.vector"))
    }.toIndexedSeq

    val t0 = System.nanoTime()
    val raw = spark.read.parquet(rawDir)
    val pairs = graft.llm.MinHashLSHDedupPipe("text", "idx", jaccardThreshold = 0.5)(raw)
    val cc = graft.llm.DedupOps.connectedComponents(pairs)
    val docsDir = ctx.freshDir("docs")
    raw.join(cc.filter(col("id") =!= col("cluster")).select(col("id").as("idx")),
      Seq("idx"), "left_anti").write.mode(SaveMode.Overwrite).parquet(docsDir)
    val docs = spark.read.parquet(docsDir)
    val fp = s"perfbench-retrieve-$seed"
    val bmDir = ctx.freshDir("bm25-state")
    val ivDir = ctx.freshDir("ivfpq-state")
    bm25 = tr.call("search.bm25.build") {
      val e = BM25Engine(docs.select("idx", "text"), config(), stateDir = Some(bmDir),
        corpusFingerprint = fp)
      e.stats
      e
    }
    ivfpq = tr.call("search.ivfpq.build") {
      val e = IVFPQDenseEngine(docs.select("idx", "vector"), nlist = NList, nprobe = NProbe,
        m = M, codebookSize = CodebookSize, config = config(), residual = true,
        stateDir = Some(ivDir), corpusFingerprint = fp)
      e.taggedCodes
      e
    }
    buildS += (System.nanoTime() - t0) / 1e9
    stateDirs = Seq(bmDir, ivDir)
    indexed = docs.select("idx").collect().map(_.getLong(0)).toSet
  }

  private lazy val fused = RRFFusionPipe(Seq(bm25, ivfpq), config())

  private def ranked(df: DataFrame): Seq[(Long, Seq[Long], Seq[Double])] =
    df.select(col("qid"), col("`index.idx`"), col("`index.score`")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Double](2)))

  def warmup(): Unit = { step(); latMs.clear(); issued = 0; results.clear() }

  def step(): Unit = {
    val b = batches(issued % batches.size)
    val t0 = System.nanoTime()
    val out = tr.call("search.rrf") {
      if (tr.enabled) {
        tr.call("search.bm25.query")(ranked(bm25(b)))
        tr.call("search.ivfpq.query")(ranked(ivfpq(b)))
      }
      ranked(fused(b))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    latMs += ms
    loopS += ms / 1000
    issued += 1
    results ++= out
  }

  def check(): Unit = {
    results.foreach { case (q, ids, sc) => Checks.ranked(q, ids, sc, K, indexed) }
    Checks.ensure(results.size == issued * BatchSize,
      s"${results.size} answers for ${issued * BatchSize} queries")
    val seen = batches.take(math.min(issued, batches.size))
    val spanQs = seen.map(_.filter(col("qid") % 2 === 0)).reduce(_ union _)
    val top = ranked(bm25(spanQs)).map { case (q, ids, _) => q -> ids }.toMap
    Checks.spansFound(spanSource.filter { case (q, _) => top.contains(q) }, top)
    Checks.ensure(top.size == spanQs.count(), "span queries lost by BM25")
  }

  def outputDigest: String =
    graft.core.Fingerprint.hash(results.sortBy(_._1).map { case (q, ids, _) =>
      s"$q:${ids.mkString(",")}" }.mkString(";"))

  def attempted: Long = issued.toLong

  /** Mean IVF-PQ top-10 recall against brute force over every query issued. */
  private def recall: Double = {
    val seen = batches.take(math.min(issued, batches.size)).reduce(_ union _)
    val truth = BruteForceDenseEngine(ivfpq.corpus, config("truth"))
    val r = RecallEval.vs(ivfpq, truth, seen, "qid")
      .agg(sum("hits"), sum("truth_k")).collect()(0)
    r.getLong(0).toDouble / r.getLong(1)
  }

  def metrics(setupS: Double): Seq[(String, Metric)] = {
    val state = stateDirs.map(Files.bytes).sum.toDouble
    val build = Stats.median(buildS.toSeq)
    Seq(
      "setup_s" -> Metric(setupS, "s"),
      "peak_rss_mb" -> Metric(Proc.peakRssMb(), "MB"),
      "docs_per_s" -> Metric(Docs / build, "1/s"),
      "dup_recall" -> Metric(corpus.nearPairs.count { case (c, s, _) =>
        !(indexed(c) && indexed(s)) }.toDouble / corpus.nearPairs.size, "ratio"),
      "recall_at_10" -> Metric(recall, "ratio"),
      "query_batch_ms_p50" -> Metric(Stats.median(latMs.toSeq), "ms"),
      "query_batch_ms_p90" -> Metric(Stats.quantile(latMs.toSeq, 0.9), "ms"),
      "queries_per_s" -> Metric(issued * BatchSize / loopS, "1/s"),
      "state_bytes_per_doc" -> Metric(state / indexed.size, "bytes"),
      "ingest_batch_ms_p50" -> Metric(build * 1000, "ms"),
      "write_bytes_per_input_byte" -> Metric(state / rawBytes, "ratio"))
  }
}

object RetrieveServe {
  val Docs = 10000
  val VocabSize = 30000
  val Dim = 64
  val Clusters = 32
  val Spread = 0.35
  val NList = 32
  val NProbe = 8
  val M = 8
  val CodebookSize = 16
  val K = 10
  val BatchSize = 16
  val Batches = 40
  val SpanWords = 12
}
