package graft.perfbench

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.IngestPreset

/** `ingest_stream`: incremental ingest that writes.
  *
  * Set-up cold-seeds a standing corpus with `IngestPreset.seedCached`
  * under a fresh cache dir. Timed: fixed-size arrival batches through
  * `IngestPreset.run` with increasing `batchId` (clean → incremental
  * MinHash dedup against the corpus → cached embed → IVF-PQ `addVectors`
  * → partitioned upsert commit). After them, query batches go to the
  * index the last batch returned (read-your-writes). Arrivals include
  * exact and near copies of the standing corpus and of each other.
  *
  * The traced pass calls the same public pieces in the order
  * `IngestPreset.run` does, one span each; its final table must equal the
  * untraced pass's.
  */
final class IngestStream(ctx: Ctx) extends Workload {
  import IngestStream._
  private val spark = ctx.spark
  private val tr = ctx.tracer

  private var arrivals: IndexedSeq[Arrival] = _
  private var arrivalsDir: String = _
  private var rawDir: String = _
  private var cacheDir: String = _
  private var tableDir: String = _
  private var clean: DataFrame = _
  private var queryVecs: IndexedSeq[Seq[Double]] = _
  private val fp = s"perfbench-ingest-${ctx.opts.seed}"

  private var next = 0
  private var rows = 0L
  private val batchMs = ArrayBuffer[Double]()
  private var arrivedDocs = 0L
  private var writeRatio = 0.0
  private var stateBytes = 0L
  private var stateRows = 0L
  private var lastEngine: graft.search.IVFPQDenseEngine = _
  private val failures = ArrayBuffer[String]()

  /** Two, not three: a cold seed costs seconds, and ingest runs are the
    * benchmark's longest. */
  override def setupReps: Int = 2

  def setup(): Unit = {
    val seed = ctx.opts.seed
    val v = Gen.vocab(seed, VocabSize)
    val corpus = Gen.corpus(seed, CorpusDocs, v, exactShare = 0.02, nearShare = 0.05,
      lowShare = 0.10, sentences = Sentences)
    arrivals = IngestStream.arrivals(seed, corpus, v)
    rawDir = ctx.freshDir("corpus-raw")
    write(corpus.ids.zip(corpus.texts).toSeq, rawDir)
    arrivalsDir = ctx.freshDir("arrivals")
    import spark.implicits._
    arrivals.flatMap(a => a.ids.zip(a.texts).map { case (i, t) => (a.batch, i, t) })
      .toDF("batch", "doc_id", "text").write.mode(SaveMode.Overwrite).partitionBy("batch").parquet(arrivalsDir)
    cacheDir = ctx.freshDir("cache")
    val (table, cleaned) = IngestPreset.seedCached(spark.read.parquet(rawDir), cacheDir, fp, "perfbench")
    tableDir = table
    clean = cleaned
    // query vectors: embeddings of standing docs, read back from the table
    queryVecs = graft.streaming.PartitionedUpsert.latest(spark, tableDir).get
      .select("vector").orderBy("doc_id").limit(QueryBatch * 8)
      .collect().map(_.getSeq[Long](0).map(_ / 1e4)).toIndexedSeq
    next = 0
    rows = tableCount
  }

  private def batchInput(b: Int): DataFrame =
    spark.read.parquet(arrivalsDir).filter(col("batch") === b).drop("batch")

  private def write(rows: Seq[(Long, String)], dir: String): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text").coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
  }

  // seedCached keeps the table under the cache dir: cache figures
  // exclude the table's subtree
  private def cacheEntries: Map[String, Long] =
    Files.committed(cacheDir).filter { case (d, _) => !d.startsWith(tableDir) }
  private def cacheBytes: Long = Files.bytes(cacheDir) - Files.bytes(tableDir)

  private def tableCount: Long =
    graft.streaming.PartitionedUpsert.latest(spark, tableDir).map(_.count()).getOrElse(0L)

  private def manifest: String = {
    val f = new File(tableDir, "_LATEST")
    val src = scala.io.Source.fromFile(f)
    try src.mkString finally src.close()
  }

  private def ingest(b: Int): graft.search.IVFPQDenseEngine = {
    val newRaw = batchInput(b)
    val batchFp = s"$fp:b$b"
    if (!tr.enabled) {
      IngestPreset.run(newRaw, clean, tableDir, cacheDir, fp, batchFp, b.toLong).engine
    } else tracedIngest(newRaw, batchFp, b.toLong)
  }

  /** `IngestPreset.run`'s pieces, in its order, one span each. */
  private def tracedIngest(newRaw: DataFrame, batchFp: String,
      batchId: Long): graft.search.IVFPQDenseEngine = {
    def counted[R](name: String)(body: => R): R = tr.call(name) {
      val before = cacheEntries
      val bytes0 = cacheBytes
      val r = body
      val after = cacheEntries
      tr.count("core.cache.misses", after.keySet.diff(before.keySet).size)
      tr.count("core.cache.hits", before.count { case (k, t) => after.get(k).exists(_ > t) })
      tr.count("core.cache.bytes_written", math.max(0L, cacheBytes - bytes0))
      r
    }
    val cleaned = counted("llm.clean")(
      IngestPreset.cleaner(newRaw.select("doc_id", "text"))
        .select("doc_id", "text", "ws_tokens").localCheckpoint(true))
    val unique = counted("llm.dedup_incremental") {
      val pairs = graft.llm.IncrementalMinHashDedupPipe("text", "doc_id",
        clean, "text", "doc_id", jaccardThreshold = 0.5,
        cacheDir = Some(s"$cacheDir/ingest-minhash"))(cleaned)
      val dropped = pairs.select(
        when(col("pair_src") === "cross", col("id_a"))
          .otherwise(col("id_b")).as("doc_id")).distinct()
      cleaned.join(dropped, Seq("doc_id"), "left_anti").localCheckpoint(true)
    }
    val newVec = counted("predict.embed") {
      val nv = IngestPreset.embed(unique, cacheDir, batchFp)
      nv.count()
      nv
    }
    val eng = counted("search.ivfpq.add") {
      val corpusVec = IngestPreset.embed(clean, cacheDir, s"$fp:corpus-embed")
      val e = IngestPreset.indexBase(corpusVec, cacheDir, fp)
        .addVectors(newVec.select(col("doc_id").as("idx"), col("vector")), fingerprint = batchFp)
      e.taggedCodes.count()
      e
    }
    counted("streaming.commit") {
      val files0 = Files.dataFiles(tableDir)
      val token = graft.streaming.WriterLock.acquire(spark, tableDir, "perfbench")
      try graft.streaming.PartitionedUpsert.applyBatch(
        tableRows(newVec, eng.taggedCodes.join(newVec.select(col("doc_id").as("idx")), Seq("idx"))),
        batchId, tableDir, Seq("doc_id"), None)
      finally graft.streaming.WriterLock.release(spark, tableDir, token)
      tr.count("streaming.commit.files_written", Files.dataFiles(tableDir).diff(files0).size)
    }
    eng
  }

  /** `IngestPreset`'s table schema: (doc_id, text, ws_tokens, vector as
    * fixed-point e4 longs, cid, codes) — the same projection its commit
    * writes.
    */
  private def tableRows(withVec: DataFrame, tagged: DataFrame): DataFrame =
    withVec
      .join(tagged.withColumnRenamed("idx", "doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("ws_tokens"),
        transform(col("vector"), v => floor(v * 10000 + 0.5).cast("long")).as("vector"),
        col("cid").cast("int").as("cid"),
        array((0 until 4).map(j => col(s"__c$j").cast("int")): _*).as("codes"))

  private def queryBatch(b: Int): DataFrame = {
    val r = new SplittableRandom(ctx.opts.seed * 31 + b)
    val qs = (0 until QueryBatch).map { i =>
      val v = queryVecs((b * QueryBatch + i) % queryVecs.size)
      Row((b * QueryBatch + i).toLong, Row(v.map(_ + 0.01 * Gen.gaussian(r))))
    }
    val schema = StructType(Seq(StructField("qid", LongType), StructField("query",
      StructType(Seq(StructField("vector", ArrayType(DoubleType)))))))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(qs.asJava, schema)
      .select(col("qid"), col("query.vector").as("query.vector"))
  }

  def warmup(): Unit = {
    step()
    batchMs.clear()
    arrivedDocs = 0
  }

  def step(): Unit = {
    val b = next
    require(b < arrivals.size, s"ran out of arrival batches ($b)")
    val bytes0 = Files.bytes(cacheDir)
    val t0 = System.nanoTime()
    lastEngine = ingest(b)
    batchMs += (System.nanoTime() - t0) / 1e6
    arrivedDocs += arrivals(b).ids.size
    // storage figures are taken over the first timed batch only: every
    // batch adds cache entries and rewrites the partitions it touches, so
    // they depend on how many batches ran
    if (batchMs.size == 1) {
      writeRatio = (Files.bytes(cacheDir) - bytes0).toDouble /
        arrivals(b).texts.map(_.getBytes("UTF-8").length.toLong).sum
      stateBytes = Files.bytes(cacheDir) // table included
    }
    // untimed: the table grew by exactly the batch's unique arrivals,
    // which are exactly its fresh pages and far copies
    val a = arrivals(b)
    val after = tableCount
    val present = graft.streaming.PartitionedUpsert.latest(spark, tableDir).get
      .filter(col("doc_id").between(a.ids.head, a.ids.last)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    try {
      Checks.rowGrowth(b, rows, after, a.distinct.size)
      Checks.ensure(a.distinct.forall(present), s"batch $b: distinct arrivals missing from the table")
      Checks.copiesAbsent(present, a.mustDrop)
    } catch { case e: CheckFailed => failures += e.getMessage }
    rows = after
    if (batchMs.size == 1) stateRows = after
    next += 1
  }

  private lazy val tableIds: Set[Long] =
    graft.streaming.PartitionedUpsert.latest(spark, tableDir).get
      .select("doc_id").collect().map(_.getLong(0)).toSet

  def check(): Unit = {
    queryMs
    failures.headOption.foreach(m => throw new CheckFailed(m))
    val done = arrivals.take(next)
    Checks.copiesAbsent(tableIds, done.flatMap(_.mustDrop))
    // re-applying the last batch id leaves the manifest (and table) as is
    val before = manifest
    IngestPreset.run(batchInput(next - 1), clean, tableDir, cacheDir, fp,
      s"$fp:b${next - 1}", (next - 1).toLong)
    Checks.replayNoop(before, manifest)
  }

  lazy val outputDigest: String =
    Digest.of(graft.streaming.PartitionedUpsert.latest(spark, tableDir).get)

  def attempted: Long = batchMs.size.toLong

  /** Query batches against the index the last arrival batch returned,
    * one client, each timed on its own (read-your-writes latency).
    */
  private lazy val queryMs: Seq[Double] = (0 to QueryBatches).map { i =>
    val q = queryBatch(i)
    val t0 = System.nanoTime()
    val n = tr.call("search.ivfpq.query")(lastEngine(q).select("qid", "`index.idx`").collect()).length
    val ms = (System.nanoTime() - t0) / 1e6
    if (n != QueryBatch) failures += s"query batch $i: $n answers for $QueryBatch queries"
    ms
  }.tail // the first batch warms the engine's lazily built state

  /** LSH recall against exact truth: of the planted copies whose exact
    * Jaccard against their source clears the threshold, the share the
    * incremental dedup refused (recall@10 of the near-neighbour stage,
    * as every doc has fewer than ten such neighbours).
    */
  private def lshRecall: Double = {
    val texts = spark.read.parquet(rawDir)
      .unionByName(spark.read.parquet(arrivalsDir).drop("batch"))
    val pairs = arrivals.take(next).flatMap(_.copies).map { case (c, s, _) => (c, s) }
    NearTruth.recall(NearTruth.pairsAbove(texts, pairs, 0.5), { case (c, _) => !tableIds(c) })
  }

  def metrics(setupS: Double): Seq[(String, Metric)] = {
    val done = arrivals.take(next)
    val planted = done.flatMap(_.copies.map(_._1))
    Seq(
      "setup_s" -> Metric(setupS, "s"),
      "peak_rss_mb" -> Metric(Proc.peakRssMb(), "MB"),
      "docs_per_s" -> Metric(arrivedDocs / (batchMs.sum / 1000), "1/s"),
      "dup_recall" -> Metric(planted.count(c => !tableIds(c)).toDouble / planted.size, "ratio"),
      "recall_at_10" -> Metric(lshRecall, "ratio"),
      "query_batch_ms_p50" -> Metric(Stats.median(queryMs), "ms"),
      "query_batch_ms_p90" -> Metric(Stats.quantile(queryMs, 0.9), "ms"),
      "queries_per_s" -> Metric(queryMs.size * QueryBatch / (queryMs.sum / 1000), "1/s"),
      "state_bytes_per_doc" -> Metric(stateBytes.toDouble / stateRows, "bytes"),
      "ingest_batch_ms_p50" -> Metric(Stats.median(batchMs.toSeq), "ms"),
      "write_bytes_per_input_byte" -> Metric(writeRatio, "ratio"))
  }
}

object IngestStream {
  val CorpusDocs = 2000
  val VocabSize = 30000
  val BatchDocs = 100
  val MaxBatches = 16
  val QueryBatch = 16
  /** Fixed page length (sentences): a batch's bytes then barely vary with
    * the seed, and neither does its write amplification. */
  val Sentences = 10
  val QueryBatches = 4

  /** One arrival batch and its planted truth. */
  case class Arrival(batch: Int, ids: Seq[Long], texts: Seq[String],
      /** fresh pages and far (rate >= 0.35) copies: all must be inserted */
      distinct: Seq[Long],
      /** (copy, source, kind): "cross" exact or light copies of standing
        * docs, "close" light copies of the batch's own pages; all must be
        * refused */
      copies: Seq[(Long, Long, String)]) {
    def mustDrop: Seq[Long] = copies.map(_._1)
  }

  /** Per batch: 60% fresh clean pages; 10% exact and 10% light near
    * copies of standing docs that have no planted copy of their own; 5%
    * light and 5% far copies of the batch's own fresh pages; 10%
    * low-quality pages. Light copies (word rate <= 0.04, Jaccard >= 0.79)
    * are caught with certainty and far ones (rate >= 0.35, Jaccard
    * <= 0.2) never, so the table's growth per batch is known exactly.
    * Copies get larger ids than their sources, so keep-the-smaller-id
    * drops the copy.
    */
  def arrivals(seed: Long, corpus: Gen.Corpus, v: Gen.Vocab): IndexedSeq[Arrival] = {
    val r = new SplittableRandom(seed ^ 0xa11a11L)
    val copied = corpus.exactGroups.flatten.toSet ++
      corpus.nearPairs.flatMap { case (c, s, _) => Seq(c, s) } ++ corpus.lowQuality
    val standing = corpus.ids.filterNot(copied)
    var nextId = corpus.ids.length.toLong
    (0 until MaxBatches).map { b =>
      val nFresh = BatchDocs * 60 / 100
      val n10 = BatchDocs / 10
      val n5 = BatchDocs / 20
      val base = nextId
      val texts = ArrayBuffer[String]()
      val copies = ArrayBuffer[(Long, Long, String)]()
      val distinct = ArrayBuffer[Long]()
      def add(t: String): Long = { texts += t; base + texts.size - 1 }
      (0 until nFresh).foreach(_ => distinct += add(Gen.goodPage(r, v, Sentences)))
      def cross(rate: Double): Unit = {
        val s = standing(r.nextInt(standing.length))
        val t = corpus.texts(s.toInt)
        copies += ((add(if (rate == 0) t else Gen.perturb(r, v, t, rate)), s, "cross"))
      }
      (0 until n10).foreach(_ => cross(0))
      (0 until n10).foreach(_ => cross(0.01 + 0.03 * r.nextDouble()))
      def own(lo: Double, hi: Double, kind: String): Unit = (0 until n5).foreach { _ =>
        val s = base + r.nextInt(nFresh)
        val c = add(Gen.perturb(r, v, texts((s - base).toInt), lo + (hi - lo) * r.nextDouble()))
        if (kind == "far") distinct += c else copies += ((c, s, kind))
      }
      own(0.01, 0.04, "close")
      own(0.35, 0.5, "far")
      while (texts.size < BatchDocs) add(Gen.lowQualityPage(r, v))
      nextId += texts.size
      Arrival(b, texts.indices.map(base + _), texts.toSeq, distinct.toSeq, copies.toSeq)
    }
  }
}
