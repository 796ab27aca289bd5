package graft.search

import graft.core.Pipe.qcol
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{transform => arrTransform, _}

/** LSH-bucketed dense retrieval (FAISS `IndexLSH` by capability; registry
  * `dense_lsh`) — the SEARCH twin of the dedup family's
  * [[graft.llm.SRPCosineDedupPipe]]: the same signed-random-projection
  * signatures and band buckets, pointed at top-k retrieval instead of
  * pair emission.
  *
  * Build: each corpus vector gets an `nBits`-bit signature of hyperplane
  * signs; hyperplanes come from the SAME deterministic integer formula as
  * the dedup pipe (component t of plane b is `(((b*37+t*11) mod 21)-10)/10`)
  * so an external oracle replays signatures bit-for-bit. Search: a query
  * signs itself the same way, candidates are corpus rows sharing ANY of
  * the `bands` signature bands (equi-join on (band, bucket) — bucketed,
  * NEVER an all-pairs product), survivors score with the exact
  * double-precision dot and collapse to top-k.
  *
  * Retrieval semantics: candidates share a band ⇒ this engine finds
  * HIGH-cosine neighbors (near-duplicate retrieval — dedup-adjacent
  * dedup/version lookup); recall for far neighbors collapses by design,
  * and a query may return FEWER than k rows (use `dense_ivf`/`ivf_pq` for
  * general ANN). Bucket occupancy `n / 2^(nBits/bands)` is the sizing
  * knob, exactly as documented on the dedup pipe — auto-computed by
  * [[LSHDenseEngine.sized]], and signatures past 62 bits pack 60-bit
  * words (r16) so the ladder extends to any corpus size.
  *
  * Scale shape: the banded corpus frame carries (band, bucket, idx) longs
  * only; candidate vectors are fetched back by idx AFTER bucket pruning,
  * so shuffle volume follows candidates (near-linear), not n².
  */
case class LSHDenseEngine(
    corpus: DataFrame,
    nBits: Int = 48,
    bands: Int = 6,
    /** Multi-probe (Lv et al., VLDB'07): besides the query's own bucket,
      * probe `probes` more buckets per band at Hamming distance 1 —
      * deterministically, flipping band-hash bits 0..probes-1 — trading
      * `probes×` more (still bucketed) candidates for recall on vectors
      * that landed one sign-flip away. The scale knob that buys recall
      * WITHOUT growing the index: probing is query-side only, the
      * persisted signatures are untouched.
      */
    probes: Int = 0,
    config: SearchConfig = SearchConfig(),
    corpusIdxCol: String = "idx",
    corpusVecCol: String = "vector",
    stateDir: Option[String] = None,
    corpusFingerprint: String = "",
    /** Incremental add (see [[addVectors]]): the standing index's
      * signature frame `(idx, sg)` and raw vectors `(idx, vector)` —
      * appended verbatim; only `corpus` (the NEW vectors) is signed.
      * Both or neither. The hyperplanes are a pure (nBits, dim) formula
      * — no training — so unlike the KMeans engines nothing needs
      * pinning: add ≡ full build EXACTLY at any split.
      */
    baseSignatures: Option[DataFrame] = None,
    baseVectors: Option[DataFrame] = None,
    /** True once [[removeVectors]] ran — masked-index fill disabled; see
      * [[IVFDenseEngine.carriesDelete]]. */
    carriesDelete: Boolean = false) extends SearchEngine {
  require(baseSignatures.isDefined == baseVectors.isDefined,
    "incremental add needs BOTH baseSignatures and baseVectors (or neither)")
  require(nBits % bands == 0, "bands must divide nBits")
  // narrow (<= 62 bits) signatures are ONE long — the historical layout,
  // kept byte-identical so persisted caches replay; past 62 bits the
  // signature packs 60-bit words (array<long>, r16 — same layout as
  // SRPCosineDedupPipe's wide path), so bits-per-band must divide 60 and
  // no band spans a word boundary
  require(nBits <= 62 || 60 % (nBits / bands) == 0,
    "wide signatures pack 60-bit words: bits-per-band must divide 60")
  require(probes >= 0 && probes <= nBits / bands,
    s"probes must be in [0, ${nBits / bands}] (band width)")

  private def wide: Boolean = nBits > 62

  override def params = Map("k" -> config.k.toString, "engine" -> "dense_lsh",
    "nBits" -> nBits.toString, "bands" -> bands.toString,
    "probes" -> probes.toString,
    "incremental" -> baseSignatures.isDefined.toString) ++
    (if (carriesDelete) Map("carriesDelete" -> "true") else Map.empty)

  /** Incremental index maintenance — the [[IVFDenseEngine.addVectors]]
    * contract for the signature index: a new engine over `extra` whose
    * standing signatures and vectors append verbatim; only the new
    * vectors are signed — O(|extra|), never O(index) — and because the
    * hyperplanes are a corpus-independent formula, search over the
    * result is EXACTLY the search of an engine built over base ∪ extra
    * (no quantizer to pin, no drift — the one engine whose incremental
    * add is unconditionally exact).
    */
  def addVectors(extra: DataFrame, fingerprint: String = ""): LSHDenseEngine = {
    require(fingerprint.nonEmpty || stateDir.isEmpty,
      "addVectors with stateDir requires a fingerprint covering base+extra " +
        "— an unchanged state key would serve a previous add's cache")
    val own = corpus.select(
      qcol(corpusIdxCol).cast("long").as("idx"),
      qcol(corpusVecCol).as("__cv__"))
    copy(corpus = extra,
      baseSignatures = Some(signatures),
      baseVectors = Some(baseVectors.fold(own)(own.unionByName)),
      corpusFingerprint =
        if (fingerprint.nonEmpty) fingerprint else corpusFingerprint)
  }

  /** Deletion: drop every standing row matching `removed` (a predicate
    * over `idx`) from BOTH the signature index and the raw rescoring
    * vectors — two map-side filters, zero shuffle, nothing re-signs.
    * Like [[addVectors]], unconditionally exact: hyperplanes are a
    * corpus-independent formula, so the result ≡ a build over the
    * survivors bit-for-bit.
    */
  def removeVectors(removed: Column, fingerprint: String = ""): LSHDenseEngine = {
    require(fingerprint.nonEmpty || stateDir.isEmpty,
      "removeVectors with stateDir requires a fresh fingerprint covering " +
        "the surviving corpus — an unchanged state key would serve the " +
        "pre-delete cache")
    val own = corpus.select(
      qcol(corpusIdxCol).cast("long").as("idx"),
      qcol(corpusVecCol).as("__cv__"))
    val allVecs = baseVectors.fold(own)(own.unionByName)
    // DELETE-WHERE null semantics: NULL = not removed (SearchEngine
    // .isRemoved) on both the signature and vector frames
    val keep = !SearchEngine.isRemoved(removed)
    copy(corpus = corpus.limit(0),
      baseSignatures = Some(signatures.filter(keep)),
      baseVectors = Some(allVecs.filter(keep)),
      carriesDelete = true,
      corpusFingerprint =
        if (fingerprint.nonEmpty) fingerprint else corpusFingerprint)
  }

  /** `bands` only re-slices the persisted signatures at query time (the
    * signature bits depend on nBits alone) and `probes` only widens the
    * query-side bucket set, so neither may fork the signature cache.
    */
  override protected def queryTimeParams: Set[String] = Set("k", "bands", "probes")

  private lazy val n: Long =
    corpus.count() + baseVectors.map(_.count()).getOrElse(0L)
  protected def fillRange: Option[Long] =
    if (carriesDelete) None else Some(n)

  private lazy val dim: Int =
    corpus.select(size(qcol(corpusVecCol))).limit(1).collect() match {
      case Array(r) => r.getInt(0)
      case _ => baseVectors.map(_.select(size(col("__cv__")))
        .limit(1).collect()) match {
        // an empty add batch: the hyperplane dim comes from the base
        case Some(Array(r)) => r.getInt(0)
        case _ => sys.error(
          "dense_lsh: empty corpus — cannot infer the vector dimension " +
            "the hyperplanes are built for")
      }
    }

  /** Signature bits — one long (narrow) or packed 60-bit words (wide);
    * same hyperplane formula as SRPCosineDedupPipe at either width.
    */
  private def sigExpr(vec: Column): Column = {
    val planes: Seq[Seq[Double]] = Seq.tabulate(nBits)(b =>
      Seq.tabulate(dim)(t => (((b * 37 + t * 11) % 21) - 10) / 10.0))
    def dotBit(b: Int): Column = aggregate(
      zip_with(arrTransform(vec, _.cast("double")), typedLit(planes(b)),
        (x, p) => x * p),
      lit(0d), (acc, x) => acc + x)
    if (!wide)
      (0 until nBits).map { b =>
        when(dotBit(b) > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    else array((0 until (nBits + 59) / 60).map { w =>
      (w * 60 until math.min(nBits, (w + 1) * 60)).map { b =>
        when(dotBit(b) > 0, lit(1L << (b - w * 60))).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  /** Band `b`'s bucket hash out of a signature column — the one place
    * that knows the narrow-vs-wide bit layout (r = nBits/bands divides
    * 60 in the wide case, so a band never spans a word).
    */
  private def bandHash(sg: Column, b: Int): Column = {
    val r = nBits / bands
    val mask = (1L << r) - 1
    if (!wide) shiftrightunsigned(sg, b * r).bitwiseAND(mask)
    else shiftrightunsigned(
      element_at(sg, b * r / 60 + 1), (b * r) % 60).bitwiseAND(mask)
  }

  /** `(idx, sg)` — persisted under the fingerprint cache; incremental
    * base signatures append OUTSIDE the persisted stage, so the cache
    * (and the signing) covers only the new rows.
    */
  lazy val signatures: DataFrame = {
    val spark = corpus.sparkSession
    val compute = corpus.select(qcol(corpusIdxCol).cast("long").as("idx"),
      sigExpr(qcol(corpusVecCol)).as("sg"))
    val own = stateDir match {
      case Some(dir) =>
        graft.core.CachedStage(spark, dir,
          buildStateKey(corpusFingerprint, "lshsigs"))(compute)
      case None => compute
    }
    baseSignatures.fold(own)(own.unionByName(_))
  }

  private def banded(sigs: DataFrame): DataFrame =
    sigs.select(col("idx"),
      posexplode(array((0 until bands).map(b =>
        bandHash(col("sg"), b)): _*))
        .as(Seq("band", "bh")))

  protected def searchRanked(stamped: DataFrame, rowId: String): DataFrame = {
    val qv = qcol(s"${config.queryField}.vector")
    // the hyperplanes are baked for `dim` components: a query vector of a
    // different length would be silently truncated/zero-extended by
    // zip_with into WRONG signatures and scores — fail loudly instead
    // (assert_true returns null on success, so the when() passes the
    // vector through unchanged)
    val qvChecked = when(
      assert_true(size(qv) === dim,
        concat(lit("dense_lsh: query vector length "),
          size(qv).cast("string"),
          lit(s" != corpus dim $dim"))).isNull,
      qv)
    val qsig = stamped.select(col(rowId), qvChecked.as("__qv__"))
      .withColumn("sg", sigExpr(col("__qv__")))
    val probeEntries = for {
      b <- 0 until bands
      p <- 0 to probes
    } yield {
      val base = bandHash(col("sg"), b)
      val bh = if (p == 0) base else base.bitwiseXOR(lit(1L << (p - 1)))
      struct(lit(b).as("band"), bh.as("bh"))
    }
    val qBanded = qsig.select(col(rowId), col("__qv__"), col("sg"))
      .select(col(rowId), col("__qv__"),
        explode(array(probeEntries: _*)).as("__e__"))
      .select(col(rowId), col("__qv__"),
        col("__e__.band").as("band"), col("__e__.bh").as("bh"))
    // candidates: any shared band bucket; dedup (rowId, idx) BEFORE the
    // vector fetch so multi-band collisions don't multiply the join
    val cands = qBanded
      .join(banded(signatures), Seq("band", "bh"))
      .select(col(rowId), col("__qv__"), col("idx"))
      .dropDuplicates(rowId, "idx")
    val own = corpus.select(qcol(corpusIdxCol).cast("long").as("idx"),
      qcol(corpusVecCol).as("__cv__"))
    val vecs = baseVectors.fold(own)(own.unionByName(_))
    val scored = cands.join(vecs, Seq("idx"))
      .select(col(rowId), col("idx"),
        SearchEngine.dot(col("__qv__"), col("__cv__")).as("score"))
    SearchEngine.collapseTopK(stamped, scored, rowId, config.k)
  }
}

object LSHDenseEngine {
  /** Corpus-count-sized constructor: bits-per-band from
    * [[graft.llm.SrpLayout.forCorpus]] — the full occupancy ladder,
    * including the packed wide layouts (r16: the engine reads them
    * natively, same 60-bit-word layout as the dedup pipe), so bucket
    * occupancy stays at the target at any corpus size instead of
    * saturating at the old single-long cap.
    *
    * `targetOccupancy` presets: the default 1.0
    * ([[graft.llm.SrpLayout.StandingOccupancy]]) is right for a
    * STANDING index (signature build state-cached once, queries
    * amortize it). A ONE-SHOT scan pays the signature build every call
    * and the measured 200k-vector crossover (the LshScale run in
    * SURVEY.md) shows the finer buckets don't repay it — pass
    * [[graft.llm.SrpLayout.OneShotRetrievalOccupancy]] there so the
    * auto-sizer doesn't quietly cost one-shot callers the 2x build.
    */
  def sized(
      corpus: DataFrame,
      corpusCount: Long,
      bands: Int = 6,
      probes: Int = 0,
      config: SearchConfig = SearchConfig(),
      corpusIdxCol: String = "idx",
      corpusVecCol: String = "vector",
      stateDir: Option[String] = None,
      corpusFingerprint: String = "",
      targetOccupancy: Double = 1.0): LSHDenseEngine = {
    val l = graft.llm.SrpLayout.forCorpus(corpusCount, bands, targetOccupancy)
    LSHDenseEngine(corpus, l.nBits, l.bands, probes, config,
      corpusIdxCol, corpusVecCol, stateDir, corpusFingerprint)
  }
}
