package graft
package gates

import graft.pipes.{Gate => _, _}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gates for the curation layer: the composed cleaning/ingest/selection
  * presets, decontamination, mixtures and sampling, packing, sharding and
  * the training-data epilogue.
  */
private[gates] object CurationGates {
  import GateSupport._

  /** The fixture mixture (docs, budget, mixed) shared by the epilogue
    * chain AND its audit gate — one construction so the audit can never
    * audit a different mixture than the chain runs. (The report's OWN
    * weights/maxRepeat config is still passed at its call site by
    * design: the audit takes the plan config as input, and a drift
    * between the two would hash-fail against the oracle's single
    * weight table anyway.)
    */
  private def fixtureMixture(s: SparkSession, d: String): (DataFrame, Long, DataFrame) = {
    val docs = t(s, d, "documents")
    val budget = docs.count() // one-row driver read: the gate's budget
    val mixed = graft.llm.DomainMixturePipe("doc_id", "source",
      graft.llm.DomainMixturePipe.fixtureGateWeights,
      budget = budget, maxRepeat = 3)(docs)
    (docs, budget, mixed)
  }

  /** The training-data EPILOGUE chain shared by pp_train_order_v1 (the
    * composed-arithmetic capstone) and io_train_shards (the same frame
    * MATERIALIZED file-per-shard): mixture → unique copy id → curriculum
    * → packing → shard layout. One definition so the two gates can never
    * drift apart while both replay the same oracle.
    */
  private def trainOrderChain(s: SparkSession, d: String): DataFrame = {
    // 1. bounded-repetition domain mixture (the mx_domain_mixture
    //    construction: every quota regime fires at once)
    val (_, _, mixed) = fixtureMixture(s, d)
    // unique numeric id per emitted COPY: epoch <= maxRepeat+1 = 4 < 8,
    // so doc_id*8+epoch is collision-free and integer-replayable — the
    // downstream order keeps repeated docs apart (the mixture scaladoc's
    // documented composition contract)
    val copies = mixed.withColumn("mix_id",
      col("doc_id") * 8 + col("epoch"))
    // 2. quality-annealed curriculum over the MIXTURE (score = n_chars,
    //    4 rank-slice phases, within-phase quadratic decorrelation)
    val ordered = graft.llm.CurriculumOrderPipe("mix_id", "n_chars")(copies)
    // 3. concat-and-chunk packing in curriculum order (token accounting
    //    = n_chars; global range-partitioned prefix sum)
    val packed = graft.llm.PackSequencesPipe("n_chars", 2048,
      "curriculum_pos")(ordered)
    // 4. fixed-size shard layout over the same order
    graft.llm.ShardAssignPipe("curriculum_pos", 32)(packed)
  }

  /** Arrivals for the ingest flagship: re-crawls of corpus pages
    * (doc_id%3==0, one appended tail sentence — near-dups the standing
    * corpus must drop) and genuinely new pages (doc_id%3==1, EXCLUDED
    * from the corpus seed — they must survive). Offsets +500000/+600000
    * are collision-free against the fixture id structure (originals
    * < 10^5 per replica, replicas at k·10^7).
    */
  private def ingestArrivals(s: SparkSession, dir: String): DataFrame = {
    val planted = plantedC4(s, dir)
    planted.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 500000).as("doc_id"),
        concat(col("text"),
          lit("\nExtra tail sentence appended here okay.")).as("text"))
      .unionByName(planted.filter(col("doc_id") % 3 === 1)
        .select((col("doc_id") + 600000).as("doc_id"), col("text")))
  }

  val gates: Seq[Gate] = Seq(
    // ----- composed curation pipeline (the library's raison d'être) -----
    Gate("pp_clean_pipeline", (s, d) => {
      // language-ID -> quality scoring -> curation filter -> exact dedup
      // -> token counting, composed as ONE SequentialPipe over documents
      // with planted exact duplicates; the oracle replays the whole chain
      val docs = t(s, d, "documents")
      val planted = docs.unionByName(docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 10000))
      val pipe = SequentialPipe(Seq(
        graft.llm.LanguageIdPipe("text"),
        graft.llm.QualityScorePipe("text"),
        LambdaPipe(_.filter(col("quality") >= 0.5 &&
          col("lang_pred") === col("lang")), "curation_floor"),
        graft.llm.ExactDedupPipe(Seq("text"), "doc_id"),
        graft.llm.TokenCountPipe("text")))
      pipe(planted)
        .select(col("doc_id"), col("lang"), col("lang_pred"), col("quality"),
          col("dup_count"), col("ws_tokens"), col("est_bpe_tokens"))
        .orderBy("doc_id")
    }, """WITH base AS (SELECT doc_id, text, lang FROM documents UNION ALL SELECT doc_id+10000, text, lang FROM documents WHERE doc_id < 50),
        |s AS (SELECT doc_id, text, lang, string_split(trim(text), ' ') AS toks, CAST(length(text) AS DOUBLE) AS nc FROM base),
        |lid AS (SELECT *,
        | len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that','it','for'))) AS s_en,
        | len(list_filter(toks, t -> t IN ('der','die','das','und','ist','von','mit','ein','zu','den'))) AS s_de,
        | len(list_filter(toks, t -> t IN ('el','la','los','y','de','un','es','en','que','por'))) AS s_es,
        | len(list_filter(toks, t -> t IN ('le','la','les','et','de','un','est','en','que','pour'))) AS s_fr,
        | len(list_filter(toks, t -> t IN ('de','shi','le','zai','he','you','wo','ta','men','bu'))) AS s_zh
        | FROM s),
        |pred AS (SELECT *, CASE
        | WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'und'
        | WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'en'
        | WHEN s_de = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'de'
        | WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'es'
        | WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'fr'
        | ELSE 'zh' END AS lang_pred FROM lid),
        |qm AS (SELECT *, CAST(len(toks) AS BIGINT) AS nti,
        | CAST(greatest(length(text), 1) AS BIGINT) AS nci,
        | CAST(len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that','it','for','der','die','das','und','ist','von','mit','ein','zu','den','el','la','los','y','de','un','es','en','que','por','le','les','et','est','pour','shi','zai','he','you','wo','ta','men','bu'))) AS BIGINT) AS si,
        | CAST(length(regexp_replace(text,'[0-9]','','g')) AS BIGINT) AS ldi,
        | CAST(length(regexp_replace(text,'[A-Z]','','g')) AS BIGINT) AS lui
        | FROM pred),
        |q AS (SELECT doc_id, text, lang, lang_pred,
        | CAST(floor(((80*least(nti,50)*nti*nci + 4000*least(4*si,nti)*nci + 1000*ldi*nti + 1000*lui*nti)*2 + nti*nci) / (nti*nci*2.0)) AS DOUBLE) / 10000.0 AS quality
        | FROM qm),
        |f AS (SELECT * FROM q WHERE quality >= 0.5 AND lang_pred = lang),
        |dd AS (SELECT text, lang, lang_pred, quality, min(doc_id) AS doc_id, count(*) AS dup_count
        | FROM f GROUP BY text, lang, lang_pred, quality)
        |SELECT doc_id, lang, lang_pred, quality, dup_count,
        | CAST(len(string_split(trim(text), ' ')) AS INT) AS ws_tokens,
        | CAST(ceil(length(text)/4.0) AS INT) AS est_bpe_tokens
        |FROM dd ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // ----- curation: repetition / decontamination / PII / stratified -----
    Gate("cu_repetition", (s, d) =>
      graft.llm.RepetitionStatsPipe("text")(t(s, d, "documents"))
        .select("doc_id", "dup_token_frac", "top_bigram_frac", "dup_bigram_frac")
        .orderBy("doc_id"),
      // Gopher-style repetition stats: sorted-bigram run lengths replayed as
      // an unnest+group count (identical math, different but equivalent shape)
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg FROM tok),
        |c AS (SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY 1,2),
        |s AS (SELECT doc_id, CAST(sum(cnt) AS DOUBLE) AS nbg, CAST(max(cnt) AS DOUBLE) AS top,
        |  CAST(coalesce(sum(cnt) FILTER (WHERE cnt>1),0) AS DOUBLE) AS dup FROM c GROUP BY 1)
        |SELECT tok.doc_id,
        | round(1 - len(list_distinct(t))*1.0/len(t), 4) AS dup_token_frac,
        | round(CASE WHEN coalesce(nbg,0) > 0 THEN top/nbg ELSE 0 END, 4) AS top_bigram_frac,
        | round(CASE WHEN coalesce(nbg,0) > 0 THEN dup/nbg ELSE 0 END, 4) AS dup_bigram_frac
        |FROM tok LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("cu_decontaminate", (s, d) => {
      // eval corpus = docs 0-29; 4-grams split the sf0.01 corpus 81/419
      val docs = t(s, d, "documents")
      graft.llm.DecontaminatePipe(docs.filter(col("doc_id") < 30),
        "text", "doc_id", ngramSize = 4)(docs)
        .select("doc_id", "contaminated").orderBy("doc_id")
    }, decontaminateOracle),
    Gate("cu_bloom_decontam", (s, d) => {
      // same eval split as cu_decontaminate, but the eval side is a
      // 2^20-bit Bloom bitmap and the train side a MAP-ONLY codegen'd
      // bit probe (no join/shuffle/broadcast table). The oracle replays
      // every bit collision, so false positives are deterministic.
      val docs = t(s, d, "documents")
      graft.llm.BloomDecontaminatePipe(docs.filter(col("doc_id") < 30),
        "text", "doc_id", ngramSize = 4)(docs)
        .select("doc_id", "contaminated").orderBy("doc_id")
    }, bloomDecontamOracle),
    Gate("ev_stream_decontam", (s, d) =>
      // REAL StreamingQuery: stateless per-row n-gram overlap against the
      // static eval corpus — same flags as the batch pipe and oracle
      graft.streaming.EventStream.runDecontaminateStream(s, d)
        .select("doc_id", "contaminated").orderBy("doc_id"),
      decontaminateOracle),
    Gate("cu_overlap_frac", (s, d) => {
      // the GPT-3/PaLM FRACTIONAL protocol (Brown et al. 2005.14165 App.
      // C; Chowdhery et al. 2204.02311 §8): flag only when >= 20% of a
      // doc's distinct 8-grams appear in the eval set. Partial
      // contamination is PLANTED — docs with doc_id % 7 == 3 get the
      // first 40 tokens of eval doc (doc_id % 30) appended, yielding
      // mid-range fractions; eval docs themselves sit at 100%, organic
      // docs near 0 — so the integer bp arithmetic is exercised across
      // the whole range, not just at the endpoints.
      val docs = t(s, d, "documents")
      val eval = docs.filter(col("doc_id") < 30).select("doc_id", "text")
      val evalSide = eval.select(col("doc_id").as("__eid__"),
        col("text").as("__etext__"))
      val planted = docs.select("doc_id", "text")
        .withColumn("__eid__", col("doc_id") % 30)
        .join(broadcast(evalSide), Seq("__eid__"))
        .withColumn("text", when(col("doc_id") % 7 === 3,
          concat(col("text"), lit(" "), concat_ws(" ",
            slice(graft.llm.TextAnalysisOps.toks(col("__etext__")), 1, 40))))
          .otherwise(col("text")))
        .drop("__eid__", "__etext__")
      graft.llm.OverlapFractionPipe(eval, "text", "doc_id",
        ngramSize = 8, thresholdBp = 2000)(planted)
        .select("doc_id", "matched_ngrams", "total_ngrams", "overlap_bp",
          "contaminated")
        .orderBy("doc_id")
    }, overlapFracOracle),
    Gate("ev_stream_overlap_frac", (s, d) =>
      // REAL StreamingQuery: the fraction folded to a stateless per-row
      // array_intersect projection — counts, bp, and flag bit-identical
      // to the batch pipe, SAME oracle
      graft.streaming.EventStream.runOverlapFractionStream(s, d)
        .select("doc_id", "matched_ngrams", "total_ngrams", "overlap_bp",
          "contaminated")
        .orderBy("doc_id"),
      overlapFracOracle),
    Gate("ev_stream_domain_mixture", (s, d) =>
      // REAL StreamingQuery: the quota plan built once from the static
      // corpus, arriving docs expanded by the stateless broadcast join +
      // bounded explode — rows/epochs bit-identical to the batch
      // mx_domain_mixture, SAME oracle
      graft.streaming.EventStream.runDomainMixtureStream(s, d)
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch"),
      // the stream's expansion is the batch pipe's map-only half against
      // the identical static quota plan — bit-identical rows/epochs
      domainMixtureOracle),
    Gate("ev_stream_weighted_sample", (s, d) =>
      // REAL StreamingQuery: Efraimidis-Spirakis reservoir folded per
      // micro-batch (O(k) state) — the final sample is bit-identical to
      // the batch ws_weighted_sample top-120, so the SAME oracle replays
      graft.streaming.EventStream.runWeightedSampleStream(s, d)
        .select(col("doc_id"), col("n_chars")).orderBy("doc_id"),
      // the streaming reservoir must converge to the SAME top-120
      weightedSampleOracle),
    Gate("ev_stream_heavy_ngrams", (s, d) =>
      // REAL StreamingQuery: per-micro-batch CMS folded into a persisted
      // <= depth*width-row sketch (linear merge), then the exact
      // second pass driven by the STREAMED sketch — result equals the
      // all-batch hh_heavy_ngrams, same GROUP BY HAVING oracle
      graft.streaming.EventStream.runHeavyNgramsStream(s, d)
        .orderBy("gram"),
      // sketch-on-ingest must lose nothing: same oracle as hh_heavy_ngrams
      heavyNgramsOracle),
    Gate("ev_stream_bloom_decontam", (s, d) =>
      // REAL StreamingQuery, bloom mode: eval side is a fixed 2^20-bit
      // bitmap probed map-only per arriving doc — zero state, no literal
      // cap; flags (false positives included) bit-identical to
      // cu_bloom_decontam, so the same oracle replays every collision
      graft.streaming.EventStream.runBloomDecontaminateStream(s, d)
        .select("doc_id", "contaminated").orderBy("doc_id"),
      bloomDecontamOracle),
    Gate("hh_heavy_ngrams", (s, d) =>
      // count-min two-pass heavy hitters: pass 1 builds the fixed-memory
      // sketch, pass 2 keeps occurrences whose (one-sided) estimate
      // reaches the threshold and exact-counts ONLY those — the result
      // is exactly GROUP BY HAVING, but the exact aggregation never sees
      // the full gram vocabulary. width=512 forces real bucket
      // collisions to prove pruning stays exact under them.
      graft.llm.HeavyHitterPipe("text", ngramSize = 2, minCount = 35L,
        depth = 4, width = 512)(t(s, d, "documents"))
        .orderBy("gram"),
      heavyNgramsOracle),
    Gate("cu_pii", (s, d) => {
      // plant deterministic email/phone/IP on every 3rd doc; the oracle
      // replays the planting and RE2-compatible redaction verbatim
      val planted = t(s, d, "documents").withColumn("t2",
        when(col("doc_id") % 3 === 0, concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
          .otherwise(col("text")))
      graft.llm.PiiRedactPipe("t2")(planted)
        .select("doc_id", "n_emails", "n_phones", "n_ips", "redacted")
        .orderBy("doc_id")
    }, """WITH p AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
        | THEN text || ' contact user' || doc_id || '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
        | ELSE text END AS t2 FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        | CAST(len(regexp_extract_all(t2, '\b\d{3}-\d{4}\b')) AS INT) AS n_phones,
        | CAST(len(regexp_extract_all(t2, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS INT) AS n_ips,
        | regexp_replace(regexp_replace(regexp_replace(t2,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\b\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |  '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("cu_stratified", (s, d) =>
      graft.llm.StratifiedSamplePipe("doc_id", "lang",
        Seq("en" -> 0.35, "de" -> 0.8), defaultRate = 0.6)(t(s, d, "documents"))
        .select("doc_id", "lang").orderBy("doc_id"),
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id*131+7) % 1000003) % 10000 <
        |  CASE lang WHEN 'en' THEN 3500 WHEN 'de' THEN 8000 ELSE 6000 END
        |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // ----- composed curation v2: the round-6 end-to-end cleaner -----
    Gate("pp_crawl_v1", (s, d) => {
      // the canonical web-crawl curation preset as ONE SequentialPipe:
      // within-page repetition removal (map-only) -> C4 line battery ->
      // page-keep floor -> Gopher lexical flags on the CLEANED page ->
      // lexical floor -> token budget. Every stage's kernel is already
      // individually oracled; this gate proves they COMPOSE — the oracle
      // replays the whole chain stage by stage.
      val pipe = SequentialPipe(Seq(
        graft.llm.IntraDocLineDedupPipe("text"),
        graft.llm.C4CleanPipe("text"),
        LambdaPipe(_.filter(col("c4_keep")), "c4_floor"),
        graft.llm.GopherQualityPipe("text"),
        LambdaPipe(_.filter(col("rule_alpha_words") && col("rule_stopwords")),
          "lexical_floor"),
        graft.llm.TokenCountPipe("text")))
      pipe(plantedC4(s, d))
        .select("doc_id", "text", "n_intra_removed", "kept_lines",
          "n_sentences", "alpha_words", "distinct_stopwords", "ws_tokens")
        .orderBy("doc_id")
    }, crawlOracle),

    Gate("ev_stream_crawl", (s, d) => {
      // the ENTIRE crawl-curation preset running unchanged inside a REAL
      // StreamingQuery: every stage is map-only, so the stream carries
      // ZERO state, append emits each surviving page exactly once, and
      // the batch gate's oracle replays it verbatim — the unified
      // batch/stream story for the whole cleaner family at once.
      val stream = plantedC4Text(
        graft.streaming.EventStream.readStreamTable(s, d, "documents"))
      val pipe = SequentialPipe(Seq(
        graft.llm.IntraDocLineDedupPipe("text"),
        graft.llm.C4CleanPipe("text"),
        LambdaPipe(_.filter(col("c4_keep")), "c4_floor"),
        graft.llm.GopherQualityPipe("text"),
        LambdaPipe(_.filter(col("rule_alpha_words") && col("rule_stopwords")),
          "lexical_floor"),
        graft.llm.TokenCountPipe("text")))
      graft.streaming.EventStream.runToMemorySink(
        pipe(stream).select("doc_id", "text", "n_intra_removed",
          "kept_lines", "n_sentences", "alpha_words", "distinct_stopwords",
          "ws_tokens"), "append")
        .orderBy("doc_id")
    },
      // the crawl preset replayed stage by stage: planted pages -> indexed
      // first-occurrence line filter -> C4 battery + page floor -> Gopher
      // lexical counts on the cleaned page + floor -> whitespace tokens
      // the streaming twin replays the identical chain
      crawlOracle),

    Gate("pp_ingest_v1", (s, d) => {
      // the FLAGSHIP end-to-end ingest driver (see [[graft.llm
      // .IngestPreset]]): raw crawl pages → pp_crawl_v1 cleaner chain →
      // incremental MinHash dedup against the standing corpus →
      // PredictWithCache embeddings → IVFPQDenseEngine.addVectors →
      // PartitionedUpsert commit. The final table row for every page
      // carries each stage's evidence (cleaned text, ws_tokens, rounded
      // vector, coarse cell id, PQ codes); the oracle replays the whole
      // cascade stage by stage from the documents fixture.
      // r16: the standing state is fingerprint-keyed (seedCached) — the
      // cleaned corpus, embeddings, index state AND the partitioned
      // table itself are deterministic in the documents fixture, so a
      // warm re-run skips the seed (manifest read) and the re-applied
      // batch id no-ops by the upsert's replay guard; the gate then
      // times the standing-state READ path, the same convention as the
      // state-cached search engines. A regenerated fixture re-seeds.
      val fp = tableFp(s, d, "documents")
      val corpusRaw = plantedC4(s, d).filter(col("doc_id") % 3 =!= 1)
        .select("doc_id", "text")
      val (tableDir, corpus) = graft.llm.IngestPreset.seedCached(
        corpusRaw, "/tmp/graft-cache", s"$fp:ingest-corpus", "batch-table")
      val res = graft.llm.IngestPreset.run(
        ingestArrivals(s, d), corpus, tableDir, "/tmp/graft-cache",
        s"$fp:ingest-corpus", s"$fp:ingest-b0")
      res.table.orderBy("doc_id")
    },
      // the flagship cascade replayed stage by stage (shared with the
      // streaming twin — identical semantics, one micro-batch)
      ingestOracle),

    Gate("ev_stream_ingest", (s, d) => {
      // the streaming twin: the identical ingest cascade running as the
      // foreachBatch body of a REAL StreamingQuery over arriving raw
      // pages — clean, dedup vs the standing corpus, embed, addVectors,
      // partitioned commit — same oracle as pp_ingest_v1.
      // r16: same fingerprint-keyed standing state as pp_ingest_v1 (its
      // own table variant — the stream commits its own v0); the fresh
      // per-run checkpoint replays batch 0, which the upsert's replay
      // guard no-ops against the committed table on warm runs. This
      // assumes the arrivals land in ONE micro-batch (true for the
      // single-file fixture read without maxFilesPerTrigger); if a
      // layout change ever split them, a warm replay of batch 0 against
      // a committed id > 0 fails LOUDLY via the behind-id guard (the
      // deliberate contract — wipe the keyed table to re-seed).
      val fp = tableFp(s, d, "documents")
      val corpusRaw = plantedC4(s, d).filter(col("doc_id") % 3 =!= 1)
        .select("doc_id", "text")
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ingest-s").toString
      val (tableDir, corpus) = graft.llm.IngestPreset.seedCached(
        corpusRaw, "/tmp/graft-cache", s"$fp:ingest-corpus", "stream-table")
      val stream = plantedC4Text(
        graft.streaming.EventStream.readStreamTable(s, d, "documents"))
      val arrivals = stream.select(explode(array(
        when(col("doc_id") % 3 === 0, struct(
          (col("doc_id") + 500000).as("doc_id"),
          concat(col("text"),
            lit("\nExtra tail sentence appended here okay.")).as("text"))),
        when(col("doc_id") % 3 === 1, struct(
          (col("doc_id") + 600000).as("doc_id"),
          col("text").as("text"))))).as("r"))
        .filter(col("r").isNotNull)
        .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
      val q = graft.llm.IngestPreset.runStream(arrivals, corpus, tableDir,
        "/tmp/graft-cache", s"$fp:ingest-corpus", s"$fp:ingest-stream",
        s"$dir/ckpt")
      q.processAllAvailable(); q.stop()
      graft.streaming.PartitionedUpsert.latest(s, tableDir).get
        .orderBy("doc_id")
    }, ingestOracle),

    Gate("pp_curate_v2", (s, d) => {
      // line-wrap -> line dedup -> repetition stats -> repetition floor
      // -> stratified rebalance -> token count, as ONE SequentialPipe;
      // the oracle replays the whole chain stage by stage. The wrap is a
      // single linear regex pass (every 8th inter-token space -> newline);
      // a chunked-slice HOF build re-evaluates the token split per chunk.
      val docs = t(s, d, "documents").withColumn("text",
        regexp_replace(trim(col("text")), "((?:\\S+\\s+){7}\\S+)\\s+", "$1\n"))
      val pipe = SequentialPipe(Seq(
        graft.llm.LineDedupPipe("text", "doc_id"),
        graft.llm.RepetitionStatsPipe("text"),
        LambdaPipe(_.filter(col("dup_token_frac") <= 0.5), "repetition_floor"),
        graft.llm.StratifiedSamplePipe("doc_id", "lang",
          Seq("en" -> 0.5), defaultRate = 0.9),
        graft.llm.TokenCountPipe("text")))
      pipe(docs)
        .select("doc_id", "lang", "n_lines_removed", "dup_token_frac", "ws_tokens")
        .orderBy("doc_id")
    }, """WITH t AS (SELECT doc_id, lang, regexp_replace(trim(text), '((?:\S+\s+){7}\S+)\s+', '\1' || chr(10), 'g') AS txt FROM documents),
        |l0 AS (SELECT doc_id, lang, string_split(txt, chr(10)) AS ln FROM t),
        |l1 AS (SELECT doc_id, lang, ln, unnest(range(1, len(ln)+1)) AS i FROM l0),
        |l2 AS (SELECT doc_id, lang, i, ln[i] AS line FROM l1),
        |c AS (SELECT line, count(*) AS cnt FROM l2 GROUP BY 1),
        |cleaned AS (SELECT l2.doc_id, any_value(l2.lang) AS lang,
        |        coalesce(string_agg(CASE WHEN c.cnt <= 1 THEN l2.line END, chr(10) ORDER BY l2.i), '') AS text,
        |        CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_removed
        |      FROM l2 JOIN c USING (line) GROUP BY l2.doc_id),
        |tok AS (SELECT *, string_split_regex(trim(text), '\s+') AS t2 FROM cleaned),
        |rep AS (SELECT doc_id, lang, n_lines_removed, CAST(len(t2) AS INT) AS ws_tokens,
        |        round(1 - len(list_distinct(t2))*1.0/len(t2), 4) AS dup_token_frac FROM tok),
        |fl AS (SELECT * FROM rep WHERE dup_token_frac <= 0.5),
        |st AS (SELECT * FROM fl WHERE ((doc_id*131+7) % 1000003) % 10000 <
        |        CASE lang WHEN 'en' THEN 5000 ELSE 9000 END)
        |SELECT doc_id, lang, n_lines_removed, dup_token_frac, ws_tokens
        |FROM st ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // ----- deterministic shuffle + corpus profiling -----
    Gate("ds_shuffle", (s, d) =>
      graft.llm.DeterministicShufflePipe("doc_id")(t(s, d, "documents"))
        .select("doc_id", "shuffle_slot").orderBy("shuffle_slot", "doc_id"),
      """WITH s AS (SELECT doc_id, (doc_id*131+7) % 1000003 AS s1 FROM documents)
        |SELECT doc_id, (s1*s1 + s1) % 1000003 AS shuffle_slot
        |FROM s ORDER BY shuffle_slot, doc_id""".stripMargin.replace("\n", " ")),
    Gate("cr_curriculum", (s, d) =>
      // quality-annealed training order: rank by (n_chars, doc_id) →
      // 4 equal rank-slice phases, within-phase order = the quadratic
      // shuffle. The oracle replays rank, integer bucket cut, slot, and
      // the final position — a sketch-based or tie-unstable cut
      // hash-fails.
      graft.llm.CurriculumOrderPipe("doc_id", "n_chars")(
        t(s, d, "documents"))
        .select("doc_id", "curriculum_bucket", "curriculum_pos")
        .orderBy("doc_id"),
      // curriculum order: rank-exact phases + the quadratic-M31
      // within-phase shuffle replayed with window functions
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |r AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars NULLS FIRST, doc_id) - 1 AS r FROM documents),
        |b AS (SELECT doc_id, (r * 4) // (SELECT n FROM n) AS bucket FROM r),
        |sl AS (SELECT doc_id, bucket, ((s1*s1 + s1) % 2147483647) AS slot FROM (SELECT doc_id, bucket, (doc_id*131 + 29) % 2147483647 AS s1 FROM b))
        |SELECT doc_id, bucket AS curriculum_bucket,
        | row_number() OVER (ORDER BY bucket, slot, doc_id) - 1 AS curriculum_pos
        |FROM sl ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("cs_stats", (s, d) =>
      // exact-percentile path (oracle-replayable); approx path is spec'd
      graft.llm.CorpusStatsPipe(Seq("lang"), "n_chars", approx = false)(
        t(s, d, "documents"))
        .select("lang", "n", "mean", "min", "max", "p50", "p90", "p99")
        .orderBy("lang"),
      // quantile_cont == Spark's exact percentile (linear interpolation on
      // the sorted group)
      """SELECT lang, count(n_chars) AS n, round(avg(n_chars),4) AS mean,
        | min(n_chars) AS min, max(n_chars) AS max,
        | round(quantile_cont(n_chars, 0.5),4) AS p50,
        | round(quantile_cont(n_chars, 0.9),4) AS p90,
        | round(quantile_cont(n_chars, 0.99),4) AS p99
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " ")),
    // ----- sequence packing (concat-and-chunk) -----
    Gate("pk_pack", (s, d) => {
      // global path: exercises the range-partition + broadcast-offset
      // prefix sum (the grouped path is covered by PackingSpec)
      val docs = t(s, d, "documents").withColumn("tok_cnt",
        size(split(trim(col("text")), "\\s+")).cast("long"))
      graft.llm.PackSequencesPipe("tok_cnt", 256, "doc_id")(docs)
        .select("doc_id", "tok_cnt", "pack_first", "pack_last", "pack_pos")
        .orderBy("doc_id")
    }, """WITH c AS (SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok_cnt FROM documents),
        |p AS (SELECT doc_id, tok_cnt, CAST(coalesce(sum(tok_cnt) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev FROM c)
        |SELECT doc_id, tok_cnt, prev // 256 AS pack_first,
        | CASE WHEN tok_cnt > 0 THEN (prev + tok_cnt - 1) // 256 ELSE prev // 256 END AS pack_last,
        | prev % 256 AS pack_pos
        |FROM p ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // ----- materialized packs: the frame a trainer consumes -----
    Gate("pk2_materialize", (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("toks", split(trim(col("text")), "\\s+"))
      graft.llm.PackMaterializePipe("toks", 256, "doc_id", "doc_id")(docs)
        .select("pack_id", "n_tokens", "tokens", "doc_ids")
        .orderBy("pack_id")
    }, scl(
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |c AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM tk),
        |p AS (SELECT doc_id, t, CAST(coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o FROM c),
        |e AS (SELECT doc_id, o + ln.i - 1 AS g, t[ln.i] AS tok
        | FROM p, LATERAL (SELECT unnest(range(1, len(t)+1)) AS i) ln),
        |pk AS (SELECT g // 256 AS pack_id, g, tok, doc_id FROM e)
        |SELECT pack_id, CAST(count(*) AS INT) AS n_tokens,
        | list(tok ORDER BY g) AS tokens, list(doc_id ORDER BY g) AS doc_ids
        |FROM pk GROUP BY pack_id ORDER BY pack_id""".stripMargin.replace("\n", " "),
      "pack_id" -> "", "n_tokens" -> "", "tokens" -> "s", "doc_ids" -> "i")),
    // ----- cluster-balanced sampling (SemDeDup-style) -----
    Gate("cb_cluster_sample", (s, d) =>
      graft.llm.ClusterBalancedSamplePipe("embedding", "vec_id",
        graft.llm.ClusterBalancedSamplePipe.formulaCentroids(8, 64), cap = 25)(
        t(s, d, "embeddings"))
        .select("vec_id", "cluster").orderBy("vec_id"),
      // nearest formula centroid (argmin squared-L2, first-min tie-break),
      // then per-cluster cap in quadratic-hash order — exact replay
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |a AS (SELECT vec_id, list_transform(range(0,8), c ->
        |  list_sum(list_transform(list_transform(range(0,64), t ->
        |    v[t+1] - (((c*31 + t*7) % 10)*0.1 - 0.4)), dd -> dd*dd))) AS ds FROM emb),
        |cl AS (SELECT vec_id, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cluster,
        |  (vec_id*131+7) % 1000003 AS s1 FROM a),
        |rk AS (SELECT vec_id, cluster,
        |  row_number() OVER (PARTITION BY cluster ORDER BY (s1*s1+s1) % 1000003, vec_id) AS r FROM cl)
        |SELECT vec_id, cluster FROM rk WHERE r <= 25 ORDER BY vec_id""".stripMargin.replace("\n", " ")),
    // ----- contrastive triplet mining over near-dup pairs -----
    Gate("tp_triplets", (s, d) => {
      val base = plantedNearDups(s, d)
      val pairs = graft.llm.MinHashLSHDedupPipe("text", "doc_id",
        jaccardThreshold = 0.5,
        cacheDir = Some("/tmp/graft-cache/lsh-planted"))(base)
      graft.llm.TripletMiningPipe(base, "doc_id")(pairs)
        .orderBy("anchor_id", "pos_id")
    },
      // exhaustive-jaccard pairs + dense-rank negative arithmetic, with the
      // anchor/pos collision fallback replayed via the 3-candidate CASE
      """WITH planted AS (SELECT doc_id, text FROM documents UNION ALL
        | SELECT doc_id+10000, array_to_string(toks[1:greatest(len(toks)-2,1)], ' ')
        | FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents WHERE doc_id < 50)),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [text] END) AS s
        | FROM (SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM planted)),
        |szs AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |cnd AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        | FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |mh AS (SELECT id_a, id_b
        | FROM cnd JOIN szs sa ON sa.doc_id = cnd.id_a JOIN szs sb ON sb.doc_id = cnd.id_b
        | WHERE shared::DOUBLE / (sa.n + sb.n - shared)::DOUBLE >= 0.5),
        |rk AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS r FROM planted),
        |nn AS (SELECT count(*) AS n FROM planted),
        |cand AS (SELECT id_a AS anchor_id, id_b AS pos_id,
        |  (id_a*131 + id_b*31 + 7) % (SELECT n FROM nn) AS s0 FROM mh),
        |cj AS (SELECT c.anchor_id, c.pos_id, r0.doc_id AS c0, r1.doc_id AS c1, r2.doc_id AS c2
        | FROM cand c
        | JOIN rk r0 ON r0.r = c.s0
        | JOIN rk r1 ON r1.r = (c.s0 + 1) % (SELECT n FROM nn)
        | JOIN rk r2 ON r2.r = (c.s0 + 2) % (SELECT n FROM nn))
        |SELECT anchor_id, pos_id,
        | CASE WHEN c0 <> anchor_id AND c0 <> pos_id THEN c0
        |      WHEN c1 <> anchor_id AND c1 <> pos_id THEN c1
        |      ELSE c2 END AS neg_id
        |FROM cj ORDER BY anchor_id, pos_id""".stripMargin.replace("\n", " ")),
    // ----- weighted corpus interleaving (HF interleave_datasets) -----
    Gate("il_interleave", (s, d) => {
      val docs = t(s, d, "documents")
      graft.llm.InterleaveDatasets(Seq(
        docs.filter(col("lang") === "en").select("doc_id", "lang") -> 3.0,
        docs.filter(col("lang") =!= "en").select("doc_id", "lang") -> 1.0),
        "doc_id")
        .select("doc_id", "lang", "source_idx", "interleave_pos")
        .orderBy("doc_id")
    },
      // replay: per-source dense ranks -> fixed-point inverse-weight keys ->
      // global rank over the unique (key*1000 + source) order
      """WITH en AS (SELECT doc_id, lang, 0 AS source_idx,
        |  CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) * 333333 * 1000 + 0 AS o
        | FROM documents WHERE lang = 'en'),
        |re AS (SELECT doc_id, lang, 1 AS source_idx,
        |  CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) * 1000000 * 1000 + 1 AS o
        | FROM documents WHERE lang <> 'en'),
        |u AS (SELECT * FROM en UNION ALL SELECT * FROM re)
        |SELECT doc_id, lang, source_idx,
        | row_number() OVER (ORDER BY o) - 1 AS interleave_pos
        |FROM u ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // ----- temperature mix + bigram-LM fluency -----
    Gate("tm_temperature_mix", (s, d) =>
      graft.llm.TemperatureMixPipe("doc_id", "lang", alpha = 0.5)(
        t(s, d, "documents"))
        .select("doc_id", "lang").orderBy("doc_id"),
      // keep rate (n_min/n_s)^(1-alpha): surviving counts ~ n_s^alpha;
      // IEEE sqrt is correctly rounded -> thresholds replay bit-for-bit
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |m AS (SELECT min(n) AS mn FROM c),
        |r AS (SELECT lang, greatest(CAST(round(sqrt(CAST((SELECT mn FROM m) AS DOUBLE) / n) * 10000) AS BIGINT), 1) AS thr FROM c)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
        |WHERE ((d.doc_id*131+7) % 1000003) % 10000 < r.thr ORDER BY d.doc_id""".stripMargin.replace("\n", " ")),
    Gate("mx_domain_mixture", (s, d) => {
      // deterministic domain-mixture sampling with bounded repetition
      // (the GPT-3/Pile/DoReMi recipe): budget = |corpus|, weights skewed
      // so every regime is exercised at once — src19 (wt 200) hits the
      // maxRepeat=3 cap (full epochs only, rem=0), wt-60 domains land
      // fe=1 + a partial epoch, wt-11/21 domains are partial-only, and
      // at sf<=0.01 the wt-1 domains' quota rounds to 0 (dropped
      // entirely). The oracle replays the whole plan: per-domain counts,
      // integer needed/cap/fe/rem, the HUGEINT threshold, and the
      // quadratic-M31 per-(id, epoch) draw — any drift in quota math,
      // cap, epoch explosion, or hash selection hash-fails.
      val docs = t(s, d, "documents")
      val budget = docs.count() // one-row driver read: the gate's budget
      graft.llm.DomainMixturePipe("doc_id", "source",
        graft.llm.DomainMixturePipe.fixtureGateWeights,
        budget = budget, maxRepeat = 3)(docs)
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch")
    }, domainMixtureOracle),
    Gate("mx_token_mixture", (s, d) => {
      // token-budget accounting — the unit the published recipes
      // actually budget: quotas/caps/epochs over per-domain n_chars
      // SUMS (sizeCol), budget = total corpus chars, same skewed weight
      // table. The partial epoch keeps rows at rate rem/S_d, so its
      // expected char yield is exactly rem whatever the length
      // distribution; the oracle replays sum-based quota math + the
      // same per-(id, epoch) draw — a row-counted plan hash-fails.
      val docs = t(s, d, "documents")
      // coalesce: an empty/all-null table means budget 0, not an NPE
      val budget = docs.agg(coalesce(sum("n_chars"), lit(0L)))
        .first().getLong(0)
      graft.llm.DomainMixturePipe("doc_id", "source",
        graft.llm.DomainMixturePipe.fixtureGateWeights,
        budget = budget, maxRepeat = 3, sizeCol = Some("n_chars"))(docs)
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch")
    },
      // the token-budget twin: identical chain with per-domain n_chars
      // SUMS in place of row counts (budget = total corpus chars)
      """WITH tot AS (SELECT sum(n_chars) AS n FROM documents),
        |w AS (SELECT 'src' || CAST(i AS VARCHAR) AS dom, CASE WHEN i = 19 THEN 200 WHEN i % 4 = 0 THEN 1 WHEN i % 4 = 1 THEN 11 WHEN i % 4 = 2 THEN 21 ELSE 60 END AS wt FROM (SELECT unnest(generate_series(0, 19)) AS i)),
        |cnt AS (SELECT source AS dom, sum(n_chars) AS n FROM documents GROUP BY 1),
        |pl AS (SELECT c.dom, c.n, ((SELECT n FROM tot) * wt) // (SELECT sum(wt) FROM w) AS needed FROM cnt c JOIN w ON c.dom = w.dom WHERE c.n > 0),
        |p2 AS (SELECT dom, n, least(needed, n * 3) AS capped FROM pl WHERE least(needed, n * 3) > 0),
        |p3 AS (SELECT dom, n, capped // n AS fe, capped % n AS rem FROM p2),
        |p4 AS (SELECT dom, fe, CAST((CAST(rem AS HUGEINT) * 2147483647) // n AS BIGINT) AS thr FROM p3),
        |eps AS (SELECT CAST(unnest(generate_series(1, 4)) AS INTEGER) AS epoch),
        |ex AS (SELECT d.doc_id, d.source, e.epoch, p.fe, p.thr FROM documents d JOIN p4 p ON d.source = p.dom CROSS JOIN eps e WHERE e.epoch <= p.fe + 1),
        |sl AS (SELECT doc_id, source, epoch, fe, thr, ((s1*s1 + s1) % 2147483647) AS slot FROM (SELECT *, (doc_id*131 + 23 + epoch*7919) % 2147483647 AS s1 FROM ex))
        |SELECT doc_id, source, epoch FROM sl WHERE epoch <= fe OR slot < thr ORDER BY doc_id, epoch""".stripMargin.replace("\n", " ")),
    Gate("bg_bigram_nll", (s, d) =>
      graft.llm.BigramLogProbPipe("text", "doc_id")(t(s, d, "documents"))
        .select("doc_id", "bigram_nll").orderBy("doc_id"),
      // add-one-smoothed conditional bigram table replayed in fixed point
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(coalesce(text,'')), '\s+') AS t FROM documents),
        |bg AS (SELECT doc_id, t[ln.i+1] AS p, t[ln.i+2] AS c
        | FROM tk, LATERAL (SELECT unnest(range(0, greatest(len(t)-1, 0))) AS i) ln),
        |un AS (SELECT doc_id, unnest(t) AS p FROM tk),
        |v AS (SELECT count(DISTINCT p) AS vs FROM un),
        |uc AS (SELECT p, count(*) AS u FROM un GROUP BY p),
        |bc AS (SELECT p, c, count(*) AS bn FROM bg GROUP BY p, c),
        |w AS (SELECT bc.p, bc.c, CAST(round(-ln((bc.bn+1) / CAST(uc.u + (SELECT vs FROM v) AS DOUBLE)) * 10000) AS BIGINT) AS f
        | FROM bc JOIN uc USING (p)),
        |sc AS (SELECT bg.doc_id, CAST(floor((sum(w.f)*2 + count(*)) / (count(*) * 2.0)) AS DOUBLE) / 10000.0 AS s
        | FROM bg JOIN w ON bg.p = w.p AND bg.c = w.c GROUP BY bg.doc_id)
        |SELECT d.doc_id, coalesce(sc.s, 0) AS bigram_nll
        |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin.replace("\n", " ")),
    // ----- composed selection pipeline v3: the round-6 capstone -----
    Gate("pp_select_v3", (s, d) => {
      // the full modern selection flow as ONE chain: duplicated-substring
      // removal -> DSIR importance weights vs the English target ->
      // selection floor -> temperature rebalance -> deterministic shuffle
      // + fixed-size shard layout; the oracle replays every stage
      val docs = t(s, d, "documents")
      // materialize stage boundaries: the dedup subplan feeds THREE
      // consumers inside ImportanceWeight (raw features, target features,
      // the final overlay join) and the weighted frame two more. AQE's
      // exchange reuse already deduplicates most of the re-computation, so
      // the measured win is modest (7.9 -> 7.1 s at sf0.1), but the
      // checkpointed shape is immune to reuse-defeating replans and keeps
      // each stage's cost visible in the UI
      val deduped = graft.llm.SubstringDedupPipe("text", "doc_id", k = 5,
        hashShingles = false)(docs).localCheckpoint(true)
      val weighted = graft.llm.ImportanceWeightPipe("text", "doc_id",
        deduped.filter(col("lang") === "en"), "text")(deduped)
      val selected = weighted.filter(col("dsir_logweight") > -1.0)
        .localCheckpoint(true)
      val mixed = graft.llm.TemperatureMixPipe("doc_id", "lang",
        alpha = 0.5)(selected)
      val shuffled = graft.llm.DeterministicShufflePipe("doc_id")(mixed)
        .withColumn("ord", col("shuffle_slot") * 1048576L + col("doc_id"))
      graft.llm.ShardAssignPipe("ord", 32)(shuffled)
        .select("doc_id", "lang", "n_tokens_removed", "dsir_logweight",
          "shard_id", "pos_in_shard")
        .orderBy("doc_id")
    },
      // stage-by-stage replay of the whole selection chain: substring dedup
      // -> DSIR weights (en target) -> floor -> sqrt-temperature mix ->
      // quadratic shuffle order -> fixed-size shard layout
      """WITH tk0 AS (SELECT doc_id, lang, string_split_regex(trim(coalesce(text,'')), '\s+') AS toks FROM documents),
        |occ AS (SELECT doc_id, ln.i AS sp, array_to_string(toks[ln.i+1:ln.i+5], ' ') AS sh
        | FROM tk0, LATERAL (SELECT unnest(range(0, greatest(len(toks)-4, 0))) AS i) ln),
        |dup AS (SELECT sh FROM occ GROUP BY sh HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT occ.doc_id, u.p FROM occ JOIN dup USING (sh),
        | LATERAL (SELECT unnest(range(occ.sp, occ.sp+5)) AS p) u),
        |tok AS (SELECT doc_id, ln.i - 1 AS p, toks[ln.i] AS w
        | FROM tk0, LATERAL (SELECT unnest(range(1, len(toks)+1)) AS i) ln),
        |kept AS (SELECT tok.doc_id, tok.p, tok.w FROM tok
        | LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p WHERE cov.p IS NULL),
        |rb AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS clean, count(*) AS nk FROM kept GROUP BY doc_id),
        |cl AS (SELECT tk0.doc_id, tk0.lang, coalesce(rb.clean, '') AS text,
        |  CAST(len(tk0.toks) - coalesce(rb.nk, 0) AS BIGINT) AS n_tokens_removed
        | FROM tk0 LEFT JOIN rb USING (doc_id)),
        |tkh AS (SELECT doc_id, lang, n_tokens_removed, list_transform(string_split_regex(trim(coalesce(text,'')), '\s+'),
        |  t -> list_reduce(list_prepend(CAST(7 AS BIGINT),
        |    list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i]) AS BIGINT))),
        |    (h, c) -> (h*31 + c) % 1000003)) AS th FROM cl),
        |f AS (SELECT doc_id, lang, unnest(list_transform(th, h -> h % 4096) ||
        |  CASE WHEN len(th) >= 2 THEN list_transform(range(0, len(th)-1),
        |    i -> ((th[i+1]*131 + th[i+2]) % 1000003) % 4096)
        |  ELSE CAST([] AS BIGINT[]) END) AS b FROM tkh),
        |rc AS (SELECT b, count(*) AS c FROM f GROUP BY b),
        |tc AS (SELECT b, count(*) AS c FROM f WHERE lang = 'en' GROUP BY b),
        |rn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
        |tn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f WHERE lang = 'en'),
        |w AS (SELECT rc.b, CAST(round((ln((coalesce(tc.c, 0)+1) / ((SELECT n FROM tn)+4096))
        |  - ln((rc.c+1) / ((SELECT n FROM rn)+4096))) * 10000) AS BIGINT) AS w
        | FROM rc LEFT JOIN tc USING (b)),
        |sc AS (SELECT f.doc_id, round(CAST(sum(w.w) AS DOUBLE)/10000, 4) AS s
        | FROM f JOIN w USING (b) GROUP BY f.doc_id),
        |wt AS (SELECT cl.doc_id, cl.lang, cl.n_tokens_removed, coalesce(sc.s, 0) AS dsir_logweight
        | FROM cl LEFT JOIN sc USING (doc_id)),
        |sel AS (SELECT * FROM wt WHERE dsir_logweight > -1.0),
        |cnt AS (SELECT lang, count(*) AS n FROM sel GROUP BY lang),
        |mx AS (SELECT min(n) AS m FROM cnt),
        |rt AS (SELECT lang, CAST(round(sqrt(CAST((SELECT m FROM mx) AS DOUBLE) / n) * 10000) AS BIGINT) AS thr FROM cnt),
        |mix AS (SELECT sel.* FROM sel JOIN rt USING (lang)
        | WHERE ((sel.doc_id*131+7) % 1000003) % 10000 < rt.thr),
        |sl AS (SELECT *, (doc_id*131+7) % 1000003 AS s1 FROM mix),
        |sl2 AS (SELECT *, ((s1*s1 + s1) % 1000003) * 1048576 + doc_id AS ord FROM sl),
        |rk AS (SELECT *, row_number() OVER (ORDER BY ord) - 1 AS rkn FROM sl2)
        |SELECT doc_id, lang, n_tokens_removed, dsir_logweight,
        | rkn // 32 AS shard_id, rkn % 32 AS pos_in_shard
        |FROM rk ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // ----- the training-data EPILOGUE as one chain (capstone): mix ->
    // curriculum order -> sequence packing -> shard layout — the stages a
    // real pretraining job runs AFTER selection, composed and replayed
    // end-to-end the way pp_select_v3 replays the selection chain -----
    Gate("pp_train_order_v1", (s, d) =>
      trainOrderChain(s, d)
        .select("doc_id", "epoch", "curriculum_bucket", "curriculum_pos",
          "pack_first", "pack_last", "pack_pos", "shard_id", "pos_in_shard")
        .orderBy("doc_id", "epoch"),
      trainOrderOracle),
    // ----- the epilogue MATERIALIZED: one parquet file per shard, rows
    // in pos order, read back whole — content must round-trip exactly
    // (same oracle as the capstone; file-per-shard + in-file order are
    // TrainingShardsSpec's half, invisible to SQL) -----
    Gate("io_train_shards", (s, d) => {
      val dir = s"/tmp/graft_io_${math.abs(d.hashCode)}/train_shards"
      graft.sources.TrainingShards.write(trainOrderChain(s, d), dir)
      s.read.parquet(dir)
        .select(col("doc_id"), col("epoch"), col("curriculum_bucket"),
          col("curriculum_pos"), col("pack_first"), col("pack_last"),
          col("pack_pos"),
          // the partition column comes back as the discovery-inferred INT
          col("shard_id").cast("long").as("shard_id"), col("pos_in_shard"))
        .orderBy("doc_id", "epoch")
    },
      // the materialized shard dir must round-trip the capstone frame
      // exactly — SAME oracle (file-per-shard + in-file order are the
      // spec's half, invisible to SQL)
      trainOrderOracle),
    // ----- realized-vs-owed mixture audit over the same construction -----
    Gate("mx_mixture_report", (s, d) => {
      val (docs, budget, mixed) = fixtureMixture(s, d)
      graft.llm.MixtureReportPipe(docs, "doc_id", "source",
        graft.llm.DomainMixturePipe.fixtureGateWeights,
        budget = budget, maxRepeat = 3)(mixed)
        .select("source", "needed", "capped", "fe", "emitted",
          "distinct_docs", "max_epoch", "quota_fill_bp")
        .orderBy("source")
    },
      // realized-vs-owed audit: quota math (needed/cap/fe) joined to what
      // the mixture actually emitted, outage domains kept at emitted 0
      """WITH tot AS (SELECT count(*) AS n FROM documents),
        |w AS (SELECT 'src' || CAST(i AS VARCHAR) AS dom, CASE WHEN i = 19 THEN 200 WHEN i % 4 = 0 THEN 1 WHEN i % 4 = 1 THEN 11 WHEN i % 4 = 2 THEN 21 ELSE 60 END AS wt FROM (SELECT unnest(generate_series(0, 19)) AS i)),
        |cnt AS (SELECT source AS dom, count(*) AS n FROM documents GROUP BY 1),
        |pl AS (SELECT c.dom, c.n, ((SELECT n FROM tot) * wt) // (SELECT sum(wt) FROM w) AS needed FROM cnt c JOIN w ON c.dom = w.dom),
        |p2 AS (SELECT dom, n, needed, least(needed, n * 3) AS capped FROM pl WHERE least(needed, n * 3) > 0),
        |p3 AS (SELECT dom, n, needed, capped, capped // n AS fe, capped % n AS rem FROM p2),
        |p4 AS (SELECT dom, fe, CAST((CAST(rem AS HUGEINT) * 2147483647) // n AS BIGINT) AS thr FROM p3),
        |eps AS (SELECT CAST(unnest(generate_series(1, 4)) AS INTEGER) AS epoch),
        |ex AS (SELECT d.doc_id, d.source, e.epoch, p.fe, p.thr FROM documents d JOIN p4 p ON d.source = p.dom CROSS JOIN eps e WHERE e.epoch <= p.fe + 1),
        |mx AS (SELECT doc_id, source, epoch FROM (SELECT *, ((s1*s1 + s1) % 2147483647) AS slot FROM (SELECT *, (doc_id*131 + 23 + epoch*7919) % 2147483647 AS s1 FROM ex)) WHERE epoch <= fe OR slot < thr),
        |rz AS (SELECT source AS dom, count(*) AS emitted, count(DISTINCT doc_id) AS distinct_docs, max(epoch) AS max_epoch FROM mx GROUP BY 1),
        |ow AS (SELECT w.dom, ((SELECT n FROM tot) * w.wt) // (SELECT sum(wt) FROM w) AS needed, coalesce(c.n, 0) AS n FROM w LEFT JOIN cnt c ON w.dom = c.dom),
        |o2 AS (SELECT dom, needed, least(needed, n * 3) AS capped, CASE WHEN n > 0 THEN least(needed, n * 3) // n ELSE 0 END AS fe FROM ow)
        |SELECT o2.dom AS source, CAST(o2.needed AS BIGINT) AS needed,
        | CAST(o2.capped AS BIGINT) AS capped, CAST(o2.fe AS BIGINT) AS fe,
        | coalesce(rz.emitted, 0) AS emitted,
        | coalesce(rz.distinct_docs, 0) AS distinct_docs,
        | CAST(coalesce(rz.max_epoch, 0) AS INTEGER) AS max_epoch,
        | CAST(CASE WHEN o2.capped > 0 THEN (coalesce(rz.emitted, 0) * 10000) // o2.capped
        |      WHEN o2.needed = 0 THEN 10000 ELSE 0 END AS BIGINT) AS quota_fill_bp
        |FROM o2 LEFT JOIN rz ON o2.dom = rz.dom ORDER BY source""".stripMargin.replace("\n", " ")),
    // ----- DSIR importance weighting (target = English subset) -----
    Gate("ir_dsir", (s, d) => {
      val docs = t(s, d, "documents")
      graft.llm.ImportanceWeightPipe("text", "doc_id",
        docs.filter(col("lang") === "en"), "text")(docs)
        .select("doc_id", "dsir_logweight").orderBy("doc_id")
    },
      // full replay of the hashed unigram+bigram feature space (char-fold
      // token hash as in ta_fingerprint) and the fixed-point weight table
      """WITH tk AS (SELECT doc_id, lang, list_transform(string_split_regex(trim(coalesce(text,'')), '\s+'),
        |  t -> list_reduce(list_prepend(CAST(7 AS BIGINT),
        |    list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i]) AS BIGINT))),
        |    (h, c) -> (h*31 + c) % 1000003)) AS th FROM documents),
        |f AS (SELECT doc_id, lang, unnest(list_transform(th, h -> h % 4096) ||
        |  CASE WHEN len(th) >= 2 THEN list_transform(range(0, len(th)-1),
        |    i -> ((th[i+1]*131 + th[i+2]) % 1000003) % 4096)
        |  ELSE CAST([] AS BIGINT[]) END) AS b FROM tk),
        |rc AS (SELECT b, count(*) AS c FROM f GROUP BY b),
        |tc AS (SELECT b, count(*) AS c FROM f WHERE lang = 'en' GROUP BY b),
        |rn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
        |tn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f WHERE lang = 'en'),
        |w AS (SELECT rc.b, CAST(round((ln((coalesce(tc.c, 0)+1) / ((SELECT n FROM tn)+4096))
        |  - ln((rc.c+1) / ((SELECT n FROM rn)+4096))) * 10000) AS BIGINT) AS w
        | FROM rc LEFT JOIN tc USING (b)),
        |sc AS (SELECT f.doc_id, round(CAST(sum(w.w) AS DOUBLE)/10000, 4) AS s
        | FROM f JOIN w USING (b) GROUP BY f.doc_id)
        |SELECT d.doc_id, coalesce(sc.s, 0) AS dsir_logweight
        |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin.replace("\n", " ")),
    // ----- hashed linear quality classifier (fastText-style scorer) -----
    Gate("qc_hash_score", (s, d) =>
      graft.llm.HashedLinearScorerPipe("text",
        graft.llm.HashedLinearScorerPipe.formulaWeights(4096), bias = 0.05)(
        t(s, d, "documents"))
        .select("doc_id", "quality_logit", "quality_keep").orderBy("doc_id"),
      // formula weights w_fp(b) = (((b*13+5) mod 21) - 10) * 1000; bias 0.05
      """WITH tk AS (SELECT doc_id, list_transform(string_split_regex(trim(coalesce(text,'')), '\s+'),
        |  t -> list_reduce(list_prepend(CAST(7 AS BIGINT),
        |    list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i]) AS BIGINT))),
        |    (h, c) -> (h*31 + c) % 1000003)) AS th FROM documents),
        |f AS (SELECT doc_id, unnest(list_transform(th, h -> h % 4096) ||
        |  CASE WHEN len(th) >= 2 THEN list_transform(range(0, len(th)-1),
        |    i -> ((th[i+1]*131 + th[i+2]) % 1000003) % 4096)
        |  ELSE CAST([] AS BIGINT[]) END) AS b FROM tk),
        |sc AS (SELECT doc_id, 500 + sum((((b*13+5) % 21) - 10) * 1000) AS fp FROM f GROUP BY doc_id)
        |SELECT d.doc_id, round(CAST(coalesce(sc.fp, 500) AS DOUBLE)/10000, 4) AS quality_logit,
        | coalesce(sc.fp, 500) > 0 AS quality_keep
        |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin.replace("\n", " ")),
  )
}
