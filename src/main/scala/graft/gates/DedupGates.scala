package graft
package gates

import graft.pipes.{Gate => _, _}
import org.apache.spark.sql.functions._

/** Gates for the dedup layer: exact, MinHash/SimHash/SRP near-dup,
  * semantic and streaming dedup, line- and substring-level dedup, and
  * cross-corpus contamination.
  */
private[gates] object DedupGates {
  import GateSupport._

  val gates: Seq[Gate] = Seq(
    // ----- LLM data-pipeline: dedup -----
    Gate("dd_exact", (s, d) => {
      val docs = t(s, d, "documents")
      val planted = docs.unionByName(docs.filter(col("doc_id") < 100)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")))
      graft.llm.ExactDedupPipe(Seq("text"), "doc_id")(planted).orderBy("doc_id")
    }, """WITH planted AS (SELECT * FROM documents UNION ALL SELECT doc_id+10000, text, lang, source, n_chars FROM documents WHERE doc_id < 100)
        |SELECT min(doc_id) AS doc_id, text, arg_min(lang, doc_id) AS lang, arg_min(source, doc_id) AS source, arg_min(n_chars, doc_id) AS n_chars, count(*) AS dup_count
        |FROM planted GROUP BY text ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("dd_minhash_lsh", (s, d) =>
      graft.llm.MinHashLSHDedupPipe("text", "doc_id", jaccardThreshold = 0.5,
        cacheDir = Some("/tmp/graft-cache/lsh-planted"))(
        plantedNearDups(s, d))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b"),
      // exact inverted-index Jaccard (NOT a MinHash replay): |∩| from the
      // shared-shingle count, |∪| = na + nb − |∩|. Complete for any
      // threshold > 0 (a qualifying pair shares ≥ 1 shingle), so unlike the
      // old all-pairs cross join it is exact AND tractable at sf0.1+.
      minhashPairOracle),
    Gate("dd_simhash", (s, d) => {
      // poly61 token hash (DuckDB-replayable) + maxHamming 3 (band recall
      // is pigeonhole-EXACT there) => an exhaustive oracle matches the
      // banded pipe bit-for-bit. Exact copies at +20000 guarantee rows.
      val base = plantedNearDups(s, d)
      val exact = base.filter(col("doc_id") < 30).select(
        (col("doc_id") + 20000).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      graft.llm.SimHashDedupPipe("text", "doc_id", maxHamming = 3,
        tokenHash = "poly61")(base.unionByName(exact))
        .orderBy("id_a", "id_b")
    },
      // replays SimHashDedupPipe(tokenHash=poly61) exactly: tokenId
      // polynomial fold -> two multiply+rotate-xor mixing steps -> 61-bit
      // per-bit majority votes -> Hamming <= 3 verified on full signatures.
      // Candidates come from 16-bit band equality — COMPLETE by pigeonhole
      // (4 disjoint bands cover 61 bits; <= 3 diffs leave one band clean) —
      // so the result equals the old all-pairs join at any scale, sf0.1+
      // tractable.
      """WITH planted AS (SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id+10000, array_to_string(toks[1:greatest(len(toks)-2,1)], ' ')
        |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents WHERE doc_id < 50)
        | UNION ALL SELECT doc_id+20000, text FROM documents WHERE doc_id < 30),
        |tok AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM planted),
        |ids AS (SELECT doc_id, list_transform(toks, t -> list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i]) AS BIGINT))), (h,c) -> (h*31+c) % 1000003)) AS l FROM tok),
        |s0 AS (SELECT doc_id, list_transform(l, x -> x*2097169 + 12345) AS l FROM ids),
        |s1 AS (SELECT doc_id, list_transform(l, x -> xor(x, (x % 1073741824) * 2147483648 + x // 1073741824)) AS l FROM s0),
        |s2 AS (SELECT doc_id, list_transform(l, x -> (x*3 + 7) % 2305843009213693951) AS l FROM s1),
        |sg AS (SELECT doc_id, list_transform(l, x -> xor(x, (x % 17592186044416) * 131072 + x // 17592186044416)) AS sigs FROM s2),
        |sim AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 61), b ->
        |  CASE WHEN list_sum(list_transform(sigs, s -> CASE WHEN (s // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS sim FROM sg),
        |bnd AS (SELECT doc_id, sim, z.b AS b, (sim // (1::BIGINT << CAST(z.b*16 AS INT))) % 65536 AS bv
        | FROM sim, LATERAL (SELECT unnest(range(0, 4)) AS b) z),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sim AS sa, b.sim AS sb
        | FROM bnd a JOIN bnd b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
    Gate("dd_ngram_jaccard", (s, d) =>
      // scale-honest blocking: (lang, 8-char text prefix) — block
      // CARDINALITY grows with the corpus (sorted-neighborhood style), so
      // block sizes stay roughly constant at 100x, unlike lang x source
      // whose fixed ~20 blocks grow linearly and go quadratic. Planted
      // dups are tail edits, so they share the prefix block; head-edited
      // dups are the documented recall tradeoff (MinHashLSH is the
      // edit-position-robust path).
      graft.llm.NgramJaccardPipe("text", "doc_id", "blk", threshold = 0.3,
        cacheDir = Some("/tmp/graft-cache/ngram-planted"))(
        plantedNearDups(s, d)
          .withColumn("blk",
            concat_ws("/", col("lang"), substring(trim(col("text")), 1, 8))))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b"),
      """WITH planted AS (SELECT doc_id, text, lang || '/' || substr(trim(text), 1, 8) AS blk FROM documents UNION ALL
        | SELECT doc_id+10000, mtext, lang || '/' || substr(trim(mtext), 1, 8)
        | FROM (SELECT doc_id, array_to_string(toks[1:greatest(len(toks)-2,1)], ' ') AS mtext, lang
        |  FROM (SELECT doc_id, string_split(text,' ') AS toks, lang FROM documents WHERE doc_id < 50))),
        |sh AS (SELECT doc_id, blk, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [text] END) AS s
        | FROM (SELECT doc_id, text, blk, string_split(trim(text), ' ') AS toks FROM planted)),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s))::DOUBLE AS j
        | FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs WHERE j >= 0.3 ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
    Gate("dd_edit_verify", (s, d) =>
      // edit-distance exact-verify over the same planted tail-edit dups
      // and the same scale-honest (lang, 8-char prefix) blocking as
      // dd_ngram_jaccard: the length-gap prune rides the join condition,
      // the DP is the threshold-bounded banded kernel.
      graft.llm.EditDistanceDedupPipe("text", "doc_id", "blk",
        maxDistance = 16)(
        plantedNearDups(s, d)
          .withColumn("blk",
            concat_ws("/", col("lang"), substring(trim(col("text")), 1, 8))))
        .select(col("id_a"), col("id_b"), col("edit_distance"))
        .orderBy("id_a", "id_b"),
      // the same planted corpus + blocking, verified by DuckDB's own
      // unbounded levenshtein behind the identical length-gap prune
      """WITH planted AS (SELECT doc_id, text, lang || '/' || substr(trim(text), 1, 8) AS blk FROM documents UNION ALL
        | SELECT doc_id+10000, mtext, lang || '/' || substr(trim(mtext), 1, 8)
        | FROM (SELECT doc_id, array_to_string(toks[1:greatest(len(toks)-2,1)], ' ') AS mtext, lang
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks, lang FROM documents WHERE doc_id < 50))),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_distance
        | FROM planted a JOIN planted b ON a.blk = b.blk AND a.doc_id < b.doc_id AND abs(length(a.text) - length(b.text)) <= 16)
        |SELECT id_a, id_b, edit_distance FROM p WHERE edit_distance <= 16 ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
    Gate("dd_edit_sql", (s, d) => {
      // the BoundLevenshteinRule path end-to-end: the natural SQL
      // predicate (unbounded levenshtein <= k) is auto-rewritten to the
      // banded early-abandon kernel (the plan assert lives in
      // BoundLevenshteinRuleSpec); values must equal DuckDB's unbounded
      // replay of the same predicate.
      org.apache.spark.sql.graft.GraftExtensions.register(s)
      val toks = split(col("text"), " ")
      // widen past the fixture's single file split: the banded DP is
      // CPU-heavy per row and would otherwise run on ONE task (3.4 s
      // serial at sf0.1, r16 StageProf); the stateless repartition
      // carries only the raw text
      t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("text"),
          array_join(slice(toks, lit(1), greatest(size(toks) - 2, lit(1))), " ")
            .as("mtext"))
        .createOrReplaceTempView("graft_sql_lev")
      // materialize the survivors once before the presentation sort:
      // a global orderBy re-executes its child inside the range
      // partitioner's SAMPLING pass, which would run the whole
      // edit-distance chain twice
      s.sql("SELECT doc_id, levenshtein(text, mtext) AS edit_distance " +
        "FROM graft_sql_lev WHERE levenshtein(text, mtext) <= 12")
        .localCheckpoint(true).orderBy("doc_id")
    },
      // the rewritten banded predicate must select exactly what DuckDB's
      // unbounded levenshtein selects
      """WITH m AS (SELECT doc_id, text, array_to_string(toks[1:greatest(len(toks)-2,1)], ' ') AS mtext
        | FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents))
        |SELECT doc_id, CAST(levenshtein(text, mtext) AS INTEGER) AS edit_distance
        |FROM m WHERE levenshtein(text, mtext) <= 12 ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("dd_cosine_neardup", (s, d) =>
      graft.llm.EmbeddingCosineDedupPipe("embedding", "vec_id", "label",
        threshold = 0.15)(t(s, d, "embeddings").filter(col("vec_id") < 150))
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b"),
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |  (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
        |   sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE a.vec_id < 150 AND b.vec_id < 150
        |  AND list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |  (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
        |   sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.15
        |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),

    Gate("dd_semdedup", (s, d) => {
      // SemDeDup: semantic dedup scoped to nearest-centroid cells —
      // pairwise cosine only WITHIN a cell (Σ|cell|², not n²), survivor
      // = furthest from its centroid. Planted near-copies (the
      // dd_srp_cosine plant, cosine ~0.994) pair with their originals at
      // τ=0.9; organic max cosine here is 0.42, so every edge is a
      // planted one — 37/40 survive co-clustering (3 straddle a cell
      // boundary, the paper's accepted recall trade). vec_id cap keeps
      // the exhaustive oracle tractable (dd_cosine_neardup precedent).
      val raw = t(s, d, "embeddings").filter(col("vec_id") < 200).select(
        col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val planted = raw.unionByName(raw.filter(col("vec_id") < 40).select(
        (col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + ((i % 5) - 2) * 0.01).as("embedding")))
      graft.llm.SemDeDupPipe("embedding", "vec_id",
        graft.llm.ClusterBalancedSamplePipe.formulaCentroids(16, 64),
        tau = 0.9)(planted)
        .select(col("id").as("vec_id"), col("kcluster"), col("dup_group"),
          col("kept"))
        .orderBy("vec_id")
    },
      // full replay: formula-centroid assignment (cb_cluster_sample shape),
      // in-cell cosine pairs, recursive-CTE components, keep-furthest window
      """WITH RECURSIVE emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings WHERE vec_id < 200),
        |planted AS (SELECT vec_id, vec FROM emb UNION ALL
        | SELECT vec_id+10000, list_transform(range(0,64), i -> vec[i+1] + ((i%5)-2)*0.01) FROM emb WHERE vec_id < 40),
        |a AS (SELECT vec_id, vec, list_transform(range(0,16), c ->
        |  list_sum(list_transform(range(0,64), t -> (vec[t+1] - (((c*31 + t*7) % 10)*0.1 - 0.4)) * (vec[t+1] - (((c*31 + t*7) % 10)*0.1 - 0.4))))) AS ds FROM planted),
        |cl AS (SELECT vec_id, vec, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS kcluster, list_min(ds) AS cd FROM a),
        |pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b FROM cl x JOIN cl y ON x.kcluster = y.kcluster AND x.vec_id < y.vec_id
        | WHERE list_dot_product(x.vec, y.vec) / (sqrt(list_dot_product(x.vec, x.vec)) * sqrt(list_dot_product(y.vec, y.vec))) >= 0.9),
        |edges AS (SELECT id_a AS u, id_b AS w FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach(u, w) AS (SELECT u, w FROM edges UNION SELECT u, u FROM edges
        | UNION SELECT r.u, e.w FROM reach r JOIN edges e ON r.w = e.u),
        |cc AS (SELECT u AS id, min(w) AS dup_group FROM reach GROUP BY u),
        |scored AS (SELECT cl.vec_id AS id, cl.kcluster, coalesce(cc.dup_group, cl.vec_id) AS dup_group, cl.cd
        | FROM cl LEFT JOIN cc ON cl.vec_id = cc.id),
        |rk AS (SELECT id, kcluster, dup_group, row_number() OVER (PARTITION BY dup_group ORDER BY cd DESC, id) AS r FROM scored)
        |SELECT id AS vec_id, kcluster, dup_group, (r = 1) AS kept FROM rk ORDER BY vec_id""".stripMargin.replace("\n", " ")),
    Gate("cu_semdedup_contam", (s, d) => {
      // cross-corpus SEMANTIC contamination: planted mutants (the
      // dd_semdedup plant) checked against the corpus within their
      // centroid cell only — never |train|×|corpus|. Organic cosine max
      // is 0.42, so every τ=0.9 hit is a mutant finding its original
      // (when they co-cluster — the documented cell-boundary trade).
      val corpus = t(s, d, "embeddings").filter(col("vec_id") < 200).select(
        col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val arriving = corpus.filter(col("vec_id") < 40).select(
        (col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + ((i % 5) - 2) * 0.01).as("embedding"))
      graft.llm.CrossCorpusSemDeDupPipe(corpus, "embedding", "vec_id",
        "embedding", "vec_id",
        graft.llm.ClusterBalancedSamplePipe.formulaCentroids(16, 64),
        tau = 0.9)(arriving)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b")
    },
      // batch and streaming twins replay the SAME cell-scoped cross-cosine
      semDeDupContamOracle),
    Gate("ev_stream_semdedup", (s, d) =>
      // the streaming twin: same plant, same cell-scoped stream-static
      // join inside a REAL StreamingQuery (zero state) — same oracle
      graft.streaming.EventStream.runSemDeDupStream(s, d)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b"),
      semDeDupContamOracle),
    Gate("dd_srp_cosine", (s, d) => {
      // SRP-LSH near-dup: block-free scale path for embedding dedup.
      // Planted near-copies (+= ((t%5)-2)/100 per component) keep cosine
      // ~0.994; formula hyperplanes make the exhaustive oracle exact
      val raw = t(s, d, "embeddings").select(
        col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val planted = raw.unionByName(raw.filter(col("vec_id") < 30).select(
        (col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + ((i % 5) - 2) * 0.01).as("embedding")))
      graft.llm.SRPCosineDedupPipe("embedding", "vec_id",
        cacheDir = Some("/tmp/graft-cache/srp-planted"))(planted)
        .select(col("id_a"), col("id_b"), col("hamming"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b")
    },
      // SRP-LSH: exhaustive replay is exact because recall is pigeonhole-
      // exact at hamming <= bands-1 and signatures are formula-deterministic
      // exact SRP replay; candidates from 4-bit band equality over the
      // 16-bit signature — COMPLETE by pigeonhole (4 disjoint bands, <= 3
      // differing bits leave one band clean), hamming verified on the full
      // signature and cosine on raw vectors, so the result equals the old
      // all-pairs join while staying sf0.1-tractable. 48 bits / 6 bands of
      // 8 (256 buckets per band) mirror the pipe's scale-sane defaults.
      """WITH raw AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |base AS (SELECT id, v FROM raw
        | UNION ALL SELECT id+10000, list_transform(range(0,64), t -> v[t+1] + ((t % 5) - 2) * 0.01) FROM raw WHERE id < 30),
        |sig AS (SELECT id, v,
        | list_sum(list_transform(range(0,60), b ->
        |  CASE WHEN list_sum(list_transform(range(0,64), t ->
        |    v[t+1] * ((((b*37 + t*11) % 21) - 10) / 10.0))) > 0
        |  THEN CAST(2**b AS BIGINT) ELSE 0 END)) AS sg
        | FROM base),
        |bnd AS (SELECT id, CAST(sg AS BIGINT) AS sg, z.b AS b,
        |  (CAST(sg AS BIGINT) // (1::BIGINT << CAST(z.b*10 AS INT))) % 1024 AS bv
        | FROM sig, LATERAL (SELECT unnest(range(0, 6)) AS b) z),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sg AS sa, b.sg AS sb
        | FROM bnd a JOIN bnd b ON a.b = b.b AND a.bv = b.bv AND a.id < b.id),
        |ham AS (SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        | FROM cand WHERE bit_count(xor(sa, sb)) <= 5),
        |pairs AS (SELECT id_a, id_b, hamming,
        |  list_sum(list_transform(range(0,64), t -> a.v[t+1]*b.v[t+1]))
        |   / (sqrt(list_sum(list_transform(range(0,64), t -> a.v[t+1]*a.v[t+1])))
        |    * sqrt(list_sum(list_transform(range(0,64), t -> b.v[t+1]*b.v[t+1])))) AS cosine
        | FROM ham JOIN sig a ON a.id = ham.id_a JOIN sig b ON b.id = ham.id_b)
        |SELECT id_a, id_b, hamming, round(cosine,4) AS cosine FROM pairs
        |WHERE cosine >= 0.9 ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
    Gate("dd_srp_wide", (s, d) => {
      // the r14 WIDE signature layout (120 bits in two 60-bit words,
      // 2^20 buckets per band — the sizing knob that keeps SRP linear at
      // 200k+ vectors where the 60-bit layout ran quadratic): same
      // planted near-copies, the oracle replays both words' bit packing,
      // the word-spanning band extraction, and the two-word hamming.
      val raw = t(s, d, "embeddings").select(
        col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val planted = raw.unionByName(raw.filter(col("vec_id") < 30).select(
        (col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + ((i % 5) - 2) * 0.01).as("embedding")))
      graft.llm.SRPCosineDedupPipe("embedding", "vec_id", nBits = 120,
        cacheDir = Some("/tmp/graft-cache/srp-wide-planted"))(planted)
        .select(col("id_a"), col("id_b"), col("hamming"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b")
    },
      // wide two-word layout: bit packing, word-spanning band extraction,
      // two-word hamming — replayed verbatim
      """WITH raw AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |base AS (SELECT id, v FROM raw
        | UNION ALL SELECT id+10000, list_transform(range(0,64), t -> v[t+1] + ((t % 5) - 2) * 0.01) FROM raw WHERE id < 30),
        |bits AS (SELECT id, v, list_transform(range(0,120), b ->
        |  CASE WHEN list_sum(list_transform(range(0,64), t ->
        |    v[t+1] * ((((b*37 + t*11) % 21) - 10) / 10.0))) > 0 THEN 1 ELSE 0 END) AS bt
        | FROM base),
        |sig AS (SELECT id, v,
        |  CAST(list_sum(list_transform(range(0,60), b -> bt[b+1] * CAST(2**b AS BIGINT))) AS BIGINT) AS w0,
        |  CAST(list_sum(list_transform(range(60,120), b -> bt[b+1] * CAST(2**(b-60) AS BIGINT))) AS BIGINT) AS w1
        | FROM bits),
        |bnd AS (SELECT id, w0, w1, z.b AS b,
        |  CASE WHEN z.b < 3 THEN (w0 // (1::BIGINT << CAST(z.b*20 AS INT))) % 1048576
        |       ELSE (w1 // (1::BIGINT << CAST((z.b-3)*20 AS INT))) % 1048576 END AS bv
        | FROM sig, LATERAL (SELECT unnest(range(0, 6)) AS b) z),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.w0 AS a0, a.w1 AS a1, b.w0 AS b0, b.w1 AS b1
        | FROM bnd a JOIN bnd b ON a.b = b.b AND a.bv = b.bv AND a.id < b.id),
        |ham AS (SELECT id_a, id_b, CAST(bit_count(xor(a0,b0)) + bit_count(xor(a1,b1)) AS BIGINT) AS hamming
        | FROM cand WHERE bit_count(xor(a0,b0)) + bit_count(xor(a1,b1)) <= 5),
        |pairs AS (SELECT id_a, id_b, hamming,
        |  list_sum(list_transform(range(0,64), t -> a.v[t+1]*b.v[t+1]))
        |   / (sqrt(list_sum(list_transform(range(0,64), t -> a.v[t+1]*a.v[t+1])))
        |    * sqrt(list_sum(list_transform(range(0,64), t -> b.v[t+1]*b.v[t+1])))) AS cosine
        | FROM ham JOIN sig a ON a.id = ham.id_a JOIN sig b ON b.id = ham.id_b)
        |SELECT id_a, id_b, hamming, round(cosine,4) AS cosine FROM pairs
        |WHERE cosine >= 0.9 ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
    Gate("dd_clusters", (s, d) => {
      val pairs = graft.llm.MinHashLSHDedupPipe("text", "doc_id",
        jaccardThreshold = 0.5,
        cacheDir = Some("/tmp/graft-cache/lsh-planted"))(plantedNearDups(s, d))
      graft.llm.DedupOps.connectedComponents(pairs).orderBy("id")
    },
      // pair generation shares dd_minhash_lsh's exact inverted-index shape
      """WITH RECURSIVE planted AS (SELECT doc_id, text FROM documents UNION ALL
        | SELECT doc_id+10000, array_to_string(toks[1:greatest(len(toks)-2,1)], ' ')
        | FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents WHERE doc_id < 50)),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [text] END) AS s
        | FROM (SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM planted)),
        |szs AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        | FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b
        | FROM cand JOIN szs sa ON sa.doc_id = cand.id_a JOIN szs sb ON sb.doc_id = cand.id_b
        | WHERE shared::DOUBLE / (sa.n + sb.n - shared)::DOUBLE >= 0.5),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM edges UNION SELECT u, u FROM edges
        | UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
        |SELECT u AS id, min(v) AS cluster FROM reach GROUP BY u ORDER BY id""".stripMargin.replace("\n", " ")),
    Gate("ev_stream_neardup", (s, d) =>
      // REAL StreamingQuery: near-dup pairs discovered on the document
      // stream (flatMapGroupsWithState over band buckets); pair set
      // equals the batch LSH semantics the shared oracle replays
      graft.streaming.EventStream.runNearDedupStream(s, d)
        .dropDuplicates("id_a", "id_b")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b"),
      // the STREAMING twin discovers the same pair set inside one drain
      // (eviction semantics are the multi-batch spec's job)
      minhashPairOracle),
    Gate("ev_stream_neardup_unique", (s, d) =>
      // the pair dedup runs INSIDE the StreamingQuery (two chained
      // stateful operators: band-bucket fMGWS → watermark-scoped pair
      // dedup) — the sink table is already unique, same oracle
      graft.streaming.EventStream.runNearDedupUniqueStream(s, d)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b"),
      minhashPairOracle),
    Gate("ev_stream_corpus_dedup", (s, d) =>
      // STATELESS stream-vs-corpus near-dup: arriving mutated docs vs
      // the static corpus, stream-static band + verify joins only (no
      // streaming state at all); per-band duplicate findings dropped
      // after the drain per the documented contract
      graft.streaming.EventStream.runCorpusDedupStream(s, d)
        .dropDuplicates("id_a", "id_b")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b"),
      // exhaustive cross-corpus Jaccard the banded pipe must equal (shingle
      // Jaccard over strings == over xxhash64 values modulo collisions)
      // stateless stream-vs-corpus twin: the cross half of dd_incremental's
      // pair set restricted to the %10 mutation (same inverted-index form)
      """WITH arr AS (SELECT doc_id+200000 AS arr_id, array_to_string(toks[1:greatest(len(toks)-2,1)], ' ') AS text
        | FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 10 = 0)),
        |sa AS (SELECT arr_id, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [text] END) AS s
        | FROM (SELECT arr_id, text, string_split_regex(trim(text), '\s+') AS toks FROM arr)),
        |sc AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [text] END) AS s
        | FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |sza AS (SELECT arr_id, len(s) AS n FROM sa),
        |szc AS (SELECT doc_id, len(s) AS n FROM sc),
        |inva AS (SELECT arr_id, unnest(s) AS g FROM sa),
        |invc AS (SELECT doc_id, unnest(s) AS g FROM sc),
        |cand AS (SELECT a.arr_id AS id_a, c.doc_id AS id_b, count(*) AS inter
        | FROM inva a JOIN invc c USING (g) GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b,
        |  CAST(inter AS DOUBLE) / (sa2.n + sc2.n - inter) AS j
        | FROM cand JOIN sza sa2 ON sa2.arr_id = cand.id_a
        |  JOIN szc sc2 ON sc2.doc_id = cand.id_b)
        |SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
    Gate("l5_to_tensor", (s, d) =>
      ToTensorPipe(Seq("nums"))(liNums(s, d)).orderBy("l_orderkey"),
      scl("SELECT l_orderkey, CAST(list_sort(list(l_linenumber)) AS DOUBLE[]) AS nums FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey",
        "l_orderkey" -> "", "nums" -> "d")),
    Gate("s3b_bm25_aux", (s, d) => {
      val docs = t(s, d, "documents")
      val toks = split(col("text"), " ")
      val queries = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("qid"),
          array_join(slice(toks, lit(1), lit(5)), " ").as("query.text"),
          array_join(slice(toks, lit(6), (col("doc_id") % 4 + 1).cast("int")), " ")
            .as("query.aux_text"))
      // stateDir: aux/temperature are query-time knobs excluded from the
      // persisted-index key (BM25.scala `queryTimeParams`), so this gate
      // shares the s3 contract — warm runs time only the query path
      val eng = graft.search.BM25Engine(docs,
        graft.search.SearchConfig(k = 10, fillMaskedIndices = false,
          queryIdCol = Some("qid")),
        corpusIdxCol = "doc_id", corpusTextCol = "text",
        auxWeight = 0.5, temperature = Some(2.0), roundScores = Some(4),
        stateDir = Some("/tmp/graft-cache/bm25-s3b"),
        corpusFingerprint = tableFp(s, d, "documents"))
      eng(queries)
        .select(col("qid"), q("index.idx"),
          transform(q("index.score"), v => round(v, 4)).as("index.score"))
        .orderBy("qid")
    }, scl("""WITH c AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        |dl AS (SELECT doc_id, len(toks) AS len FROM c),
        |post AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(toks) AS term FROM c) GROUP BY 1,2),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM post GROUP BY 1),
        |tot AS (SELECT count(*) AS n, avg(len) AS avgdl FROM dl),
        |q AS (SELECT doc_id AS qid, toks[1:5] AS qtoks, toks[6:5+(doc_id % 4 + 1)] AS atoks FROM c WHERE doc_id < 20),
        |qw AS (SELECT qid, qtoks, atoks,
        |  CASE WHEN len(atoks) > 0 THEN 1 + greatest(0.5 * ln(greatest(CAST(len(qtoks) AS DOUBLE)/len(atoks), 1)), 0) ELSE 0 END AS w
        | FROM q),
        |qt AS (SELECT qid, unnest(qtoks) AS term, 1.0 AS w FROM qw
        |  UNION ALL SELECT qid, unnest(atoks) AS term, w FROM qw),
        |sc AS (SELECT qt.qid, post.doc_id AS idx,
        |  sum( qt.w * ln(1 + (tot.n - dfq.df + 0.5)/(dfq.df + 0.5)) * (post.tf*2.2)/(post.tf + 1.2*(0.25 + 0.75*dl.len/tot.avgdl)) ) / 2.0 AS score
        |  FROM qt JOIN post USING(term) JOIN dfq USING(term) JOIN dl ON post.doc_id = dl.doc_id CROSS JOIN tot GROUP BY 1,2),
        |rk AS (SELECT qid, idx, score, row_number() OVER (PARTITION BY qid ORDER BY round(score,4) DESC, idx) AS r FROM sc),
        |g AS (SELECT qid, list(CAST(idx AS BIGINT) ORDER BY r) AS li, list(round(score,4) ORDER BY r) AS ls FROM rk WHERE r <= 10 GROUP BY qid)
        |SELECT qid, li || list_transform(range(10 - len(li)), x -> CAST(-1 AS BIGINT)) AS "index.idx",
        | ls || list_transform(range(10 - len(ls)), x -> CAST('-infinity' AS DOUBLE)) AS "index.score"
        |FROM g ORDER BY qid""".stripMargin.replace("\n", " "),
        "qid" -> "", "index.idx" -> "i", "index.score" -> "d")),
    Gate("m2s2_cached_dense", (s, d) => {
      val model = graft.predict.LinearModel(
        Seq(Seq.fill(64)(1.0), Seq.tabulate(64)(_.toDouble * 0.1)), Seq(0.0, 0.0))
      val withVec = graft.predict.PredictWithCache(model, "embedding", "vector",
        idCol = "vec_id", cacheDir = "/tmp/graft-cache",
        datasetFingerprint = s"emb2d@$d")(
        t(s, d, "embeddings").select("vec_id", "embedding"))
      val corpus = withVec.select(col("vec_id").as("idx"), col("vector"))
      val queries = withVec.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("vector").as("query.vector"))
      graft.search.BruteForceDenseEngine(corpus,
        graft.search.SearchConfig(k = 5, fillMaskedIndices = false,
          queryIdCol = Some("qid")))(queries)
        .select(col("qid"), q("index.idx"),
          transform(q("index.score"), v => round(v, 4)).as("index.score"))
        .orderBy("qid")
    }, scl("""WITH v AS (SELECT vec_id, [list_sum(CAST(embedding AS DOUBLE[])),
        |  list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * (i-1) * 0.1))] AS vec FROM embeddings),
        |qs AS (SELECT vec_id AS qid, vec AS qv FROM v WHERE vec_id < 8),
        |sc AS (SELECT qs.qid, v.vec_id AS idx, qs.qv[1]*v.vec[1] + qs.qv[2]*v.vec[2] AS score FROM qs CROSS JOIN v),
        |rk AS (SELECT qid, idx, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, idx) AS r FROM sc)
        |SELECT qid, list(CAST(idx AS BIGINT) ORDER BY r) AS "index.idx", list(round(score,4) ORDER BY r) AS "index.score" FROM rk WHERE r <= 5 GROUP BY qid ORDER BY qid""".stripMargin.replace("\n", " "),
        "qid" -> "", "index.idx" -> "i", "index.score" -> "d")),
    // ----- line-level exact dedup (CCNet-style corpus cleaner) -----
    Gate("ld_line_dedup", (s, d) => {
      // the synthetic docs are single-line; re-wrap every 8 tokens so the
      // corpus has realistic repeated lines (the oracle replays the wrap)
      val docs = t(s, d, "documents").withColumn("text",
        regexp_replace(trim(col("text")), "((?:\\S+\\s+){7}\\S+)\\s+", "$1\n"))
      graft.llm.LineDedupPipe("text", "doc_id")(docs)
        .select("doc_id", "text", "n_lines_removed").orderBy("doc_id")
    }, """WITH t AS (SELECT doc_id, regexp_replace(trim(text), '((?:\S+\s+){7}\S+)\s+', '\1' || chr(10), 'g') AS txt FROM documents),
        |l0 AS (SELECT doc_id, string_split(txt, chr(10)) AS ln FROM t),
        |l1 AS (SELECT doc_id, ln, unnest(range(1, len(ln)+1)) AS i FROM l0),
        |l2 AS (SELECT doc_id, i, ln[i] AS line FROM l1),
        |c AS (SELECT line, count(*) AS cnt FROM l2 GROUP BY 1)
        |SELECT l2.doc_id,
        | coalesce(string_agg(CASE WHEN c.cnt <= 1 THEN l2.line END, chr(10) ORDER BY l2.i), '') AS text,
        | CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_removed
        |FROM l2 JOIN c USING (line) GROUP BY l2.doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    // ----- duplicated-substring removal (ExactSubstr-style) -----
    Gate("dd_substring", (s, d) => {
      // plant a 7-token boilerplate sentence on every 5th doc; string
      // shingles (hashShingles=false) let the oracle replay coverage 1:1
      val planted = t(s, d, "documents").withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"),
          lit(" subscribe to our newsletter for updates today")))
          .otherwise(col("text")))
      graft.llm.SubstringDedupPipe("text", "doc_id", k = 5,
        hashShingles = false)(planted)
        .select("doc_id", "text", "n_tokens_removed").orderBy("doc_id")
    },
      // coverage replay: every position under a k=5 shingle occurring >= 2x
      // anywhere is deleted; text reassembled from survivors in order
      """WITH p AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |  THEN text || ' subscribe to our newsletter for updates today' ELSE text END AS t FROM documents),
        |tk AS (SELECT doc_id, string_split_regex(trim(t), '\s+') AS toks FROM p),
        |occ AS (SELECT doc_id, ln.i AS sp, array_to_string(toks[ln.i+1:ln.i+5], ' ') AS sh
        |  FROM tk, LATERAL (SELECT unnest(range(0, greatest(len(toks)-4, 0))) AS i) ln),
        |dup AS (SELECT sh FROM occ GROUP BY sh HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT occ.doc_id, u.p FROM occ JOIN dup USING (sh),
        |  LATERAL (SELECT unnest(range(occ.sp, occ.sp+5)) AS p) u),
        |tok AS (SELECT doc_id, ln.i - 1 AS p, toks[ln.i] AS w
        |  FROM tk, LATERAL (SELECT unnest(range(1, len(toks)+1)) AS i) ln),
        |kept AS (SELECT tok.doc_id, tok.p, tok.w FROM tok
        |  LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p WHERE cov.p IS NULL),
        |rb AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS clean, count(*) AS nk FROM kept GROUP BY doc_id),
        |n0 AS (SELECT doc_id, len(toks) AS n FROM tk)
        |SELECT n0.doc_id, coalesce(rb.clean, '') AS text,
        | CAST(n0.n - coalesce(rb.nk, 0) AS BIGINT) AS n_tokens_removed
        |FROM n0 LEFT JOIN rb USING (doc_id) ORDER BY n0.doc_id""".stripMargin.replace("\n", " ")),
    // ----- cross-corpus fuzzy contamination (train-vs-eval MinHash) -----
    Gate("dd_incremental", (s, d) => {
      // incremental ingest dedup: batch = two mutations of corpus docs
      // (drop-last-2 of every 10th, drop-last-1 of every 20th) so the
      // result carries BOTH cross pairs (batch vs corpus) and
      // within-batch pairs (the two mutations of the same doc) — never
      // corpus-vs-corpus. The corpus signature state loads from the
      // per-corpus cache; the oracle is the exact-complete
      // inverted-index Jaccard over the same restricted pair set.
      val docs = t(s, d, "documents")
      val toksI = split(col("text"), " ")
      def dropLast(n: Int) = array_join(
        slice(toksI, lit(1), greatest(size(toksI) - n, lit(1))), " ")
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), dropLast(2).as("text"))
        .unionByName(docs.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 300000).as("doc_id"), dropLast(1).as("text")))
      graft.llm.IncrementalMinHashDedupPipe("text", "doc_id",
        docs, "text", "doc_id", jaccardThreshold = 0.5,
        cacheDir = Some("/tmp/graft-cache/incdedup"))(batch)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 4).as("jaccard"), col("pair_src"))
        .orderBy("id_a", "id_b")
    },
      // exact-complete inverted-index Jaccard (a qualifying pair shares a
      // shingle for any threshold > 0) over cross + within-batch pair sets
      """WITH batch AS (
        | SELECT doc_id+200000 AS doc_id, array_to_string(toks[1:greatest(len(toks)-2,1)], ' ') AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 10 = 0)
        | UNION ALL
        | SELECT doc_id+300000 AS doc_id, array_to_string(toks[1:greatest(len(toks)-1,1)], ' ') AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 20 = 0)),
        |shb AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [text] END) AS s
        | FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM batch)),
        |shc AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [text] END) AS s
        | FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |szb AS (SELECT doc_id, len(s) AS n FROM shb),
        |szc AS (SELECT doc_id, len(s) AS n FROM shc),
        |invb AS (SELECT doc_id, unnest(s) AS g FROM shb),
        |invc AS (SELECT doc_id, unnest(s) AS g FROM shc),
        |crossp AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b, count(*) AS inter
        | FROM invb a JOIN invc c USING (g) GROUP BY 1, 2),
        |crossj AS (SELECT id_a, id_b,
        |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j, 'cross' AS pair_src
        | FROM crossp JOIN szb sa ON sa.doc_id = crossp.id_a
        |  JOIN szc sb ON sb.doc_id = crossp.id_b),
        |batp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        | FROM invb a JOIN invb b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |batj AS (SELECT id_a, id_b,
        |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j, 'batch' AS pair_src
        | FROM batp JOIN szb sa ON sa.doc_id = batp.id_a
        |  JOIN szb sb ON sb.doc_id = batp.id_b)
        |SELECT id_a, id_b, round(j, 4) AS jaccard, pair_src
        |FROM (SELECT * FROM crossj UNION ALL SELECT * FROM batj)
        |WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),

    Gate("cu_cross_contam", (s, d) => {
      // eval side = every 10th doc with the last 2 words dropped (the
      // plantedNearDups mutation) — high-Jaccard fuzzy leaks the exact
      // n-gram DecontaminatePipe would also catch, but found here by LSH
      val docs = t(s, d, "documents")
      val toksE = split(col("text"), " ")
      val evalDf = docs.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 100000).as("eval_id"),
        array_join(slice(toksE, lit(1), greatest(size(toksE) - 2, lit(1))), " ")
          .as("text"))
      graft.llm.CrossCorpusMinHashPipe("text", "doc_id",
        evalDf, "text", "eval_id", jaccardThreshold = 0.5,
        cacheDir = Some("/tmp/graft-cache/xcontam"))(docs)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    },
      // r11: inverted-index form (was CROSS JOIN over |docs|x|eval| shingle
      // lists — intractable at sf1). Lossless: a j >= 0.5 pair shares a
      // shingle, so the shared-shingle join is candidate-complete and
      // |union| = n_a + n_b - |intersection| needs no list materialization.
      """WITH ev AS (SELECT doc_id+100000 AS eval_id, array_to_string(toks[1:greatest(len(toks)-2,1)], ' ') AS text
        | FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 10 = 0)),
        |sa AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [text] END) AS s
        | FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |sb AS (SELECT eval_id, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [text] END) AS s
        | FROM (SELECT eval_id, text, string_split_regex(trim(text), '\s+') AS toks FROM ev)),
        |sza AS (SELECT doc_id, len(s) AS n FROM sa),
        |szb AS (SELECT eval_id, len(s) AS n FROM sb),
        |inva AS (SELECT doc_id, unnest(s) AS g FROM sa),
        |invb AS (SELECT eval_id, unnest(s) AS g FROM sb),
        |cand AS (SELECT a.doc_id AS id_a, b.eval_id AS id_b, count(*) AS inter
        | FROM inva a JOIN invb b USING (g) GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b,
        |  CAST(inter AS DOUBLE) / (sa2.n + sb2.n - inter) AS j
        | FROM cand JOIN sza sa2 ON sa2.doc_id = cand.id_a
        |  JOIN szb sb2 ON sb2.eval_id = cand.id_b)
        |SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
  )
}
