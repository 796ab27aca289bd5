package graft
package gates

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared by the gate lists: fixture reads, the Scalarize-mirroring
  * oracle wrappers, and every oracle string that more than one gate
  * replays (one `val`, so twin gates cannot drift apart).
  */
private[gates] object GateSupport {

  // ----- table reads and planted fixtures -----

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  val q = Pipe.qcol _

  /** Cheap content-sensitive table fingerprint for engine-state caches:
    * path + total byte length + latest mtime. A regenerated testdata file
    * at the same path invalidates the cache (a bare path key would serve
    * stale persisted state); unchanged files hit it.
    */
  def tableFp(s: SparkSession, dir: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val sum = fs.getContentSummary(p)
    val mtime = fs.getFileStatus(p).getModificationTime
    s"$p:${sum.getLength}:$mtime"
  }

  /** (l_orderkey, nums = sorted list of line numbers). */
  def liNums(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_linenumber"))).as("nums"))

  /** documents plus near-duplicate plants: docs 0-49 re-appear as
    * doc_id+10000 with their last two words dropped.
    */
  def plantedNearDups(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = split(col("text"), " ")
    val mutated = docs.filter(col("doc_id") < 50).select(
      (col("doc_id") + 10000).as("doc_id"),
      array_join(slice(toks, lit(1), greatest(size(toks) - 2, lit(1))), " ").as("text"),
      col("lang"), col("source"), col("n_chars"))
    docs.unionByName(mutated)
  }

  /** Deterministic multi-line page structure for the C4 gates: " fast "
    * closes a line with ".", " data " closes one with "?", so pages mix
    * kept lines (terminal punct + ≥5 words), short/unterminated drops,
    * and the last line never terminates; doc_id%11 plants "Lorem ipsum",
    * doc_id%13 plants "{", doc_id%7 appends a javascript line that the
    * javascript rule (and only it) must drop.
    */
  def plantedC4Text(df: DataFrame): DataFrame =
    df.withColumn("text",
      concat(
        when(col("doc_id") % 11 === 0, lit("Lorem ipsum dolor sit amet today.\n")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit("{ cfg }\n")).otherwise(lit("")),
        replace(replace(col("text"), lit(" fast "), lit(".\n")),
          lit(" data "), lit("?\n")),
        when(col("doc_id") % 7 === 0,
          lit("\nEnable javascript to proceed now please.")).otherwise(lit(""))))

  def plantedC4(s: SparkSession, dir: String): DataFrame =
    plantedC4Text(t(s, dir, "documents"))

  // ----- oracle builders -----

  // ---- DuckDB mirrors of Scalarize's canonical array encoding ----------
  // Verify dumps every array column as a deterministic string (see
  // [[graft.Scalarize]]); these helpers rewrite an oracle's array columns
  // to the identical encoding so the driver's pandas comparer sees only
  // scalars on both sides. coalesce(...,''): DuckDB's array_to_string
  // returns NULL for empty lists where Spark's concat_ws returns ''.
  def ddIntArr(c: String) =
    s"coalesce(array_to_string($c, ','), '')"
  def ddStrArr(c: String) =
    s"coalesce(array_to_string($c, chr(31)), '')"
  def ddDblArr(c: String) =
    s"coalesce(array_to_string(list_transform($c, __x -> CASE WHEN isnan(__x) THEN 'nan' WHEN __x = 'infinity' THEN 'inf' WHEN __x = '-infinity' THEN '-inf' ELSE CAST(CAST(round(__x*10000) AS BIGINT) AS VARCHAR) END), ','), '')"
  def ddIntArrArr(c: String) =
    s"coalesce(array_to_string(list_transform($c, __ii -> coalesce(array_to_string(__ii, ','), '')), ';'), '')"

  /** Wrap an oracle query so its array columns match [[Scalarize]]'s
    * encoding. Kinds: "" scalar passthrough, "i" integral list, "d" double
    * list, "s" string list, "ii" list of integral lists. Row order is
    * irrelevant (the driver sorts both frames), so no outer ORDER BY;
    * LIMIT/ORDER inside `inner` still picks the rows.
    */
  def scl(inner: String, cols: (String, String)*): String = {
    val sel = cols.map { case (n, kind) =>
      val qn = "\"" + n + "\""
      kind match {
        case ""   => qn
        case "i"  => s"${ddIntArr(qn)} AS $qn"
        case "d"  => s"${ddDblArr(qn)} AS $qn"
        case "s"  => s"${ddStrArr(qn)} AS $qn"
        case "ii" => s"${ddIntArrArr(qn)} AS $qn"
      }
    }.mkString(", ")
    s"SELECT $sel FROM ($inner) __scl"
  }

  /** DuckDB replay of [[graft.search.SQDenseEngine]]: train (per-dim
    * min/max), encode (round half-up, clamp to [0,255], constant dims
    * encode 0), ADC (`qmin + qd·codes`), top-k with idx tie-break.
    * `trainWhere` restricts the TRAINED rows (the incremental-add gate
    * trains on the base two thirds and encodes everything — out-of-range
    * added components must saturate at 0/255 exactly like the engine).
    * `scoreWhere` restricts the SCORED candidates (the deletion gates
    * train on the full corpus — stats stay pinned — and score only the
    * survivors, so a stale code row hash-fails).
    */
  def sqOracle(k: Int, qmax: Int, trainWhere: String = "TRUE",
      scoreWhere: String = "TRUE"): String = scl(
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
      |d AS (SELECT generate_subscripts(ev, 1) AS p, unnest(ev) AS x FROM v WHERE $trainWhere),
      |st AS (SELECT p, min(x) AS mn, max(x) - min(x) AS df FROM d GROUP BY p),
      |stl AS (SELECT list(mn ORDER BY p) AS vmin, list(df ORDER BY p) AS vdiff FROM st),
      |cd AS (SELECT vec_id, list_transform(range(1, length(ev)+1), i -> CASE WHEN vdiff[i] <= 0 THEN CAST(0 AS DOUBLE) ELSE least(greatest(round((ev[i]-vmin[i])/vdiff[i]*255, 0), 0), 255) END) AS codes FROM v, stl),
      |qs AS (SELECT vec_id AS qid, list_dot_product(ev, vmin) AS qmin, list_transform(range(1, length(ev)+1), i -> ev[i]*vdiff[i]/255) AS qd FROM v, stl WHERE vec_id < $qmax),
      |sc AS (SELECT qs.qid, cd.vec_id AS idx, qs.qmin + list_dot_product(qs.qd, cd.codes) AS score FROM qs CROSS JOIN cd WHERE $scoreWhere),
      |rk AS (SELECT qid, idx, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, idx) AS r FROM sc)
      |SELECT qid, list(CAST(idx AS BIGINT) ORDER BY r) AS "index.idx", list(round(score,4) ORDER BY r) AS "index.score"
      |FROM rk WHERE r <= $k GROUP BY qid ORDER BY qid""".stripMargin.replace("\n", " "),
    "qid" -> "", "index.idx" -> "i", "index.score" -> "d")

  /** Pinned public-style merge table for the bp_bpe_encode gate: covers a
    * chained merge (ta + b reads the output of t + a) and an a==b merge
    * (g,g — the greedy-pass run-parity case, "agg" -> [gg, a... ]).
    */
  val bpePinnedMerges: Seq[(String, String)] =
    Seq(("t", "a"), ("ta", "b"), ("t", "h"), ("g", "g"))

  /** DuckDB replay of [[graft.text.BpeEncodePipe]] with a FIXED merge
    * table — an INDEPENDENT algorithm: where Spark encodes each word as a
    * nested aggregate fold, the oracle runs each merge as one
    * window-function pass (gaps-and-islands over match positions, parity
    * selection within an island = the left-to-right greedy, consumed-row
    * deletion). Positions keep their original char offsets, so ordering
    * survives every pass.
    */
  def bpeOracleSql(merges: Seq[(String, String)]): String = {
    val passes = merges.zipWithIndex.map { case ((a, b), k0) =>
      val k = k0 + 1
      val prev = s"t${k - 1}"
      s"""p$k AS (SELECT doc_id, wi, pos, s, lead(s) OVER (PARTITION BY doc_id, wi ORDER BY pos) AS nxt FROM $prev),
         |m$k AS (SELECT doc_id, wi, pos, s, (s = '$a' AND nxt IS NOT DISTINCT FROM '$b') AS mt FROM p$k),
         |i$k AS (SELECT doc_id, wi, pos, s, mt, CASE WHEN mt THEN pos - row_number() OVER (PARTITION BY doc_id, wi, mt ORDER BY pos) END AS isl FROM m$k),
         |s$k AS (SELECT doc_id, wi, pos, s, (mt AND ((row_number() OVER (PARTITION BY doc_id, wi, isl ORDER BY pos) - 1) % 2 = 0)) AS sel FROM i$k),
         |c$k AS (SELECT doc_id, wi, pos, s, sel, coalesce(lag(sel) OVER (PARTITION BY doc_id, wi ORDER BY pos), false) AS consumed FROM s$k),
         |t$k AS (SELECT doc_id, wi, pos, CASE WHEN sel THEN '$a$b' ELSE s END AS s FROM c$k WHERE NOT consumed)"""
        .stripMargin
    }.mkString(",\n")
    val n = merges.size
    s"""WITH w0 AS (SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\\s+') AS ws FROM documents),
       |wx AS (SELECT doc_id, wj.i AS wi, ws[wj.i+1] AS word FROM w0, LATERAL (SELECT unnest(range(0, len(ws))) AS i) wj WHERE length(ws[wj.i+1]) > 0),
       |t0 AS (SELECT doc_id, wi, cj.i AS pos, substr(word, CAST(cj.i AS INT), 1) AS s FROM wx, LATERAL (SELECT unnest(range(1, length(word)+1)) AS i) cj),
       |$passes,
       |agg AS (SELECT doc_id, list(s ORDER BY wi, pos) AS bpe_tokens, CAST(count(*) AS INT) AS n_bpe_tokens FROM t$n GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.bpe_tokens, CAST([] AS VARCHAR[])) AS bpe_tokens, coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens
       |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"""
      .stripMargin.replace("\n", " ")
  }

  // ----- oracles replayed by more than one gate -----

  /** Exact inverted-index Jaccard pair oracle over the planted-near-dup
    * corpus — shared by dd_minhash_lsh (batch) and ev_stream_neardup
    * (streaming twin, identical pair semantics within one drain).
    */
  val minhashPairOracle: String =
    """WITH planted AS (SELECT doc_id, text FROM documents UNION ALL
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
      |pairs AS (SELECT id_a, id_b,
      |  shared::DOUBLE / (sa.n + sb.n - shared)::DOUBLE AS j
      | FROM cand JOIN szs sa ON sa.doc_id = cand.id_a JOIN szs sb ON sb.doc_id = cand.id_b)
      |SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")

  /** Exact replay of the Efraimidis-Spirakis quadratic-M31 rank key —
    * shared by ws_weighted_sample (batch) and ev_stream_weighted_sample
    * (the streaming reservoir, which must converge to the identical
    * top-120: the key is a pure function of (id, w, seed)).
    */
  val weightedSampleOracle: String =
    """WITH s AS (SELECT doc_id, n_chars, (doc_id*131 + 17) % 2147483647 AS s1
      | FROM documents WHERE n_chars > 0),
      |m AS (SELECT doc_id, n_chars,
      | ln(((s1*s1 + s1) % 2147483647 + 1) / 2147483648.0) / CAST(n_chars AS DOUBLE) AS k FROM s),
      |r AS (SELECT doc_id, n_chars, row_number() OVER (ORDER BY k DESC, doc_id) AS rn FROM m)
      |SELECT doc_id, n_chars FROM r WHERE rn <= 120 ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** Stage-by-stage replay of the FLAGSHIP ingest cascade — shared by
    * pp_ingest_v1 (batch) and ev_stream_ingest (the foreachBatch twin):
    * plantedC4 pages (corpus = doc_id%3≠1; arrivals = re-crawls with an
    * appended tail + the %3==1 pages as genuinely-new) → the pp_crawl_v1
    * cleaner chain → exact inverted-index Jaccard dedup (threshold 0.5,
    * 3-word shingles; drop = cross-pair batch side ∪ within-batch larger
    * id) → byte-features (16 classes, mean/255) → formula linear model →
    * formula coarse tagging (8 centroids) → residual PQ codes (m=4,
    * 16 codes of dsub 4). Every constant mirrors the Scala preset.
    */
  val ingestOracle: String = {
    val planted = "(CASE WHEN doc_id % 11 = 0 THEN 'Lorem ipsum dolor sit amet today.' || chr(10) ELSE '' END) || (CASE WHEN doc_id % 13 = 0 THEN '{ cfg }' || chr(10) ELSE '' END) || replace(replace(text, ' fast ', '.' || chr(10)), ' data ', '?' || chr(10)) || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Enable javascript to proceed now please.' ELSE '' END)"
    val cent = "(((%s*29 + t*13) %% 17) - 8) * 0.05"
    val inner =
      s"""WITH pl AS (SELECT doc_id, $planted AS text FROM documents),
        |raw AS (
        | SELECT doc_id, 0 AS grp, text FROM pl WHERE doc_id % 3 <> 1
        | UNION ALL SELECT doc_id + 500000, 1, text || chr(10) || 'Extra tail sentence appended here okay.' FROM pl WHERE doc_id % 3 = 0
        | UNION ALL SELECT doc_id + 600000, 1, text FROM pl WHERE doc_id % 3 = 1),
        |i0 AS (SELECT doc_id, grp, text, string_split(text, chr(10)) AS lines0 FROM raw),
        |i1 AS (SELECT doc_id, grp, list_filter(lines0, (l, i) -> list_position(lines0, l) = i) AS lines1 FROM i0),
        |i2 AS (SELECT doc_id, grp, coalesce(array_to_string(lines1, chr(10)), '') AS text FROM i1),
        |k AS (SELECT doc_id, grp, text,
        | list_filter(string_split(text, chr(10)), l -> regexp_matches(rtrim(l, ' ' || chr(9)), '[.!?"”]$$') AND length(trim(rtrim(l, ' ' || chr(9)))) > 0 AND len(regexp_split_to_array(trim(rtrim(l, ' ' || chr(9))), '\\s+')) >= 5 AND NOT contains(lower(rtrim(l, ' ' || chr(9))), 'javascript')) AS kept
        | FROM i2),
        |f AS (SELECT doc_id, grp, coalesce(array_to_string(kept, chr(10)), '') AS clean,
        | CAST(len(regexp_extract_all(coalesce(array_to_string(kept, chr(10)), ''), '[.!?]+')) AS BIGINT) AS n_sentences,
        | contains(lower(text), 'lorem ipsum') AS fl, contains(text, '{') AS fb
        | FROM k),
        |g AS (SELECT doc_id, grp, clean FROM f WHERE n_sentences >= 3 AND NOT fl AND NOT fb),
        |t AS (SELECT doc_id, grp, clean, regexp_split_to_array(trim(clean), '\\s+') AS toks FROM g),
        |q AS (SELECT doc_id, grp, clean,
        | CAST(len(toks) AS BIGINT) AS n_words,
        | CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        | CAST(len(list_distinct(list_filter(toks, w -> w IN ('the','and','of','to','a','in','is','that','it','for')))) AS BIGINT) AS distinct_stopwords,
        | CAST(len(toks) AS INTEGER) AS ws_tokens
        | FROM t),
        |clean AS (SELECT doc_id, grp, clean AS text, ws_tokens FROM q WHERE alpha_words*5 >= n_words*4 AND distinct_stopwords >= 2),
        |sh AS (SELECT doc_id, grp, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [text] END) AS s
        | FROM (SELECT doc_id, grp, text, string_split_regex(trim(text), '\\s+') AS toks FROM clean)),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |invb AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE grp = 1),
        |invc AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE grp = 0),
        |crossp AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b, count(*) AS inter
        | FROM invb a JOIN invc c USING (g) GROUP BY 1, 2),
        |batp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        | FROM invb a JOIN invb b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |drop0 AS (
        | SELECT crossp.id_a AS doc_id FROM crossp
        |  JOIN sz sa ON sa.doc_id = crossp.id_a JOIN sz sb ON sb.doc_id = crossp.id_b
        |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
        | UNION SELECT batp.id_b FROM batp
        |  JOIN sz sa ON sa.doc_id = batp.id_a JOIN sz sb ON sb.doc_id = batp.id_b
        |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
        |keep AS (SELECT doc_id, text, ws_tokens FROM clean
        | WHERE grp = 0 OR doc_id NOT IN (SELECT doc_id FROM drop0)),
        |feats AS (SELECT doc_id, text, ws_tokens,
        | list_transform(range(0,16), j -> list_avg(list_transform(range(j+1, length(text)+1, 16), i -> unicode(text[i]))) / 255) AS f
        | FROM keep),
        |emb AS (SELECT doc_id, text, ws_tokens,
        | list_transform(range(0,16), o -> list_sum(list_transform(range(0,16), i -> ((((o*7 + i*3) % 5) - 2) * 0.25) * f[i+1])) + o * 0.125) AS v
        | FROM feats),
        |cd AS (SELECT doc_id, text, ws_tokens, v, list_position(
        |  list_transform(range(0,8), c -> list_sum(list_transform(range(0,16), t -> (v[t+1] - ${cent.format("c")}) * (v[t+1] - ${cent.format("c")})))),
        |  list_min(list_transform(range(0,8), c -> list_sum(list_transform(range(0,16), t -> (v[t+1] - ${cent.format("c")}) * (v[t+1] - ${cent.format("c")})))))) - 1 AS cid
        | FROM emb),
        |res AS (SELECT doc_id, text, ws_tokens, v, cid,
        | list_transform(range(0,16), t -> v[t+1] - ${cent.format("cid")}) AS rv FROM cd),
        |cds AS (SELECT doc_id, text, ws_tokens, v, cid, list_transform(range(0,4), j ->
        |  list_position(
        |   list_transform(range(0,16), c -> list_sum(list_transform(list_transform(range(0,4), t ->
        |     rv[j*4+t+1] - ((((c*31 + t*7 + j*13) % 10) * 0.1) - 0.4)), dd -> dd*dd))),
        |   list_min(list_transform(range(0,16), c -> list_sum(list_transform(list_transform(range(0,4), t ->
        |     rv[j*4+t+1] - ((((c*31 + t*7 + j*13) % 10) * 0.1) - 0.4)), dd -> dd*dd))))) - 1) AS codes
        | FROM res)
        |SELECT doc_id, text, ws_tokens, list_transform(v, x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS vector,
        | CAST(cid AS INT) AS cid, codes
        |FROM cds ORDER BY doc_id""".stripMargin.replace("\n", " ")
    scl(inner, "doc_id" -> "", "text" -> "", "ws_tokens" -> "",
      "vector" -> "i", "cid" -> "", "codes" -> "i")
  }

  /** Exact n-gram contamination oracle — shared by cu_decontaminate
    * (batch) and ev_stream_decontam (stateless streaming twin).
    */
  val decontaminateOracle: String =
    """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |ng AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 4 THEN list_transform(range(1, len(t)-2), i -> array_to_string(t[i:i+3], ' ')) ELSE [] END) AS g FROM tok),
      |ev AS (SELECT DISTINCT g FROM ng WHERE doc_id < 30),
      |hit AS (SELECT DISTINCT ng.doc_id FROM ng JOIN ev USING (g))
      |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
      |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id ORDER BY d.doc_id""".stripMargin.replace("\n", " ")

  /** Exact replay of the overlap-FRACTION protocol — shared by
    * cu_overlap_frac (batch) and ev_stream_overlap_frac (the stateless
    * streaming twin): the planted partial contamination (eval tokens
    * appended to doc_id % 7 == 3), distinct 8-grams, the per-doc matched
    * count against the eval gram set, and the integer bp/threshold
    * arithmetic — all replayed value-for-value.
    */
  val overlapFracOracle: String =
    """WITH ev0 AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
      |pl AS (SELECT d.doc_id, CASE WHEN d.doc_id % 7 = 3
      |  THEN d.text || ' ' || array_to_string((string_split_regex(trim(e.text), '\s+'))[1:40], ' ')
      |  ELSE d.text END AS text
      | FROM documents d JOIN ev0 e ON e.doc_id = d.doc_id % 30),
      |tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM pl),
      |gr AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 8 THEN list_transform(range(1, len(t)-6), i -> array_to_string(t[i:i+7], ' ')) ELSE [] END) AS gs FROM tok),
      |evt AS (SELECT string_split_regex(trim(text), '\s+') AS t FROM ev0),
      |evg AS (SELECT DISTINCT unnest(CASE WHEN len(t) >= 8 THEN list_transform(range(1, len(t)-6), i -> array_to_string(t[i:i+7], ' ')) ELSE [] END) AS g FROM evt),
      |m AS (SELECT x.doc_id, count(*) AS mc FROM (SELECT doc_id, unnest(gs) AS g FROM gr) x JOIN evg USING (g) GROUP BY 1),
      |f AS (SELECT gr.doc_id, coalesce(mc, 0) AS matched, len(gs) AS total FROM gr LEFT JOIN m ON gr.doc_id = m.doc_id)
      |SELECT doc_id, CAST(matched AS INT) AS matched_ngrams, CAST(total AS INT) AS total_ngrams,
      | CAST(CASE WHEN total > 0 THEN (matched*10000) // total ELSE 0 END AS INT) AS overlap_bp,
      | (total > 0 AND matched*10000 >= 2000*total) AS contaminated
      |FROM f ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** Bit-exact replay of [[graft.llm.BloomDecontaminatePipe]] (n=4,
    * m=2^20, k=4): the dual-fold [[graft.llm.BloomOps.gramHash]] per
    * distinct n-gram, the k affine bit positions (coefficients
    * interpolated from the SAME [[graft.llm.BloomOps.bloomCoeffs]] the
    * pipe uses), the bit set = positions of eval grams, and a gram
    * probes true iff ALL k of its positions are set — false positives
    * from position collisions replay identically.
    */
  val bloomDecontamOracle: String = {
    val coefVals = graft.llm.BloomOps.bloomCoeffs(4).zipWithIndex
      .map { case ((a, b), j) => s"($j, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")
    s"""WITH tok AS (SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\\s+') AS t FROM documents),
      |th AS (SELECT doc_id, len(t) AS n,
      |  list_transform(t, w -> list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(range(1, length(w)+1), i -> CAST(unicode(w[i]) AS BIGINT))), (h,c) -> (h*31+c) % 1000003)) AS a,
      |  list_transform(t, w -> list_reduce(list_prepend(CAST(11 AS BIGINT), list_transform(range(1, length(w)+1), i -> CAST(unicode(w[i]) AS BIGINT))), (h,c) -> (h*131+c) % 1000000007)) AS b
      | FROM tok),
      |ng AS (SELECT doc_id, unnest(CASE WHEN n >= 4 THEN list_transform(range(0, n-3), i ->
      |  list_reduce(list_prepend(CAST(7 AS BIGINT), a[i+1:i+4]), (h,x) -> (h*31+x) % 1000003) * 1000000007
      |  + list_reduce(list_prepend(CAST(11 AS BIGINT), b[i+1:i+4]), (h,x) -> (h*131+x) % 1000000007)) ELSE [] END) AS g FROM th),
      |hs AS (SELECT DISTINCT g, g % 2147483647 AS hp FROM ng),
      |coef AS (SELECT * FROM (VALUES $coefVals) AS c(j, a, b)),
      |pos AS (SELECT g, j, ((hp*a + b) % 2147483647) % 1048576 AS p FROM hs CROSS JOIN coef),
      |bits AS (SELECT DISTINCT p FROM pos WHERE g IN (SELECT DISTINCT g FROM ng WHERE doc_id < 30)),
      |pg AS (SELECT g FROM pos JOIN bits USING (p) GROUP BY g HAVING count(DISTINCT j) = 4),
      |hit AS (SELECT DISTINCT ng.doc_id FROM ng JOIN pg USING (g))
      |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
      |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id ORDER BY d.doc_id""".stripMargin.replace("\n", " ")
  }

  /** Cell-scoped cross-corpus cosine oracle, shared by the batch
    * (cu_semdedup_contam) and streaming (ev_stream_semdedup) twins: the
    * same planted mutants, formula-centroid assignment of both sides,
    * cell equi-join, and τ=0.9 cosine — exhaustive and exact.
    */
  val semDeDupContamOracle: String =
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings WHERE vec_id < 200),
      |arr AS (SELECT vec_id+10000 AS vec_id, list_transform(range(0,64), i -> vec[i+1] + ((i%5)-2)*0.01) AS vec FROM emb WHERE vec_id < 40),
      |aa AS (SELECT vec_id, vec, list_transform(range(0,16), c ->
      |  list_sum(list_transform(range(0,64), t -> (vec[t+1] - (((c*31 + t*7) % 10)*0.1 - 0.4)) * (vec[t+1] - (((c*31 + t*7) % 10)*0.1 - 0.4))))) AS ds FROM arr),
      |al AS (SELECT vec_id, vec, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell FROM aa),
      |ca AS (SELECT vec_id, vec, list_transform(range(0,16), c ->
      |  list_sum(list_transform(range(0,64), t -> (vec[t+1] - (((c*31 + t*7) % 10)*0.1 - 0.4)) * (vec[t+1] - (((c*31 + t*7) % 10)*0.1 - 0.4))))) AS ds FROM emb),
      |cl AS (SELECT vec_id, vec, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell FROM ca)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      | round(list_dot_product(a.vec, b.vec) / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))), 4) AS cosine
      |FROM al a JOIN cl b ON a.cell = b.cell
      |WHERE list_dot_product(a.vec, b.vec) / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")

  // gates: c3_update_overlay, l4_apply_each
  val quantityX2Oracle: String =
    "SELECT l_orderkey, l_linenumber, l_quantity*2 AS l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber"

  // gates: bp_bpe_encode, bp_bpe_encode_sql
  val bpeOracle: String =
    scl(bpeOracleSql(bpePinnedMerges),
        "doc_id" -> "", "bpe_tokens" -> "s", "n_bpe_tokens" -> "")

  // gates: s2_dense_bruteforce, s1_ivf_dense, s8_index_cascade, ev_stream_dense_search
  val denseTopkOracle: String =
    scl("""WITH qs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
        |sc AS (SELECT qs.qid, e.vec_id AS idx, list_dot_product(qs.qv, CAST(e.embedding AS DOUBLE[])) AS score FROM qs CROSS JOIN embeddings e),
        |rk AS (SELECT qid, idx, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, idx) AS r FROM sc)
        |SELECT qid, list(CAST(idx AS BIGINT) ORDER BY r) AS "index.idx", list(round(score,4) ORDER BY r) AS "index.score" FROM rk WHERE r <= 10 GROUP BY qid ORDER BY qid""".stripMargin.replace("\n", " "),
        "qid" -> "", "index.idx" -> "i", "index.score" -> "d")

  // gates: s3_bm25, s21_bm25_incremental, ev_stream_bm25_search
  val bm25Oracle: String =
    scl("""WITH c AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        |dl AS (SELECT doc_id, len(toks) AS len FROM c),
        |post AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(toks) AS term FROM c) GROUP BY 1,2),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM post GROUP BY 1),
        |tot AS (SELECT count(*) AS n, avg(len) AS avgdl FROM dl),
        |q AS (SELECT doc_id AS qid, toks[1:5] AS qtoks FROM c WHERE doc_id < 20),
        |qt AS (SELECT qid, unnest(qtoks) AS term FROM q),
        |sc AS (SELECT qt.qid, post.doc_id AS idx,
        |  sum( ln(1 + (tot.n - dfq.df + 0.5)/(dfq.df + 0.5)) * (post.tf*2.2)/(post.tf + 1.2*(0.25 + 0.75*dl.len/tot.avgdl)) ) AS score
        |  FROM qt JOIN post USING(term) JOIN dfq USING(term) JOIN dl ON post.doc_id = dl.doc_id CROSS JOIN tot GROUP BY 1,2),
        |rk AS (SELECT qid, idx, score, row_number() OVER (PARTITION BY qid ORDER BY round(score,4) DESC, idx) AS r FROM sc),
        |g AS (SELECT qid, list(CAST(idx AS BIGINT) ORDER BY r) AS li, list(round(score,4) ORDER BY r) AS ls FROM rk WHERE r <= 10 GROUP BY qid)
        |SELECT qid, li || list_transform(range(10 - len(li)), x -> CAST(-1 AS BIGINT)) AS "index.idx",
        | ls || list_transform(range(10 - len(ls)), x -> CAST('-infinity' AS DOUBLE)) AS "index.score"
        |FROM g ORDER BY qid""".stripMargin.replace("\n", " "),
        "qid" -> "", "index.idx" -> "i", "index.score" -> "d")

  // gates: m1_predict, m2_predict_cached
  val linearPredictOracle: String =
    scl("""SELECT vec_id, [round(list_sum(CAST(embedding AS DOUBLE[])), 4), round(list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * (i-1))) + 0.5, 4)] AS vector FROM embeddings ORDER BY vec_id""",
        "vec_id" -> "", "vector" -> "d")

  // gates: m4_mlp_batched, m5_mlp_from_file
  // both GEMM layers replayed from the weight formula (k-ascending
  // sums; ReLU = greatest; fixed-point e4 output, no round())
  val mlpOracle: String =
    scl("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
        |h AS (SELECT vec_id, list_transform(range(0,32), j -> greatest(list_sum(list_transform(range(0,64), k -> x[k+1] * ((((k*7 + j*11) % 9) - 4) * 0.125))) + (j % 5) * 0.0625, 0)) AS h FROM v),
        |y AS (SELECT vec_id, list_transform(range(0,16), j -> list_sum(list_transform(range(0,32), k -> h[k+1] * ((((k*13 + j*5) % 9) - 4) * 0.125))) + (j % 7) * 0.0625) AS y FROM h)
        |SELECT vec_id, list_transform(y, e -> CAST(floor(e * 10000 + 0.5) AS BIGINT)) AS vector FROM y ORDER BY vec_id""".stripMargin.replace("\n", " "),
        "vec_id" -> "", "vector" -> "i")

  // gates: ta_langid, ta_langid_sql
  val langidOracle: String =
    """WITH s AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        |sc AS (SELECT doc_id,
        | len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that','it','for'))) AS s_en,
        | len(list_filter(toks, t -> t IN ('der','die','das','und','ist','von','mit','ein','zu','den'))) AS s_de,
        | len(list_filter(toks, t -> t IN ('el','la','los','y','de','un','es','en','que','por'))) AS s_es,
        | len(list_filter(toks, t -> t IN ('le','la','les','et','de','un','est','en','que','pour'))) AS s_fr,
        | len(list_filter(toks, t -> t IN ('de','shi','le','zai','he','you','wo','ta','men','bu'))) AS s_zh
        | FROM s)
        |SELECT doc_id, CASE
        | WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'und'
        | WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'en'
        | WHEN s_de = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'de'
        | WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'es'
        | WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'fr'
        | ELSE 'zh' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin.replace("\n", " ")

  // gates: ta_fingerprint, ta_fingerprint_sql
  val fingerprintOracle: String =
    """WITH s AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents)
        |SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        | list_transform(toks, t -> list_reduce(list_prepend(CAST(7 AS BIGINT),
        |   list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i]) AS BIGINT))),
        |   (h, c) -> (h*31 + c) % 1000003))),
        | (h, t) -> (h*131 + t) % 1000000007) AS fingerprint
        |FROM s ORDER BY doc_id""".stripMargin.replace("\n", " ")

  // gates: ta_normalize, ta_normalize_sql
  val normalizeOracle: String =
    """SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(lower(coalesce(text, '')), '[0-9]', '0', 'g'), '[[:punct:]]', '', 'g'), '\s+', ' ', 'g')) AS text_norm
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")

  // gates: tx_html_extract, tx_html_extract_sql
  // the identical RE2 pattern chain over the identically planted markup
  val htmlExtractOracle: String =
    """WITH h AS (SELECT doc_id,
        | '<html><head><title>T</title><style>p { color: red; }</style></head><body><!-- drop me --><h1>H &amp;lt; X</h1><p class="a">'
        | || text ||
        | ' &quot;q&#39;s&quot; &lt;tag&gt;&nbsp;end</p><script type="text/javascript">var x = "<p>not text</p>";</script></body></html>' AS html
        | FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(html, '(?s)<(?:script|style)\b[^>]*>.*?</(?:script|style)\s*>', ' ', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        | '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'), '&#39;', CHR(39), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS t FROM s3)
        |SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS text_extracted
        |FROM s4 ORDER BY doc_id""".stripMargin.replace("\n", " ")

  // gates: ev_window_agg, ev_stream_window
  val windowAggOracle: String =
    "SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS ws, event_type, count(*) AS cnt, round(sum(value),4) AS sv FROM events GROUP BY 1,2 ORDER BY ws, event_type"

  // gates: s10_pq_adc, s11_ivfpq_exact, s13_faiss_factory
  // exact PQ ADC replay: formula codebook book(j,c,t) =
  // ((c*31+t*7+j*13) mod 10)*0.1 - 0.4; codes = argmin squared-L2 with
  // first-occurrence tie-break; score = sum_j dot(q_sub_j, book[j][code_j])
  val pqAdcOracle: String =
    scl("""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |codes AS (SELECT vec_id, v, list_transform(range(0,8), j ->
        |  list_position(
        |    list_transform(range(0,16), c -> list_sum(list_transform(list_transform(range(0,8), t ->
        |      v[j*8+t+1] - (((c*31 + t*7 + j*13) % 10) * 0.1 - 0.4)), dd -> dd*dd))),
        |    list_min(list_transform(range(0,16), c -> list_sum(list_transform(list_transform(range(0,8), t ->
        |      v[j*8+t+1] - (((c*31 + t*7 + j*13) % 10) * 0.1 - 0.4)), dd -> dd*dd))))) - 1) AS cs
        | FROM emb),
        |qs AS (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id < 10),
        |sc AS (SELECT qs.qid, codes.vec_id AS idx,
        |  list_sum(list_transform(range(0,8), j -> list_sum(list_transform(range(0,8), t ->
        |    qs.qv[j*8+t+1] * (((cs[j+1]*31 + t*7 + j*13) % 10) * 0.1 - 0.4))))) AS score
        | FROM qs CROSS JOIN codes),
        |rk AS (SELECT qid, idx, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, idx) AS r FROM sc)
        |SELECT qid, list(CAST(idx AS BIGINT) ORDER BY r) AS "index.idx", list(round(score,4) ORDER BY r) AS "index.score"
        |FROM rk WHERE r <= 10 GROUP BY qid ORDER BY qid""".stripMargin.replace("\n", " "),
        "qid" -> "", "index.idx" -> "i", "index.score" -> "d")

  // gates: s12_ivfpq_residual, s26_ivfpq_add
  val residualIvfpqOracle: String =
    scl("""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cd AS (SELECT vec_id, v, list_position(
        |  list_transform(range(0,8), c -> list_sum(list_transform(range(0,64), t ->
        |    (v[t+1] - (((c*29 + t*13) % 17) - 8) * 0.05) * (v[t+1] - (((c*29 + t*13) % 17) - 8) * 0.05)))),
        |  list_min(list_transform(range(0,8), c -> list_sum(list_transform(range(0,64), t ->
        |    (v[t+1] - (((c*29 + t*13) % 17) - 8) * 0.05) * (v[t+1] - (((c*29 + t*13) % 17) - 8) * 0.05)))))) - 1 AS cid
        | FROM emb),
        |res AS (SELECT vec_id, cid, list_transform(range(0,64), t -> v[t+1] - (((cid*29 + t*13) % 17) - 8) * 0.05) AS rv FROM cd),
        |codes AS (SELECT vec_id, cid, list_transform(range(0,8), j ->
        |  list_position(
        |    list_transform(range(0,16), c -> list_sum(list_transform(list_transform(range(0,8), t ->
        |      rv[j*8+t+1] - (((c*31 + t*7 + j*13) % 10) * 0.1 - 0.4)), dd -> dd*dd))),
        |    list_min(list_transform(range(0,16), c -> list_sum(list_transform(list_transform(range(0,8), t ->
        |      rv[j*8+t+1] - (((c*31 + t*7 + j*13) % 10) * 0.1 - 0.4)), dd -> dd*dd))))) - 1) AS cs
        | FROM res),
        |qs AS (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id < 10),
        |sc AS (SELECT qs.qid, codes.vec_id AS idx,
        |  list_sum(list_transform(range(0,64), t -> qs.qv[t+1] * ((((codes.cid*29 + t*13) % 17) - 8) * 0.05)))
        |  + list_sum(list_transform(range(0,8), j -> list_sum(list_transform(range(0,8), t ->
        |      qs.qv[j*8+t+1] * (((cs[j+1]*31 + t*7 + j*13) % 10) * 0.1 - 0.4))))) AS score
        | FROM qs CROSS JOIN codes),
        |rk AS (SELECT qid, idx, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, idx) AS r FROM sc)
        |SELECT qid, list(CAST(idx AS BIGINT) ORDER BY r) AS "index.idx", list(round(score,4) ORDER BY r) AS "index.score"
        |FROM rk WHERE r <= 10 GROUP BY qid ORDER BY qid""".stripMargin.replace("\n", " "),
        "qid" -> "", "index.idx" -> "i", "index.score" -> "d")

  // gates: s17_lsh_dense, s32_lsh_add
  // LSH retrieval: replay the SRP signature formula (shared with
  // dd_srp_cosine), 6 bands of 8 bits, candidates = shared-bucket rows,
  // exact dot, top-10 with idx tie-break — no padding (the gate drops it)
  val lshDenseOracle: String =
    scl("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
        |sig AS (SELECT vec_id,
        | list_sum(list_transform(range(0,48), b ->
        |  CASE WHEN list_sum(list_transform(range(1, length(ev)+1), t ->
        |    ev[t] * ((((b*37 + (t-1)*11) % 21) - 10) / 10.0))) > 0
        |  THEN CAST(2**b AS BIGINT) ELSE 0 END)) AS sg FROM v),
        |bnd AS (SELECT vec_id, z.b AS b,
        |  (CAST(sg AS BIGINT) // (1::BIGINT << CAST(z.b*8 AS INT))) % 256 AS bv
        | FROM sig, LATERAL (SELECT unnest(range(0, 6)) AS b) z),
        |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS idx
        | FROM bnd q JOIN bnd c ON q.b = c.b AND q.bv = c.bv WHERE q.vec_id < 10),
        |sc AS (SELECT cand.qid, cand.idx, list_dot_product(a.ev, b.ev) AS score
        | FROM cand JOIN v a ON a.vec_id = cand.qid JOIN v b ON b.vec_id = cand.idx),
        |rk AS (SELECT qid, idx, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, idx) AS r FROM sc)
        |SELECT qid, list(CAST(idx AS BIGINT) ORDER BY r) AS "index.idx", list(round(score,4) ORDER BY r) AS "index.score"
        |FROM rk WHERE r <= 10 GROUP BY qid ORDER BY qid""".stripMargin.replace("\n", " "),
        "qid" -> "", "index.idx" -> "i", "index.score" -> "d")

  // gates: s22_jaccard_search, s33_jaccard_add
  val jaccardSearchOracle: String =
    scl("""WITH c AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [text] END) AS s FROM c),
        |szs AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |q0 AS (SELECT doc_id AS qid, array_to_string(toks[1:8], ' ') AS qtext FROM c WHERE doc_id < 20),
        |qt AS (SELECT qid, qtext, string_split(trim(qtext), ' ') AS toks FROM q0),
        |qsh AS (SELECT qid, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
        |  ELSE [qtext] END) AS s FROM qt),
        |qsz AS (SELECT qid, len(s) AS qn FROM qsh),
        |qinv AS (SELECT qid, unnest(s) AS g FROM qsh),
        |shr AS (SELECT qid, inv.doc_id AS idx, count(*) AS shd FROM qinv JOIN inv USING (g) GROUP BY 1, 2),
        |sc AS (SELECT shr.qid, shr.idx, round(shd::DOUBLE / (qsz.qn + szs.n - shd)::DOUBLE, 4) AS score
        | FROM shr JOIN qsz USING (qid) JOIN szs ON szs.doc_id = shr.idx),
        |rk AS (SELECT qid, idx, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, idx) AS r FROM sc),
        |g AS (SELECT qid, list(CAST(idx AS BIGINT) ORDER BY r) AS li, list(score ORDER BY r) AS ls FROM rk WHERE r <= 10 GROUP BY qid)
        |SELECT qid, li || list_transform(range(10 - len(li)), x -> CAST(-1 AS BIGINT)) AS "index.idx",
        | ls || list_transform(range(10 - len(ls)), x -> CAST('-infinity' AS DOUBLE)) AS "index.score"
        |FROM g ORDER BY qid""".stripMargin.replace("\n", " "),
        "qid" -> "", "index.idx" -> "i", "index.score" -> "d")

  // gates: zo_zorder, zo_zvalue_sql
  val zvalueOracle: String =
    """SELECT o_orderkey, CAST(list_sum(list_transform(range(8), j ->
        |  (((o_custkey % 256) >> j) & 1) * (CAST(1 AS BIGINT) << (2*j)) +
        |  (((o_orderkey % 256) >> j) & 1) * (CAST(1 AS BIGINT) << (2*j+1)))) AS BIGINT) AS zval
        |FROM orders ORDER BY zval, o_orderkey""".stripMargin.replace("\n", " ")

  // gates: mg_upsert_stream, mg_upsert_partitioned
  // two sequential MERGEs = the two streamed micro-batches of
  // mg_upsert_stream; b1 deletes half of b0's inserts and updates the
  // other half, so the CTE order is load-bearing
  val upsertStreamOracle: String =
    """WITH base AS (SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM orders),
        |b0 AS (
        | SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 10.0 AS o_totalprice, false AS del
        |   FROM base WHERE o_orderkey%7=3 AND o_orderkey%13<>5
        | UNION ALL SELECT o_orderkey+100000000, o_custkey, 'N', o_totalprice, false FROM base WHERE o_orderkey%11=2),
        |m1 AS (SELECT b.* FROM base b WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM b0)
        | UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM b0 WHERE NOT del),
        |b1 AS (
        | SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, true AS del FROM base WHERE o_orderkey%13=5
        | UNION ALL SELECT o_orderkey+100000000, o_custkey, o_orderstatus, o_totalprice, true FROM base WHERE o_orderkey%11=2 AND o_orderkey%2=0
        | UNION ALL SELECT o_orderkey+100000000, o_custkey, 'X', o_totalprice + 5.0, false FROM base WHERE o_orderkey%11=2 AND o_orderkey%2=1),
        |m2 AS (SELECT m.* FROM m1 m WHERE m.o_orderkey NOT IN (SELECT o_orderkey FROM b1)
        | UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM b1 WHERE NOT del)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM m2
        |ORDER BY o_orderkey""".stripMargin.replace("\n", " ")

  // gates: mg_version_diff, mg_version_diff_partitioned
  // the classified endpoint diff of the same merge replay
  val versionDiffOracle: String =
    """WITH base AS (SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM orders),
        |b0 AS (
        | SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 10.0 AS o_totalprice, false AS del
        |   FROM base WHERE o_orderkey%7=3 AND o_orderkey%13<>5
        | UNION ALL SELECT o_orderkey+100000000, o_custkey, 'N', o_totalprice, false FROM base WHERE o_orderkey%11=2),
        |m1 AS (SELECT b.* FROM base b WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM b0)
        | UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM b0 WHERE NOT del),
        |b1 AS (
        | SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, true AS del FROM base WHERE o_orderkey%13=5
        | UNION ALL SELECT o_orderkey+100000000, o_custkey, o_orderstatus, o_totalprice, true FROM base WHERE o_orderkey%11=2 AND o_orderkey%2=0
        | UNION ALL SELECT o_orderkey+100000000, o_custkey, 'X', o_totalprice + 5.0, false FROM base WHERE o_orderkey%11=2 AND o_orderkey%2=1),
        |m2 AS (SELECT m.* FROM m1 m WHERE m.o_orderkey NOT IN (SELECT o_orderkey FROM b1)
        | UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM b1 WHERE NOT del)
        |SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        | CASE WHEN a.o_orderkey IS NULL THEN 'insert' WHEN b.o_orderkey IS NULL THEN 'delete' ELSE 'update' END AS change,
        | a.o_orderstatus AS o_orderstatus_before, b.o_orderstatus AS o_orderstatus_after,
        | a.o_totalprice AS o_totalprice_before, b.o_totalprice AS o_totalprice_after
        |FROM base a FULL OUTER JOIN m2 b ON a.o_orderkey = b.o_orderkey
        |WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
        | OR a.o_custkey IS DISTINCT FROM b.o_custkey
        | OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
        | OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
        |ORDER BY o_orderkey""".stripMargin.replace("\n", " ")

  // gates: hh_heavy_ngrams, ev_stream_heavy_ngrams
  // the sketch prunes, the exact count decides: plain GROUP BY HAVING
  val heavyNgramsOracle: String =
    """WITH tok AS (SELECT string_split_regex(trim(text), '\s+') AS t FROM documents),
        |ng AS (SELECT unnest(CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' ')) ELSE [] END) AS gram FROM tok)
        |SELECT gram, count(*) AS n_occurrences FROM ng GROUP BY gram
        |HAVING count(*) >= 35 ORDER BY gram""".stripMargin.replace("\n", " ")

  // gates: pp_crawl_v1, ev_stream_crawl
  val crawlOracle: String =
    """WITH s AS (SELECT doc_id,
        | (CASE WHEN doc_id % 11 = 0 THEN 'Lorem ipsum dolor sit amet today.' || chr(10) ELSE '' END) || (CASE WHEN doc_id % 13 = 0 THEN '{ cfg }' || chr(10) ELSE '' END) || replace(replace(text, ' fast ', '.' || chr(10)), ' data ', '?' || chr(10)) || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Enable javascript to proceed now please.' ELSE '' END) AS text
        | FROM documents),
        |i0 AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines0 FROM s),
        |i1 AS (SELECT doc_id, text, len(lines0) AS nl0, list_filter(lines0, (l, i) -> list_position(lines0, l) = i) AS lines1 FROM i0),
        |i2 AS (SELECT doc_id, coalesce(array_to_string(lines1, chr(10)), '') AS text, CAST(nl0 - len(lines1) AS BIGINT) AS n_intra_removed FROM i1),
        |m AS (SELECT doc_id, text, n_intra_removed, string_split(text, chr(10)) AS lines FROM i2),
        |k AS (SELECT doc_id, text, n_intra_removed,
        | list_filter(lines, l -> regexp_matches(rtrim(l, ' ' || chr(9)), '[.!?"”]$') AND length(trim(rtrim(l, ' ' || chr(9)))) > 0 AND len(regexp_split_to_array(trim(rtrim(l, ' ' || chr(9))), '\s+')) >= 5 AND NOT contains(lower(rtrim(l, ' ' || chr(9))), 'javascript')) AS kept
        | FROM m),
        |c AS (SELECT doc_id, text, n_intra_removed, kept, coalesce(array_to_string(kept, chr(10)), '') AS clean FROM k),
        |f AS (SELECT doc_id, n_intra_removed, clean,
        | CAST(len(kept) AS BIGINT) AS kept_lines,
        | CAST(len(regexp_extract_all(clean, '[.!?]+')) AS BIGINT) AS n_sentences,
        | contains(lower(text), 'lorem ipsum') AS fl, contains(text, '{') AS fb
        | FROM c),
        |g AS (SELECT * FROM f WHERE n_sentences >= 3 AND NOT fl AND NOT fb),
        |t AS (SELECT doc_id, n_intra_removed, clean, kept_lines, n_sentences, regexp_split_to_array(trim(clean), '\s+') AS toks FROM g),
        |q AS (SELECT doc_id, n_intra_removed, clean, kept_lines, n_sentences,
        | CAST(len(toks) AS BIGINT) AS n_words,
        | CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        | CAST(len(list_distinct(list_filter(toks, w -> w IN ('the','and','of','to','a','in','is','that','it','for')))) AS BIGINT) AS distinct_stopwords,
        | CAST(len(toks) AS INTEGER) AS ws_tokens
        | FROM t)
        |SELECT doc_id, clean AS text, n_intra_removed, kept_lines, n_sentences, alpha_words, distinct_stopwords, ws_tokens
        |FROM q WHERE alpha_words*5 >= n_words*4 AND distinct_stopwords >= 2 ORDER BY doc_id""".stripMargin.replace("\n", " ")

  // gates: gt_group_topk, gt2_topk_heap
  val groupTopkOracle: String =
    """WITH r AS (SELECT lang, doc_id, n_chars,
        | CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS INT) AS rank
        | FROM documents)
        |SELECT lang, doc_id, n_chars, rank FROM r WHERE rank <= 3
        |ORDER BY lang, rank""".stripMargin.replace("\n", " ")

  // gates: mx_domain_mixture, ev_stream_domain_mixture
  // domain-mixture with bounded repetition: the full quota plan
  // (integer needed/cap/fe/rem, HUGEINT threshold) + the quadratic-M31
  // per-(id, epoch) draw replayed relationally
  val domainMixtureOracle: String =
    """WITH tot AS (SELECT count(*) AS n FROM documents),
        |w AS (SELECT 'src' || CAST(i AS VARCHAR) AS dom, CASE WHEN i = 19 THEN 200 WHEN i % 4 = 0 THEN 1 WHEN i % 4 = 1 THEN 11 WHEN i % 4 = 2 THEN 21 ELSE 60 END AS wt FROM (SELECT unnest(generate_series(0, 19)) AS i)),
        |cnt AS (SELECT source AS dom, count(*) AS n FROM documents GROUP BY 1),
        |pl AS (SELECT c.dom, c.n, ((SELECT n FROM tot) * wt) // (SELECT sum(wt) FROM w) AS needed FROM cnt c JOIN w ON c.dom = w.dom),
        |p2 AS (SELECT dom, n, least(needed, n * 3) AS capped FROM pl WHERE least(needed, n * 3) > 0),
        |p3 AS (SELECT dom, n, capped // n AS fe, capped % n AS rem FROM p2),
        |p4 AS (SELECT dom, fe, CAST((CAST(rem AS HUGEINT) * 2147483647) // n AS BIGINT) AS thr FROM p3),
        |eps AS (SELECT CAST(unnest(generate_series(1, 4)) AS INTEGER) AS epoch),
        |ex AS (SELECT d.doc_id, d.source, e.epoch, p.fe, p.thr FROM documents d JOIN p4 p ON d.source = p.dom CROSS JOIN eps e WHERE e.epoch <= p.fe + 1),
        |sl AS (SELECT doc_id, source, epoch, fe, thr, ((s1*s1 + s1) % 2147483647) AS slot FROM (SELECT *, (doc_id*131 + 23 + epoch*7919) % 2147483647 AS s1 FROM ex))
        |SELECT doc_id, source, epoch FROM sl WHERE epoch <= fe OR slot < thr ORDER BY doc_id, epoch""".stripMargin.replace("\n", " ")

  // gates: io_jsonl_roundtrip, io_orc_roundtrip, io_csv_roundtrip, io_compacted_roundtrip
  val documentsOracle: String =
    "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"

  // gates: pp_train_order_v1, io_train_shards
  // stage-by-stage replay of the training-data EPILOGUE chain: the
  // mx_domain_mixture quota plan + per-(id, epoch) draw, then the
  // cr_curriculum rank-slice buckets + quadratic within-phase order
  // over the MIXTURE copies (id = doc_id*8+epoch), then the pk_pack
  // prefix-sum packing and the sh_shard layout over the same order —
  // drift in ANY stage (or in how they compose) hash-fails
  val trainOrderOracle: String =
    """WITH tot AS (SELECT count(*) AS n FROM documents),
        |w AS (SELECT 'src' || CAST(i AS VARCHAR) AS dom, CASE WHEN i = 19 THEN 200 WHEN i % 4 = 0 THEN 1 WHEN i % 4 = 1 THEN 11 WHEN i % 4 = 2 THEN 21 ELSE 60 END AS wt FROM (SELECT unnest(generate_series(0, 19)) AS i)),
        |cnt AS (SELECT source AS dom, count(*) AS n FROM documents GROUP BY 1),
        |pl AS (SELECT c.dom, c.n, ((SELECT n FROM tot) * wt) // (SELECT sum(wt) FROM w) AS needed FROM cnt c JOIN w ON c.dom = w.dom),
        |p2 AS (SELECT dom, n, least(needed, n * 3) AS capped FROM pl WHERE least(needed, n * 3) > 0),
        |p3 AS (SELECT dom, n, capped // n AS fe, capped % n AS rem FROM p2),
        |p4 AS (SELECT dom, fe, CAST((CAST(rem AS HUGEINT) * 2147483647) // n AS BIGINT) AS thr FROM p3),
        |eps AS (SELECT CAST(unnest(generate_series(1, 4)) AS INTEGER) AS epoch),
        |ex AS (SELECT d.doc_id, d.n_chars, e.epoch, p.fe, p.thr FROM documents d JOIN p4 p ON d.source = p.dom CROSS JOIN eps e WHERE e.epoch <= p.fe + 1),
        |mx AS (SELECT doc_id, n_chars, epoch FROM (SELECT *, ((s1*s1 + s1) % 2147483647) AS slot FROM (SELECT *, (doc_id*131 + 23 + epoch*7919) % 2147483647 AS s1 FROM ex)) WHERE epoch <= fe OR slot < thr),
        |m2 AS (SELECT doc_id, n_chars, epoch, doc_id*8 + epoch AS mid FROM mx),
        |nn AS (SELECT count(*) AS n FROM m2),
        |rk AS (SELECT *, row_number() OVER (ORDER BY n_chars NULLS FIRST, mid) - 1 AS r FROM m2),
        |bk AS (SELECT *, (r * 4) // (SELECT n FROM nn) AS bucket FROM rk),
        |s2 AS (SELECT *, ((u1*u1 + u1) % 2147483647) AS slot2 FROM (SELECT *, (mid*131 + 29) % 2147483647 AS u1 FROM bk)),
        |po AS (SELECT *, row_number() OVER (ORDER BY bucket, slot2, mid) - 1 AS cpos FROM s2),
        |pk AS (SELECT *, CAST(coalesce(sum(coalesce(n_chars, 0)) OVER (ORDER BY cpos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev FROM po)
        |SELECT doc_id, epoch, bucket AS curriculum_bucket, cpos AS curriculum_pos,
        | prev // 2048 AS pack_first,
        | CASE WHEN coalesce(n_chars, 0) > 0 THEN (prev + n_chars - 1) // 2048 ELSE prev // 2048 END AS pack_last,
        | prev % 2048 AS pack_pos,
        | cpos // 32 AS shard_id, cpos % 32 AS pos_in_shard
        |FROM pk ORDER BY doc_id, epoch""".stripMargin.replace("\n", " ")
}
