package graft
package gates

import org.apache.spark.sql.functions._

/** Gates for the relational and layout layer: event windows and streams,
  * TPC-H headliners, salting/bucketing, splits, profiling, z-order,
  * upsert/CDC, rolling windows, top-k, range/as-of joins and file
  * interchange round-trips.
  */
private[gates] object RelationalGates {
  import GateSupport._

  val gates: Seq[Gate] = Seq(
    // ----- events / relational headliners -----
    Gate("ev_window_agg", (s, d) => {
      // the shared reader adapts to events.parquet's physical ts encoding
      // (TIMESTAMP(NANOS), bare INT64 epoch-nanos, TIMESTAMP_NTZ micros,
      // or TIMESTAMP) — see EventStream.adaptTs
      graft.streaming.EventStream.readBatch(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sv"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
          col("event_type"), col("cnt"), col("sv"))
        .orderBy("ws", "event_type")
    }, windowAggOracle),
    Gate("ev_stream_window", (s, d) =>
      graft.streaming.EventStream.runWindowedAggStream(s, d)
        .orderBy("ws", "event_type"),
      // same oracle as ev_window_agg — the Spark side runs a real
      // StreamingQuery (file source -> memory sink) instead of the batch plan
      windowAggOracle),
    Gate("ev_stream_dedup", (s, d) =>
      // REAL StreamingQuery: watermarked dropDuplicatesWithinWatermark
      // over the event stream (at-least-once delivery dedup); the fixture
      // spans days, so a 30-day bound keeps every recurrence in state and
      // the batch DISTINCT oracle is exact
      graft.streaming.EventStream.runDedupStream(s, d,
        Seq("user_id", "event_type"), "30 days")
        .orderBy("user_id", "event_type"),
      "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type"),
    Gate("ev_stream_join", (s, d) =>
      // REAL StreamingQuery: watermarked stream-stream interval join —
      // the streaming twin of rj_range, same inequality-join oracle shape
      graft.streaming.EventStream.runStreamStreamJoin(s, d)
        .orderBy("event_id", "err_id"),
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type='click'),
        |w AS (SELECT event_id AS err_id, user_id, epoch_us(ts) AS wstart FROM events WHERE event_type='error')
        |SELECT c.event_id, c.user_id, c.ts_us, w.err_id, w.wstart
        |FROM c JOIN w ON c.user_id = w.user_id AND c.ts_us >= w.wstart AND c.ts_us <= w.wstart + 1800000000
        |ORDER BY c.event_id, w.err_id""".stripMargin.replace("\n", " ")),
    Gate("ev_stream_curate", (s, d) => {
      // the SAME llm-curation pipe (PiiRedact) running unchanged inside a
      // REAL StreamingQuery — the unified batch/stream engine story for
      // the curation family; planted PII is replayed by the oracle
      val streamed = graft.streaming.EventStream.readStream(s, d)
        .withColumn("note", concat(col("props"),
          lit(" reach user"), col("event_id").cast("string"),
          lit("@example.com or 555-"),
          lpad(pmod(col("event_id"), lit(10000)).cast("string"), 4, "0")))
      val out = graft.llm.PiiRedactPipe("note", outputCol = "note_redacted")(
        streamed)
      graft.streaming.EventStream.runToMemorySink(
        out.select("event_id", "n_emails", "n_phones", "n_ips",
          "note_redacted"), "append")
        .orderBy("event_id")
    }, """WITH p AS (SELECT event_id, props || ' reach user' || event_id || '@example.com or 555-' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') AS note FROM events)
        |SELECT event_id,
        | CAST(len(regexp_extract_all(note, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        | CAST(len(regexp_extract_all(note, '\b\d{3}-\d{4}\b')) AS INT) AS n_phones,
        | CAST(len(regexp_extract_all(note, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS INT) AS n_ips,
        | regexp_replace(regexp_replace(regexp_replace(note,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\b\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |  '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS note_redacted
        |FROM p ORDER BY event_id""".stripMargin.replace("\n", " ")),
    Gate("ev_stream_enrich", (s, d) =>
      // REAL StreamingQuery: stateless stream-static broadcast join of
      // the event stream against the customer dimension
      graft.streaming.EventStream.runEnrichStream(s, d)
        .select("event_id", "user_id", "event_type", "value",
          "c_mktsegment", "c_acctbal")
        .orderBy("event_id"),
      """SELECT e.event_id, e.user_id, e.event_type, e.value, c.c_mktsegment, c.c_acctbal
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin.replace("\n", " ")),
    Gate("ev_sessionize", (s, d) =>
      graft.streaming.SessionizePipe(gapSeconds = 1800)(
        graft.streaming.EventStream.readBatch(s, d))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"))
        .orderBy("user_id", "session_idx"),
      """WITH g AS (SELECT user_id, ts,
        |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
        |       OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS ns
        | FROM events),
        |s AS (SELECT user_id, ts,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_idx
        | FROM g)
        |SELECT user_id, session_idx, count(*) AS n_events, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
        |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin.replace("\n", " ")),
    Gate("q1_pricing_summary", (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      "SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty, round(sum(l_extendedprice),2) AS sum_base, round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc, round(avg(l_quantity),4) AS avg_qty, count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    Gate("q3_order_revenue", (s, d) => {
      val o = t(s, d, "orders")
      val l = t(s, d, "lineitem")
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), col("o_orderkey"))
        .limit(100)
    }, "SELECT o_orderkey, o_orderpriority, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_orderkey, o_orderpriority ORDER BY revenue DESC, o_orderkey LIMIT 100"),
    // ----- scale utilities as gate rows (salting, bucketed layout) -----
    Gate("sj_salted_join", (s, d) => {
      // salting shards each key into 8 sub-keys; the VALUES must be
      // row-for-row identical to the plain join (oracle = plain SQL join)
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
      val sup = t(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"), col("s_nationkey"))
      graft.operators.Salting.saltedJoin(li, sup, Seq("l_suppkey"), saltFactor = 8)
        .orderBy("l_orderkey", "l_linenumber")
    },
      // salting/bucketing change PARTITIONING only — the oracles are the
      // plain join / plain GROUP BY the utilities must be indistinguishable
      // from
      "SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity, s_name, s_nationkey FROM lineitem JOIN supplier ON l_suppkey = s_suppkey ORDER BY l_orderkey, l_linenumber"),
    Gate("sj_salted_agg", (s, d) => {
      // two-phase (keys+salt, then keys) decomposable aggregation; long
      // sums keep the oracle exact regardless of merge order
      val li = t(s, d, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast("long").as("qty"),
        col("l_orderkey").as("ok"),
        col("l_linenumber").cast("long").as("ln"))
      graft.operators.Salting.saltedAgg(li, Seq("l_returnflag"),
        Map("qty" -> "sum", "ok" -> "count", "ln" -> "max"), saltFactor = 16)
        .orderBy("l_returnflag")
    }, "SELECT l_returnflag, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, count(l_orderkey) AS ok, max(CAST(l_linenumber AS BIGINT)) AS ln FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    Gate("bj_bucketed_join", (s, d) => {
      // pay-once co-location: both sides written bucketed+sorted on the
      // join key, the later join plans with zero Exchange (plan shape is
      // asserted in ScaleOpsSpec); the gate checks VALUES survive the
      // bucketed round-trip
      val o = t(s, d, "orders").select("o_orderkey", "o_orderpriority")
      val l = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"))
      graft.sources.BucketedTables.write(o, "g_orders_bkt", "o_orderkey", 8)
      graft.sources.BucketedTables.write(l, "g_lineitem_bkt", "o_orderkey", 8)
      graft.sources.BucketedTables
        .colocatedJoin(s, "g_orders_bkt", "g_lineitem_bkt", Seq("o_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(round(sum("l_extendedprice"), 2).as("rev"))
        .orderBy("o_orderkey")
    }, "SELECT o_orderkey, o_orderpriority, round(sum(l_extendedprice),2) AS rev FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_orderkey, o_orderpriority ORDER BY o_orderkey"),
    // ----- data layout / incremental maintenance / profiling -------------
    Gate("sp_split", (s, d) =>
      // deterministic holdout assignment: quadratic-mixer hash of the id,
      // threshold cuts at floor(cumFraction·p) — rerun/cluster/engine-
      // invariant, map-only
      graft.llm.SplitPipe("doc_id")(t(s, d, "documents"))
        .select(col("doc_id"), col("split")).orderBy("doc_id"),
      """WITH h AS (SELECT doc_id, (doc_id*131 + 11) % 1000003 AS s1 FROM documents),
        |s AS (SELECT doc_id, (s1*s1 + s1) % 1000003 AS slot FROM h)
        |SELECT doc_id, CASE WHEN slot < 800002 THEN 'train'
        | WHEN slot < 900002 THEN 'val' ELSE 'test' END AS split
        |FROM s ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("sp_split_leakfree", (s, d) => {
      // leakage-free holdout: near-dup CLUSTERS split atomically — a doc
      // and its near-duplicates can never straddle train/test (the
      // contamination a row-wise split builds in by construction). Split
      // key = cluster id (min member); singletons key on themselves.
      val base = plantedNearDups(s, d)
      val clusters = graft.llm.DedupOps.connectedComponents(
        graft.llm.MinHashLSHDedupPipe("text", "doc_id",
          jaccardThreshold = 0.5,
          cacheDir = Some("/tmp/graft-cache/lsh-planted"))(base))
      val withC = base
        .join(clusters.select(col("id").as("doc_id"), col("cluster")),
          Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      graft.llm.SplitPipe("cluster")(withC)
        .select(col("doc_id"), col("cluster"), col("split"))
        .orderBy("doc_id")
    }, """WITH RECURSIVE planted AS (SELECT doc_id, text FROM documents UNION ALL
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
        | UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |cc AS (SELECT u AS id, min(v) AS cluster FROM reach GROUP BY u),
        |wc AS (SELECT p.doc_id, coalesce(cc.cluster, p.doc_id) AS cluster
        | FROM planted p LEFT JOIN cc ON p.doc_id = cc.id),
        |h AS (SELECT doc_id, cluster, (cluster*131 + 11) % 1000003 AS s1 FROM wc),
        |s AS (SELECT doc_id, cluster, (s1*s1 + s1) % 1000003 AS slot FROM h)
        |SELECT doc_id, cluster, CASE WHEN slot < 800002 THEN 'train'
        | WHEN slot < 900002 THEN 'val' ELSE 'test' END AS split
        |FROM s ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("qa_quantiles", (s, d) =>
      // CorpusStatsPipe in EXACT mode: Spark `percentile`'s linear
      // interpolation replays bit-for-bit as DuckDB quantile_cont
      // (approx=true is the bounded-memory 100 TB default, spec-covered)
      graft.llm.CorpusStatsPipe(Seq("lang"), "len",
        quantiles = Seq(0.5, 0.9, 0.99), approx = false)(
        t(s, d, "documents").withColumn("len", size(split(col("text"), " "))))
        .select(col("lang"), col("n"), col("p50"), col("p90"), col("p99"))
        .orderBy("lang"),
      """SELECT lang, count(*) AS n,
        |round(quantile_cont(len(string_split(text, ' ')), 0.5), 4) AS p50,
        |round(quantile_cont(len(string_split(text, ' ')), 0.9), 4) AS p90,
        |round(quantile_cont(len(string_split(text, ' ')), 0.99), 4) AS p99
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " ")),
    Gate("pr_profile", (s, d) =>
      // one aggregate pass: row/null/exact-distinct/min/max for every
      // profiled column (multiple count-distincts plan ONE scan + Expand)
      graft.pipes.ProfilePipe(
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))(
        t(s, d, "lineitem"))
        .orderBy("col_name"),
      """WITH t AS (SELECT * FROM lineitem)
        |SELECT 'l_orderkey' AS col_name, count(*) AS n_rows, count(*)-count(l_orderkey) AS n_null,
        |  count(DISTINCT l_orderkey) AS n_distinct, CAST(min(l_orderkey) AS VARCHAR) AS min_s, CAST(max(l_orderkey) AS VARCHAR) AS max_s FROM t
        |UNION ALL SELECT 'l_linenumber', count(*), count(*)-count(l_linenumber),
        |  count(DISTINCT l_linenumber), CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR) FROM t
        |UNION ALL SELECT 'l_returnflag', count(*), count(*)-count(l_returnflag),
        |  count(DISTINCT l_returnflag), CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR) FROM t
        |UNION ALL SELECT 'l_linestatus', count(*), count(*)-count(l_linestatus),
        |  count(DISTINCT l_linestatus), CAST(min(l_linestatus) AS VARCHAR), CAST(max(l_linestatus) AS VARCHAR) FROM t
        |ORDER BY col_name""".stripMargin.replace("\n", " ")),
    Gate("pr_profile_approx", (s, d) =>
      // the 100 TB default: HLL++ distincts — NO Expand, plain partial
      // aggregation. Spark's HLL estimate is not DuckDB-replayable, so
      // the oracle checks the deterministic stats exactly and the
      // estimate via an always-true sanity band (n_distinct must still
      // be COMPUTED for the band, so the HLL aggregate cannot be pruned
      // out of the timed plan; the estimate-vs-exact tolerance itself is
      // ProfileSpec's job)
      graft.pipes.ProfilePipe(
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"),
        exact = false)(t(s, d, "lineitem"))
        .select(col("col_name"), col("n_rows"), col("n_null"),
          (col("n_distinct") >= 1 &&
            col("n_distinct") <= col("n_rows") * 2).as("nd_sane"),
          col("min_s"), col("max_s"))
        .orderBy("col_name"),
      // HLL twin: deterministic stats exact, the estimate via a sanity band
      """WITH t AS (SELECT * FROM lineitem)
        |SELECT 'l_orderkey' AS col_name, count(*) AS n_rows, count(*)-count(l_orderkey) AS n_null,
        |  true AS nd_sane, CAST(min(l_orderkey) AS VARCHAR) AS min_s, CAST(max(l_orderkey) AS VARCHAR) AS max_s FROM t
        |UNION ALL SELECT 'l_linenumber', count(*), count(*)-count(l_linenumber),
        |  true, CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR) FROM t
        |UNION ALL SELECT 'l_returnflag', count(*), count(*)-count(l_returnflag),
        |  true, CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR) FROM t
        |UNION ALL SELECT 'l_linestatus', count(*), count(*)-count(l_linestatus),
        |  true, CAST(min(l_linestatus) AS VARCHAR), CAST(max(l_linestatus) AS VARCHAR) FROM t
        |ORDER BY col_name""".stripMargin.replace("\n", " ")),
    Gate("zo_zorder", (s, d) => {
      // the z-value layout key: 8-bit × 2-dim Morton interleave over
      // bucketed (custkey, orderkey). ORDER BY zval IS the order
      // ZOrder.layout's range exchange writes, so the oracle verifies the
      // exact curve the clustering would lay on disk.
      t(s, d, "orders").select(col("o_orderkey"),
        graft.operators.ZOrder.zvalue(
          Seq(col("o_custkey") % 256, col("o_orderkey") % 256), 8).as("zval"))
        .orderBy("zval", "o_orderkey")
    }, zvalueOracle),
    Gate("zo_zvalue_sql", (s, d) => {
      // graft_zvalue(bits, dims...) — the Morton key as a SQL scalar via
      // GraftExtensions; same curve as zo_zorder, parsed not composed
      org.apache.spark.sql.graft.GraftExtensions.register(s)
      t(s, d, "orders").createOrReplaceTempView("graft_sql_orders")
      s.sql("SELECT o_orderkey, graft_zvalue(8, o_custkey % 256, " +
        "o_orderkey % 256) AS zval FROM graft_sql_orders " +
        "ORDER BY zval, o_orderkey")
    }, zvalueOracle),
    Gate("mg_upsert", (s, d) => {
      // CDC MERGE: updates (%7, status→'U', price+10), deletes (%13),
      // inserts (key+1e8) — disjoint by construction, one change row per
      // key. Anti-join + union: the base side never shuffles when the
      // change set broadcasts.
      val base = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val updates = base
        .filter(col("o_orderkey") % 7 === 3 && col("o_orderkey") % 13 =!= 5)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 10.0).as("o_totalprice"),
          lit(false).as("__del__"))
      val deletes = base.filter(col("o_orderkey") % 13 === 5)
        .withColumn("__del__", lit(true))
      val inserts = base.filter(col("o_orderkey") % 11 === 2)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_custkey"), lit("N").as("o_orderstatus"),
          col("o_totalprice"), lit(false).as("__del__"))
      val changes = updates.unionByName(deletes).unionByName(inserts)
      graft.operators.UpsertMerge(base, changes, Seq("o_orderkey"),
        deleteCol = Some("__del__"))
        .orderBy("o_orderkey")
    }, """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |ch AS (
        | SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 10.0 AS o_totalprice, false AS del
        |   FROM base WHERE o_orderkey%7=3 AND o_orderkey%13<>5
        | UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, true FROM base WHERE o_orderkey%13=5
        | UNION ALL SELECT o_orderkey+100000000, o_custkey, 'N', o_totalprice, false FROM base WHERE o_orderkey%11=2),
        |kept AS (SELECT b.* FROM base b LEFT JOIN (SELECT DISTINCT o_orderkey AS ck FROM ch) c ON b.o_orderkey = c.ck WHERE c.ck IS NULL)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM kept
        |UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM ch WHERE NOT del
        |ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    Gate("mg_upsert_stream", (s, d) => {
      // the STREAMING read path of the versioned CDC table: seed → two
      // micro-batches through StreamingUpsert.run → read back _LATEST.
      // Batch 1 deletes/updates rows that exist ONLY because batch 0
      // inserted them, so the result proves sequential batch semantics
      // (a reversed order would resurrect the deleted inserts). The
      // oracle replays the same two MERGEs as nested CTEs.
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val base = t(s, d, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      val k = col("o_orderkey")
      def tuples(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getBoolean(4)))
      val b0 = tuples(
        base.filter(k % 7 === 3 && k % 13 =!= 5)
          .select(k, col("o_custkey"), lit("U").as("s"),
            (col("o_totalprice") + 10.0).as("p"), lit(false).as("del"))
        .unionByName(base.filter(k % 11 === 2)
          .select((k + 100000000L).as("o_orderkey"), col("o_custkey"),
            lit("N").as("s"), col("o_totalprice").as("p"), lit(false).as("del"))))
      val b1 = tuples(
        base.filter(k % 13 === 5)
          .select(k, col("o_custkey"), col("o_orderstatus").as("s"),
            col("o_totalprice").as("p"), lit(true).as("del"))
        .unionByName(base.filter(k % 11 === 2 && k % 2 === 0)
          .select((k + 100000000L).as("o_orderkey"), col("o_custkey"),
            col("o_orderstatus").as("s"), col("o_totalprice").as("p"),
            lit(true).as("del")))
        .unionByName(base.filter(k % 11 === 2 && k % 2 === 1)
          .select((k + 100000000L).as("o_orderkey"), col("o_custkey"),
            lit("X").as("s"), (col("o_totalprice") + 5.0).as("p"),
            lit(false).as("del"))))
      val dir = java.nio.file.Files.createTempDirectory("graft-ups").toString
      graft.streaming.StreamingUpsert.seed(base, s"$dir/t")
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String, Double, Boolean)]
      val q = graft.streaming.StreamingUpsert.run(
        mem.toDF.toDF("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "__del__"),
        s"$dir/t", Seq("o_orderkey"), Some("__del__"), s"$dir/ckpt")
      mem.addData(b0.toIndexedSeq); q.processAllAvailable()
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      q.stop()
      graft.streaming.StreamingUpsert.latest(s, s"$dir/t").get
        .orderBy("o_orderkey")
    }, upsertStreamOracle),

    Gate("mg_upsert_evolve", (s, d) => {
      // additive schema evolution: the change set carries a NEW `quality`
      // column — merged output gains it, untouched base rows read NULL,
      // no backfill rewrite. Same update/delete/insert families as
      // mg_upsert so the merge semantics stay oracle-replayable.
      val base = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val updates = base
        .filter(col("o_orderkey") % 7 === 3 && col("o_orderkey") % 13 =!= 5)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 10.0).as("o_totalprice"),
          (col("o_orderkey") % 100 / 100.0).as("quality"),
          lit(false).as("__del__"))
      val deletes = base.filter(col("o_orderkey") % 13 === 5)
        .withColumn("quality", lit(0.0)).withColumn("__del__", lit(true))
      val inserts = base.filter(col("o_orderkey") % 11 === 2)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_custkey"), lit("N").as("o_orderstatus"),
          col("o_totalprice"), lit(1.0).as("quality"),
          lit(false).as("__del__"))
      val changes = updates.unionByName(deletes).unionByName(inserts)
      graft.operators.UpsertMerge(base, changes, Seq("o_orderkey"),
        deleteCol = Some("__del__"), allowNewColumns = true)
        .orderBy("o_orderkey")
    },
      // additive evolution: kept base rows carry NULL quality
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |ch AS (
        | SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 10.0 AS o_totalprice, (o_orderkey%100) / 100.0 AS quality, false AS del
        |   FROM base WHERE o_orderkey%7=3 AND o_orderkey%13<>5
        | UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 0.0, true FROM base WHERE o_orderkey%13=5
        | UNION ALL SELECT o_orderkey+100000000, o_custkey, 'N', o_totalprice, 1.0, false FROM base WHERE o_orderkey%11=2),
        |kept AS (SELECT b.* FROM base b LEFT JOIN (SELECT DISTINCT o_orderkey AS ck FROM ch) c ON b.o_orderkey = c.ck WHERE c.ck IS NULL)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(NULL AS DOUBLE) AS quality FROM kept
        |UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, quality FROM ch WHERE NOT del
        |ORDER BY o_orderkey""".stripMargin.replace("\n", " ")),

    Gate("mg_version_diff", (s, d) => {
      // time-travel CDC audit: the SAME seed + two micro-batches as
      // mg_upsert_stream, then StreamingUpsert.diff(vinit, v1) — one
      // classified row per changed key (insert/delete/update with
      // before/after), unchanged keys absent. One shuffle join on the
      // merge key; the oracle replays the merges then FULL OUTER JOINs
      // the endpoints with IS DISTINCT FROM semantics.
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val base = t(s, d, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      val k = col("o_orderkey")
      def tuples(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getBoolean(4)))
      val b0 = tuples(
        base.filter(k % 7 === 3 && k % 13 =!= 5)
          .select(k, col("o_custkey"), lit("U").as("s"),
            (col("o_totalprice") + 10.0).as("p"), lit(false).as("del"))
        .unionByName(base.filter(k % 11 === 2)
          .select((k + 100000000L).as("o_orderkey"), col("o_custkey"),
            lit("N").as("s"), col("o_totalprice").as("p"),
            lit(false).as("del"))))
      val b1 = tuples(
        base.filter(k % 13 === 5)
          .select(k, col("o_custkey"), col("o_orderstatus").as("s"),
            col("o_totalprice").as("p"), lit(true).as("del"))
        .unionByName(base.filter(k % 11 === 2 && k % 2 === 0)
          .select((k + 100000000L).as("o_orderkey"), col("o_custkey"),
            col("o_orderstatus").as("s"), col("o_totalprice").as("p"),
            lit(true).as("del")))
        .unionByName(base.filter(k % 11 === 2 && k % 2 === 1)
          .select((k + 100000000L).as("o_orderkey"), col("o_custkey"),
            lit("X").as("s"), (col("o_totalprice") + 5.0).as("p"),
            lit(false).as("del"))))
      val dir = java.nio.file.Files.createTempDirectory("graft-diff").toString
      graft.streaming.StreamingUpsert.seed(base, s"$dir/t")
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String, Double, Boolean)]
      val q = graft.streaming.StreamingUpsert.run(
        mem.toDF.toDF("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "__del__"),
        s"$dir/t", Seq("o_orderkey"), Some("__del__"), s"$dir/ckpt")
      mem.addData(b0.toIndexedSeq); q.processAllAvailable()
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      q.stop()
      graft.streaming.StreamingUpsert.diff(s, s"$dir/t", "vinit", "v1",
        Seq("o_orderkey"))
        .select(col("o_orderkey"), col("change"),
          col("o_orderstatus_before"), col("o_orderstatus_after"),
          col("o_totalprice_before"), col("o_totalprice_after"))
        .orderBy("o_orderkey")
    }, versionDiffOracle),

    Gate("mg_version_diff_partitioned", (s, d) => {
      // time-travel CDC audit on the PRODUCTION (key-partitioned) layout:
      // the mg_version_diff construction run through PartitionedUpsert —
      // seed + two micro-batches over 8 hash partitions, then
      // diff(vinit, v1) where BOTH endpoints are reconstructed from the
      // per-version MANIFESTS (untouched partitions' entries still name
      // older dirs — exactly the reconstruction this gate exists to
      // prove). The oracle replays the merges and FULL OUTER JOINs the
      // endpoints with IS DISTINCT FROM; a manifest mapping a stale or
      // missing partition version hash-fails.
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val base = t(s, d, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      val k = col("o_orderkey")
      def tuples(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getBoolean(4)))
      val b0 = tuples(
        base.filter(k % 7 === 3 && k % 13 =!= 5)
          .select(k, col("o_custkey"), lit("U").as("s"),
            (col("o_totalprice") + 10.0).as("p"), lit(false).as("del"))
        .unionByName(base.filter(k % 11 === 2)
          .select((k + 100000000L).as("o_orderkey"), col("o_custkey"),
            lit("N").as("s"), col("o_totalprice").as("p"),
            lit(false).as("del"))))
      val b1 = tuples(
        base.filter(k % 13 === 5)
          .select(k, col("o_custkey"), col("o_orderstatus").as("s"),
            col("o_totalprice").as("p"), lit(true).as("del"))
        .unionByName(base.filter(k % 11 === 2 && k % 2 === 0)
          .select((k + 100000000L).as("o_orderkey"), col("o_custkey"),
            col("o_orderstatus").as("s"), col("o_totalprice").as("p"),
            lit(true).as("del")))
        .unionByName(base.filter(k % 11 === 2 && k % 2 === 1)
          .select((k + 100000000L).as("o_orderkey"), col("o_custkey"),
            lit("X").as("s"), (col("o_totalprice") + 5.0).as("p"),
            lit(false).as("del"))))
      val dir = java.nio.file.Files.createTempDirectory("graft-pdiff").toString
      graft.streaming.PartitionedUpsert.seed(base, s"$dir/t", Seq("o_orderkey"), 8)
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String, Double, Boolean)]
      val q = graft.streaming.PartitionedUpsert.run(
        mem.toDF.toDF("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "__del__"),
        s"$dir/t", Seq("o_orderkey"), Some("__del__"), s"$dir/ckpt")
      mem.addData(b0.toIndexedSeq); q.processAllAvailable()
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      q.stop()
      graft.streaming.PartitionedUpsert.diff(s, s"$dir/t", "vinit", "v1",
        Seq("o_orderkey"))
        .select(col("o_orderkey"), col("change"),
          col("o_orderstatus_before"), col("o_orderstatus_after"),
          col("o_totalprice_before"), col("o_totalprice_after"))
        .orderBy("o_orderkey")
    },
      // the partitioned layout's manifest-reconstructed endpoints must
      // diff exactly like the flat layout's: identical change batches,
      // identical merge-replay + IS DISTINCT FROM oracle
      versionDiffOracle),

    Gate("mg_upsert_partitioned", (s, d) => {
      // the KEY-PARTITIONED version layout (r12): same seed + same two
      // micro-batches as mg_upsert_stream, but the table is hash-split
      // into 8 key partitions and each batch rewrites ONLY the partitions
      // its keys occupy — the O(touched)-per-batch shape a 100 TB CDC
      // table needs. The oracle is the SAME sequential-MERGE CTE replay:
      // partitioning must be invisible to the merged result.
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val base = t(s, d, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      val k = col("o_orderkey")
      def tuples(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getBoolean(4)))
      val b0 = tuples(
        base.filter(k % 7 === 3 && k % 13 =!= 5)
          .select(k, col("o_custkey"), lit("U").as("s"),
            (col("o_totalprice") + 10.0).as("p"), lit(false).as("del"))
        .unionByName(base.filter(k % 11 === 2)
          .select((k + 100000000L).as("o_orderkey"), col("o_custkey"),
            lit("N").as("s"), col("o_totalprice").as("p"), lit(false).as("del"))))
      val b1 = tuples(
        base.filter(k % 13 === 5)
          .select(k, col("o_custkey"), col("o_orderstatus").as("s"),
            col("o_totalprice").as("p"), lit(true).as("del"))
        .unionByName(base.filter(k % 11 === 2 && k % 2 === 0)
          .select((k + 100000000L).as("o_orderkey"), col("o_custkey"),
            col("o_orderstatus").as("s"), col("o_totalprice").as("p"),
            lit(true).as("del")))
        .unionByName(base.filter(k % 11 === 2 && k % 2 === 1)
          .select((k + 100000000L).as("o_orderkey"), col("o_custkey"),
            lit("X").as("s"), (col("o_totalprice") + 5.0).as("p"),
            lit(false).as("del"))))
      val dir = java.nio.file.Files.createTempDirectory("graft-pups").toString
      graft.streaming.PartitionedUpsert.seed(base, s"$dir/t", Seq("o_orderkey"), 8)
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String, Double, Boolean)]
      val q = graft.streaming.PartitionedUpsert.run(
        mem.toDF.toDF("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "__del__"),
        s"$dir/t", Seq("o_orderkey"), Some("__del__"), s"$dir/ckpt")
      mem.addData(b0.toIndexedSeq); q.processAllAvailable()
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      q.stop()
      graft.streaming.PartitionedUpsert.latest(s, s"$dir/t").get
        .orderBy("o_orderkey")
    },
      // the key-partitioned layout must be INVISIBLE to the merged result:
      // identical change batches, identical sequential-MERGE oracle
      upsertStreamOracle),
    // ----- per-key rolling-window features -----
    Gate("rl_rolling", (s, d) => {
      val ev = graft.streaming.EventStream.readBatch(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
      graft.operators.RollingWindowPipe(Seq("user_id"), "ts_us", "value",
        windowSize = 3600L * 1000000L)(ev)
        .select("event_id", "user_id", "ts_us", "rolling_cnt", "rolling_sum")
        .orderBy("event_id")
    }, """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        | count(*) OVER w AS rolling_cnt,
        | round(sum(value) OVER w, 4) AS rolling_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        | RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin.replace("\n", " ")),
    // ----- group top-k + binned range join -----
    Gate("gt_group_topk", (s, d) =>
      graft.operators.GroupTopKPipe(Seq("lang"), "n_chars", 3, "doc_id")(
        t(s, d, "documents"))
        .select("lang", "doc_id", "n_chars", "rank").orderBy("lang", "rank"),
      groupTopkOracle),
    Gate("gt2_topk_heap", (s, d) =>
      // the bounded-heap aggregate mode: identical results to the window
      // gate (same oracle), but the shuffle carries <= k rows per group
      // per input partition — map-side combine, the 100 TB shape
      graft.operators.GroupTopKPipe(Seq("lang"), "n_chars", 3, "doc_id",
        useHeap = true)(t(s, d, "documents"))
        .select("lang", "doc_id", "n_chars", "rank").orderBy("lang", "rank"),
      // heap-mode twin: same oracle — results must be bit-identical
      groupTopkOracle),
    Gate("rj_range", (s, d) => {
      // clicks inside 30-min incident windows opened by same-user errors;
      // binWidth == window span -> each interval covers <= 2 bins
      val ev = graft.streaming.EventStream.readBatch(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val wins = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          unix_micros(col("ts")).as("wstart"),
          (unix_micros(col("ts")) + 1800L * 1000000L).as("wend"))
      graft.operators.RangeJoin.pointInInterval(clicks, wins,
        "ts_us", "wstart", "wend", binWidth = 1800L * 1000000L,
        keyCols = Seq("user_id"))
        .select("event_id", "user_id", "ts_us", "err_id", "wstart")
        .orderBy("event_id", "err_id")
    },
      // the oracle is the NAIVE inequality join the binned plan must equal
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type='click'),
        |w AS (SELECT event_id AS err_id, user_id, epoch_us(ts) AS wstart, epoch_us(ts) + 1800000000 AS wend FROM events WHERE event_type='error')
        |SELECT c.event_id, c.user_id, c.ts_us, w.err_id, w.wstart
        |FROM c JOIN w ON c.user_id = w.user_id AND c.ts_us >= w.wstart AND c.ts_us <= w.wend
        |ORDER BY c.event_id, w.err_id""".stripMargin.replace("\n", " ")),
    // ----- as-of join (point-in-time lookup) -----
    Gate("aj_asof", (s, d) => {
      // each click gets the latest prior purchase of the same user; ts
      // compared as exact epoch-micros (no float, no format divergence)
      val ev = graft.streaming.EventStream.readBatch(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      graft.operators.AsOfJoin.backward(clicks, purchases,
        Seq("user_id"), "ts", "ts", Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("asof_event_id"), col("asof_value"), col("asof_n_prior"))
        .orderBy("event_id")
    },
      // union+window replay of the tagged as-of scan: rights (side 0) sort
      // before lefts at equal ts, so a purchase at exactly click-ts is visible
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type='click'),
        |r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type='purchase'),
        |u AS (SELECT user_id, ts, 1 AS side, NULL::BIGINT AS r_eid, NULL::DOUBLE AS r_val, event_id AS l_eid FROM l
        | UNION ALL SELECT user_id, ts, 0, event_id, value, NULL FROM r),
        |w AS (SELECT *,
        |  last_value(r_eid IGNORE NULLS) OVER win AS a_eid,
        |  last_value(r_val IGNORE NULLS) OVER win AS a_val,
        |  count(r_eid) OVER win AS np
        | FROM u WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, r_eid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT w.l_eid AS event_id, w.user_id, epoch_us(w.ts) AS ts_us,
        | w.a_eid AS asof_event_id, w.a_val AS asof_value, CAST(w.np AS BIGINT) AS asof_n_prior
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin.replace("\n", " ")),
    // ----- JSONL interchange round-trip -----
    Gate("io_jsonl_roundtrip", (s, d) => {
      // land the corpus as JSONL, read it back with a pinned schema —
      // values must survive the interchange bit-for-bit (oracle = the
      // original parquet)
      val docs = t(s, d, "documents")
      val path = s"/tmp/graft_io_${math.abs(d.hashCode)}/documents_jsonl"
      graft.sources.Formats.writeJsonl(docs, path)
      graft.sources.Formats.readJsonl(s, path, docs.schema)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }, documentsOracle),
    Gate("io_orc_roundtrip", (s, d) => {
      // same roundtrip contract through ORC (typed columnar, so this is
      // the drift guard for an ORC-native warehouse hop)
      val docs = t(s, d, "documents")
      val path = s"/tmp/graft_io_${math.abs(d.hashCode)}/documents_orc"
      graft.sources.Formats.writeOrc(docs, path)
      graft.sources.Formats.readOrc(s, path, docs.schema)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }, documentsOracle),
    Gate("io_csv_roundtrip", (s, d) => {
      // the HARD interchange case: CSV with full quoting — doc text
      // carries commas/quotes; the writeCsv/readCsv dialect (quoteAll,
      // escaped quotes, multiLine) must return every value bit-for-bit
      val docs = t(s, d, "documents")
      val path = s"/tmp/graft_io_${math.abs(d.hashCode)}/documents_csv"
      graft.sources.Formats.writeCsv(docs, path)
      graft.sources.Formats.readCsv(s, path, docs.schema)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }, documentsOracle),

    Gate("io_compacted_roundtrip", (s, d) => {
      // the small-file compaction writer end-to-end: writeCompacted
      // splits the table into ceil(estimate/target) files via
      // round-robin repartition — content must survive the rewrite
      // bit-for-bit (the oracle is the identity replay), and the layout
      // claim (more than one file at a small target) is asserted
      // in-plan so a silent coalesce-to-one regression fails loudly.
      val docs = t(s, d, "documents")
      val path = s"/tmp/graft_io_${math.abs(d.hashCode)}/documents_compacted"
      val n = graft.sources.Formats.writeCompacted(docs, path,
        targetFileBytes = 16L << 10)
      require(n > 1, s"a 16 KiB target must yield multiple files (got $n)")
      s.read.parquet(path)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
      // compaction preserves content exactly: identity replay over the
      // round-robin rewrite
      documentsOracle),

    Gate("io_footer_audit", (s, d) => {
      // the footer-only layout audit end-to-end AGAINST THE DATA: write
      // the table compacted, read per-file row counts + doc_id min/max
      // from parquet FOOTERS ONLY (zero data pages), fold to one row —
      // which must equal the SQL count/min/max over the table itself.
      // A footer misread, a dropped file, or a stats-less file all
      // hash-fail.
      val docs = t(s, d, "documents")
      val path = s"/tmp/graft_io_${math.abs(d.hashCode)}/documents_audit"
      graft.sources.Formats.writeCompacted(docs, path,
        targetFileBytes = 16L << 10)
      graft.sources.ParquetStats.fileStats(s, path, Seq("doc_id"))
        .agg(sum("rows").as("total_rows"),
          min("min").as("min_doc"), max("max").as("max_doc"))
    },
      // footer-only audit must recover the table's count/min/max exactly
      "SELECT CAST(count(*) AS BIGINT) AS total_rows, CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc FROM documents"),
    // ----- dense global row ids + deterministic shard layout -----
    Gate("u5_assign_row_id", (s, d) =>
      graft.pipes.AssignRowIdPipe("doc_id")(t(s, d, "documents"))
        .select("doc_id", "row_idx").orderBy("doc_id"),
      """SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS row_idx
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    Gate("sh_shard_assign", (s, d) => {
      // reproducible shuffled shards: deterministic shuffle slot mixed
      // with the id into a UNIQUE order key (slot < 2^20, doc_id < 2^20),
      // then fixed-size shard layout over that order
      val sh = graft.llm.DeterministicShufflePipe("doc_id")(t(s, d, "documents"))
        .withColumn("ord", col("shuffle_slot") * 1048576L + col("doc_id"))
      graft.llm.ShardAssignPipe("ord", 64)(sh)
        .select("doc_id", "shard_id", "pos_in_shard").orderBy("doc_id")
    }, """WITH s AS (SELECT doc_id, (doc_id*131+7) % 1000003 AS s1 FROM documents),
        |o AS (SELECT doc_id, ((s1*s1+s1) % 1000003) * 1048576 + doc_id AS ord FROM s),
        |r AS (SELECT doc_id, row_number() OVER (ORDER BY ord) - 1 AS rk FROM o)
        |SELECT doc_id, rk // 64 AS shard_id, rk % 64 AS pos_in_shard
        |FROM r ORDER BY doc_id""".stripMargin.replace("\n", " ")),
  )
}
