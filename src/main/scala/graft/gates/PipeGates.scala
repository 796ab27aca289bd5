package graft
package gates

import graft.core._
import graft.core.Condition._
import graft.pipes.{Gate => _, _}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gates for the pipe layer: core combinators, basics, pipelines, nesting,
  * collate, dataset utils and the text pipes (tokenize, BPE, passages).
  */
private[gates] object PipeGates {
  import GateSupport._

  /** lineitem rows with a unique total-order key (l_linenumber <= 7). */
  private def liOrd(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("ordv"),
      col("l_quantity").as("qty"))

  val gates: Seq[Gate] = Seq(
    // ----- core (C1-C8) -----
    Gate("c1_identity", (s, d) =>
      IdentityPipe()(t(s, d, "region")).orderBy("r_regionkey"),
      "SELECT * FROM region ORDER BY r_regionkey"),
    Gate("c2_input_filter", (s, d) =>
      SequentialPipe(Seq(ApplyToAllCols(upper(_), "upper")),
        inputFilter = Some(In(Seq("n_name"))))(t(s, d, "nation")).orderBy("n_name"),
      "SELECT upper(n_name) AS n_name FROM nation ORDER BY n_name"),
    Gate("c3_update_overlay", (s, d) =>
      ApplyToCols(_ * 2, "x2", Seq("l_quantity"))(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"))
        .orderBy("l_orderkey", "l_linenumber"),
      quantityX2Oracle),
    Gate("c4_cached_stage", (s, d) => {
      val pipe = LambdaPipe(
        _.groupBy("n_regionkey").agg(count(lit(1)).as("cnt")), "nation_cnt_by_region")
      CachedStage.through(pipe, "/tmp/graft-cache", s"nation@$d")(t(s, d, "nation"))
        .orderBy("n_regionkey")
    }, "SELECT n_regionkey, count(*) AS cnt FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"),
    Gate("c9_dataset_dict", (s, d) => {
      val o = t(s, d, "orders")
      graft.core.DatasetDict.of(
        "open" -> o.filter(col("o_orderstatus") === "O"),
        "done" -> o.filter(col("o_orderstatus") === "F"))
        .transform(ApplyToCols(_ * 2, "x2", Seq("o_totalprice")))
        .toDF("split")
        .select("split", "o_orderkey", "o_totalprice")
        .orderBy("o_orderkey", "split")
    }, """SELECT 'done' AS split, o_orderkey, o_totalprice*2 AS o_totalprice FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL SELECT 'open', o_orderkey, o_totalprice*2 FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_orderkey, split""".stripMargin.replace("\n", " ")),
    Gate("c7_condition_filter", (s, d) =>
      FilterKeys(Contains("name") || HasPrefix("n_nation"))(t(s, d, "nation"))
        .orderBy("n_nationkey"),
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"),
    Gate("c8_gate_true", (s, d) =>
      graft.pipes.Gate(SchemaCondition.HasKeys(Seq("c_acctbal")),
        FilterKeys(In(Seq("c_custkey", "c_acctbal"))),
        Some(GetKey("c_custkey")))(t(s, d, "customer")).orderBy("c_custkey"),
      "SELECT c_custkey, c_acctbal FROM customer ORDER BY c_custkey"),
    // ----- basics (B1-B12) -----
    Gate("b3_getkey", (s, d) => GetKey("p_name")(t(s, d, "part")).orderBy("p_name"),
      "SELECT p_name FROM part ORDER BY p_name"),
    Gate("b5_dropkeys", (s, d) =>
      DropKeys(Seq("o_orderdate"))(t(s, d, "orders")).orderBy("o_orderkey"),
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders ORDER BY o_orderkey"),
    Gate("b6_addprefix", (s, d) =>
      AddPrefix("doc.")(t(s, d, "documents")).orderBy(q("doc.doc_id")),
      "SELECT doc_id AS \"doc.doc_id\", text AS \"doc.text\", lang AS \"doc.lang\", source AS \"doc.source\", n_chars AS \"doc.n_chars\" FROM documents ORDER BY \"doc.doc_id\""),
    Gate("b7_replaceinkeys", (s, d) =>
      ReplaceInKeys("r_", "region_")(t(s, d, "region")).orderBy("region_regionkey"),
      "SELECT r_regionkey AS region_regionkey, r_name AS region_name FROM region ORDER BY region_regionkey"),
    Gate("b8_renamekeys", (s, d) =>
      RenameKeys(Map("s_suppkey" -> "id", "s_name" -> "name"))(t(s, d, "supplier"))
        .orderBy("id"),
      "SELECT s_suppkey AS id, s_name AS name FROM supplier ORDER BY id"),
    Gate("b9_apply_elementwise", (s, d) =>
      ApplyToCols(_ * 2, "x2", Seq("nums"), elementWise = true)(liNums(s, d))
        .orderBy("l_orderkey"),
      scl("SELECT l_orderkey, list_transform(list_sort(list(l_linenumber)), x -> x*2) AS nums FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey",
        "l_orderkey" -> "", "nums" -> "i")),
    Gate("b10_apply_all_upper", (s, d) =>
      ApplyToAllCols(upper(_), "upper",
        inputFilter = Some(In(Seq("c_name", "c_mktsegment"))))(t(s, d, "customer"))
        .orderBy("c_custkey"),
      "SELECT c_custkey, upper(c_name) AS c_name, c_nationkey, c_acctbal, upper(c_mktsegment) AS c_mktsegment FROM customer ORDER BY c_custkey"),
    // ----- pipelines (P1-P5) -----
    Gate("p1_sequential", (s, d) =>
      SequentialPipe.of(
        DropKeys(Seq("l_shipdate")),
        ApplyToCols(_ * 2, "x2", Seq("l_quantity")))(t(s, d, "lineitem"))
        .orderBy("l_orderkey", "l_linenumber"),
      "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity*2 AS l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    Gate("p2_parallel", (s, d) =>
      ParallelPipe.of(
        ApplyToCols(_ * 2, "x2", Seq("l_quantity")),
        ApplyToCols(_ * 10, "x10", Seq("l_partkey")))(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity", "l_partkey"))
        .orderBy("l_orderkey", "l_linenumber"),
      "SELECT l_orderkey, l_linenumber, l_quantity*2 AS l_quantity, l_partkey*10 AS l_partkey FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    Gate("p3_gate_alt", (s, d) =>
      graft.pipes.Gate(SchemaCondition.HasKeys(Seq("missing_col")),
        GetKey("r_regionkey"), Some(GetKey("r_name")))(t(s, d, "region"))
        .orderBy("r_name"),
      "SELECT r_name FROM region ORDER BY r_name"),
    Gate("p4_block_sequential", (s, d) =>
      BlockSequential(Seq(
        "project" -> FilterKeys(In(Seq("n_name", "n_regionkey"))),
        "upper" -> ApplyToAllCols(upper(_), "upper",
          inputFilter = Some(In(Seq("n_name"))))))(t(s, d, "nation"))
        .orderBy("n_name"),
      "SELECT upper(n_name) AS n_name, n_regionkey FROM nation ORDER BY n_name"),
    Gate("p5_parallel_by_field", (s, d) =>
      ParallelByField(Map(
        "doc" -> ApplyToCols(upper(_), "upper", Seq("doc.lang"))))(
        AddPrefix("doc.")(t(s, d, "documents"))).orderBy(q("doc.doc_id")),
      "SELECT doc_id AS \"doc.doc_id\", text AS \"doc.text\", upper(lang) AS \"doc.lang\", source AS \"doc.source\", n_chars AS \"doc.n_chars\" FROM documents ORDER BY \"doc.doc_id\""),
    // ----- nesting (N1-N6) -----
    Gate("n1_flatten", (s, d) =>
      FlattenPipe()(liNums(s, d)).orderBy("l_orderkey", "nums"),
      "SELECT l_orderkey, l_linenumber AS nums FROM lineitem ORDER BY l_orderkey, nums"),
    Gate("n2_nest", (s, d) =>
      NestPipe(8, Seq("ordv", "qty"), "ordv")(liOrd(s, d))
        .orderBy(element_at(col("ordv"), 1)),
      scl("WITH r2 AS (SELECT l_orderkey*10+l_linenumber AS ordv, l_quantity AS qty FROM lineitem), r3 AS (SELECT ordv, qty, (row_number() OVER (ORDER BY ordv) - 1) AS rn FROM r2), g AS (SELECT list(ordv ORDER BY rn) AS ordv, list(qty ORDER BY rn) AS qty FROM r3 GROUP BY rn // 8) SELECT ordv, qty FROM g ORDER BY ordv[1]",
        "ordv" -> "i", "qty" -> "d")),
    Gate("n3_apply_as_flatten", (s, d) =>
      ApplyAsFlatten(ApplyToCols(_ * 2, "x2", Seq("nums")))(liNums(s, d))
        .orderBy("l_orderkey"),
      scl("SELECT list_transform(list_sort(list(l_linenumber)), x -> x*2) AS nums, l_orderkey FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey",
        "nums" -> "i", "l_orderkey" -> "")),
    Gate("n4_nested_inner_filter", (s, d) =>
      NestedPipe(LambdaPipe(_.filter(col("nums") % 2 === 0), "keep_even"))(liNums(s, d))
        .orderBy("l_orderkey"),
      scl("SELECT list_filter(list_sort(list(l_linenumber)), x -> x % 2 = 0) AS nums, l_orderkey FROM lineitem GROUP BY l_orderkey HAVING len(nums) > 0 ORDER BY l_orderkey",
        "nums" -> "i", "l_orderkey" -> "")),
    Gate("n5_nested_level2", (s, d) => {
      // arrays of arrays: per order, line numbers grouped in pairs ->
      // Nested(level=2) doubles the innermost scalars
      val lvl2 = liNums(s, d).select(col("l_orderkey"),
        filter(
          transform(sequence(lit(0), floor((size(col("nums")) - 1) / 2).cast("int")),
            i => slice(col("nums"), i * 2 + 1, lit(2))),
          a => size(a) > 0).as("nn"))
      NestedPipe(ApplyToCols(_ * 2, "x2", Seq("nn")), level = 2)(lvl2)
        .orderBy("l_orderkey")
    }, scl("""WITH a AS (SELECT l_orderkey, list_sort(list(l_linenumber)) AS nums FROM lineitem GROUP BY 1),
        |b AS (SELECT l_orderkey, list_filter(list_transform(range(0, (len(nums)-1)//2 + 1), i -> nums[i*2+1:i*2+2]), x -> len(x) > 0) AS nn FROM a)
        |SELECT list_transform(nn, inner_l -> list_transform(inner_l, x -> x*2)) AS nn, l_orderkey FROM b ORDER BY l_orderkey""".stripMargin.replace("\n", " "),
        "nn" -> "ii", "l_orderkey" -> "")),
    Gate("n6_expand", (s, d) =>
      ExpandPipe(0, 3, Seq("r_name"))(t(s, d, "region")).orderBy("r_regionkey"),
      scl("SELECT r_regionkey, [r_name, r_name, r_name] AS r_name FROM region ORDER BY r_regionkey",
        "r_regionkey" -> "", "r_name" -> "s")),
    Gate("n7_nest_idx", (s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          NestingOps.nestIdx(col("l_orderkey"), col("l_linenumber"), 10)
            .as("nest_idx"))
        .orderBy("nest_idx"),
      "SELECT l_orderkey, l_linenumber, l_orderkey*10 + l_linenumber AS nest_idx FROM lineitem ORDER BY nest_idx"),
    // ----- collate (L1-L7) -----
    Gate("l4_apply_each", (s, d) =>
      ApplyToEachExample(ApplyToCols(_ * 2, "x2", Seq("l_quantity")),
        checked = true)(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"))
        .orderBy("l_orderkey", "l_linenumber"),
      quantityX2Oracle),
    Gate("l1_collate", (s, d) =>
      CollatePipe(16, Seq("ordv", "qty"), "ordv")(liOrd(s, d))
        .orderBy(element_at(col("ordv"), 1)),
      scl("WITH r2 AS (SELECT l_orderkey*10+l_linenumber AS ordv, l_quantity AS qty FROM lineitem), r3 AS (SELECT ordv, qty, (row_number() OVER (ORDER BY ordv) - 1) AS rn FROM r2), g AS (SELECT list(ordv ORDER BY rn) AS ordv, list(qty ORDER BY rn) AS qty FROM r3 GROUP BY rn // 16) SELECT ordv, qty FROM g ORDER BY ordv[1]",
        "ordv" -> "i", "qty" -> "d")),
    Gate("l2_decollate", (s, d) => {
      val nested = t(s, d, "lineitem").groupBy("l_orderkey").agg(
        sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity")))).as("z"))
        .select(col("l_orderkey"),
          transform(col("z"), x => x.getField("l_linenumber")).as("nums"),
          transform(col("z"), x => x.getField("l_quantity")).as("qtys"))
      DeCollatePipe(Seq("nums", "qtys"))(nested).orderBy("l_orderkey", "nums", "qtys")
    }, "SELECT l_orderkey, l_linenumber AS nums, l_quantity AS qtys FROM lineitem ORDER BY l_orderkey, nums, qtys"),
    Gate("l3_first_eg", (s, d) =>
      FirstEg()(t(s, d, "region").orderBy("r_regionkey")),
      "SELECT * FROM region ORDER BY r_regionkey LIMIT 1"),
    Gate("l6_padding", (s, d) =>
      PaddingPipe(Seq("input_ids"))(
        liNums(s, d).withColumnRenamed("nums", "input_ids")).orderBy("l_orderkey"),
      scl("WITH a AS (SELECT l_orderkey, list_sort(list(l_linenumber)) AS input_ids FROM lineitem GROUP BY 1), m AS (SELECT max(len(input_ids)) AS ml FROM a) SELECT l_orderkey, input_ids || list_transform(range(ml - len(input_ids)), x -> 0) AS input_ids FROM a, m ORDER BY l_orderkey",
        "l_orderkey" -> "", "input_ids" -> "i")),
    Gate("l6b_padding_batch", (s, d) =>
      // reference per-BATCH semantics (collate.py:137-178 pads to the
      // collate batch's max, never the corpus's): 50-row batches in
      // l_orderkey order, each padded to its own max — the 100 TB-safe
      // scope where one pathological row inflates only its own batch
      PaddingPipe(Seq("input_ids"),
        scope = PadScope.PerGroup(batchSize = 50, orderCol = "l_orderkey"))(
        liNums(s, d).withColumnRenamed("nums", "input_ids")).orderBy("l_orderkey"),
      scl("WITH a AS (SELECT l_orderkey, list_sort(list(l_linenumber)) AS input_ids FROM lineitem GROUP BY 1), r AS (SELECT *, (row_number() OVER (ORDER BY l_orderkey) - 1) // 50 AS grp FROM a), m AS (SELECT grp, max(len(input_ids)) AS ml FROM r GROUP BY grp) SELECT l_orderkey, input_ids || list_transform(range(ml - len(input_ids)), x -> 0) AS input_ids FROM r JOIN m USING (grp) ORDER BY l_orderkey",
        "l_orderkey" -> "", "input_ids" -> "i")),
    Gate("l7_collate_field", (s, d) => {
      val dfIn = liNums(s, d).select(
        col("l_orderkey").as("tok.idx"),
        col("nums").as("tok.input_ids"),
        transform(col("nums"), _ => lit(1)).as("tok.attention_mask"))
      CollateFieldPipe("tok")(dfIn).orderBy(q("tok.idx"))
    }, scl("WITH a AS (SELECT l_orderkey AS \"tok.idx\", list_sort(list(l_linenumber)) AS ids FROM lineitem GROUP BY 1), m AS (SELECT max(len(ids)) AS ml FROM a) SELECT \"tok.idx\", ids || list_transform(range(ml - len(ids)), x -> 0) AS \"tok.input_ids\", list_transform(ids, x -> 1) || list_transform(range(ml - len(ids)), x -> 0) AS \"tok.attention_mask\" FROM a, m ORDER BY \"tok.idx\"",
        "tok.idx" -> "", "tok.input_ids" -> "i", "tok.attention_mask" -> "i")),
    // ----- dataset utils (U1-U3) -----
    Gate("u1_take_subset", (s, d) =>
      // hashKey mode: multiplicative-hash pseudo-shuffle — deterministic
      // and engine-independent, so DuckDB replays the exact subset.
      TakeSubset(n = Some(500), hashKey = Some("p_partkey"))(t(s, d, "part")),
      "SELECT * FROM part ORDER BY (p_partkey * 2654435761) % 1000003, p_partkey LIMIT 500"),
    Gate("u2_keep_columns", (s, d) =>
      KeepColumns(Seq("p_partkey", "p_name"))(t(s, d, "part")).orderBy("p_partkey"),
      "SELECT p_partkey, p_name FROM part ORDER BY p_partkey"),
    Gate("u3_concat_rows", (s, d) => {
      val r = t(s, d, "region")
      Concatenate.rows(Seq(r, r)).orderBy("r_regionkey")
    }, "SELECT * FROM (SELECT * FROM region UNION ALL SELECT * FROM region) ORDER BY r_regionkey"),
    Gate("u3_concat_columns", (s, d) => {
      val docs = t(s, d, "documents")
      val extra = docs.select(col("doc_id"), (col("n_chars") * 2).as("n_chars_x2"))
      Concatenate.columns(Seq(docs, extra), on = "doc_id").orderBy("doc_id")
    }, "SELECT doc_id, text, lang, source, n_chars, n_chars*2 AS n_chars_x2 FROM documents ORDER BY doc_id"),
    // ----- text (T1-T2) -----
    Gate("t1_tokenizer", (s, d) =>
      graft.text.TokenizerPipe(returnTokenTypeIds = true)(
        t(s, d, "documents").select("doc_id", "text"))
        .select("doc_id", "input_ids", "attention_mask", "token_type_ids",
          "offset_mapping")
        .orderBy("doc_id"),
      scl("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
        |SELECT doc_id,
        | list_transform(toks, t -> CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i]) AS BIGINT))), (h,c) -> (h*31+c) % 1000003) AS INT)) AS input_ids,
        | list_transform(toks, t -> 1) AS attention_mask,
        | list_transform(toks, t -> 0) AS token_type_ids,
        | list_transform(range(1, len(toks)+1), i -> [CAST(coalesce(list_sum(list_transform(toks[1:i-1], s -> length(s)+1)),0) AS INT), CAST(coalesce(list_sum(list_transform(toks[1:i-1], s -> length(s)+1)),0)+length(toks[i]) AS INT)]) AS offset_mapping
        |FROM t ORDER BY doc_id""".stripMargin.replace("\n", " "),
        "doc_id" -> "", "input_ids" -> "i", "attention_mask" -> "i", "token_type_ids" -> "i", "offset_mapping" -> "ii")),
    Gate("bp_bpe_encode", (s, d) =>
      // FIXED merge table (learn-loops stay spec-only; encode is pure
      // expression logic, so it gets a real gate)
      graft.text.BpeEncodePipe("text", bpePinnedMerges)(
        t(s, d, "documents").select("doc_id", "text"))
        .select("doc_id", "bpe_tokens", "n_bpe_tokens")
        .orderBy("doc_id"),
      bpeOracle),
    Gate("bp_bpe_encode_sql", (s, d) => {
      // the SQL surface of the same native kernel: bpe_encode(text,
      // '<merges>') with the merge table as a literal — hash-identical
      // to the pipe gate (same oracle)
      org.apache.spark.sql.graft.GraftExtensions.register(s)
      t(s, d, "documents").createOrReplaceTempView("graft_bpe_docs")
      val spec = bpePinnedMerges.map { case (a, b) => s"$a $b" }.mkString("|")
      s.sql("SELECT doc_id, bpe_tokens, CAST(size(bpe_tokens) AS INT) " +
        "AS n_bpe_tokens FROM (SELECT doc_id, " +
        s"bpe_encode(text, '$spec') AS bpe_tokens FROM graft_bpe_docs) " +
        "ORDER BY doc_id")
    },
      // two front ends, one kernel: the SQL function must hash-match the
      // pipe gate's oracle byte-for-byte
      bpeOracle),
    Gate("t2_passages", (s, d) => {
      val toks = graft.text.TokenizerPipe()(t(s, d, "documents").select("doc_id", "text"))
      graft.text.GeneratePassagesPipe(24, 16,
        startTokens = Seq(1), endTokens = Seq(2), globalKeys = Seq("doc_id"))(toks)
        .select("doc_id", "passage_idx", "input_ids", "attention_mask",
          "offset_mapping", "passage_mask", "text")
        .orderBy("doc_id", "passage_idx")
    }, scl("""WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents),
        |tok AS (SELECT doc_id, text,
        | list_transform(toks, t -> CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(range(1, length(t)+1), j -> CAST(unicode(t[j]) AS BIGINT))), (h,c) -> (h*31+c)%1000003) AS INT)) AS ids,
        | list_transform(range(1, len(toks)+1), j -> [CAST(coalesce(list_sum(list_transform(toks[1:j-1], s -> length(s)+1)),0) AS INT), CAST(coalesce(list_sum(list_transform(toks[1:j-1], s -> length(s)+1)),0)+length(toks[j]) AS INT)]) AS om
        | FROM t),
        |win AS (SELECT doc_id, text, ids, om, len(ids) AS n,
        | unnest(list_filter(range(0, greatest(len(ids),1), 14), ii -> least(22, len(ids) - ii) > (CASE WHEN ii=0 THEN 0 ELSE 4 END))) AS i
        | FROM tok),
        |p AS (SELECT doc_id, text, ids, om, n, i,
        | CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT) AS passage_idx,
        | CASE WHEN i=0 THEN 0 ELSE 4 END AS lp,
        | least(22, n - i) AS sl
        | FROM win)
        |SELECT doc_id, passage_idx,
        | [1] || ids[i+1:i+sl] || [2] || list_transform(range(22 - sl), x -> 0) AS input_ids,
        | [1] || list_transform(ids[i+1:i+sl], x -> 1) || [1] || list_transform(range(22 - sl), x -> 0) AS attention_mask,
        | [[-1,-1]] || om[i+1:i+sl] || [[-1,-1]] || list_transform(range(22 - sl), x -> [-1,-1]) AS offset_mapping,
        | list_transform(range(0, 24), pp -> CASE WHEN pp >= 1 + lp AND pp < 1 + lp + (22 - lp - 4) AND pp < sl + 2 THEN 1 ELSE 0 END) AS passage_mask,
        | text[(list_min(list_filter(flatten(om[i+1:i+sl]), v -> v >= 0)) + 1):list_max(flatten(om[i+1:i+sl]))] AS text
        |FROM p ORDER BY doc_id, passage_idx""".stripMargin.replace("\n", " "),
        "doc_id" -> "", "passage_idx" -> "", "input_ids" -> "i", "attention_mask" -> "i", "offset_mapping" -> "ii", "passage_mask" -> "i", "text" -> "")),
  )
}
