package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship: the SURVEY §7.2 end-to-end slice over sf0.001 —
    * read documents → tokenize → generate overlapping passages → build a
    * native BM25 index over the passages → retrieve top-10 passages for
    * document-prefix queries. Exercises scan, text kernels, the 1→N
    * generator, index-build aggregations, scored joins and windowed
    * top-k in one pipeline.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$d/documents.parquet").select("doc_id", "text")
    val toks = graft.text.TokenizerPipe()(docs)
    val passages = graft.text.GeneratePassagesPipe(32, 24, globalKeys = Seq("doc_id"))(toks)
      .select((col("doc_id") * 1000 + col("passage_idx")).as("pid"),
        col("text"))
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(col("text"), " "), 1, 6), " ").as("query.text"))
    val engine = graft.search.BM25Engine(passages,
      graft.search.SearchConfig(k = 10, fillMaskedIndices = false,
        queryIdCol = Some("qid")),
      corpusIdxCol = "pid", corpusTextCol = "text")
    engine(queries)
  }
  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.Gate.all.map(g => g.name -> g.build).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    gates.Gate.all.map(g => g.name -> g.oracle).toMap
}
