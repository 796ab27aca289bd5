package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness gate: a named Spark build over a fixture directory,
  * paired with the DuckDB SQL that must return the identical rows over the
  * same parquet tables. Conventions for oracle-hash stability:
  *   - every query ends in a deterministic ORDER BY (mirrored in the SQL);
  *   - double aggregates are round()ed; raw doubles pass through untouched;
  *   - timestamps are emitted as formatted strings (parquet timestamp
  *     annotations differ between writers);
  *   - aggregate/computed columns are aliased identically on both sides.
  */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String)

object Gate {
  /** Every gate, one per implemented operator from SURVEY.md §2. Lazy:
    * each family's list calls `Gate.apply` while it initializes, so a
    * strict val here would read a family list that is still null.
    */
  lazy val all: Seq[Gate] = registry(PipeGates.gates ++ SearchGates.gates ++
    DedupGates.gates ++ TextGates.gates ++ RelationalGates.gates ++
    CurationGates.gates)

  /** `gates` unchanged, or a failure naming every gate name used twice
    * (a name-keyed map would otherwise keep one and drop the rest).
    */
  def registry(gates: Seq[Gate]): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }
}
