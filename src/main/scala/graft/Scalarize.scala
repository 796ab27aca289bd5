package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical scalar encoding of array-typed columns for the driver's
  * correctness dump. The gate comparer (pandas) cannot sort/hash ndarray
  * cells, so [[Verify]] flattens every array column to a deterministic
  * string, mirrored exactly by the DuckDB oracle SQL (the `ddIntArr` /
  * `ddDblArr` / `ddStrArr` / `ddIntArrArr` helpers in [[graft.gates.GateSupport]]).
  *
  * Encoding (identical on both engines):
  *   - array<integral|bool>  -> elements cast to string, joined with ','
  *   - array<float|double>   -> per element: 'nan'/'inf'/'-inf' sentinels,
  *     else round(x*10000) rendered as an integer string (4-decimal fixed
  *     point — sidesteps cross-engine double→string formatting divergence,
  *     e.g. Java's 1.0E-4 vs DuckDB's 0.0001), joined with ','
  *   - array<string>         -> joined with chr(31) (absent from the data)
  *   - array<array<T>>       -> inner encodings joined with ';'
  *   - null array and empty array both encode to '' (concat_ws semantics;
  *     the DuckDB side coalesces array_to_string's NULL to '')
  *
  * Scalar columns pass through untouched — raw/rounded doubles compared
  * exactly as numbers worked in round 2; only array cells crashed the
  * comparer.
  */
object Scalarize {

  val StrSep = "\u001f"

  private def elem(c: Column, dt: DataType): Column = dt match {
    case FloatType | DoubleType =>
      val d = c.cast("double")
      when(isnan(d), lit("nan"))
        .when(d === lit(Double.PositiveInfinity), lit("inf"))
        .when(d === lit(Double.NegativeInfinity), lit("-inf"))
        .otherwise(round(d * 10000, 0).cast("long").cast("string"))
    case ArrayType(inner, _) => joinArr(c, inner)
    case _: StructType => to_json(c)
    case _ => c.cast("string")
  }

  private def joinArr(c: Column, et: DataType): Column = {
    val sep = et match {
      case StringType => StrSep
      case ArrayType(_, _) => ";"
      case _ => ","
    }
    concat_ws(sep, transform(c, x => elem(x, et)))
  }

  def apply(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case ArrayType(et, _) => joinArr(col(s"`${f.name}`"), et).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }
}
