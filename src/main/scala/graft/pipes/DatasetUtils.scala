package graft.pipes

import graft.core.Pipe
import graft.core.Pipe.qcol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dataset utilities. Reference: warp_pipes/support/datasets_utils.py
  * (U1-U4 in SURVEY §2.10).
  */

/** U1 `take_subset` (datasets_utils.py:22-62): seeded random subset by count
  * or fraction. The reference uses `RandomState(0)` permutation; we use
  * `rand(seed)` ordering — same contract (deterministic given seed),
  * different sequence (documented divergence, SURVEY §7.4 risk 3).
  *
  * Scale shape: for n below the topK-sort threshold, `orderBy(key).limit`
  * plans as TakeOrderedAndProject — a per-partition heap plus a driver
  * merge of partials, NO full-data sort or shuffle. Above it Spark would
  * fall back to a global sort of ALL rows to keep n of them, so the pipe
  * instead counts once (one eager pass, same trade the sample-fraction
  * design needs anyway) and pre-shrinks to ~n rows before the sort:
  * random mode by seeded Bernoulli sample, hashKey mode by a hash-range
  * prefilter (which keeps exactly the rows any full sort would have
  * ranked first, so the selected set is unchanged). The +5*sqrt(n)
  * headroom makes a shortfall a >5-sigma event.
  */
case class TakeSubset(n: Option[Long] = None, fraction: Option[Double] = None,
    seed: Long = 0L, hashKey: Option[String] = None) extends Pipe {
  override def params = Map("n" -> n.mkString, "fraction" -> fraction.mkString,
    "seed" -> seed.toString, "hashKey" -> hashKey.mkString)

  private def topKThreshold(df: DataFrame): Long =
    df.sparkSession.conf
      .get("spark.sql.execution.topKSortFallbackThreshold", "10000").toLong

  private def headroom(count: Long): Double =
    count + 5 * math.sqrt(count.toDouble) + 100

  protected def transform(df: DataFrame, keys: Seq[String]): DataFrame =
    (n, fraction) match {
      // hashKey: engine-independent deterministic subset — pseudo-shuffle
      // by a multiplicative hash of a unique key (reproducible in any SQL
      // engine, unlike rand(seed) which is tied to Spark's partitioning).
      case (Some(count), _) if hashKey.isDefined =>
        require(count <= Int.MaxValue, s"take_subset n=$count > Int.MaxValue")
        val k = qcol(hashKey.get)
        val m = lit(1000003L)
        val h = pmod(k * lit(2654435761L), m)
        if (count < topKThreshold(df)) df.orderBy(h, k).limit(count.toInt)
        else {
          val total = df.count()
          if (total <= count) df
          else {
            // keep hash buckets expected to hold ~n rows, then sort only
            // those: the n smallest (h, k) pairs all lie below the cut
            val cut = math.min(1000003L,
              (1000003.0 * headroom(count) / total).toLong + 1)
            df.filter(h < lit(cut)).orderBy(h, k).limit(count.toInt)
          }
        }
      case (Some(count), _) =>
        require(count <= Int.MaxValue, s"take_subset n=$count > Int.MaxValue")
        if (count < topKThreshold(df)) df.orderBy(rand(seed)).limit(count.toInt)
        else {
          val total = df.count()
          if (total <= count) df
          else {
            val f = math.min(1.0, headroom(count) / total)
            df.sample(withReplacement = false, f, seed)
              .orderBy(rand(seed)).limit(count.toInt)
          }
        }
      case (_, Some(f)) => df.sample(withReplacement = false, f, seed)
      case _ => df
    }
}

/** U2 `keep_only_columns` (datasets_utils.py:88-127). */
case class KeepColumns(keys: Seq[String]) extends Pipe {
  override def params = Map("keys" -> keys.sorted.mkString(","))
  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame =
    df.select(keys.filter(df.columns.contains).map(qcol): _*)
}

/** U4 `get_dataset_fingerprints` (datasets_utils.py:150-164): a
  * deterministic content fingerprint for a DataFrame — the canonicalized
  * (analyzed, pruned) plan digest. Two frames with the same source data
  * and same logical plan share a fingerprint; use as the `upstream`
  * argument of [[graft.core.CachedStage]].
  */
object DatasetFingerprint {
  /** Plan-identity fingerprint for persisted-cache keys. The canonicalized
    * plan STRING alone is not enough: a file scan renders as
    * `Relation [cols] parquet` with no path, so two scans of different
    * directories (sf0.01 vs sf0.1 fixtures) hash EQUAL and a cache keyed
    * on it serves the wrong corpus. Fold in each file-relation leaf's
    * root paths + total bytes (the same identity [[graft.gates.GateSupport]]
    * tableFp uses) so the key tracks which data the plan reads.
    */
  def of(df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.analyzed
    val leaves = plan.collectLeaves().map {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.mkString(",") + ":" + fs.sizeInBytes
        case other => other.toString
      }
      // an RDD-backed leaf (foreachBatch micro-batch, rdd.toDF) has NO
      // content identity in its canonicalized plan — two different
      // batches with the same schema render EQUAL and would alias one
      // cache key. Fold the applicationId AND the RDD id: rdd ids restart
      // from 0 per SparkContext, so rdd.id alone still aliases across
      // application runs sharing a persisted cacheDir. With both, keys
      // are unique per materialization per application, so a persisted
      // cache can never serve another batch's data (it just never hits
      // for RDD-backed frames).
      case rdd: org.apache.spark.sql.execution.LogicalRDD =>
        s"rdd:${df.sparkSession.sparkContext.applicationId}:${rdd.rdd.id}:" +
          render(rdd.canonicalized)
      // same hazard, other wrapper: sparkContext.parallelize(...).toDF /
      // createDataFrame(rdd) analyze to ExternalRDD, not LogicalRDD
      case ext: org.apache.spark.sql.execution.ExternalRDD[_] =>
        s"rdd:${df.sparkSession.sparkContext.applicationId}:${ext.rdd.id}:" +
          render(ext.canonicalized)
      case leaf => render(leaf.canonicalized)
    }
    graft.core.Fingerprint.hash(
      render(plan.canonicalized) + "|" + leaves.mkString("|"))
  }

  /** Config-independent plan rendering: `plan.toString` truncates field
    * lists at `spark.sql.debug.maxToStringFields` (default 25), so in a
    * session that leaves the default, two distinct wide plans (>25
    * fields, differing only in truncated fields over the same files)
    * would alias to one cache key and serve the wrong cached frame. Pin
    * the field limit to unbounded at the call site instead of depending
    * on the session conf.
    */
  private def render(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : String =
    plan.treeString(verbose = true, addSuffix = false,
      maxFields = Int.MaxValue, printOperatorId = false)
}

/** Dense stable global row ids in `orderCol` order — the reference's
  * absolute row `idx` (`with_indices=True`, core/pipe.py:277; SURVEY §1.4)
  * as a first-class operator, for callers that need CONTIGUOUS 0-based
  * ids (vector-cache keys, shard layouts) rather than the sparse
  * partition-prefixed ids of [[NestingOps.withRowIdx]].
  *
  * Scale-safe by construction: delegates to [[NestingOps.withGlobalRank]]
  * (range-partitioned sort + broadcast per-partition offsets), never a
  * corpus-wide single-partition window. Ties in `orderCol` are only
  * partition-stable; use a unique order column for deterministic ids.
  */
case class AssignRowIdPipe(
    orderCol: String,
    outputCol: String = "row_idx") extends Pipe {
  override def update: Boolean = true
  override def params = Map("order" -> orderCol, "out" -> outputCol)
  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame =
    NestingOps.withGlobalRank(df, orderCol, outputCol)
}

/** U3 `concatenate_datasets` (datasets_utils.py:130-147):
  * axis 0 = union rows; axis 1 = zip columns (used to attach new columns
  * after flatten/nest, pipes/nesting.py:316-323).
  *
  * Axis 1 requires explicit row identity: frames are equi-joined on a
  * shared id column (the reference's in-memory positional zip has no
  * scale-safe Spark analogue — positional alignment of independently
  * shuffled frames is undefined; round-1 verdict item 2).
  */
object Concatenate {
  def rows(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  def columns(dfs: Seq[DataFrame], on: String): DataFrame =
    dfs.reduce { (a, b) =>
      val fresh = b.columns.filter(c => c == on || !a.columns.contains(c))
      a.join(b.select(fresh.map(qcol).toSeq: _*), Seq(on))
    }
}
