package graft.perfbench

/** An output check failed: the run reports `correct: false` and exits
  * non-zero, whatever its timings.
  */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Output checks, as pure functions over collected outputs so the
  * benchmark's self-test can feed them deliberately corrupted outputs.
  */
object Checks {
  def ensure(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  // --- curate_batch --------------------------------------------------

  /** Every planted exact-copy group collapses: at most one member of the
    * group survives, and the group's whole family (the group plus the
    * near-copies planted from its source) keeps at least one doc.
    */
  def exactGroupsCollapse(kept: Set[Long], groups: Seq[Seq[Long]],
      family: Long => Seq[Long]): Unit =
    groups.foreach { g =>
      val survivors = g.filter(kept)
      ensure(survivors.size <= 1,
        s"exact-copy group ${g.mkString(",")} kept ${survivors.size} docs")
      ensure((g ++ family(g.head)).exists(kept),
        s"exact-copy group ${g.mkString(",")} lost every member")
    }

  /** Row counts and digests agree across repetitions (and between the
    * traced and untraced passes).
    */
  def allEqual(what: String, values: Seq[String]): Unit =
    ensure(values.distinct.size <= 1,
      s"$what differs between repetitions: ${values.distinct.mkString(" vs ")}")

  // --- retrieve_serve ------------------------------------------------

  /** One query's ranked answer: at most k distinct corpus ids, -1
    * padding only after them, scores non-increasing.
    */
  def ranked(qid: Long, ids: Seq[Long], scores: Seq[Double], k: Int,
      corpus: Long => Boolean): Unit = {
    val real = ids.takeWhile(_ >= 0)
    ensure(ids.drop(real.size).forall(_ == -1L),
      s"query $qid: ids after padding ${ids.mkString(",")}")
    ensure(real.size <= k, s"query $qid: ${real.size} ids > k=$k")
    ensure(real.distinct.size == real.size, s"query $qid: repeated ids ${real.mkString(",")}")
    ensure(real.forall(corpus), s"query $qid: id outside the corpus in ${real.mkString(",")}")
    val sc = scores.take(real.size)
    ensure(sc.size == real.size, s"query $qid: ${sc.size} scores for ${real.size} ids")
    ensure(sc.zip(sc.drop(1)).forall { case (a, b) => a >= b },
      s"query $qid: scores not non-increasing ${sc.mkString(",")}")
  }

  /** Every verbatim-span query finds its source doc in the BM25 top-10. */
  def spansFound(source: Map[Long, Long], top: Map[Long, Seq[Long]]): Unit =
    source.foreach { case (qid, doc) =>
      ensure(top.getOrElse(qid, Nil).take(10).contains(doc),
        s"span query $qid: source doc $doc not in BM25 top-10 ${top.getOrElse(qid, Nil).mkString(",")}")
    }

  // --- ingest_stream -------------------------------------------------

  /** The table grew by exactly the batch's unique arrivals. */
  def rowGrowth(batch: Long, before: Long, after: Long, unique: Long): Unit =
    ensure(after - before == unique,
      s"batch $batch: table grew by ${after - before}, unique arrivals $unique")

  /** No planted copy of a standing-corpus doc was inserted. */
  def copiesAbsent(table: Set[Long], planted: Seq[Long]): Unit = {
    val in = planted.filter(table)
    ensure(in.isEmpty, s"planted cross-corpus copies inserted: ${in.take(10).mkString(",")}")
  }

  /** Re-applying a committed batch id is a no-op on the manifest. */
  def replayNoop(before: String, after: String): Unit =
    ensure(before == after, s"replayed batch changed the manifest:\n$before\n--\n$after")
}
