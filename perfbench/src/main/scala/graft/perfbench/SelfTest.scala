package graft.perfbench

/** The benchmark's own test: every output check accepts a correct output
  * and rejects a deliberately corrupted one. Pure driver-side code, no
  * Spark session. Prints one line per case; exits non-zero on a miss.
  *
  *   python3 perfbench/run.py --self-test
  */
object SelfTest {
  private var failed = 0

  private def expect(name: String, shouldPass: Boolean)(check: => Unit): Unit = {
    val passed = try { check; true } catch { case _: CheckFailed => false }
    val ok = passed == shouldPass
    if (!ok) failed += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name: check ${if (passed) "passed" else "rejected"}")
  }

  def main(args: Array[String]): Unit = {
    // curate_batch: a planted corpus and a correct kept set
    val c = Gen.corpus(7L, 2000, Gen.vocab(7L, 3000))
    val copies = c.exactGroups.flatMap(_.tail).toSet ++ c.nearPairs.map(_._1) ++ c.lowQuality
    val kept = c.ids.toSet -- copies
    val family = c.nearPairs.groupBy(_._2).map { case (s, ps) => s -> ps.map(_._1) }
    def collapse(k: Set[Long]) =
      Checks.exactGroupsCollapse(k, c.exactGroups, s => family.getOrElse(s, Nil))
    expect("exact copies collapse", true)(collapse(kept))
    expect("exact copy kept twice", false)(collapse(kept + c.exactGroups.head(1)))
    expect("exact group lost", false)(collapse(kept -- c.exactGroups.head))
    expect("equal digests", true)(Checks.allEqual("digest", Seq("3:a:b", "3:a:b")))
    expect("digest drift", false)(Checks.allEqual("digest", Seq("3:a:b", "3:a:c")))

    // retrieve_serve: one ranked answer
    val corpus = (0L until 100L).toSet
    def ranked(ids: Seq[Long], sc: Seq[Double]) = Checks.ranked(1, ids, sc, 10, corpus)
    expect("ranked answer", true)(ranked(Seq(5, 3, -1), Seq(2.0, 1.0, Double.NegativeInfinity)))
    expect("id outside corpus", false)(ranked(Seq(5, 300), Seq(2.0, 1.0)))
    expect("scores increase", false)(ranked(Seq(5, 3), Seq(1.0, 2.0)))
    expect("more than k ids", false)(ranked(0L until 11L, Seq.fill(11)(1.0)))
    expect("repeated id", false)(ranked(Seq(5, 5), Seq(2.0, 1.0)))
    expect("span source found", true)(Checks.spansFound(Map(0L -> 7L), Map(0L -> Seq(9L, 7L))))
    expect("span source missing", false)(Checks.spansFound(Map(0L -> 7L), Map(0L -> Seq(9L, 8L))))

    // ingest_stream: growth, planted copies, replay
    expect("row growth", true)(Checks.rowGrowth(0, 100, 161, 61))
    expect("row growth off by one", false)(Checks.rowGrowth(0, 100, 162, 61))
    expect("copies refused", true)(Checks.copiesAbsent(Set(1L, 2L), Seq(3L)))
    expect("copy inserted", false)(Checks.copiesAbsent(Set(1L, 2L, 3L), Seq(3L)))
    expect("replay no-op", true)(Checks.replayNoop("id=3\nn=8\n", "id=3\nn=8\n"))
    expect("replay rewrote manifest", false)(Checks.replayNoop("id=3\nn=8\n", "id=4\nn=8\n"))

    println(if (failed == 0) "self-test passed" else s"self-test: $failed case(s) wrong")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
