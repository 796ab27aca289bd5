package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Automatic SRP/LSH layout sizing: the occupancy wall (candidate volume
  * ~ (n/2^r)² per band) was hand-fixed twice (r8: 16/4 at 20k vectors;
  * r14: 60/6 at the 200k audit) — the sizer must choose those fixes
  * unprompted while preserving the historical narrow default for small
  * corpora (existing persisted caches/oracles replay unchanged).
  */
class SrpLayoutSpec extends SparkSpec {

  test("small corpora keep the historical 60/6 narrow layout") {
    for (n <- Seq(0L, 1L, 200L, 1000L, 1024L)) {
      val l = SrpLayout.forCorpus(n)
      assert(l == SrpLayout.Layout(60, 6, 5), s"n=$n got $l")
      assert(!l.wide)
    }
  }

  test("the 200k-vector regime chooses the wide 120/6 layout automatically") {
    // the layout the r14 audit hand-fixed: occupancy <= 1 needs
    // r >= log2(2e5) = 17.6 -> ladder step 20 -> 120 bits over 6 bands
    val l = SrpLayout.forCorpus(200000L)
    assert(l == SrpLayout.Layout(120, 6, 5))
    assert(l.wide && l.bitsPerBand == 20)
    // monotone through the ladder; occupancy target respected at each n
    var prev = 0
    for (n <- Seq(1L, 2000L, 50000L, 2000000L, 1000000000L, Long.MaxValue / 2)) {
      val r = SrpLayout.bitsPerBand(n)
      assert(r >= prev, s"ladder must be monotone in n (n=$n)")
      prev = r
      if (r < 60) // below the cap the target (x hysteresis slack) holds
        assert(n.toDouble / math.pow(2, r) <=
          SrpLayout.OccupancySlack + 1e-9,
          s"occupancy target violated at n=$n r=$r")
    }
  }

  test("hysteresis: corpora hovering at a power of two keep a stable layout") {
    // the ADVICE r16 case: 1024 vs 1025 must NOT flip 60<->72 bits
    assert(SrpLayout.bitsPerBand(1024L) == 10)
    assert(SrpLayout.bitsPerBand(1025L) == 10)
    // the step-up boundary moved to target*slack*2^r = 1280 — inclusive
    // (occupancy 1.25 is allowed), exclusive above
    assert(SrpLayout.bitsPerBand(1280L) == 10)
    assert(SrpLayout.bitsPerBand(1281L) == 12)
    // same at the next round size retrieval corpora hover at
    assert(SrpLayout.bitsPerBand(4096L) == 12)
    assert(SrpLayout.bitsPerBand(4097L) == 12)
    // the one-shot retrieval preset keeps the measured 200k regime
    // narrow (the 200k LshScale crossover recorded in SURVEY.md), and
    // still widens eventually
    assert(SrpLayout.forCorpusNarrow(200000L, 6,
      SrpLayout.OneShotRetrievalOccupancy) == SrpLayout.Layout(60, 6, 5))
    assert(SrpLayout.bitsPerBand(200000L,
      SrpLayout.OneShotRetrievalOccupancy) == 10)
    assert(SrpLayout.bitsPerBand(100000000L,
      SrpLayout.OneShotRetrievalOccupancy) == 20)
  }

  test("every ladder layout satisfies the pipe's constructor constraints") {
    for (n <- Seq(0L, 500L, 5000L, 60000L, 200000L, 10000000L, Long.MaxValue / 2)) {
      val l = SrpLayout.forCorpus(n)
      // must construct without tripping any require()
      val p = SRPCosineDedupPipe.sized("v", "id", n)
      assert(p.nBits == l.nBits && p.bands == l.bands &&
        p.maxHamming == l.maxHamming)
      assert(p.nBits % p.bands == 0)
      assert(p.nBits <= 62 || 60 % (p.nBits / p.bands) == 0)
      assert(p.maxHamming < p.bands)
      // narrow engine cap: single-long signature at any n
      val ln = SrpLayout.forCorpusNarrow(n)
      assert(ln.nBits <= 62 && ln.nBits % ln.bands == 0)
    }
    assert(SrpLayout.forCorpusNarrow(200000L) == SrpLayout.Layout(60, 6, 5),
      "narrow engines cap at 60/6 instead of going wide")
  }

  test("sized SRP pipe finds planted near-dups end-to-end (auto layout)") {
    import spark.implicits._
    // 40 base vectors + 5 tiny-perturbation near-dups at id+1000; the
    // corpus count keeps the narrow auto layout, and recall must match
    // the pinned-default pipe exactly
    def vec(i: Int): Seq[Float] =
      Seq.tabulate(16)(t => (((i * 13 + t * 7) % 19) - 9).toFloat / 9f)
    val base = (0 until 40).map(i => (i.toLong, vec(i)))
    val dups = (0 until 5).map(i =>
      (i + 1000L, vec(i).updated(0, vec(i).head + 0.001f)))
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val auto = SRPCosineDedupPipe.sized("embedding", "vec_id",
      corpusCount = 45)(df)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pinned = SRPCosineDedupPipe("embedding", "vec_id")(df)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto == pinned, "auto narrow layout must equal the default")
    (0 until 5).foreach(i => assert(auto.contains((i.toLong, i + 1000L)),
      s"planted pair $i missing"))
  }
}
