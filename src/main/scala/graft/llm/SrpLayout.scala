package graft.llm

/** Automatic SRP/LSH signature-layout sizing from the corpus count.
  *
  * Band-candidate volume grows with bucket occupancy² where occupancy is
  * `n / 2^r` (r = bits per band) — the knob that was hand-fixed twice
  * after superlinear walls (16/4 at 20k vectors in r8, 60/6 at the
  * 200k-vector audit in r14). This helper computes the layout from `n`
  * instead of leaving the wall to be rediscovered: pick the smallest
  * valid r whose expected occupancy is at or under `targetOccupancy`
  * (default 1 — candidate volume then stays ~linear in n).
  *
  * Layout validity mirrors [[SRPCosineDedupPipe]]'s constraints:
  * narrow layouts (nBits <= 62, one long) keep the historical 60/6
  * default as their FLOOR so existing persisted signature caches and
  * oracles replay unchanged; wide layouts pack 60-bit words, so r must
  * divide 60 — the ladder is 10, 12, 15, 20, 30, 60 bits per band
  * (with 6 bands: 60, 72, 90, 120, 180, 360-bit signatures; 2^60
  * buckets per band covers any corpus).
  */
object SrpLayout {

  /** A valid SRP signature layout (satisfies the pipe's requires). */
  final case class Layout(nBits: Int, bands: Int, maxHamming: Int) {
    def bitsPerBand: Int = nBits / bands
    def wide: Boolean = nBits > 62
  }

  /** r ladder: 10 is the historical narrow floor (60/6); every wider
    * step divides 60 so no band spans a packed-word boundary.
    */
  private val ladder = Seq(10, 12, 15, 20, 30, 60)

  /** Hysteresis slack on the occupancy target: a layout steps up only
    * once expected occupancy exceeds the target by 25%. Without it the
    * boundary sits EXACTLY at `target * 2^r` — and corpora naturally
    * sit at powers of two, so a corpus hovering at 1024/1025 rows would
    * flip 60<->72 bits between runs, forking every persisted signature
    * cache and pipe fingerprint keyed via `sized()`/auto even though
    * the corpus is effectively unchanged. With the slack, round sizes
    * sit comfortably inside a step (1024 and 1280 both keep r=10; the
    * flip moved to 1281 — not a size anything naturally hovers at).
    */
  val OccupancySlack: Double = 1.25

  /** Occupancy presets for [[graft.search.LSHDenseEngine.sized]], from
    * the measured crossover (the LshScale run in SURVEY.md: 200k vectors
    * x 100 queries, cold: narrow 60/6 3.72 s vs wide 120/6 4.29 s; recall 100/100 at
    * both): RETRIEVAL candidate volume is LINEAR in occupancy, so a
    * STANDING index — signature build state-cached once, queries
    * amortize it — wants tight buckets (target 1, the default). A
    * ONE-SHOT scan pays the signature build every time and the finer
    * buckets don't repay it at that scale — tolerate ~200 rows/bucket
    * (keeps 200k narrow, still widens past millions of rows). DEDUP
    * ([[SRPCosineDedupPipe.sized]]) is all-pairs — occupancy² — so its
    * one-shot target stays 1 regardless.
    */
  val StandingOccupancy: Double = 1.0
  val OneShotRetrievalOccupancy: Double = 200.0

  /** Bits per band for `n` vectors at `targetOccupancy` expected rows
    * per bucket: the smallest ladder step with `n / 2^r <= target *`
    * [[OccupancySlack]] (the slack is the layout-stability hysteresis).
    */
  def bitsPerBand(n: Long, targetOccupancy: Double = 1.0): Int = {
    require(n >= 0, "corpus count must be non-negative")
    require(targetOccupancy > 0, "target occupancy must be positive")
    val needed =
      if (n == 0) 0
      // tiny epsilon: log(2^k)/log(2) may land an ulp above k and a
      // corpus of exactly 2^k rows would then step up spuriously
      else math.ceil(
        math.log(n / (targetOccupancy * OccupancySlack)) / math.log(2)
          - 1e-9).toInt
    ladder.find(_ >= needed).getOrElse(ladder.last)
  }

  /** Full layout for `n` vectors: `bands * r` bits, `maxHamming =
    * bands - 1` (the pigeonhole-exact maximum).
    */
  def forCorpus(n: Long, bands: Int = 6, targetOccupancy: Double = 1.0): Layout = {
    require(bands >= 2, "need at least 2 bands for pigeonhole recall")
    val r = bitsPerBand(n, targetOccupancy)
    Layout(r * bands, bands, bands - 1)
  }

  /** Layout capped to a single-long signature (nBits <= 62) for
    * consumers that need one — the occupancy-chosen r capped at
    * `62 / bands`. [[graft.search.LSHDenseEngine]] reads the packed wide
    * layouts natively since r16, so its `sized` uses [[forCorpus]]; this
    * stays for callers that pin the narrow representation.
    */
  def forCorpusNarrow(n: Long, bands: Int = 6, targetOccupancy: Double = 1.0): Layout = {
    require(bands >= 2, "need at least 2 bands for pigeonhole recall")
    val r = math.min(bitsPerBand(n, targetOccupancy), 62 / bands)
    Layout(r * bands, bands, bands - 1)
  }
}
