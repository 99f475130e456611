package graft.core

/**
 * Patch-size constraint resolution — the engine's analogue of the
 * reference's GetPatchSize / PatchSizeConstraints system
 * (uni2ts/src/uni2ts/transform/patch.py:33-120): the legal bucket width for
 * a series is the intersection of
 *
 *   1. a frequency-dependent legal range (the reference's DEFAULT_RANGES
 *      table, patch.py:59-70),
 *   2. the configured candidate set (default {8,16,32,64,128}),
 *   3. a length ceiling `length / minTimePatches` guaranteeing at least
 *      `minTimePatches` patches per series.
 *
 * The reference picks randomly among survivors (np.random.choice,
 * patch.py:117) — a training-augmentation concern; this engine is
 * deterministic, so [[resolve]] picks the LARGEST survivor (widest bucket
 * = fewest groups = cheapest rollup), and callers needing the full set use
 * [[candidates]]. Resolution failure is an error carrying the same
 * diagnostic fields as the reference's AssertionError (patch.py:106-115).
 */
object PatchSizing {

  /** Frequency alias -> inclusive (start, stop) legal patch-size range. */
  val DefaultRanges: Map[String, (Int, Int)] = Map(
    "S" -> (64, 128),
    "T" -> (32, 128),
    "H" -> (32, 64),
    "D" -> (16, 32),
    "B" -> (16, 32),
    "W" -> (16, 32),
    "M" -> (8, 32),
    "Q" -> (1, 8),
    "Y" -> (1, 8),
    "A" -> (1, 8))

  val DefaultCandidates: Seq[Int] = Seq(8, 16, 32, 64, 128)

  def legalRange(freq: String): (Int, Int) =
    DefaultRanges.getOrElse(
      baseAlias(freq),
      throw new IllegalArgumentException(s"unknown freq alias: $freq"))

  /** Strip a multiplier prefix from a freq alias: "5T" -> "T", "W" -> "W"
   * (the offset-name normalization the reference gets from pandas). */
  def baseAlias(freq: String): String = freq.dropWhile(_.isDigit)

  /** `pd.infer_freq` analogue (data/builder/simple.py:49-58): infer the
   * freq alias from a series' epoch-SECOND timestamps, or None when the
   * spacing is irregular — the caller falls back to its configured
   * default, exactly like the reference's `_from_long_dataframe`.
   *
   * Fixed-span units return "<k><unit>" for multiples (e.g. "5T");
   * calendar units (M/Q/A, whose spans vary by month length / leap years)
   * are recognized by their span envelope; business-daily ("B") by the
   * 1-day-steps-with-3-day-weekend signature. */
  /** Annual series must be calendar-anchored: every stamp falls on the
   * same (month, day-of-month) — pandas' AS-JAN/A-MAR/... anchor family.
   * Equal 365-day runs keep the anchor only while no leap February is
   * crossed, so this one check covers both anchor and leap drift. */
  private def annualAnchored(epochSeconds: Seq[Long]): Boolean = {
    val md = epochSeconds.map { t =>
      val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(t, 86400L))
      (d.getMonthValue, d.getDayOfMonth)
    }
    md.distinct.size == 1
  }

  def inferFreq(epochSeconds: Seq[Long]): Option[String] = {
    if (epochSeconds.length < 3) return None // pd.infer_freq needs >= 3 stamps
    val deltas = epochSeconds.iterator.sliding(2).map(p => p(1) - p(0)).toVector
    if (deltas.exists(_ <= 0)) return None
    val Day = 86400L
    val distinct = deltas.distinct.sorted
    // business-daily: 1-day weekday steps with 3-day Fri->Mon jumps — and
    // the jumps must actually sit on weekends (a mid-week 3-day gap is an
    // irregular series, pd.infer_freq -> None). 1970-01-01 was a Thursday:
    // dow 0=Sun..6=Sat via (days + 4) % 7.
    if (distinct == Vector(Day, 3 * Day)) {
      def dow(t: Long): Long = (Math.floorDiv(t, Day) + 4) % 7
      val businessAligned =
        epochSeconds.forall(t => dow(t) >= 1 && dow(t) <= 5) &&
          epochSeconds.iterator.sliding(2).forall { p =>
            val d = p(1) - p(0)
            if (d == 3 * Day) dow(p(0)) == 5 else dow(p(0)) != 5
          }
      return if (businessAligned) Some("B") else None
    }
    // calendar units FIRST — but only where the span evidence really is
    // calendar-shaped. Mixed-delta runs inside a period's span envelope are
    // calendar series (months vary 28-31 days, quarters 90-92, years
    // 365-366). EQUAL-delta runs are calendar evidence only for the spans
    // two ADJACENT periods can share: months 31 (Jul-Aug, Dec-Jan),
    // quarters 91 (leap-year Q1-Q2: 31+29+31 and 30+31+30) or 92 (Q3-Q4),
    // years 365 (consecutive non-leap). A constant 29- or 30-day grid is a
    // true k-day series — no two adjacent calendar months are both 29 or
    // both 30 days long, so pd.infer_freq reads it as '30D', not monthly
    // (round-3 ADVICE). Exactly 28 days falls through to "4W"
    // (indistinguishable, and the week reading keeps the multiple exact);
    // 90/366 to "90D"/"366D" (no two adjacent quarters/years share them).
    val (lo, hi) = (deltas.min, deltas.max)
    if (distinct.size > 1) {
      if (lo >= 28 * Day && hi <= 31 * Day) return Some("M")
      // real quarters span 90-92 days (non-leap Q1 is the 90 floor; an
      // 89-day delta cannot separate adjacent quarter starts)
      if (lo >= 90 * Day && hi <= 92 * Day) return Some("Q")
      if (lo >= 365 * Day && hi <= 366 * Day)
        return if (annualAnchored(epochSeconds)) Some("A") else None
      return None
    }
    // Adjacency caps for equal-delta runs: at most TWO consecutive months
    // are 31 days (Jul-Aug, Dec-Jan) and at most TWO consecutive quarters
    // share a span (leap Q1-Q2 at 91, Q3-Q4 at 92) — so THREE or more
    // equal deltas at these spans cannot be calendar periods and fall
    // through to the fixed-grid reading ('31D', '13W', '92D'), which is
    // what pd.infer_freq returns for them. Years: up to three consecutive
    // non-leap years (and longer runs at non-leap centuries) keep constant
    // 365-day runs annual at any length — but only when the stamps are
    // calendar-ANCHORED (every date shares the same month/day, pandas'
    // 'AS-JAN'/'A-MAR' anchoring; round-4 ADVICE): an unanchored fixed
    // 365-day grid, or one whose dates drift across a leap February, is a
    // plain '365D' series to pd.infer_freq.
    if (deltas.length <= 2) {
      if (lo == 31 * Day) return Some("M")
      if (lo == 91 * Day || lo == 92 * Day) return Some("Q")
    }
    if (lo == 365 * Day && annualAnchored(epochSeconds)) return Some("A")
    if (distinct.size == 1) {
      val d = distinct.head
      def of(unitSec: Long, alias: String): Option[String] = {
        val m = d / unitSec
        Some(if (m == 1) alias else s"$m$alias")
      }
      if (d % 604800L == 0) of(604800L, "W")
      else if (d % Day == 0) of(Day, "D")
      else if (d % 3600L == 0) of(3600L, "H")
      else if (d % 60L == 0) of(60L, "T")
      else of(1L, "S")
    } else None
  }

  /** All legal candidates for (freq, series length, minTimePatches). */
  def candidates(
      freq: String,
      length: Int,
      minTimePatches: Int,
      candidateSet: Seq[Int] = DefaultCandidates): Seq[Int] = {
    val (lo, hi) = legalRange(freq)
    val ceil = length / minTimePatches
    candidateSet.filter(p => p >= lo && p <= hi && p <= ceil)
  }

  /** Deterministic resolution: the largest legal candidate. */
  def resolve(
      freq: String,
      length: Int,
      minTimePatches: Int,
      candidateSet: Seq[Int] = DefaultCandidates): Int = {
    val cs = candidates(freq, length, minTimePatches, candidateSet)
    if (cs.isEmpty)
      throw new IllegalArgumentException(
        s"no valid patch size: freq=$freq, length=$length, " +
          s"minTimePatches=$minTimePatches, candidates=$candidateSet, " +
          s"constraints=${legalRange(freq)}, ceil=${length / minTimePatches}")
    cs.max
  }
}
