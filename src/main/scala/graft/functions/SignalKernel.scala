package graft.functions

/** The smoothing and envelope recipe of the signal pipeline (SURVEY
  * §2.3, the reference's `peak_detection.py:56-197`) on one channel's
  * samples as plain arrays. `Smoothing.withSmooth`,
  * `Envelopes.withEnvelopes` and the streaming operators all call it,
  * so the math exists once:
  *
  *  - smooth: block-repeat pad by `k = window/2`
  *    (concat(v[0:k], v, v[n-k:n]) — NOT mirror, NOT edge-replicate),
  *    then a valid-mode Savitzky-Golay FIR; the pad is stripped.
  *  - envelopes (defaults W = 350, SG 301/3): strict-neighbour valley
  *    and peak marks of the smooth series; floor[i] / ceiling[i] = min /
  *    max of the marks in the frame interior [i+1, i+W−2] for
  *    i ∈ [0, n−W); a block-repeat pad of those by max(W, 301)/2 = 175;
  *    an edge-replicate (scipy `mode='nearest'`) extension by 150; the
  *    301-tap FIR.
  *
  * Parity rules — what the oracle SQL computes, bit for bit:
  *  - Every input row comes out, with the same column names: the
  *    `SignalRow` columns, then `y_smooth`, then `baseline`, `ceiling`,
  *    `diastolic`.
  *  - `y_smooth` is null where the 51-tap window does not fit the
  *    padded series (only channels shorter than 25 samples have such
  *    rows; see [[smooth]]).
  *  - Every row of a channel gets null envelopes when n < W + 175
  *    (525 for the defaults; the reference crashes there — SURVEY §8 Q2).
  *  - A frame with no interior extremum is NaN; NaN flows through the
  *    FIR like numpy, so it nulls every envelope whose 301 taps touch it
  *    (NaN becomes null at the operator boundary).
  *  - Diastolic is `b + r·(c − b)` (r = 0.1), null if either envelope is
  *    null.
  *  - Every FIR is [[dotChunked]]: the association order the oracle SQL
  *    spells out, so both engines produce the same doubles.
  *
  * Marks use the strict-neighbour rule (`v < prev ∧ v < next`). scipy
  * also reports flat-plateau extrema; a plateau needs exactly-tied
  * doubles, which continuous signals do not produce — the plateau rule
  * lives in [[FindPeaks]], where it is part of the contract. The input
  * series is finite: a null `y_smooth` reaches [[envelopes]] as NaN, and
  * NaN never marks.
  */
object SignalKernel {

  /** FIR taps per chunk of [[dotChunked]]. DuckDB's expression binder
    * caps nesting at 128, so a single 301-term chain would not bind.
    */
  val dotChunk = 100

  /** Σ_j xs(from + j) · coeffs(j) in a fixed, engine-portable order:
    * taps split into chunks of ≤ [[dotChunk]], each chunk folded
    * left-assoc from 0.0, chunk sums added left-assoc.
    */
  def dotChunked(xs: Array[Double], from: Int, coeffs: Array[Double]): Double = {
    var total = 0.0
    var first = true
    var i = 0
    while (i < coeffs.length) {
      val end = math.min(i + dotChunk, coeffs.length)
      var acc = 0.0
      var j = i
      while (j < end) { acc += xs(from + j) * coeffs(j); j += 1 }
      total = if (first) acc else total + acc
      first = false
      i = end
    }
    total
  }

  /** concat(v[0:pad], v, v[m-pad:m]) with numpy slice clipping: a
    * series shorter than `pad` is repeated whole.
    */
  private def blockRepeatPad(v: Array[Double], pad: Int): Array[Double] = {
    val m = v.length
    val p = math.min(pad, m)
    Array.concat(v.take(p), v, v.takeRight(p))
  }

  /** A smoothed channel: `values(i)` is sample i's `y_smooth` for i in
    * [from, until) and null elsewhere.
    */
  final case class Smoothed(values: Array[Double], from: Int, until: Int) {
    def at(i: Int): Option[Double] =
      if (i >= from && i < until) Some(values(i)) else None
  }

  /** SG smoothing of `y` with `coeffs` over the block-repeat padded
    * series. Sample i sits at padded position a + i (a = min(k, n));
    * its window [a+i−k, a+i+k] fits the padded series for every i once
    * n ≥ k, and only for i ∈ [k−n, 2n−k) below that.
    */
  def smooth(y: Array[Double], coeffs: Array[Double]): Smoothed = {
    val n = y.length
    val k = coeffs.length / 2
    val padded = blockRepeatPad(y, k)
    val a = math.min(k, n)
    val from = math.max(0, k - a)
    val until = math.max(from, math.min(n, padded.length - k - a))
    val out = new Array[Double](n)
    var i = from
    while (i < until) { out(i) = dotChunked(padded, a + i - k, coeffs); i += 1 }
    Smoothed(out, from, until)
  }

  /** Baseline and ceiling of one channel; NaN stands for null. */
  final case class Envelope(baseline: Array[Double], ceiling: Array[Double])

  /** Envelopes of the smooth series `v` for frame size `frame` (W) and
    * the envelope FIR `coeffs`. Channels with n − W < pad get all-NaN
    * envelopes. 2·pad = W (as `PeakConfig` requires), so the padded
    * floor series has length n again.
    */
  def envelopes(v: Array[Double], frame: Int, coeffs: Array[Double]): Envelope = {
    val n = v.length
    val pad = math.max(frame, coeffs.length) / 2
    require(2 * pad == frame, s"envelope pad $pad misaligns frame $frame")
    val m = n - frame
    if (m < pad) {
      return Envelope(Array.fill(n)(Double.NaN), Array.fill(n)(Double.NaN))
    }
    val valley = Array.fill(n)(Double.NaN)
    val peak = Array.fill(n)(Double.NaN)
    var q = 1
    while (q < n - 1) {
      val x = v(q)
      if (x < v(q - 1) && x < v(q + 1)) valley(q) = x
      if (x > v(q - 1) && x > v(q + 1)) peak(q) = x
      q += 1
    }
    Envelope(
      fir(blockRepeatPad(frameExtremum(valley, m, frame - 2, _ < _), pad), coeffs),
      fir(blockRepeatPad(frameExtremum(peak, m, frame - 2, _ > _), pad), coeffs))
  }

  /** An envelope value at the operator boundary: NaN is null. */
  def nanToNone(x: Double): Option[Double] = if (x.isNaN) None else Some(x)

  /** Diastolic reference from NaN-coded envelopes. */
  def diastolic(b: Double, c: Double, r: Double): Option[Double] =
    if (b.isNaN || c.isNaN) None else Some(b + r * (c - b))

  /** out(i) = the `better` extreme of the non-NaN marks in
    * [i+1, i+width], i ∈ [0, m); NaN when the frame has none. On ties
    * the earliest mark wins, as Spark's min/max aggregates keep it. The
    * scan is O(n·width), the same order as the envelope FIR after it.
    */
  private def frameExtremum(marks: Array[Double], m: Int, width: Int,
                            better: (Double, Double) => Boolean): Array[Double] =
    Array.tabulate(m) { i =>
      var best = Double.NaN
      var q = i + 1
      while (q <= i + width) {
        val x = marks(q)
        if (!x.isNaN && (best.isNaN || better(x, best))) best = x
        q += 1
      }
      best
    }

  /** `coeffs` FIR at every position of `padded`, its ends
    * edge-replicated by k (scipy `mode='nearest'`).
    */
  private def fir(padded: Array[Double], coeffs: Array[Double]): Array[Double] = {
    val len = padded.length
    val k = coeffs.length / 2
    val ext = Array.tabulate(len + 2 * k)(j => padded(math.min(math.max(j - k, 0), len - 1)))
    Array.tabulate(len)(p => dotChunked(ext, p, coeffs))
  }
}
