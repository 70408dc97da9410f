package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SignalRow
import graft.functions.{SavitzkyGolay, SignalKernel}

/** O3 — Savitzky-Golay smoothing with the reference's block-repeat edge
  * padding (the reference's `peak_detection.py:172-197`, SURVEY §2.3),
  * plus the other per-channel smoothers (EWMA, rolling median) and the
  * smoothing SNR audit.
  *
  * [[withSmooth]] is one typed pass per channel (groupByKey +
  * flatMapGroups, the shape `PeakDetect.detectPeaks` uses) that calls
  * [[graft.functions.SignalKernel.smooth]], where the pad, the FIR and
  * the null rule live.
  */
object Smoothing {

  val keyCols: Seq[String] = Seq("experiment_id", "channel")
  private def keys: Seq[Column] = keyCols.map(col)

  /** Output row of [[withSmooth]]: the input sample and its `y_smooth`. */
  final case class SmoothedRow(
      experiment_id: String,
      channel: Int,
      sample_idx: Long,
      t: Double,
      y: Double,
      y_smooth: Option[Double]
  )

  /** Adds `y_smooth` (SG window/polyorder over block-repeat-padded `y`,
    * pad stripped) to the signal frame. Output length = input length;
    * interior samples equal the plain SG convolution, edge samples see
    * the duplicated block — exact reference parity (SURVEY §2.3).
    */
  def withSmooth(sig: DataFrame, window: Int = 51, polyorder: Int = 7): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    val c = SavitzkyGolay.coeffs(window, polyorder)
    sig.as[SignalRow]
      .groupByKey(r => (r.experiment_id, r.channel))
      .flatMapGroups { (_: (String, Int), it: Iterator[SignalRow]) =>
        val rows = it.toArray.sortBy(_.sample_idx)
        val s = SignalKernel.smooth(rows.map(_.y), c)
        rows.iterator.zipWithIndex.map { case (r, i) =>
          SmoothedRow(r.experiment_id, r.channel, r.sample_idx, r.t, r.y, s.at(i))
        }
      }
      .toDF()
  }

  /** Q181 — half-life EWMA: exponentially-weighted moving average with
    * decay λ = 1/2, truncated at `lags` taps and renormalized by the
    * AVAILABLE weight mass (pandas `ewm(adjust=True)` semantics, so the
    * series head is an exact partial-window average, not a biased
    * ramp-in). The truncation error is 2^-lags ≤ 2.4e-10 of the weight
    * mass — below double visibility for this signal's dynamic range.
    *
    * Engine-exact by construction: every weight 2^-i and every product
    * y·2^-i is EXACT in binary floating point (power-of-two scaling
    * changes only the exponent), so the only rounding is in the two
    * additive folds — both generated left-associated and mirrored
    * textually by the oracle. One bounded window pass (all `lags` lag
    * frames share the partition/sort); shuffle-free when the data is
    * already channel-partitioned.
    */
  def ewma(sig: DataFrame, lags: Int = 32): DataFrame = {
    require(lags >= 1 && lags <= 63, s"lags must be in [1,63], got $lags")
    val w = Window.partitionBy(keys: _*).orderBy(col("sample_idx"))
    val taps = (0 until lags).map { i =>
      val y = if (i == 0) col("y") else lag(col("y"), i).over(w)
      val p = lit(math.pow(0.5, i))
      (coalesce(y * p, lit(0.0)), when(y.isNotNull, p).otherwise(lit(0.0)))
    }
    val num = taps.map(_._1).reduce(_ + _)
    val den = taps.map(_._2).reduce(_ + _)
    sig.select(col("experiment_id"), col("channel"), col("sample_idx"),
      (num / den).as("ewma"))
  }

  /** Q171 — rolling-median despeckle: per channel, the median of `y`
    * over the `±half` sample frame (shrinking at the channel edges —
    * the first sample's frame is `[0, half]`, the standard
    * streaming-safe edge rule). The ORDER-STATISTIC counterpart of the
    * SG smoother: a linear FIR spreads an impulse spike across the
    * whole window, the median REMOVES it while leaving monotone ramps
    * bit-identical — which is why despeckle-then-smooth is the classic
    * front of a peak-detection chain on raw sensor feeds.
    *
    * Exactness: the sorted-frame midpoint is picked by index; an
    * even frame (edge-only here) averages the two middles as ONE
    * `(a + b) / 2.0` — the oracle computes the identical expression
    * on DuckDB's `list_sort`, so no quantile-interpolation formula
    * divergence can enter.
    *
    * Scale shape: one channel-keyed exchange (shared with every other
    * per-channel window in the chain), a BOUNDED ±half frame per row
    * (O(w) state — never a per-channel sort of the full extent beyond
    * the one the window ordering already requires), and a narrow
    * projection out. At 100 TB the frame state is 5 doubles per row in
    * flight — the despeckle is shuffle-free when the data is already
    * channel-partitioned.
    */
  def rollingMedian(sig: DataFrame, half: Int = 2): DataFrame = {
    require(half >= 1, s"rolling median needs a frame (half >= 1), got $half")
    val wfr = Window.partitionBy(keys: _*)
      .orderBy(col("sample_idx")).rowsBetween(-half, half)
    sig
      .withColumn("_ls", sort_array(collect_list(col("y")).over(wfr)))
      .withColumn("_fn", size(col("_ls")))
      .withColumn("y_med",
        when(col("_fn") % 2 === 1,
          element_at(col("_ls"), ((col("_fn") + 1) / 2).cast("int")))
        .otherwise(
          (element_at(col("_ls"), (col("_fn") / 2).cast("int")) +
            element_at(col("_ls"), (col("_fn") / 2).cast("int") + 1)) / 2.0))
      .select(col("experiment_id"), col("channel"), col("sample_idx"),
        col("y_med"))
  }

  /** Q241 — per-channel smoothing SNR audit: variance of the smoothed
    * signal vs variance of the residual y − y_smooth, in dB — the QA
    * gate that answers "did the SG filter actually denoise this
    * channel, or is it eating signal?". A channel whose residual
    * variance rivals its smoothed variance (low snr_db) either has
    * broadband noise the 51/7 filter can't reach or a filter
    * mis-tuned for its waveform — flag it BEFORE trusting any
    * downstream per-beat metric.
    *
    * Exactness: moments are DECIMAL-quantized sums (combine-order-
    * free); both variances finish in the n·Σx² − (Σx)² form as one
    * pinned double expression each; log10 is the only transcendental
    * (≤1 ulp cross-engine, far below tolerance). Explicit n > 1 and
    * positive-variance guards → null, never ±Inf or a fabricated 0.
    * Scale: one filtered pass, one map-side-combined groupBy per
    * channel — the cheapest possible audit shape.
    */
  def smoothingSnr(withSmoothDf: DataFrame): DataFrame = {
    val ok = col("y").isNotNull && col("y_smooth").isNotNull
    val r = col("y") - col("y_smooth")
    val a = withSmoothDf.filter(ok).groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("y_smooth").cast("decimal(28,14)")).as("ss"),
        sum((col("y_smooth") * col("y_smooth")).cast("decimal(28,10)"))
          .as("sss"),
        sum(r.cast("decimal(28,14)")).as("sr"),
        sum((r * r).cast("decimal(28,10)")).as("srr"))
    val nD = col("n").cast("double")
    def variance(s: Column, ssq: Column): Column =
      (nD * ssq.cast("double") - s.cast("double") * s.cast("double")) /
        (nD * nD)
    val vS = variance(col("ss"), col("sss"))
    val vR = variance(col("sr"), col("srr"))
    a.select(keys :+ col("n").as("n_samples") :+
      when(col("n") > 1L, vS).as("signal_var") :+
      when(col("n") > 1L, vR).as("noise_var") :+
      when(col("n") > 1L && vR > lit(0.0) && vS > lit(0.0),
        lit(10.0) * log10(vS / vR)).as("snr_db"): _*)
  }
}
