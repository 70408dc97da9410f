package graft.operators

import org.apache.spark.sql.DataFrame
import graft.PeakConfig
import graft.functions.{SavitzkyGolay, SignalKernel}

/** O4/O5/O6 — floor/ceiling envelopes + diastolic reference
  * (the reference's `peak_detection.py:56-169,200-218`, SURVEY
  * §2.3/§2.4).
  *
  * Recipe per channel (defaults W=350, SG 301/3), computed by
  * [[graft.functions.SignalKernel.envelopes]], which also states the
  * null/NaN parity rules:
  *   floor[i]   = min over *interior local minima* of frame y[i, i+350),
  *                i ∈ [0, n−350); NaN when the frame has none
  *   padded     = blockRepeat(floor, 175)            — length n again
  *   baseline   = SG(301,3, mode='nearest')(padded)  — NOT stripped
  * ceiling mirrors with interior local maxima / max.
  *
  * Channels shorter than auxWindowSize + pad get null envelopes (the
  * reference crashes on them — divergence logged in SURVEY §8 Q2).
  */
object Envelopes {

  /** Output row: a smoothed sample with its envelopes. */
  final case class EnrichedRow(
      experiment_id: String,
      channel: Int,
      sample_idx: Long,
      t: Double,
      y: Double,
      y_smooth: Option[Double],
      baseline: Option[Double],
      ceiling: Option[Double],
      diastolic: Option[Double]
  )

  /** Adds `baseline`, `ceiling`, `diastolic` columns to a frame of
    * [[Smoothing.SmoothedRow]]s: one pass per channel, like
    * `PeakDetect.detectPeaks`.
    */
  def withEnvelopes(df: DataFrame, cfg: PeakConfig = PeakConfig()): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val c = SavitzkyGolay.coeffs(cfg.auxSmoothingWindow, cfg.auxPolyorder)
    df.as[Smoothing.SmoothedRow]
      .groupByKey(r => (r.experiment_id, r.channel))
      .flatMapGroups { (_: (String, Int), it: Iterator[Smoothing.SmoothedRow]) =>
        val rows = it.toArray.sortBy(_.sample_idx)
        val env = SignalKernel.envelopes(
          rows.map(_.y_smooth.getOrElse(Double.NaN)), cfg.auxWindowSize, c)
        rows.iterator.zipWithIndex.map { case (r, i) =>
          val (b, cv) = (env.baseline(i), env.ceiling(i))
          EnrichedRow(r.experiment_id, r.channel, r.sample_idx, r.t, r.y,
            r.y_smooth, SignalKernel.nanToNone(b), SignalKernel.nanToNone(cv),
            SignalKernel.diastolic(b, cv, cfg.relativeToBaseline))
        }
      }
      .toDF()
  }
}
