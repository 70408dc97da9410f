package graft

import org.apache.spark.sql.functions._
import graft.operators.Smoothing

class SmoothingSpec extends SparkSpec {
  import spark.implicits._

  private def frame(ys: Seq[Double], ch: Int = 0) =
    ys.zipWithIndex.map { case (y, i) =>
      SignalRow("e", ch, i.toLong, i / 100.0, y)
    }.toDS().toDF()

  test("constant signal is unchanged (coeffs sum to 1, pad is benign)") {
    val df = frame(Seq.fill(200)(7.5))
    val out = Smoothing.withSmooth(df, 51, 7).collect()
    assert(out.length === 200)
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("y_smooth") - 7.5) < 1e-9)
    }
  }

  test("interior of a cubic is reproduced exactly (polyorder 7 >= 3)") {
    val ys = (0 until 300).map(i => 1.0 + 0.5 * i + 0.001 * i * i)
    val df = frame(ys.map(_.toDouble))
    val out = Smoothing.withSmooth(df, 51, 7)
      .filter($"sample_idx" >= 25 && $"sample_idx" < 275)
      .orderBy("sample_idx").collect()
    out.foreach { r =>
      val i = r.getAs[Long]("sample_idx").toInt
      assert(math.abs(r.getAs[Double]("y_smooth") - ys(i)) < 1e-6,
        s"at $i")
    }
  }

  test("edge uses block-repeat pad, not mirror: matches direct computation") {
    // Hand-compute smooth[0] from the padded array and compare.
    val rng = new java.util.Random(7)
    val ys = Seq.fill(120)(rng.nextDouble() * 100.0)
    val c = graft.functions.SavitzkyGolay.coeffs(51, 7)
    val padded = ys.take(25) ++ ys ++ ys.takeRight(25)
    def expected(i: Int): Double = {
      var acc = 0.0
      (0 until 51).foreach(j => acc += c(j) * padded(i + j))
      acc
    }
    val out = Smoothing.withSmooth(frame(ys), 51, 7)
      .orderBy("sample_idx").collect()
    Seq(0, 1, 24, 60, 118, 119).foreach { i =>
      assert(math.abs(out(i).getAs[Double]("y_smooth") - expected(i)) < 1e-9,
        s"at $i")
    }
  }

  test("multi-channel independence: per-channel results unaffected by others") {
    val a = frame(Seq.tabulate(100)(i => math.sin(i / 10.0) * 50), ch = 0)
    val b = frame(Seq.fill(100)(3.0), ch = 1)
    val out = Smoothing.withSmooth(a.unionByName(b), 51, 7)
    val solo = Smoothing.withSmooth(a, 51, 7)
    val joint = out.filter($"channel" === 0)
      .select("sample_idx", "y_smooth").orderBy("sample_idx").collect()
    val alone = solo.select("sample_idx", "y_smooth")
      .orderBy("sample_idx").collect()
    joint.zip(alone).foreach { case (x, y) =>
      assert(x.getDouble(1) === y.getDouble(1))
    }
  }

  test("edge lengths 1..526 and a mixed 400/900 frame: nulls and bits as recorded") {
    val all = EdgeSignals.lengths.flatMap(n => EdgeSignals.noisy(n, ch = n)).toDS().toDF()
    val out = Smoothing.withSmooth(all)
    assert(out.columns.toSeq ===
      Seq("experiment_id", "channel", "sample_idx", "t", "y", "y_smooth"))
    // below 25 samples the block-repeat pad is the whole series, and
    // only i in [25-n, 2n-25) has a full 51-tap window
    assert(EdgeSignals.fingerprint(out, "y_smooth") === Map(
      1 -> (Nil, 528L),
      24 -> (List((1, 23)), -7348245868011071079L),
      25 -> (List((0, 25)), -6932506314581084676L),
      26 -> (List((0, 26)), 918191768777219714L),
      51 -> (List((0, 51)), 1761178140593050745L),
      524 -> (List((0, 524)), -7259006567603902744L),
      525 -> (List((0, 525)), -4880815756306043782L),
      526 -> (List((0, 526)), -3742172124587871666L)))
    val mixed = (EdgeSignals.noisy(400, 0) ++ EdgeSignals.noisy(900, 1)).toDS().toDF()
    assert(EdgeSignals.fingerprint(Smoothing.withSmooth(mixed), "y_smooth") === Map(
      0 -> (List((0, 400)), 4506491293949810035L),
      1 -> (List((0, 900)), -1885497027437263848L)))
  }

  test("ewma: hand-computed adjusted head, constant fixpoint, channel independence") {
    // y = 1, 2, 4 with lambda = 1/2 (adjust=True renormalization):
    //   t0: 1
    //   t1: (2 + 0.5·1) / 1.5        = 5/3
    //   t2: (4 + 0.5·2 + 0.25·1) / 1.75 = 3
    val out = Smoothing.ewma(frame(Seq(1.0, 2.0, 4.0))).orderBy("sample_idx")
      .collect().map(_.getAs[Double]("ewma"))
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(math.abs(out(1) - 5.0 / 3.0) < 1e-12)
    assert(math.abs(out(2) - 3.0) < 1e-12)
    // a constant series is a fixpoint at every position, incl. the head
    val const = Smoothing.ewma(frame(Seq.fill(50)(2.25))).collect()
    assert(const.forall(r => r.getAs[Double]("ewma") === 2.25))
    // other channels do not leak into the lag frames
    val two = frame(Seq(1.0, 2.0, 4.0)).unionAll(frame(Seq(100.0, 100.0, 100.0), ch = 1))
    val byCh = Smoothing.ewma(two).collect()
      .groupBy(_.getAs[Int]("channel"))
    assert(byCh(1).forall(r => r.getAs[Double]("ewma") === 100.0))
    assert(math.abs(byCh(0).sortBy(_.getAs[Long]("sample_idx"))
      .last.getAs[Double]("ewma") - 3.0) < 1e-12)
  }

  test("rollingMedian: impulse removed, ramp preserved, edge frames shrink") {
    // ramp 0..9 with an impulse spike at idx 5 (value 100): a ±2
    // median drops the spike entirely; monotone neighborhoods pass
    // through unchanged. Edge frames: idx 0 sees [0,1,2] (odd, median
    // 1.0), idx 1 sees [0,1,2,3] (EVEN — midpoint average (1+2)/2).
    val ys = Seq(0.0, 1.0, 2.0, 3.0, 4.0, 100.0, 6.0, 7.0, 8.0, 9.0)
    val out = Smoothing.rollingMedian(frame(ys)).orderBy("sample_idx")
      .collect().map(_.getAs[Double]("y_med"))
    // reference model: sorted slice, midpoint by index, even frames
    // average the two middles — the operator's documented contract
    val expect = ys.indices.map { i =>
      val fr = ys.slice(math.max(0, i - 2), math.min(ys.length, i + 3)).sorted
      val n = fr.length
      if (n % 2 == 1) fr(n / 2) else (fr(n / 2 - 1) + fr(n / 2)) / 2.0
    }
    assert(out.toSeq === expect)
    // hand-derived pins: odd edge frame [0,1,2] -> 1; even edge frame
    // [0,1,2,3] -> 1.5; the spike's own frame [3,4,100,6,7] -> 6
    // (impulse REMOVED — a linear FIR would smear it)
    assert(expect.head === 1.0 && expect(1) === 1.5 && expect(5) === 6.0)
    // channels stay independent: two channels, medians computed per channel
    val two = frame(ys, ch = 0).unionAll(frame(ys.map(_ + 50.0), ch = 1))
    val byCh = Smoothing.rollingMedian(two).collect()
      .groupBy(_.getAs[Int]("channel"))
      .view.mapValues(_.sortBy(_.getAs[Long]("sample_idx"))
        .map(_.getAs[Double]("y_med")).toSeq).toMap
    assert(byCh(0) === expect)
    assert(byCh(1) === expect.map(_ + 50.0))
  }

  test("smoothingSnr: hand-computed variances, equal-power channel is 0 dB, degenerate variances null") {
    import spark.implicits._
    // ch0: y=[0,2,4,null] vs smooth [1,2,3,7]: residual [-1,0,1];
    // varS = 2/3, varR = 2/3 -> snr 0 dB (null sample dropped).
    // ch1: constant residual -> noise_var 0 -> snr null.
    val df = Seq(
      ("e", 0, 0L, Option(0.0), Option(1.0)),
      ("e", 0, 1L, Option(2.0), Option(2.0)),
      ("e", 0, 2L, Option(4.0), Option(3.0)),
      ("e", 0, 3L, None: Option[Double], Option(7.0)),
      ("e", 1, 0L, Option(2.0), Option(1.0)),
      ("e", 1, 1L, Option(4.0), Option(3.0)))
      .toDF("experiment_id", "channel", "sample_idx", "y", "y_smooth")
    val out = Smoothing.smoothingSnr(df).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    val r0 = out(0)
    assert(r0.getAs[Long]("n_samples") === 3L)
    assert(math.abs(r0.getAs[Double]("signal_var") - 2.0 / 3) < 1e-12)
    assert(math.abs(r0.getAs[Double]("noise_var") - 2.0 / 3) < 1e-12)
    assert(math.abs(r0.getAs[Double]("snr_db")) < 1e-12)
    val r1 = out(1)
    assert(math.abs(r1.getAs[Double]("noise_var")) < 1e-12)
    assert(r1.isNullAt(r1.fieldIndex("snr_db")))
  }
}

/** Channels of the lengths where the pad, the 51-tap window and the
  * 525-sample envelope floor change behaviour, and a fingerprint of an
  * output column: its non-null runs and a hash of its raw bits. The
  * expected fingerprints in SmoothingSpec and EnvelopesSpec were
  * recorded from the earlier window-function implementation of the
  * two operators.
  */
object EdgeSignals {
  val lengths: Seq[Int] = Seq(1, 24, 25, 26, 51, 524, 525, 526)

  def noisy(n: Int, ch: Int): Seq[SignalRow] = {
    val rng = new java.util.Random(1000L + n)
    (0 until n).map { i =>
      SignalRow("e", ch, i.toLong, i / 100.0,
        1000.0 + 300.0 * math.sin(i / 20.0) + 8.0 * rng.nextGaussian())
    }
  }

  /** Half-open runs of non-null positions. */
  def runs(vs: Seq[Option[Double]]): List[(Int, Int)] =
    vs.indices.filter(vs(_).isDefined).foldLeft(List.empty[(Int, Int)]) {
      case ((a, b) :: t, i) if i == b => (a, i + 1) :: t
      case (acc, i) => (i, i + 1) :: acc
    }.reverse

  def bits(vs: Seq[Option[Double]]): Long =
    vs.foldLeft(17L)((h, v) =>
      h * 31 + v.fold(1L)(java.lang.Double.doubleToRawLongBits))

  /** channel -> (runs, bits) of column `c`, in sample order. */
  def fingerprint(df: org.apache.spark.sql.DataFrame, c: String): Map[Int, (List[(Int, Int)], Long)] =
    df.collect().groupBy(_.getAs[Int]("channel")).map { case (ch, rs) =>
      val vs = rs.sortBy(_.getAs[Long]("sample_idx")).toSeq
        .map(r => if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c)))
      ch -> (runs(vs), bits(vs))
    }
}
