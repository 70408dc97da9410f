package graft

import org.apache.spark.sql.functions._
import graft.operators.{Envelopes, Smoothing}

class EnvelopesSpec extends SparkSpec {
  import spark.implicits._

  // A channel long enough for the 350/301 machinery: sine + offset.
  private def sine(n: Int, ch: Int = 0) =
    (0 until n).map { i =>
      SignalRow("e", ch, i.toLong, i / 100.0,
        1000.0 + 300.0 * math.sin(i / 20.0))
    }.toDS().toDF()

  test("envelopes bracket the signal away from edges; diastolic between them") {
    val df = Envelopes.withEnvelopes(Smoothing.withSmooth(sine(1200)))
    val rows = df.filter($"sample_idx".between(300, 700))
      .select("y_smooth", "baseline", "ceiling", "diastolic").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, c, d) = (r.getAs[Double]("baseline"), r.getAs[Double]("ceiling"),
        r.getAs[Double]("diastolic"))
      assert(b < c, s"baseline $b !< ceiling $c")
      assert(d > b && d < c, s"diastolic $d outside ($b,$c)")
      assert(math.abs(d - (b + 0.1 * (c - b))) < 1e-9)
    }
  }

  test("output keeps exactly n rows per channel with envelope columns") {
    val df = Envelopes.withEnvelopes(Smoothing.withSmooth(sine(900)))
    assert(df.count() === 900)
    assert(df.filter($"baseline".isNotNull).count() === 900)
  }

  test("monotone 350-sample stretch poisons envelopes to null (NaN parity)") {
    // ramp has no interior local minima anywhere -> every frame NaN ->
    // nulls everywhere after SG.
    val ramp = (0 until 900).map { i =>
      SignalRow("e", 0, i.toLong, i / 100.0, i.toDouble)
    }.toDS().toDF()
    val df = Envelopes.withEnvelopes(Smoothing.withSmooth(ramp))
    assert(df.filter($"baseline".isNotNull).count() === 0)
    assert(df.filter($"diastolic".isNotNull).count() === 0)
  }

  test("short channel (n < 525) degrades to null envelopes, does not crash") {
    val df = Envelopes.withEnvelopes(Smoothing.withSmooth(sine(400)))
    assert(df.count() === 400)
    assert(df.filter($"baseline".isNotNull).count() === 0)
  }

  private val envCols = Seq("baseline", "ceiling", "diastolic")

  test("edge lengths 1..526: null envelopes below 525 samples, bits as recorded above") {
    val all = EdgeSignals.lengths.flatMap(n => EdgeSignals.noisy(n, ch = n)).toDS().toDF()
    val out = Envelopes.withEnvelopes(Smoothing.withSmooth(all))
    assert(out.columns.toSeq === Seq("experiment_id", "channel", "sample_idx",
      "t", "y", "y_smooth", "baseline", "ceiling", "diastolic"))
    val fp = envCols.map(c => c -> EdgeSignals.fingerprint(out, c)).toMap
    EdgeSignals.lengths.filter(_ < 525).foreach { n =>
      envCols.foreach(c => assert(fp(c)(n)._1 === Nil, s"$c n=$n"))
    }
    assert(fp("baseline")(525) === (List((0, 525)), 7024675214429156564L))
    assert(fp("ceiling")(525) === (List((0, 525)), -8406868847571916750L))
    assert(fp("diastolic")(525) === (List((0, 525)), 5789152513940513330L))
    assert(fp("baseline")(526) === (List((0, 526)), 157379242258266161L))
    assert(fp("ceiling")(526) === (List((0, 526)), -1397659298839799425L))
    assert(fp("diastolic")(526) === (List((0, 526)), 2868347652091050047L))
  }

  test("mixed 400/900 frame: the short channel is all null, the long one as recorded") {
    val mixed = (EdgeSignals.noisy(400, 0) ++ EdgeSignals.noisy(900, 1)).toDS().toDF()
    val out = Envelopes.withEnvelopes(Smoothing.withSmooth(mixed))
    val fp = envCols.map(c => c -> EdgeSignals.fingerprint(out, c)).toMap
    envCols.foreach(c => assert(fp(c)(0)._1 === Nil, c))
    assert(fp("baseline")(1) === (List((0, 900)), -2000268995517238401L))
    assert(fp("ceiling")(1) === (List((0, 900)), 7919759970143342962L))
    assert(fp("diastolic")(1) === (List((0, 900)), -2841745893191545800L))
  }

  test("a monotone stretch nulls exactly the envelopes whose taps touch its NaN frames") {
    // frames inside the ramp [500, 1100) have no interior extremum
    val rng = new java.util.Random(77)
    val rows = (0 until 1500).map { i =>
      val y = if (i >= 500 && i < 1100) 3.0 * i
        else 1000.0 + 300.0 * math.sin(i / 20.0) + 8.0 * rng.nextGaussian()
      SignalRow("e", 3, i.toLong, i / 100.0, y)
    }
    val out = Envelopes.withEnvelopes(Smoothing.withSmooth(rows.toDS().toDF()))
    assert(EdgeSignals.fingerprint(out, "baseline")(3) ===
      (List((0, 550), (1058, 1500)), -2870175860353778799L))
    assert(EdgeSignals.fingerprint(out, "ceiling")(3) ===
      (List((0, 549), (1052, 1500)), 3679661890955869596L))
    assert(EdgeSignals.fingerprint(out, "diastolic")(3) ===
      (List((0, 549), (1058, 1500)), 6301896407420760372L))
  }
}
