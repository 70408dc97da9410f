package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.abs
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.Smoothing
import graft.streaming.StreamingOps

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("incremental smooth equals batch interior values, across micro-batch boundaries") {
    val rng = new java.util.Random(3)
    val rows = (0 until 200).map(i =>
      SignalRow("e", 0, i.toLong, i / 100.0, rng.nextDouble() * 10))
    val batch = Smoothing.withSmooth(rows.toDS().toDF())
      .filter($"sample_idx" >= 25 && $"sample_idx" < 175)
      .select("sample_idx", "y_smooth").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val stream = MemoryStream[SignalRow]
    val q = StreamingOps.incrementalSmooth(stream.toDS())
      .writeStream.format("memory").queryName("smooth_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // three uneven chunks force state carry-over mid-window
      stream.addData(rows.take(40)); q.processAllAvailable()
      stream.addData(rows.slice(40, 41)); q.processAllAvailable()
      stream.addData(rows.drop(41)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("smooth_test").collect()
      .map(r => r.getAs[Long]("sample_idx") -> r.getAs[Double]("y_smooth")).toMap
    assert(got.keySet === batch.keySet)
    got.foreach { case (i, v) => assert(v === batch(i), s"at $i") }
  }

  test("incremental smooth keeps channels independent") {
    val rows = (0 until 120).flatMap(i => Seq(
      SignalRow("e", 0, i.toLong, i / 100.0, i.toDouble),
      SignalRow("e", 1, i.toLong, i / 100.0, -i.toDouble)))
    val stream = MemoryStream[SignalRow]
    val q = StreamingOps.incrementalSmooth(stream.toDS())
      .writeStream.format("memory").queryName("smooth_chan")
      .outputMode(OutputMode.Append()).start()
    try { stream.addData(rows); q.processAllAvailable() } finally q.stop()
    val out = spark.table("smooth_chan")
    // linear signals are reproduced exactly by SG (polyorder 7 >= 1)
    val bad = out.filter(
      ($"channel" === 0 && abs($"y_smooth" - $"sample_idx") > 1e-9) ||
      ($"channel" === 1 && abs($"y_smooth" + $"sample_idx") > 1e-9)).count()
    assert(bad === 0L)
    assert(out.filter($"channel" === 0).count() === 70L) // 120 - 50 edge
  }

  test("incremental envelopes equal batch baseline/ceiling/diastolic on the interior") {
    val rng = new java.util.Random(21)
    val n = 1600
    val rows = (0 until n).map { i =>
      val beat = 300.0 * math.exp(-math.pow((i % 250) - 125.0, 2) / 300.0)
      SignalRow("e", 0, i.toLong, i / 100.0, 1000.0 + beat + rng.nextGaussian() * 8)
    }
    def trip(r: org.apache.spark.sql.Row): (Option[Double], Option[Double], Option[Double]) = {
      def g(c: String) =
        if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))
      (g("baseline"), g("ceiling"), g("diastolic"))
    }
    // parity interval: env[pos] needs floors to pos-25, a floor needs
    // smooth to fi+349, and tail-pad-free smooth ends at n-26
    // => pos <= n-350 (the lower bound 325 clears the prefix pad)
    val batch = graft.operators.Envelopes.withEnvelopes(
        graft.operators.Smoothing.withSmooth(rows.toDS().toDF()))
      .filter($"sample_idx" >= 325 && $"sample_idx" <= n - 350)
      .collect().map(r => r.getAs[Long]("sample_idx") -> trip(r)).toMap

    val stream = MemoryStream[SignalRow]
    val q = StreamingOps.incrementalEnvelopes(stream.toDS())
      .writeStream.format("memory").queryName("env_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows.take(500)); q.processAllAvailable()
      stream.addData(rows.slice(500, 501)); q.processAllAvailable()
      stream.addData(rows.drop(501)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("env_stream").collect()
      .map(r => r.getAs[Long]("sample_idx") -> trip(r)).toMap
      .filter { case (k, _) => k >= 325 && k <= n - 350 }
    assert(got.keySet === batch.keySet)
    got.foreach { case (k, v) => assert(v === batch(k), s"at $k") } // bitwise
  }

  test("incremental smooth and envelopes: trimmed tails stay bitwise equal to batch") {
    // batches far shorter than the 700-sample envelope cone: the state
    // tail is trimmed between batches, so the kernel runs over a tail
    // that no longer starts at the channel's first sample
    val rng = new java.util.Random(5)
    val n = 2000
    val rows = (0 until n).flatMap { i =>
      val beat = 300.0 * math.exp(-math.pow((i % 230) - 115.0, 2) / 250.0)
      Seq(0, 1).map(ch => SignalRow("e", ch, i.toLong, i / 100.0,
        1000.0 + (ch + 1) * beat + rng.nextGaussian() * 8))
    }
    def vals(df: DataFrame, c: String) =
      df.collect().map { r =>
        (r.getAs[Int]("channel"), r.getAs[Long]("sample_idx")) ->
          (if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c)))
      }
    val batch = graft.operators.Envelopes.withEnvelopes(
      Smoothing.withSmooth(rows.toDS().toDF()))
    val splits = Seq(0, 90, 91, 400, 710, 1111, 1300, 1333, 1700, 1999, n)
    def run(name: String, op: Dataset[SignalRow] => Dataset[_]): DataFrame = {
      val stream = MemoryStream[SignalRow]
      val q = op(stream.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try splits.sliding(2).foreach { case Seq(a, b) =>
        stream.addData(rows.slice(2 * a, 2 * b)); q.processAllAvailable()
      } finally q.stop()
      spark.table(name)
    }
    val sm = vals(run("smooth_trim", StreamingOps.incrementalSmooth(_)), "y_smooth")
    val smBatch = vals(batch.filter($"sample_idx".between(25, n - 26)), "y_smooth")
    assert(sm.length === smBatch.length) // each position emitted once
    assert(sm.toMap === smBatch.toMap)
    val env = run("env_trim", StreamingOps.incrementalEnvelopes(_))
    val envBatch = batch.filter($"sample_idx".between(325, n - 350))
    Seq("baseline", "ceiling", "diastolic").foreach { c =>
      val got = vals(env, c)
      assert(got.length === 2 * (n - 350 - 325 + 1), c)
      assert(got.toMap === vals(envBatch, c).toMap, c) // bitwise
    }
  }

  test("dedupStream drops cross-micro-batch duplicates via keyed state") {
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val stream = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingOps.dedupStream(
        stream.toDS().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData((1L, t0, "a"), (2L, t0, "b"), (1L, t0, "a-dup"))
      q.processAllAvailable()
      stream.addData((1L, t0, "a-again"), (3L, t0, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_stream").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L)) // dup in AND across batches dropped
  }

  test("session_window aggregation works under streaming with a watermark") {
    val stream = MemoryStream[(Timestamp, Long, Double)]
    val q = stream.toDS().toDF("tsm", "user_id", "value")
      .withWatermark("tsm", "10 minutes")
      .groupBy($"user_id",
        org.apache.spark.sql.functions.session_window($"tsm", "30 minutes").as("w"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .select($"user_id", $"w.start".as("start"), $"n")
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      stream.addData(
        (Timestamp.valueOf("2024-01-01 00:00:00"), 1L, 1.0),
        (Timestamp.valueOf("2024-01-01 00:10:00"), 1L, 1.0), // merges
        (Timestamp.valueOf("2024-01-01 02:00:00"), 1L, 1.0)) // new session
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sess_stream").orderBy("start").collect()
    assert(rows.length === 2)
    assert(rows(0).getLong(2) === 2L && rows(1).getLong(2) === 1L)
  }

  test("streamSessionFixture equals batch sessionRollup (append-mode flush)") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("streamsess").toString
    try {
      val ts = (s: String) => Timestamp.valueOf(s)
      // u1: two sessions (65 min gap splits); u2: one session
      Seq(
        (1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0, "{}"),
        (2L, ts("2024-01-01 00:10:00"), 1L, "click", 2.0, "{}"),
        (3L, ts("2024-01-01 01:15:00"), 1L, "click", 4.0, "{}"),
        (4L, ts("2024-01-01 00:05:00"), 2L, "view", 8.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = StreamingOps.streamSessionFixture(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getDouble(3))).toSet
      val want = graft.operators.Relational.sessionRollup(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(got === want && got.size === 3)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("streamFunnel state machine equals the batch funnel chain") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("streamfun").toString
    try {
      val ts = (s: String) => Timestamp.valueOf(s)
      Seq(
        // u1 full funnel; u2 click-before-signup breaks the chain;
        // u3 signup only
        (1L, ts("2024-01-01 10:00:00"), 1L, "signup", 0.0, "{}"),
        (2L, ts("2024-01-01 11:00:00"), 1L, "click", 0.0, "{}"),
        (3L, ts("2024-01-02 12:00:00"), 1L, "purchase", 0.0, "{}"),
        (4L, ts("2024-01-01 09:00:00"), 2L, "click", 0.0, "{}"),
        (5L, ts("2024-01-01 10:00:00"), 2L, "signup", 0.0, "{}"),
        (6L, ts("2024-01-01 11:00:00"), 2L, "purchase", 0.0, "{}"),
        (7L, ts("2024-01-01 10:00:00"), 3L, "signup", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val got = rows(StreamingOps.streamFunnelFixture(spark, dir))
      val want = rows(graft.operators.Relational.funnel(spark, dir))
      assert(got === want && got.map(_._2).sum === 3L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("streamMoments exact-decimal state equals batch momentStats") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("streammom").toString
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
      ((1 to 7).map(i => (i.toLong, t0, 1L, "click", i * 1.1,
        s"""{"k": ${i * 3}}""")) :+
        ((8L, t0, 1L, "view", 42.5, "{}")))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("event_type", "n", "mean_value", "var_value", "corr_vk")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), Option(r.get(4)))).toSet
      val got = rows(StreamingOps.streamMomentsFixture(spark, dir))
      val want = rows(graft.operators.Relational.momentStats(spark, dir))
      assert(got === want)   // bitwise: exact decimal state = batch sums
      assert(got.exists(r => r._1 == "view" && r._5.isEmpty),
        "degenerate group must have null corr in the stream too")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("streamHeavyHitters final emission equals batch heavyHitters across batch splits") {
    val dir = java.nio.file.Files.createTempDirectory("streamhh").toString
    try {
      // token counts deliberately straddle the 3-batch split: "alpha"
      // dominates everywhere, ties decided by token order
      val texts = Seq.fill(9)("alpha beta alpha gamma alpha") ++
        Seq("beta beta gamma delta epsilon zeta", "alpha beta")
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, if (i % 2 == 0) "s0" else "s1") }
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[String]("source"), r.getAs[String]("token"),
          r.getAs[Long]("cnt"), r.getAs[Long]("rnk"))).toSet
      val got = rows(StreamingOps.streamHeavyFixture(spark, dir))
      val want = rows(graft.operators.Pipeline.heavyHitters(spark, dir))
      assert(got === want)
      assert(got.exists { case (_, tok, _, rnk) => tok == "alpha" && rnk == 1L })
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("streamHistogram final updates equal the batch histogram") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("streamhist").toString
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
      Seq((1L, t0, 1L, "click", 2.0, "{}"), (2L, t0, 1L, "click", 7.0, "{}"),
        (3L, t0, 1L, "click", 7.5, "{}"), (4L, t0, 1L, "view", 12.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val got = rows(StreamingOps.streamHistogramFixture(spark, dir))
      val want = rows(graft.operators.Relational.valueHistogram(spark, dir))
      assert(got === want && got === Set(
        ("click", 0L, 1L), ("click", 1L, 2L), ("view", 2L, 1L)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("streamLatest struct-max state equals the batch q55 snapshot") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("streamlatest").toString
    try {
      val ts = (s: String) => Timestamp.valueOf(s)
      Seq((1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
          (2L, ts("2024-01-01 11:00:00"), 1L, "click", 2.0, "{}"),
          (3L, ts("2024-01-01 09:00:00"), 2L, "view", 9.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSet
      val got = rows(StreamingOps.streamLatestFixture(spark, dir))
      val want = rows(graft.operators.Relational.latestState(spark, dir)
        .select("user_id", "event_type", "last_us", "last_event_id",
          "last_value"))
      assert(got === want && got.size === 2)
      assert(got.exists(r => r._1 == 1L && r._4 == 2L && r._5 == 2.0))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("watermark drops events later than the lateness horizon") {
    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingOps.eventsHourly(
        stream.toDS().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("late_drop")
      .outputMode(OutputMode.Append()).start()
    try {
      // advance event time far ahead so the watermark passes hour 0
      stream.addData((Timestamp.valueOf("2024-01-01 00:30:00"), "a", 1.0))
      q.processAllAvailable()
      stream.addData((Timestamp.valueOf("2024-01-01 05:00:00"), "a", 1.0))
      q.processAllAvailable()
      // 4.5h late: far beyond the 10-minute watermark -> dropped
      stream.addData((Timestamp.valueOf("2024-01-01 00:45:00"), "a", 99.0))
      q.processAllAvailable()
      // move the watermark past hour 5 so every surviving window closes
      stream.addData((Timestamp.valueOf("2024-01-01 07:00:00"), "a", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val hour0 = spark.table("late_drop")
      .filter($"window_start" === Timestamp.valueOf("2024-01-01 00:00:00"))
      .collect()
    assert(hour0.length === 1)
    assert(hour0.head.getAs[Long]("n_events") === 1L) // late row NOT counted
  }

  test("windowed KMV: final stream emission equals the batch sketch per (type, hour)") {
    val sk = new graft.functions.KmvSketch(64, graft.functions.TextHash.P)
    val rng = new java.util.Random(41)
    // 3 types × 4 hour-buckets, with hash collisions repeated across
    // batch boundaries so the fold's idempotence is actually exercised
    val hour = 3600000000L
    val rows = (0 until 900).map { i =>
      val ty = s"t${i % 3}"
      val hr = (i % 4) * hour
      (ty, hr, math.abs(rng.nextLong() % 500L))
    }
    val batch = rows.groupBy(r => (r._1, r._2)).map { case (k, rs) =>
      val buf = rs.foldLeft(Array.emptyLongArray)((b, r) => sk.reduce(b, ("", r._3)))
      val o = sk.finish(buf)
      k -> ((o.n_kept, o.kth_min, o.est_distinct))
    }

    val stream = MemoryStream[(String, Long, Long)]
    val q = StreamingOps.streamWindowedKmv(stream.toDS())
      .writeStream.format("memory").queryName("wkmv_test")
      .outputMode(OutputMode.Update()).start()
    try {
      stream.addData(rows.take(300)); q.processAllAvailable()
      stream.addData(rows.slice(300, 301)); q.processAllAvailable()
      stream.addData(rows.drop(301)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("wkmv_test").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour_us"),
        r.getAs[Int]("version"), r.getAs[Int]("n_kept"),
        r.getAs[Long]("kth_min"), r.getAs[Double]("est_distinct")))
      .groupBy(r => (r._1, r._2))
      .map { case (k, emits) =>
        val last = emits.maxBy(_._3)
        k -> ((last._4, last._5, last._6))
      }
    assert(got === batch)
  }

  test("stateful smoother resumes from a checkpoint across query restarts") {
    // file source (replayable) — MemoryStream cannot recover from a
    // checkpoint by design
    val root = java.nio.file.Files.createTempDirectory("ckpt").toString
    val (inDir, ckpt) = (s"$root/in", s"$root/ckpt")
    new java.io.File(inDir).mkdirs()
    val rows = (0 until 160).map(i =>
      SignalRow("e", 0, i.toLong, i / 100.0, math.cos(i / 9.0) * 4))
    def writeChunk(name: String, chunk: Seq[SignalRow]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$inDir/$name"),
        chunk.map(r =>
          s"""{"experiment_id":"${r.experiment_id}","channel":${r.channel},""" +
          s""""sample_idx":${r.sample_idx},"t":${r.t},"y":${r.y}}""").mkString("\n"))
    val outDir = s"$root/out"
    def start() = StreamingOps.incrementalSmooth(
        spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[SignalRow].schema)
          .json(inDir).as[SignalRow])
      .writeStream.format("parquet") // durable sink: recovery supported
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    writeChunk("a.json", rows.take(80))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val first = spark.read.parquet(outDir).select("sample_idx").collect()
      .map(_.getLong(0)).sorted
    assert(first.toSeq === (25L to 54L)) // 80 samples -> centers 25..54

    writeChunk("b.json", rows.drop(80))
    val q2 = start() // FIR ring + source offsets restored from ckpt
    try q2.processAllAvailable() finally q2.stop()
    val all = spark.read.parquet(outDir).select("sample_idx").collect()
      .map(_.getLong(0)).sorted
    // contiguous continuation, no re-emission, no gap => state recovered
    assert(all.toSeq === (25L to 134L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("eventsHourly: streaming result equals the batch computation") {
    val evs = (0 until 300).map { i =>
      (Timestamp.valueOf(f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"),
        if (i % 3 == 0) "click" else "view", i * 1.5)
    }
    val batch = StreamingOps.eventsHourly(
        evs.toDF("ts", "event_type", "value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet

    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingOps.eventsHourly(
        stream.toDS().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("ev_hourly")
      .outputMode(OutputMode.Complete()).start()
    try {
      stream.addData(evs.take(150)); q.processAllAvailable()
      stream.addData(evs.drop(150)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ev_hourly").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got === batch)
  }

  test("slidingCounts: stream equals batch; every event covers two windows") {
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:30")
    val evs = (0 until 120 by 2).map(m =>
      (if (m % 6 == 0) "click" else "view", ts(m)))
    def proj(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_type", "tsm")
    val batch = StreamingOps.slidingCounts(proj(evs.toDF()))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // each event lands in exactly 2 of the 10/5-minute windows
    assert(batch.toSeq.map(_._3).sum === evs.length * 2L)

    val stream = MemoryStream[(String, Timestamp)]
    val q = StreamingOps.slidingCounts(proj(stream.toDS().toDF()))
      .writeStream.format("memory").queryName("q50_spec")
      .outputMode(OutputMode.Update()).start()
    try {
      stream.addData(evs.take(30)); q.processAllAvailable()
      stream.addData(evs.drop(30)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("q50_spec")
      .groupBy($"event_type", $"window_start_us")
      .agg(org.apache.spark.sql.functions.max($"n_events").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === batch)
  }

  test("stream-stream interval join equals the batch join across micro-batches") {
    val t0 = Timestamp.valueOf("2024-01-01 12:00:00").getTime
    def ts(min: Int) = new Timestamp(t0 + min * 60000L)
    // left events, right events: (user_id, ts, v)
    val lrows = Seq((1L, ts(20), 1.0), (2L, ts(5), 2.0), (3L, ts(40), 3.0))
    val rrows = Seq(
      (1L, ts(15), 10.0), // within [12:10, 12:20] of L1 -> joins
      (1L, ts(9), 11.0),  // before the 10-min lookback   -> no
      (2L, ts(0), 12.0),  // within [11:55, 12:05] of L2  -> joins
      (2L, ts(30), 13.0), // after L2                     -> no
      (9L, ts(20), 14.0)) // no left partner              -> no
    def proj(df: org.apache.spark.sql.DataFrame) = df.selectExpr(
      "l.user_id AS user_id", "l.ts AS l_ts", "r.ts AS r_ts", "r.v AS r_v")
    val batch = proj(StreamingOps.intervalJoin(
        lrows.toDF("user_id", "ts", "v"), rrows.toDF("user_id", "ts", "v")))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1),
        r.getTimestamp(2), r.getDouble(3))).toSet
    assert(batch === Set(
      (1L, ts(20), ts(15), 10.0),
      (2L, ts(5), ts(0), 12.0)))

    val ls = MemoryStream[(Long, Timestamp, Double)]
    val rs = MemoryStream[(Long, Timestamp, Double)]
    val q = proj(StreamingOps.intervalJoin(
        ls.toDS().toDF("user_id", "ts", "v"),
        rs.toDS().toDF("user_id", "ts", "v")))
      .writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    try {
      // uneven arrival: right side lags a micro-batch behind the left
      ls.addData(lrows.take(2)); q.processAllAvailable()
      rs.addData(rrows.take(3)); q.processAllAvailable()
      ls.addData(lrows.drop(2)); rs.addData(rrows.drop(3))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1),
        r.getTimestamp(2), r.getDouble(3))).toSet
    assert(got === batch)
  }

  test("stream-static join: dim enrichment broadcasts, no stream-side state") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val stream = MemoryStream[(Long, Double)]
    val enriched = stream.toDS().toDF("user_id", "v")
      .join(broadcast(dim), Seq("user_id"), "left")
    val q = enriched.writeStream.format("memory").queryName("ssdim")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Seq((1L, 10.0), (3L, 30.0))); q.processAllAvailable()
      stream.addData(Seq((2L, 20.0))); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssdim").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    assert(got === Set((1L, 10.0, Some("gold")), (3L, 30.0, None),
      (2L, 20.0, Some("silver"))))
    // the static side must enter the join as a broadcast — a
    // stream-static join keeps NO state and shuffles nothing; assert
    // on the same operator tree executed per micro-batch
    assert(Seq((9L, 1.0)).toDF("user_id", "v")
      .join(broadcast(dim), Seq("user_id"), "left")
      .queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("q123 left-outer interval join: unmatched clicks flush null-extended") {
    val dir = java.nio.file.Files.createTempDirectory("outerj").toString
    try {
      val t0 = 1700000000000000L // anchor micros
      def ts(min: Long) = new java.sql.Timestamp((t0 + min * 60000000L) / 1000L)
      // user 1: view 20 min before click -> matched
      // user 2: click with no view -> null-extended
      // user 3: view 40 min before click -> OUTSIDE 30-min lookback -> null
      Seq(
        (10L, ts(100), 1L, "click"), (11L, ts(80), 1L, "view"),
        (20L, ts(100), 2L, "click"),
        (30L, ts(100), 3L, "click"), (31L, ts(60), 3L, "view"))
        .toDF("event_id", "ts", "user_id", "event_type")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = graft.streaming.StreamingOps
        .streamIntervalOuterFixture(spark, dir).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(got === Set((10L, Some(11L)), (20L, None), (30L, None)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("q172 full-outer interval join: both sides flush null-extended") {
    val dir = java.nio.file.Files.createTempDirectory("fullouterj").toString
    try {
      val t0 = 1700000000000000L // anchor micros
      def ts(min: Long) = new java.sql.Timestamp((t0 + min * 60000000L) / 1000L)
      // user 1: view 20 min before click -> matched pair
      // user 2: click with no view -> left null-extended
      // user 3: view 40 min before click -> OUTSIDE 30-min lookback ->
      //         BOTH null-extended (click unmatched AND view unmatched)
      // user 4: view with no click at all -> right null-extended
      Seq(
        (10L, ts(100), 1L, "click"), (11L, ts(80), 1L, "view"),
        (20L, ts(100), 2L, "click"),
        (30L, ts(100), 3L, "click"), (31L, ts(60), 3L, "view"),
        (41L, ts(90), 4L, "view"))
        .toDF("event_id", "ts", "user_id", "event_type")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = graft.streaming.StreamingOps
        .streamIntervalFullOuterFixture(spark, dir).collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(got === Set(
        (Some(10L), Some(11L)), (Some(20L), None), (Some(30L), None),
        (None, Some(31L)), (None, Some(41L))))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("q116 streamEnrichFixture equals the batch join-aggregate") {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit, sum}
    val dir = "/root/testdata/sf0.001"
    val got = graft.streaming.StreamingOps.streamEnrichFixture(spark, dir)
      .collect()
      .map(r => r.getAs[String]("n_name") ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))).toMap
    val want = spark.read.parquet(s"$dir/events.parquet")
      .join(spark.read.parquet(s"$dir/customer.parquet"),
        col("user_id") === col("c_custkey"))
      .join(broadcast(spark.read.parquet(s"$dir/nation.parquet")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,4)")).cast("double").as("sum_value"))
      .collect()
      .map(r => r.getAs[String]("n_name") ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))).toMap
    assert(got === want)
  }

  test("q149 streamAsof equals the batch backward as-of join row-for-row") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Double]("prev_click_value")),
        Option(r.getAs[java.lang.Long]("prev_click_tsn")))
    val got = graft.streaming.StreamingOps.streamAsofFixture(spark, dir)
      .select(col("event_id"), col("prev_click_value"), col("prev_click_tsn"))
      .collect().map(key).toSet
    val want = graft.operators.AsofJoin.prevClick(spark, dir)
      .select(col("event_id"), col("prev_click_value"), col("prev_click_tsn"))
      .collect().map(key).toSet
    assert(got === want)
  }

  test("streaming partitioned parquet sink: shard layout + checkpointed exactly-once") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val out = java.nio.file.Files.createTempDirectory("ssink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sckpt").toString
    try {
      val stream = MemoryStream[(Long, String)]
      def start() = stream.toDS().toDF("doc_id", "source")
        .withColumn("shard",
          pmod(graft.functions.TextHash.polyHash(col("doc_id").cast("string")),
            lit(4L)))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .partitionBy("shard").outputMode(OutputMode.Append()).start()
      val q1 = start()
      try {
        stream.addData((0L until 30L).map(i => (i, "web")))
        q1.processAllAvailable()
      } finally q1.stop()
      // restart from the checkpoint: the committed batch must not be
      // re-emitted, the new batch must land
      val q2 = start()
      try {
        stream.addData((30L until 50L).map(i => (i, "books")))
        q2.processAllAvailable()
      } finally q2.stop()
      val back = spark.read.parquet(out)
      assert(back.count() === 50)
      assert(back.select("doc_id").distinct().count() === 50, "duplicate emission")
      val dirs = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
      assert(dirs.subsetOf(Set("shard=0", "shard=1", "shard=2", "shard=3"))
        && dirs.nonEmpty)
      // membership equals the batch writer's arithmetic
      val m = back.collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Int]("shard").toLong).toMap
      val want = spark.range(50).toDF("doc_id")
        .withColumn("shard",
          pmod(graft.functions.TextHash.polyHash(col("doc_id").cast("string")),
            lit(4L)))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m === want)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    }
  }

  test("chainedWindows: 10-min buckets roll into hours across micro-batches") {
    val H = 3600000000L; val M10 = 600000000L
    // type A: 3 events in hour-0 buckets 0,0,1; 1 event in hour 1
    val feed = Seq(("A", 0L), ("A", 1L * M10 - 1), ("A", 1L * M10),
      ("A", 6L * M10 + 5), ("B", 0L))
    val sentinel = ("__sentinel__", 20L * H)
    val stream = MemoryStream[(String, Long)]
    val in = stream.toDS().toDF("event_type", "us")
      .withColumn("tsm", org.apache.spark.sql.functions.expr("timestamp_micros(us)"))
    val q = StreamingOps.chainedWindows(in)
      .writeStream.format("memory").queryName("chw_test")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(feed.take(3)); q.processAllAvailable()
      stream.addData(feed.drop(3) :+ sentinel); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("chw_test")
      .filter($"event_type" =!= "__sentinel__").collect()
      .map(r => (r.getString(0), r.getAs[Long]("hour_start_us")) ->
        ((r.getAs[Long]("n_hour"), r.getAs[Long]("max_10min"),
          r.getAs[Long]("n_buckets")))).toMap
    assert(got === Map(
      ("A", 0L) -> ((3L, 2L, 2L)),   // buckets: n10=2 (b0), n10=1 (b1)
      ("A", H) -> ((1L, 1L, 1L)),
      ("B", 0L) -> ((1L, 1L, 1L))))
  }

  test("dedupWithinWatermark: in-horizon duplicates dropped, new ids pass") {
    val stream = MemoryStream[(Long, String, Long)]
    val in = stream.toDS().toDF("event_id", "event_type", "us")
      .withColumn("tsm", org.apache.spark.sql.functions.expr("timestamp_micros(us)"))
    val q = StreamingOps.dedupWithinWatermark(in)
      .writeStream.format("memory").queryName("ddwm_test")
      .outputMode(OutputMode.Append()).start()
    val m = 60000000L
    try {
      stream.addData((1L, "click", 0L), (2L, "view", m)); q.processAllAvailable()
      // id 1 again 2 min later (inside the 30-min horizon) + a new id
      stream.addData((1L, "click", 2 * m), (3L, "purchase", 3 * m))
      q.processAllAvailable()
      // advance the watermark to t=10min, then replay id 1 with its
      // ORIGINAL t=0 timestamp: now below the watermark, the duplicate
      // is eliminated by the late-row filter (the path the q199 table
      // fixture deliberately does NOT rely on) — still exactly-once
      stream.addData((4L, "click", 40 * m)); q.processAllAvailable()
      stream.addData((1L, "click", 0L)); q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("ddwm_test").collect()
      .map(r => r.getAs[Long]("event_id")).sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L, 4L))
  }

  test("transformWithState profile: versions advance, decimal totals exact, argmax tie-breaks") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[(Long, String, BigDecimal)]
    val q = StreamingOps.userProfileStream(stream.toDS())
      .writeStream.format("memory").queryName("tws_test")
      .outputMode(OutputMode.Update()).start()
    try {
      stream.addData((1L, "click", BigDecimal("1.5")),
        (1L, "view", BigDecimal("2.25")), (2L, "view", BigDecimal("1.0")))
      q.processAllAvailable()
      stream.addData((1L, "view", BigDecimal("0.25")),
        (2L, "click", BigDecimal("3.0")))
      q.processAllAvailable()
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
    val rows = spark.table("tws_test").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("version")) ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("total_value"),
          r.getAs[String]("top_type")))).toMap
    assert(rows((1L, 1)) === ((2L, 3.75, "click"))) // tie 1-1 -> asc name
    assert(rows((1L, 2)) === ((3L, 4.0, "view")))   // view pulls ahead
    assert(rows((2L, 1)) === ((1L, 1.0, "view")))
    assert(rows((2L, 2)) === ((2L, 4.0, "click"))) // tie again -> asc
  }

  test("q291: stream span scrub — index hits cut everywhere, state cuts cross-batch repeats") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val index = Seq(100L).toDF("h")
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val in = stream.toDS().toDF("doc_id", "pos", "h")
      .withColumn("ts", org.apache.spark.sql.functions
        .expr("timestamp_micros(doc_id * 1000000)"))
    val name = s"q291_hand_${System.nanoTime()}"
    val q = graft.streaming.StreamingOps
      .streamSpanScrub(in, index, horizonMs = 3600000L)
      .writeStream.format("memory").queryName(name)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      // batch 1: h=100 is INDEX-owned (cut even on first sight);
      // h=200 is fresh — its (doc 1, pos 2) first occurrence survives
      // and (doc 1, pos 5) in the SAME batch is cut by in-batch order
      stream.addData((1L, 1L, 100L), (1L, 2L, 200L), (1L, 5L, 200L))
      q.processAllAvailable()
      // batch 2: doc 2 repeats h=200 (cut by cross-batch STATE, not
      // arrival luck), repeats h=100 (index again), introduces h=300
      // (fresh -> kept)
      stream.addData((2L, 1L, 200L), (2L, 2L, 100L), (2L, 3L, 300L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"))).toSet
    assert(got === Set((1L, 1L), (1L, 5L), (2L, 1L), (2L, 2L)))
  }

  test("q291: fresh-hash state expires past the horizon and the hash is re-kept") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val index = Seq(-1L).toDF("h") // nothing the feed uses
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val in = stream.toDS().toDF("doc_id", "pos", "h")
      .withColumn("ts", org.apache.spark.sql.functions
        .expr("timestamp_micros(doc_id * 1000000)"))
    val name = s"q291_ttl_${System.nanoTime()}"
    // 1-second state horizon: a hash idle past it is forgotten
    val q = graft.streaming.StreamingOps
      .streamSpanScrub(in, index, horizonMs = 1000L)
      .writeStream.format("memory").queryName(name)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      // batch 1: h=500 kept at (1,1), its (1,2) repeat cut in-batch;
      // state timeout lands at t=2s
      stream.addData((1L, 1L, 500L), (1L, 2L, 500L))
      q.processAllAvailable()
      // batch 2 advances the watermark far past the timeout (doc 5000
      // => t=5000s; watermark = 5000s - 10min)
      stream.addData((5000L, 1L, 777L))
      q.processAllAvailable()
      // batch 3 carries NO h=500 data, so the expired group fires its
      // timeout and drops the state
      stream.addData((6000L, 1L, 888L))
      q.processAllAvailable()
      // batch 4: h=500 returns after the horizon -> treated as fresh
      // and KEPT (no removal emitted); with live state it would be cut
      stream.addData((7000L, 1L, 500L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"))).toSet
    assert(got === Set((1L, 2L)),
      "only the in-batch repeat is cut; the post-horizon return is re-kept")
  }

  test("q295: streaming index refresh == batch refresh audit, row for row") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("shard"),
        r.getAs[Long]("n_existing"), r.getAs[Long]("n_new"),
        r.getAs[Long]("n_refreshed"))).toSet
    val batch = rows(graft.operators.Dedup.spanIndexRefresh(spark, dir))
    val stream = rows(graft.streaming.StreamingOps
      .streamSpanIndexRefreshFixture(spark, dir))
    assert(batch.nonEmpty && batch.exists(_._3 > 0),
      "fixture must carry novel hashes")
    // the three-micro-batch delta chain must refresh the index to the
    // exact batch state: cross-batch duplicates anti-joined away by
    // READING earlier generations, not by state
    assert(stream === batch)
  }

  test("q311: manifest-mediated streaming refresh == batch q286 audit") {
    // the cross-batch memory is the COMMITTED MANIFEST: batch i's
    // novelty anti-join reads whatever resolve() returns, so equality
    // with the batch refresh proves every commit named the complete
    // generation set and no delta was lost or double-counted
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("shard"),
        r.getAs[Long]("n_existing"), r.getAs[Long]("n_new"),
        r.getAs[Long]("n_refreshed"))).toSet
    val stream = rows(graft.streaming.StreamingOps
      .streamManifestRefreshFixture(spark, dir))
    val batch = rows(graft.operators.Dedup.spanIndexRefresh(spark, dir))
    assert(batch.nonEmpty)
    assert(stream === batch)
  }

  test("q319: retention GC between micro-batches — audit still == batch q286; retired generations really deleted") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("shard"),
        r.getAs[Long]("n_existing"), r.getAs[Long]("n_new"),
        r.getAs[Long]("n_refreshed"))).toSet
    val (deleted, audit) =
      graft.streaming.StreamingOps.streamRetentionRun(spark, dir)
    // the GC must have fired UNDER the stream: batch 1 retires the
    // original base+b0, batch 2 retires c0+b1 (keepLast=2 window)
    assert(deleted.nonEmpty, "retention GC never deleted a generation")
    deleted.foreach(d => assert(!new java.io.File(d).exists,
      s"GC'd generation $d still on disk"))
    // ...and every batch's resolve-before-GC reads were served by kept
    // generations: the final resolved index audits to the exact batch
    // refresh state
    val batch = rows(graft.operators.Dedup.spanIndexRefresh(spark, dir))
    assert(batch.nonEmpty)
    assert(rows(audit) === batch)
  }

  test("q322: streaming signature refresh == batch q310 audit") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("shard"),
        r.getAs[Long]("n_existing"), r.getAs[Long]("n_new"),
        r.getAs[Long]("n_total"))).toSet
    val stream = rows(graft.streaming.StreamingOps
      .streamSigRefreshFixture(spark, dir))
    val batch = rows(graft.operators.Dedup.lshSigRefresh(spark, dir))
    assert(batch.nonEmpty && batch.exists(_._3 > 0),
      "fixture must carry incoming signatures")
    // the three per-batch delta generations must refresh the index to
    // the exact batch state: same per-shard counts from the FILES
    assert(stream === batch)
  }

  test("q327: retention GC between micro-batches on the signature index — audit still == batch q310; retired generations really deleted") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("shard"),
        r.getAs[Long]("n_existing"), r.getAs[Long]("n_new"),
        r.getAs[Long]("n_total"))).toSet
    val (deleted, audit) =
      graft.streaming.StreamingOps.streamSigRetentionRun(spark, dir)
    // the GC fired UNDER the stream (batch 1 retires base+b0, batch 2
    // retires c0+b1 — the keepLast=2 window walking forward)...
    assert(deleted.nonEmpty, "retention GC never deleted a generation")
    deleted.foreach(d => assert(!new java.io.File(d).exists,
      s"GC'd generation $d still on disk"))
    // ...and the final resolved index audits to the exact batch
    // refresh state: nothing a live read needed was deleted
    val batch = rows(graft.operators.Dedup.lshSigRefresh(spark, dir))
    assert(batch.nonEmpty && batch.exists(_._3 > 0),
      "fixture must carry incoming signatures")
    assert(rows(audit) === batch)
  }

  test("q328: retention GC between micro-batches on the postings index — search == batch q298; retired generations really deleted") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("probe_id"),
        r.getAs[Long]("vec_id"), r.getAs[Int]("rnk"),
        r.getAs[Double]("sim"))).toSet
    val (deleted, search) =
      graft.streaming.StreamingOps.streamAnnRetentionRun(spark, dir)
    assert(deleted.nonEmpty, "retention GC never deleted a generation")
    deleted.foreach(d => assert(!new java.io.File(d).exists,
      s"GC'd generation $d still on disk"))
    // the resolved (compacted, GC-survived) set searches identically
    // to the batch day-2 path: nothing a live read needed was deleted
    val batch = rows(graft.operators.Similarity.ivfDayTwoSearch(spark, dir))
    assert(batch.nonEmpty)
    assert(rows(search) === batch)
  }

  test("q312: streaming drift audit == batch q305 bitwise (decimal partials fold exactly)") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("list_id"),
        r.getAs[Long]("n_existing"), r.getAs[Long]("n_new"),
        Option(r.getAs[java.lang.Double]("mean_dist_existing"))
          .map(_.toDouble),
        Option(r.getAs[java.lang.Double]("mean_dist_new"))
          .map(_.toDouble))).toSet
    val stream = rows(
      graft.streaming.StreamingOps.streamDriftFixture(spark, dir))
    val batch = rows(
      graft.operators.Similarity.quantizerDrift(spark, dir))
    assert(batch.nonEmpty)
    assert(stream === batch)
  }

  test("q301: streaming ANN ingest == batch q297 refresh audit (re-delivery dropped)") {
    // the fixture re-sends each chunk's tail with the next batch, so
    // equality with the batch audit ALSO proves the vec_id anti-join
    // against prior generations drops re-delivered vectors (a leak
    // would inflate n_new)
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("list_id"),
        r.getAs[Long]("n_existing"), r.getAs[Long]("n_new"),
        r.getAs[Long]("n_total"))).toSet
    val stream = rows(
      graft.streaming.StreamingOps.streamIvfIngestFixture(spark, dir))
    val batch = rows(
      graft.operators.Similarity.ivfPostingsRefresh(spark, dir))
    assert(batch.nonEmpty)
    assert(stream === batch)
  }

  test("q338: streaming composite ingest == batch q297 refresh audit (re-delivery dropped, pair resolved)") {
    // stream ≡ batch on the IVF-PQ family: the audit runs over
    // whatever resolveParts serves after the last composite commit,
    // so equality with the batch raw-postings audit proves (1) every
    // coded delta landed and none double-landed (the re-delivered
    // tails are anti-joined away — a leak inflates n_new), and
    // (2) the per-batch composite commits left a resolvable
    // codebook+postings pair
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("list_id"),
        r.getAs[Long]("n_existing"), r.getAs[Long]("n_new"),
        r.getAs[Long]("n_total"))).toSet
    val stream = rows(
      graft.streaming.StreamingOps.streamIvfPqIngestFixture(spark, dir))
    val batch = rows(
      graft.operators.Similarity.ivfPostingsRefresh(spark, dir))
    assert(batch.nonEmpty)
    assert(stream === batch)
  }

  test("q339: trigger-cadence streaming retention — one fold across three batches, GC'd dirs gone, search == batch q298") {
    val dir = "/root/testdata/sf0.001"
    val (ran, deleted, search) =
      graft.streaming.StreamingOps.streamAnnTriggerRun(spark, dir)
    // batch 0 ends at base+d0 (pure read), batch 1 reaches three and
    // folds, batch 2 ends at fold+d2 — deterministic with maxGens = 2
    assert(ran === Seq(false, true, false),
      s"expected exactly the batch-1 fold, got $ran")
    // the GC really ran under the stream: the superseded base and
    // early deltas are gone from disk
    assert(deleted.nonEmpty, "retention deleted nothing under the stream")
    deleted.foreach(g => assert(!new java.io.File(g).exists,
      s"GC'd generation still on disk: $g"))
    // cadence never changes content: the final search equals the
    // batch day-2 search bitwise
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("probe_id"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("sim"),
        r.getAs[Int]("rnk"))).toSet
    val batch = rows(graft.operators.Similarity.ivfDayTwoSearch(spark, dir))
    assert(batch.nonEmpty)
    assert(rows(search) === batch)
  }

  test("q341: composite GC-under-stream — the SHARED codebook survives every retention pass; folds on cadence; search == batch day-2 composite") {
    val dir = "/root/testdata/sf0.001"
    val (ran, deleted, cb, search) =
      graft.streaming.StreamingOps.streamIvfPqRetentionRun(spark, dir)
    // q339's deterministic cadence on the composite family: batch 0
    // ends at base+b0 (pure read), batch 1 reaches three postings
    // generations and folds, batch 2 ends at fold+b2
    assert(ran === Seq(false, true, false),
      s"expected exactly the batch-1 fold, got $ran")
    // batch 2's retire reclaims base/b0/b1 (exclusive to retired
    // snapshots after the fold window moved past them)
    assert(deleted.size === 3, s"expected 3 GC'd generations: $deleted")
    assert(deleted.exists(_.contains("ivfpq_sret_base")) &&
      deleted.exists(_.contains("/b0")) &&
      deleted.exists(_.contains("/b1")),
      s"expected base, b0, b1 reclaimed: $deleted")
    deleted.foreach(g => assert(!new java.io.File(g).exists,
      s"GC'd generation still on disk: $g"))
    // the composite's own case: the codebook generation is re-named by
    // EVERY commit, so it is never exclusive to a retired snapshot —
    // a retention pass that deleted it would leave every later
    // resolve serving undecodable codes
    assert(!deleted.exists(_ == cb) && new java.io.File(cb).isDirectory,
      "retention deleted the shared codebook generation under the stream")
    // GC and cadence never change content: the final search over the
    // resolved composite equals the batch day-2 composite search
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("probe_id"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("score"),
        r.getAs[Int]("rnk"))).toSet
    val batch = rows(graft.operators.Similarity.ivfPqDayTwoSearch(spark, dir))
    assert(batch.nonEmpty)
    assert(rows(search) === batch)
  }
}
