package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.{PeakConfig, SignalRow}
import graft.functions.{SavitzkyGolay, SignalKernel}

/** M6 — Structured Streaming variants of the signal pipeline (SURVEY
  * §2.8: the reference is batch-only, so this surface defines its own
  * contract and tests it against the batch operators).
  *
  * Contract for the incremental signal operators: samples arrive per
  * channel in index order and dense (device streams are; out-of-order
  * rows *within* a micro-batch are sorted, later gaps are skipped
  * rather than filled). Each operator keeps a bounded tail of raw
  * samples as its state, runs [[graft.functions.SignalKernel]] — the
  * batch operators' math — over the tail on every micro-batch, and
  * emits only positions whose dependency cone of raw samples is
  * complete. A centered 51-tap FIR needs 25 future samples, so smooth
  * emission trails arrival by exactly 25 samples and edge positions
  * (the batch pad region) are never emitted — interior values equal
  * the batch operator bitwise, which is what StreamingSpec asserts.
  *
  * At scale: state is a few hundred raw doubles per channel —
  * O(channels) state total, the shuffle key is the channel (same
  * partitioning as the batch pipeline), and each micro-batch does
  * O(new samples + tail) work.
  */
object StreamingOps {

  /** Smoothed sample emitted by the incremental smoother. */
  case class SmoothOut(experiment_id: String, channel: Int,
                       sample_idx: Long, y_smooth: Double)

  /** Per-channel state of the incremental signal operators: the raw
    * samples from index `first` that positions not yet emitted still
    * read, and `next`, the next position to emit.
    */
  case class TailState(first: Long, next: Long, ys: Array[Double])

  private lazy val coeffs51 = SavitzkyGolay.coeffs(51, 7)

  /** Appends a channel's new samples to its tail, emits positions
    * `next` … (last sample − `ahead`) through `emit(tail, first, from,
    * to)`, then drops the samples more than `back` before the new
    * `next`. Rows off the dense sequence (stale, duplicate, or past a
    * gap) are dropped.
    */
  private def advanceTail[O](rows: Iterator[SignalRow], state: GroupState[TailState],
                             start: Long => TailState, back: Int, ahead: Int)(
      emit: (Array[Double], Long, Long, Long) => Seq[O]): Iterator[O] = {
    val sorted = rows.toArray.sortBy(_.sample_idx)
    val st = state.getOption.getOrElse(start(sorted.headOption.fold(0L)(_.sample_idx)))
    val ys = Array.newBuilder[Double].addAll(st.ys)
    var end = st.first + st.ys.length
    sorted.foreach { r => if (r.sample_idx == end) { ys += r.y; end += 1 } }
    val tail = ys.result()
    val last = end - 1 - ahead
    val out = if (last >= st.next) emit(tail, st.first, st.next, last) else Nil
    val next = math.max(st.next, last + 1)
    val keep = math.max(st.first, next - back)
    state.update(TailState(keep, next, tail.drop((keep - st.first).toInt)))
    out.iterator
  }

  /** Feeds `data` to a MemoryStream as `nBatches` micro-batches, each
    * split across `blocks` addData calls. Batch BOUNDARIES (and so
    * results) are identical to a single addData per batch — only the
    * scan parallelism changes: MemoryStream plans one input partition
    * per added block, so a 333k-row micro-batch fed as one block is a
    * single-threaded scan (measured: the dominant cost of the sf0.1
    * streaming fixtures), while 32 blocks scan on all cores.
    */
  private def feedBatches[A](
      stream: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[A],
      q: org.apache.spark.sql.streaming.StreamingQuery,
      data: Array[A], nBatches: Int = 2, blocks: Int = 32,
      tail: Seq[A] = Nil): Unit = {
    // `tail` (sentinel rows) rides WITH the final data batch instead of
    // costing its own trigger cycle: each processAllAvailable runs a
    // data trigger PLUS a watermark-flush trigger (~0.3 s of fixed
    // overhead each, measured via lastProgress.durationMs), so folding
    // the sentinel in cuts a full cycle. The watermark still advances
    // after the batch containing the sentinel; the flush trigger then
    // emits every closed window — same rows as a separate cycle.
    val chunks = data.grouped(math.max(1, data.length / nBatches + 1)).toVector
    chunks.zipWithIndex.foreach { case (ch, i) =>
      ch.grouped(math.max(1, ch.length / blocks + 1))
        .foreach(b => stream.addData(b.toIndexedSeq))
      if (i == chunks.length - 1 && tail.nonEmpty) stream.addData(tail)
      q.processAllAvailable()
    }
  }

  /** Incremental Savitzky-Golay smoothing (51/7) of a (possibly
    * streaming) Dataset[SignalRow], keyed by channel: position p is
    * emitted once raw p+25 has arrived, from the channel's first
    * sample + 25 on.
    */
  def incrementalSmooth(rows: Dataset[SignalRow]): Dataset[SmoothOut] = {
    import rows.sparkSession.implicits._
    val k = coeffs51.length / 2
    rows
      .groupByKey(r => (r.experiment_id, r.channel))
      .flatMapGroupsWithState[TailState, SmoothOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { (key, it, state) =>
        advanceTail(it, state, i => TailState(i, i + k, Array.emptyDoubleArray),
          back = k, ahead = k) { (ys, first, from, to) =>
          val s = SignalKernel.smooth(ys, coeffs51).values
          (from to to).map(p => SmoothOut(key._1, key._2, p, s((p - first).toInt)))
        }
      }
  }

  /** Tumbling-window event rollup with a watermark — works unchanged
    * over a stream (readStream) or a batch frame; streaming late data
    * beyond 10 minutes is dropped at the watermark.
    */
  def eventsHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Q50 (operator) — SLIDING-window event counts with a watermark:
    * every event lands in windowMin/slideMin overlapping windows (2 at
    * the 10/5 defaults). Identical semantics over a stream or a batch
    * frame — the parity the fixture and oracle pin. Streaming state is
    * watermark-bounded: a window's aggregate is dropped once the
    * watermark passes its end, so state is O(types × windows-in-
    * watermark-horizon) regardless of stream length.
    */
  def slidingCounts(ev: DataFrame, windowMin: Int = 10, slideMin: Int = 5,
                    watermarkMin: Int = 30): DataFrame =
    ev.withWatermark("tsm", s"$watermarkMin minutes")
      .groupBy(col("event_type"),
        window(col("tsm"), s"$windowMin minutes", s"$slideMin minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"),
        unix_micros(col("w.start")).as("window_start_us"), col("n_events"))

  /** q50 — [[slidingCounts]] driven over the sfDir events table via a
    * multi-micro-batch MemoryStream in APPEND mode with a sentinel flush
    * (the q72 pattern): each window is emitted exactly ONCE, when the
    * watermark passes its end, so the sink receives result-sized
    * output instead of one update row per touched window per batch
    * (~3× the volume — the dominant fixture cost in round 2's bench)
    * and no re-aggregation readback is needed. The feed is
    * time-ordered, so the advancing watermark drops nothing and the
    * appended rows equal the batch aggregate. The sentinel's own
    * window never closes and is filtered by type. The collect feeds
    * the MemoryStream harness only.
    */
  def streamSlidingFixture(s: SparkSession, dir: String,
                           watermarkMin: Int = 30): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = s.read.parquet(s"$dir/events.parquet")
    val tsu =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("ts div 1000")
      else unix_micros(col("ts"))
    val data = ev.select(col("event_type"), tsu.as("us"))
      .orderBy(col("us")).as[(String, Long)].collect() // fixture feed only
    val sentinel = ("__sentinel__",
      data.map(_._2).max + (watermarkMin + 20) * 60000000L)
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val name = s"q50_stream_sliding_${System.nanoTime()}"
    val in = stream.toDS().toDF("event_type", "us")
      .withColumn("tsm", expr("timestamp_micros(us)"))
    withFewStatePartitions(s) {
      val q = slidingCounts(in, watermarkMin = watermarkMin)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try feedBatches(stream, q, data, tail = Seq(sentinel))
      finally q.stop()
    }
    s.table(name).filter(col("event_type") =!= "__sentinel__")
  }

  /** One enriched interior sample from the streaming envelope
    * pipeline.
    */
  case class EnvOut(experiment_id: String, channel: Int, sample_idx: Long,
                    baseline: Option[Double], ceiling: Option[Double],
                    diastolic: Option[Double])

  /** Streaming O4/O5/O6: incremental baseline/ceiling/diastolic with
    * exact batch parity on the interior.
    *
    * Envelope p reads floors p−325 … p−25 (301 taps through the 175
    * pad), floor i reads smooth i … i+349, and smooth q reads raw
    * q−25 … q+25, so p's cone is raw p−350 … p+349. Position p is
    * emitted once raw p+349 has arrived; the tail keeps raw p−350 on
    * for the next p. From p = 325 on the tail's leading pad is the
    * channel's own block-repeat pad (the tail starts at sample 0) or
    * lies outside the cone, so positions in [325, n−350] of a finite
    * channel match the batch operator bitwise (beyond n−350 the batch
    * values depend on the tail pad, which an unbounded stream cannot
    * know) — proven in StreamingSpec. Channels start at sample 0.
    */
  def incrementalEnvelopes(rows: Dataset[SignalRow]): Dataset[EnvOut] = {
    import rows.sparkSession.implicits._
    val cfg = PeakConfig()
    val c301 = SavitzkyGolay.coeffs(cfg.auxSmoothingWindow, cfg.auxPolyorder)
    rows
      .groupByKey(r => (r.experiment_id, r.channel))
      .flatMapGroupsWithState[TailState, EnvOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { (key, it, state) =>
        advanceTail(it, state, _ => TailState(0L, 325L, Array.emptyDoubleArray),
          back = 350, ahead = 349) { (ys, first, from, to) =>
          val env = SignalKernel.envelopes(SignalKernel.smooth(ys, coeffs51).values,
            cfg.auxWindowSize, c301)
          (from to to).map { p =>
            val i = (p - first).toInt
            val (b, c) = (env.baseline(i), env.ceiling(i))
            EnvOut(key._1, key._2, p, SignalKernel.nanToNone(b), SignalKernel.nanToNone(c),
              SignalKernel.diastolic(b, c, cfg.relativeToBaseline))
          }
        }
      }
  }

  /** Runs `f` with `spark.sql.shuffle.partitions` temporarily lowered.
    *
    * Stateful streaming operators commit one state-store delta PER
    * PARTITION PER MICRO-BATCH (stream-stream joins commit FOUR
    * stores per side per partition); the MemoryStream fixtures here
    * push a few thousand rows through 2-4 micro-batches, so 32 state
    * partitions is ~200 near-empty store commits of pure overhead
    * (measured 25 s → ~5 s on the interval-join fixture at sf0.1
    * going 32 → 8, and 4.2 → 3.0 s steady going 8 → 4 with no
    * fixture regressing). A production deployment sizes this by
    * sustained throughput instead; the conf is restored afterwards
    * either way. Results do not depend on the partition count; 2
    * partitions measured no faster than 4 (SURVEY §6.1).
    */
  private def withFewStatePartitions[T](s: SparkSession)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "4")
    try f finally s.conf.set(key, prev)
  }

  /** Streaming exact dedup — the streaming counterpart of the batch
    * exact-dedup operator (Q15): `dropDuplicates` keeps per-key state
    * across micro-batches; the watermark bounds that state (keys older
    * than the horizon are forgotten — the standard stream-dedup trade:
    * exact within the watermark, approximate beyond it).
    */
  def dedupStream(docs: DataFrame, idCol: String = "doc_id",
                  tsCol: String = "ts"): DataFrame =
    docs.withWatermark(tsCol, "1 hour")
      .dropDuplicates(Seq(idCol, tsCol))

  /** Stream-stream interval join: each left event joined to right
    * events of the same user within `[l.ts − lookback, l.ts]`. Both
    * sides carry watermarks and the join condition bounds the event
    * times, so Spark can size the join state and evict rows past the
    * horizon — the canonical bounded-state stream-stream join (without
    * the interval bound the state would grow forever). Inner join:
    * a row emits once per in-window partner.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   keyCol: String = "user_id", tsCol: String = "ts",
                   lookback: String = "10 minutes",
                   watermark: String = "10 minutes",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right.withWatermark(tsCol, watermark).alias("r")
    l.join(r,
      expr(s"l.$keyCol = r.$keyCol AND " +
        s"r.$tsCol BETWEEN l.$tsCol - INTERVAL $lookback AND l.$tsCol"),
      joinType)
  }

  /** q58 — [[intervalJoin]] driven over the sfDir events table via two
    * MemoryStreams (clicks joined to the same user's views within the
    * trailing `lookbackMin` minutes), 3 synchronized micro-batches per
    * side. The fixture's watermark spans the whole feed, so no pair is
    * watermark-dropped and the append-mode result equals the batch
    * interval join (the oracle); the PRODUCTION bound is the operator
    * default (10 min), where state stays proportional to the lookback
    * horizon — the bounded-state property ScaleTechniquesSpec pins.
    * The collects feed the MemoryStream harness only.
    */
  def streamIntervalFixture(s: SparkSession, dir: String,
                            lookbackMin: Int = 30): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = s.read.parquet(s"$dir/events.parquet")
    val tsu =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("ts div 1000")
      else unix_micros(col("ts"))
    // ONE scan+collect for both sides (split driver-side) — the second
    // full parquet decode was pure fixture overhead
    val both = ev.filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), tsu.as("us"), col("event_type"))
      .as[(Long, Long, Long, String)].collect().sortBy(_._3)
    def feed(typ: String): Array[(Long, Long, Long)] =
      both.filter(_._4 == typ).map(r => (r._1, r._2, r._3))
    val (lData, rData) = (feed("click"), feed("view"))
    val spanMin = {
      val all = lData ++ rData
      (all.map(_._3).max - all.map(_._3).min) / 60000000L + lookbackMin + 1
    }
    val lStream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val rStream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    def side(st: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)],
             idName: String): DataFrame =
      st.toDS().toDF(idName, "user_id", "us")
        .select(col(idName), col("user_id"),
          expr("timestamp_micros(us)").as("ts"))
    val name = s"q58_stream_interval_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = intervalJoin(
          side(lStream, "l_event"), side(rStream, "r_event"),
          lookback = s"$lookbackMin minutes", watermark = s"$spanMin minutes")
        .select(col("l_event"), col("r_event"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        def chunks(a: Array[(Long, Long, Long)]) =
          a.grouped(math.max(1, a.length / 2 + 1)).toIndexedSeq
        // block-split each side's chunk (feedBatches shape): one
        // addData = one scan partition, so the synchronized batches
        // stay parallel on both inputs
        def add(st: org.apache.spark.sql.execution.streaming.runtime
                .MemoryStream[(Long, Long, Long)],
                ch: Array[(Long, Long, Long)]): Unit =
          ch.grouped(math.max(1, ch.length / 32 + 1))
            .foreach(b => st.addData(b.toIndexedSeq))
        val (lc, rc) = (chunks(lData), chunks(rData))
        (0 until math.max(lc.length, rc.length)).foreach { i =>
          if (i < lc.length) add(lStream, lc(i))
          if (i < rc.length) add(rStream, rc(i))
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    s.table(name)
  }

  /** Q123 (operator/fixture) — stream-stream LEFT OUTER interval
    * join: q58's click⋈view join, but clicks with NO view in the
    * trailing window emit null-extended — the attribution-with-
    * fallback topology (every click accounted for, matched or not).
    *
    * Outer emission is WATERMARK-DRIVEN: an unmatched left row can
    * only be declared unmatched once the watermark proves no matching
    * right row can still arrive, so unlike q58 this fixture must
    * ADVANCE the watermark past the data rather than park it behind
    * the whole feed. Both feeds are time-ordered (so nothing real is
    * late-dropped — the watermark is the MIN across inputs and each
    * side's next batch is its own later data), and ONE sentinel pair
    * riding the final data batch pushes the watermark past every
    * click's eligibility horizon; the watermark-flush trigger that
    * processAllAvailable runs after that batch emits every remaining
    * outer row (verified multiset-equal to the batch join at sf0.01
    * and sf0.1 — the earlier two-dedicated-round form bought nothing
    * but two extra trigger cycles). Matching views are always in the
    * click's PAST, so a click flushed unmatched can never have a late
    * match: append-mode output = the batch LEFT JOIN oracle exactly.
    *
    * Scale shape: state is bounded by the lookback horizon per key on
    * both sides (eviction at watermark − lookback); the sentinel trick
    * is harness-only — production watermarks advance with the source.
    * The collects feed the MemoryStream harness only.
    */
  def streamIntervalOuterFixture(s: SparkSession, dir: String,
                                 lookbackMin: Int = 30,
                                 wmMin: Int = 35): DataFrame =
    streamIntervalJoinCore(s, dir, lookbackMin, wmMin, "left_outer")
      .filter(col("l_event") >= 0L)

  /** Q172 (operator/fixture) — stream-stream FULL OUTER interval
    * join: q123's click⋈view topology with BOTH sides null-extended —
    * every click accounted for (matched or not) AND every view that
    * converted nothing surfaced. Completes the streaming join-mode
    * matrix (inner q58, left-outer q123, full-outer here).
    *
    * A right (view) row's eligibility horizon is `r.ts + lookback`
    * (a FUTURE click up to that far ahead can still match it), so
    * unmatched-view emission is watermark-driven exactly like q123's
    * unmatched clicks — the same single sentinel pair riding the
    * final data batch pushes the watermark past both sides' horizons
    * and the flush trigger emits all remaining null-extended rows on
    * both sides. Sentinel hygiene: sentinel rows carry id −1 on BOTH
    * feeds with equal timestamps, so they match EACH OTHER (never a
    * real row — user −1 does not occur) and are dropped by the id
    * filter along with any unmatched sentinel.
    *
    * Scale shape: identical to q123 — state bounded by the lookback
    * horizon per key on both sides.
    */
  def streamIntervalFullOuterFixture(s: SparkSession, dir: String,
                                     lookbackMin: Int = 30,
                                     wmMin: Int = 35): DataFrame =
    streamIntervalJoinCore(s, dir, lookbackMin, wmMin, "full_outer")
      .filter((col("l_event").isNull || col("l_event") >= 0L) &&
        (col("r_event").isNull || col("r_event") >= 0L))

  private def streamIntervalJoinCore(s: SparkSession, dir: String,
                                     lookbackMin: Int,
                                     wmMin: Int,
                                     joinType: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = s.read.parquet(s"$dir/events.parquet")
    val tsu =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("ts div 1000")
      else unix_micros(col("ts"))
    // ONE scan+collect for both sides (split driver-side), as in q58
    val both = ev.filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), tsu.as("us"), col("event_type"))
      .as[(Long, Long, Long, String)].collect().sortBy(_._3)
    def feed(typ: String): Array[(Long, Long, Long)] =
      both.filter(_._4 == typ).map(r => (r._1, r._2, r._3))
    val (lData, rData) = (feed("click"), feed("view"))
    val maxUs = (lData ++ rData).map(_._3).max
    def sentinel(round: Int): (Long, Long, Long) =
      (-1L, -1L, maxUs + (wmMin + lookbackMin + 60 * round) * 60000000L)
    val lStream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val rStream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    def side(st: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)],
             idName: String): DataFrame =
      st.toDS().toDF(idName, "user_id", "us")
        .select(col(idName), col("user_id"),
          expr("timestamp_micros(us)").as("ts"))
    val name = s"stream_ij_${joinType}_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = intervalJoin(
          side(lStream, "l_event"), side(rStream, "r_event"),
          lookback = s"$lookbackMin minutes", watermark = s"$wmMin minutes",
          joinType = joinType)
        .select(col("l_event"), col("r_event"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        def chunks(a: Array[(Long, Long, Long)]) =
          a.grouped(math.max(1, a.length / 2 + 1)).toIndexedSeq
        def add(st: org.apache.spark.sql.execution.streaming.runtime
                .MemoryStream[(Long, Long, Long)],
                ch: Array[(Long, Long, Long)]): Unit =
          ch.grouped(math.max(1, ch.length / 32 + 1))
            .foreach(b => st.addData(b.toIndexedSeq))
        val (lc, rc) = (chunks(lData), chunks(rData))
        val last = math.max(lc.length, rc.length) - 1
        (0 to last).foreach { i =>
          if (i < lc.length) add(lStream, lc(i))
          if (i < rc.length) add(rStream, rc(i))
          // the sentinel RIDES the final data batch (the q50/q72
          // trigger-cycle cut): the watermark advances off this batch's
          // max event time, and the follow-up flush trigger emits every
          // remaining outer row — same emissions as dedicated sentinel
          // rounds, two whole data+flush cycles cheaper
          if (i == last) {
            lStream.addData(sentinel(1)); rStream.addData(sentinel(1))
          }
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    // sentinel filtering is the caller's, per join mode
    s.table(name)
  }

  /** q62 — [[dedupStream]] surfaced on the oracle contract: the events
    * feed REPLAYED (every micro-batch sent twice — the at-least-once
    * delivery a real source exhibits on retry), deduplicated by
    * watermark-keyed state, then rolled up per event_type AFTER the
    * sink. Equality with the batch rollup over the canonical table
    * proves exactly-once output from at-least-once input: a replayed
    * duplicate is either still in state (matched, dropped) or older
    * than the watermark (late, dropped) — both paths discard it, while
    * first copies always arrive with the advancing front. The collect
    * feeds the MemoryStream harness only.
    */
  def streamDedupFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = s.read.parquet(s"$dir/events.parquet")
    val tsu =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("ts div 1000")
      else unix_micros(col("ts"))
    val data = ev.select(col("event_id"), col("event_type"),
        tsu.as("us"), col("value"))
      .as[(Long, String, Long, Double)].collect().sortBy(_._3)
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long, Double)]
    val in = stream.toDS().toDF("event_id", "event_type", "us", "value")
      .select(col("event_id"), col("event_type"),
        expr("timestamp_micros(us)").as("ts"), col("value"))
    val name = s"q62_stream_dedup_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = dedupStream(in, idCol = "event_id", tsCol = "ts")
        .select(col("event_type"), col("value"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        // each chunk arrives twice — first copy, then a replay one
        // micro-batch LATER (rides with the next chunk's first copy,
        // so cross-batch dedup is still exercised in 3 batches, not
        // 6: per-batch fixed cost is the fixture's floor). Replayed
        // rows are either state-deduped or watermark-dropped — both
        // paths keep them out of the output, exactly as before.
        val chunks = data.grouped(math.max(1, data.length / 2 + 1)).toSeq
        def add(ch: Seq[(Long, String, Long, Double)]): Unit =
          ch.grouped(math.max(1, ch.length / 16 + 1))
            .foreach(b => stream.addData(b.toIndexedSeq))
        for (i <- 0 to chunks.length) {
          if (i < chunks.length) add(chunks(i)) // first copy
          if (i > 0) add(chunks(i - 1))         // replay, one batch late
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    s.table(name)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,4)")).cast("double").as("sum_value"))
  }

  /** Q72 (operator) — streaming sessionization: the same per-user
    * `session_window` (inactivity gap) aggregate as batch Q24, run
    * incrementally — Spark keeps per-user open-session state, merges
    * candidate sessions as events arrive, and emits a session once the
    * watermark passes its end (append mode = emit-once-final). State
    * is O(open sessions inside the watermark horizon), evicted as the
    * watermark advances — the bounded-state sessionization a 100 TB/day
    * event stream needs. Output schema matches batch Q24 exactly.
    */
  def sessionAgg(ev: DataFrame, gapMinutes: Int = 30,
                 watermarkMin: Int = 30): DataFrame =
    ev.withWatermark("tsm", s"$watermarkMin minutes")
      .groupBy(col("user_id"),
        session_window(col("tsm"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,4)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        col("n_events"), col("sum_value"))

  /** q72 — [[sessionAgg]] driven over the sfDir events table via a
    * multi-micro-batch time-ordered MemoryStream, plus one SENTINEL event
    * far past the feed (a negative user filtered from the result):
    * append-mode session windows only emit once the watermark passes a
    * session's end, so the sentinel advances the watermark beyond
    * every real session — the flush a bounded fixture needs and a real
    * stream gets from its advancing front. The append result then
    * equals batch Q24 over the same table (same oracle SQL). The
    * collect feeds the MemoryStream harness only.
    */
  def streamSessionFixture(s: SparkSession, dir: String,
                           gapMinutes: Int = 30,
                           watermarkMin: Int = 30): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = s.read.parquet(s"$dir/events.parquet")
    val tsu =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("ts div 1000")
      else unix_micros(col("ts"))
    val data = ev.select(col("user_id"), tsu.as("us"), col("value"))
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    val sentinel = (-1L,
      data.map(_._2).max + (gapMinutes + watermarkMin + 10) * 60000000L, 0.0)
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Double)]
    val in = stream.toDS().toDF("user_id", "us", "value")
      .select(col("user_id"), expr("timestamp_micros(us)").as("tsm"),
        col("value"))
    val name = s"q72_stream_sessions_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = sessionAgg(in, gapMinutes, watermarkMin)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try feedBatches(stream, q, data, tail = Seq(sentinel))
      finally q.stop()
    }
    s.table(name).filter(col("user_id") >= 0)
  }

  /** KMV sketch state carried across micro-batches: the bounded
    * sorted-distinct hash buffer plus an update counter (to select the
    * final emission per group downstream).
    */
  case class KmvBuf(vals: Array[Long], version: Int)

  /** Funnel progress per user: −1 = stage not reached. Stages only
    * ever fill in (monotone), so the max-version emission is final.
    */
  case class FunnelState(t1: Long, t2: Long, t3: Long, version: Int)

  /** Q88 (operator) — streaming conversion-funnel state machine: the
    * batch Q74 chain (first signup → first click strictly after it →
    * first purchase strictly after that) folded incrementally per
    * user with `mapGroupsWithState`. State is 3 longs per user —
    * bounded forever. Over a time-ordered feed the fold equals the
    * batch chained-min aggregates: each slot takes the FIRST
    * qualifying event, which in time order is the min; and the strict
    * `>` comparisons make same-timestamp tie order irrelevant (an
    * event at exactly the previous stage's time never qualifies in
    * either engine). Events within a micro-batch are sorted by
    * (t_us, event_id) before folding — per-user-per-batch volume, not
    * corpus.
    */
  def streamFunnel(ds: Dataset[(Long, String, Long)]): Dataset[FunnelState2] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .mapGroupsWithState[FunnelState, FunnelState2](GroupStateTimeout.NoTimeout()) {
        case (uid, it, state) =>
          var st = if (state.exists) state.get else FunnelState(-1L, -1L, -1L, 0)
          it.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, typ, t) =>
            if (typ == "signup" && st.t1 < 0L) st = st.copy(t1 = t)
            else if (typ == "click" && st.t1 >= 0L && st.t2 < 0L && t > st.t1)
              st = st.copy(t2 = t)
            else if (typ == "purchase" && st.t2 >= 0L && st.t3 < 0L && t > st.t2)
              st = st.copy(t3 = t)
          }
          st = st.copy(version = st.version + 1)
          state.update(st)
          FunnelState2(uid, st.t1, st.t2, st.t3, st.version)
      }
  }

  /** [[streamFunnel]] emission row. */
  case class FunnelState2(user_id: Long, t1: Long, t2: Long, t3: Long,
                          version: Int)

  /** q88 — [[streamFunnel]] over the sfDir events table (3 time-ordered
    * micro-batches), final emission per user (max version), rolled up
    * to the Q74 cohort shape AFTER the sink — equality on Q74's own
    * oracle SQL proves the stream state machine computes the batch
    * funnel. The collect feeds the MemoryStream harness only.
    */
  def streamFunnelFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dayUs = 86400000000L
    val ev = s.read.parquet(s"$dir/events.parquet")
    val tsu =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("ts div 1000")
      else unix_micros(col("ts"))
    val data = ev.select(col("user_id"), col("event_type"), tsu.as("us"))
      .as[(Long, String, Long)].collect().sortBy(_._3)
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val name = s"q88_stream_funnel_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = streamFunnel(stream.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        feedBatches(stream, q, data)
      } finally q.stop()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("version").desc)
    s.table(name)
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .filter(col("t1") >= 0L)
      .groupBy(expr(s"t1 div ${dayUs}L").as("cohort_day"))
      .agg(count(lit(1)).as("n_signup"),
        sum(when(col("t2") >= 0L, 1L).otherwise(0L)).as("n_click"),
        sum(when(col("t3") >= 0L, 1L).otherwise(0L)).as("n_purchase"))
  }

  /** Q101 (operator) — continuously-maintained value histogram: the
    * Q67 fixed-width bucket counts as a streaming aggregate. Counts
    * are monotone under append-only input, so the final Update-mode
    * emission per (type, bucket) equals the batch histogram; state is
    * one long per occupied bucket (bounded by the value range, not
    * the stream), no watermark needed — the always-on column profile
    * a 100 TB/day feed keeps warm.
    */
  def streamHistogram(ev: DataFrame, width: Double = 5.0): DataFrame =
    ev.groupBy(col("event_type"),
        floor(col("value") / lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** q101 — [[streamHistogram]] over the sfDir events table via a
    * multi-micro-batch MemoryStream; monotone counts → max() selects the
    * final update, which equals batch Q67 (same oracle SQL). The
    * collect feeds the MemoryStream harness only.
    */
  def streamHistogramFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val data = s.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"), col("value"))
      .as[(String, Double)].collect()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double)]
    val name = s"q101_stream_hist_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = streamHistogram(stream.toDS().toDF("event_type", "value"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        feedBatches(stream, q, data)
      } finally q.stop()
    }
    s.table(name)
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("n")).as("n"))
  }

  /** Q102 (operator) — streaming CDC latest-state: the Q55
    * latest-wins compaction maintained continuously as an Update-mode
    * `max(struct(t_us, event_id, value))` aggregate — the struct max
    * is monotone under append, so the final update per (user, type)
    * IS the batch snapshot; state is one struct per live key, the
    * upsert-view maintenance a changelog consumer runs forever.
    */
  def streamLatest(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("t_us"), col("event_id"), col("value")))
        .as("m"))
      .select(col("user_id"), col("event_type"),
        col("m.t_us").as("last_us"), col("m.event_id").as("last_event_id"),
        col("m.value").as("last_value"))

  /** q102 — [[streamLatest]] over the sfDir events table via a
    * multi-micro-batch MemoryStream; the struct-max is monotone, so
    * the final state per key equals batch Q55 — same oracle SQL.
    *
    * The memory sink runs in COMPLETE mode: the key space is bounded
    * (user × event_type), so each batch rewrites the full snapshot and
    * the readback IS the table — no |keys|×batches update replay with
    * a window-rank de-dup (the round-3-flagged fixture pattern this
    * readback used through round 5). Production deployments of the
    * operator use Update mode into an upsert sink; Complete here is
    * the memory-sink equivalent of that sink's compacted view. The
    * collect feeds the MemoryStream harness only.
    */
  def streamLatestFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = s.read.parquet(s"$dir/events.parquet")
    val tsu =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("ts div 1000")
      else unix_micros(col("ts"))
    val data = ev.select(col("user_id"), col("event_type"), tsu.as("us"),
        col("event_id"), col("value"))
      .as[(Long, String, Long, Long, Double)].collect().sortBy(_._3)
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long, Long, Double)]
    val in = stream.toDS()
      .toDF("user_id", "event_type", "t_us", "event_id", "value")
    val name = s"q102_stream_latest_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = streamLatest(in)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete()).start()
      try {
        feedBatches(stream, q, data)
      } finally q.stop()
    }
    s.table(name)
      .select("user_id", "event_type", "last_us", "last_event_id",
        "last_value")
  }

  /** Exact power-sum state for [[streamMoments]]: BigDecimal sums are
    * exact at any arrival order, so the stream equals batch Q68.
    */
  case class MomState(n: Long, sx: BigDecimal, sy: BigDecimal,
                      sxx: BigDecimal, syy: BigDecimal, sxy: BigDecimal,
                      version: Int)

  /** [[streamMoments]] emission: mirrors batch Q68's columns. */
  case class MomOut(event_type: String, version: Int, n: Long,
                    mean_value: Double, var_value: Double,
                    corr_vk: Option[Double])

  /** Q89 (operator) — streaming distribution statistics with EXACT
    * state: per-key power sums (n, Σx, Σy, Σx², Σy², Σxy) accumulated
    * as arbitrary-precision decimals in `mapGroupsWithState` — decimal
    * addition is exact and commutative, so after any prefix of the
    * stream the state equals the batch aggregate over that prefix
    * bit-for-bit (a double-accumulating monitor drifts with arrival
    * order). Inputs arrive already quantized to DECIMAL(18,4) (the
    * upstream cast), exactly like batch Q68's; the finishing
    * expressions are the same pinned double formulas, null corr on a
    * zero denominator. State: 6 numbers per key, bounded forever.
    */
  def streamMoments(ds: Dataset[(String, BigDecimal, Option[BigDecimal])]): Dataset[MomOut] = {
    import ds.sparkSession.implicits._
    val z = BigDecimal(0)
    ds.groupByKey(_._1)
      .mapGroupsWithState[MomState, MomOut](GroupStateTimeout.NoTimeout()) {
        case (typ, it, state) =>
          var st = if (state.exists) state.get
            else MomState(0L, z, z, z, z, z, 0)
          it.foreach { case (_, x, yo) =>
            st = st.copy(n = st.n + 1, sx = st.sx + x, sxx = st.sxx + x * x)
            yo.foreach { y =>
              st = st.copy(sy = st.sy + y, syy = st.syy + y * y,
                sxy = st.sxy + x * y)
            }
          }
          st = st.copy(version = st.version + 1)
          state.update(st)
          val (n, sx, sy) = (st.n.toDouble, st.sx.toDouble, st.sy.toDouble)
          val (sxx, syy, sxy) = (st.sxx.toDouble, st.syy.toDouble, st.sxy.toDouble)
          val denom = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
          MomOut(typ, st.version, st.n,
            sx / n, (sxx - sx * sx / n) / n,
            if (denom == 0.0) None else Some((n * sxy - sx * sy) / denom))
      }
  }

  /** q89 — [[streamMoments]] over the sfDir events table (3
    * micro-batches), final emission per type — equality on batch
    * Q68's own oracle SQL proves the exact-decimal stream state. The
    * collect feeds the MemoryStream harness only.
    */
  def streamMomentsFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val data = s.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"),
        col("value").cast("decimal(18,4)").as("x"),
        get_json_object(col("props"), "$.k").cast("long")
          .cast("decimal(18,4)").as("y"))
      .as[(String, BigDecimal, Option[BigDecimal])].collect()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, BigDecimal, Option[BigDecimal])]
    val name = s"q89_stream_moments_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = streamMoments(stream.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        feedBatches(stream, q, data)
      } finally q.stop()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("version").desc)
    s.table(name)
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select("event_type", "n", "mean_value", "var_value", "corr_vk")
  }

  /** Per-batch KMV emission for one group. */
  case class KmvUpdate(source: String, version: Int, n_kept: Int,
                       kth_min: Long, est_distinct: Double)

  /** Per-batch windowed-KMV emission. */
  case class KmvWinUpdate(event_type: String, hour_us: Long, version: Int,
                          n_kept: Int, kth_min: Long, est_distinct: Double)

  /** Q128 (operator) — continuous WINDOWED distinct-count: hourly
    * unique users per event type as a KMV sketch keyed by
    * (type, hour-bucket), folded across micro-batches with
    * `mapGroupsWithState` — the streaming form of the "DAU per hour"
    * board every event pipeline runs, with k longs of state per open
    * window instead of the exact per-window user SET an exact
    * count-distinct would buffer. State here is bounded by
    * types × horizon-hours × k longs; production adds a processing-
    * time timeout to retire windows the watermark has sealed (the
    * sketch fold itself never grows past k — retirement is about key
    * count, not per-key growth).
    */
  def streamWindowedKmv(ds: Dataset[(String, Long, Long)], k: Int = 64,
                        space: Long = graft.functions.TextHash.P)
      : Dataset[KmvWinUpdate] = {
    import ds.sparkSession.implicits._
    val sk = new graft.functions.KmvSketch(k, space)
    ds.groupByKey(r => (r._1, r._2))
      .mapGroupsWithState[KmvBuf, KmvWinUpdate](GroupStateTimeout.NoTimeout()) {
        case ((ty, hr), it, state) =>
          val prev = if (state.exists) state.get else KmvBuf(Array.emptyLongArray, 0)
          val buf = it.foldLeft(prev.vals)((b, r) => sk.reduce(b, ("", r._3)))
          val ver = prev.version + 1
          state.update(KmvBuf(buf, ver))
          val o = sk.finish(buf)
          KmvWinUpdate(ty, hr, ver, o.n_kept, o.kth_min, o.est_distinct)
      }
  }

  /** q128 — [[streamWindowedKmv]] over the sfDir events table via a
    * multi-micro-batch MemoryStream; the final emission per (type, hour)
    * equals the batch sketch (order/batching-free KMV fold). The
    * collect feeds the MemoryStream harness only.
    */
  def streamWindowedKmvFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = s.read.parquet(s"$dir/events.parquet")
    val tsu =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("ts div 1000")
      else unix_micros(col("ts"))
    // distinct first: the KMV fold is idempotent over repeated hashes
    val data = ev.select(col("event_type"), tsu.as("t_us"),
        graft.functions.TextHash.polyHash(col("user_id").cast("string")).as("h"))
      .select(col("event_type"),
        expr("(t_us div 3600000000) * 3600000000").as("hour_us"), col("h"))
      .distinct()
      .as[(String, Long, Long)].collect()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Long)]
    val name = s"q128_stream_wkmv_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = streamWindowedKmv(stream.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        feedBatches(stream, q, data)
      } finally q.stop()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("hour_us"))
      .orderBy(col("version").desc)
    s.table(name)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select("event_type", "hour_us", "n_kept", "kth_min", "est_distinct")
  }

  /** Per-batch windowed heavy-hitter emission. */
  case class MgWinUpdate(event_type: String, hour_us: Long, version: Int,
                         user: String, cnt: Long, rnk: Long)

  /** Q133 (operator) — continuous WINDOWED heavy hitters: top users
    * per (event type, hour bucket) as a Misra-Gries counter map keyed
    * by the window, folded with `flatMapGroupsWithState` and emitting
    * the top-m after every batch — the "who is hammering this hour"
    * board. State is ≤ k counters per OPEN window (bounded forever,
    * the q112 sketch discipline); q128's windowed-key shape supplies
    * the per-hour slicing. Below saturation counts are exact and the
    * final emission equals the batch per-window count/top-m — the
    * regime the oracle replays.
    */
  def streamWindowedHeavy(ds: Dataset[(String, Long, String)],
                          k: Int = 1 << 16, m: Int = 3): Dataset[MgWinUpdate] = {
    import ds.sparkSession.implicits._
    val mg = new graft.functions.MgSketch(k)
    ds.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[MgStreamBuf, MgWinUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case ((ty, hr), it, state) =>
          val prev = state.getOption.getOrElse(MgStreamBuf(Map.empty, 0))
          val buf = it.foldLeft(prev.counts)((b, r) => mg.reduce(b, ("", r._3)))
          val ver = prev.version + 1
          state.update(MgStreamBuf(buf, ver))
          mg.finish(buf).take(m).zipWithIndex.iterator.map {
            case ((u, cnt), i) =>
              MgWinUpdate(ty, hr, ver, u, cnt, (i + 1).toLong)
          }
      }
  }

  /** q133 — [[streamWindowedHeavy]] over the sfDir events table via a
    * multi-micro-batch MemoryStream; final emission per (type, hour)
    * equals the batch top-m because sub-saturation Misra-Gries is
    * exact under any batching. The collect feeds the MemoryStream
    * harness only.
    */
  def streamWindowedHeavyFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = s.read.parquet(s"$dir/events.parquet")
    val tsu =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("ts div 1000")
      else unix_micros(col("ts"))
    val data = ev.select(col("event_type"), tsu.as("t_us"),
        col("user_id").cast("string").as("u"))
      .select(col("event_type"),
        expr("(t_us div 3600000000) * 3600000000").as("hour_us"), col("u"))
      .as[(String, Long, String)].collect()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, String)]
    val name = s"q133_stream_wheavy_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = streamWindowedHeavy(stream.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        feedBatches(stream, q, data)
      } finally q.stop()
    }
    val byWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("hour_us"))
    s.table(name)
      .withColumn("maxv", max(col("version")).over(byWin))
      .filter(col("version") === col("maxv"))
      .select("event_type", "hour_us", "user", "cnt", "rnk")
  }

  /** Q33 (operator) — continuous distinct-count sketch per key:
    * [[graft.functions.KmvSketch]] state folded across micro-batches
    * with `mapGroupsWithState`. State is k longs per key — bounded
    * forever, no watermark needed (the sketch never grows) — and the
    * emitted estimate after any prefix of the stream equals the batch
    * sketch over that prefix, because KMV state is order-independent.
    * That is the streaming-analytics shape for "distinct tokens per
    * source so far" at 100 TB/day: no distinct shuffle, no unbounded
    * state.
    */
  def streamKmv(ds: Dataset[(String, Long)], k: Int = 64,
                space: Long = graft.functions.TextHash.P): Dataset[KmvUpdate] = {
    import ds.sparkSession.implicits._
    val sk = new graft.functions.KmvSketch(k, space)
    ds.groupByKey(_._1)
      .mapGroupsWithState[KmvBuf, KmvUpdate](GroupStateTimeout.NoTimeout()) {
        case (src, it, state) =>
          val prev = if (state.exists) state.get else KmvBuf(Array.emptyLongArray, 0)
          val buf = it.foldLeft(prev.vals)((b, r) => sk.reduce(b, r))
          val ver = prev.version + 1
          state.update(KmvBuf(buf, ver))
          val o = sk.finish(buf)
          KmvUpdate(src, ver, o.n_kept, o.kth_min, o.est_distinct)
      }
  }

  /** q33 — [[streamKmv]] driven over the sfDir documents table via a
    * multi-micro-batch MemoryStream; the final per-source emission equals
    * the batch q26 sketch (same oracle SQL) because the KMV fold is
    * order- and batching-independent. The collect feeds the
    * MemoryStream test harness only — the production operator above is
    * fully distributed.
    */
  def streamKmvFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // distinct BEFORE the collect: the KMV fold is idempotent over
    // repeated hashes, so the sketch is unchanged and the driver-side
    // MemoryStream feed (test harness only) shrinks by the token
    // repetition factor
    val data = s.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        explode(graft.functions.TextHash.tokens(col("text"))).as("token"))
      .select(col("source"), graft.functions.TextHash.polyHash(col("token")).as("h"))
      .distinct()
      .as[(String, Long)].collect()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val name = s"q33_stream_kmv_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = streamKmv(stream.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        feedBatches(stream, q, data)
      } finally q.stop()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("version").desc)
    s.table(name)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select("source", "n_kept", "kth_min", "est_distinct")
  }

  /** Per-key Misra-Gries stream state (counter map + batch version). */
  case class MgStreamBuf(counts: Map[String, Long], version: Int)

  /** Per-batch heavy-hitter emission for one group. */
  case class MgUpdate(source: String, version: Int, token: String,
                      cnt: Long, rnk: Long)

  /** Q112 (operator) — continuous heavy-hitters per key: the
    * [[graft.functions.MgSketch]] counter map folded across
    * micro-batches with `flatMapGroupsWithState`, emitting the top-m
    * after every batch. State is ≤ k counters per key — bounded
    * forever, no watermark (the sketch never grows) — the streaming
    * twin of the q40 batch UDAF, as q33 is for KMV. Below saturation
    * (≤ k distinct tokens per key) no decrement ever fires, so the
    * emission after the last batch equals the batch sketch exactly —
    * the regime the shared q40 oracle replays; above saturation the
    * Misra-Gries ε-guarantee survives any batching (MgSketchSpec).
    */
  def streamHeavyHitters(ds: Dataset[(String, String)], k: Int = 1 << 16,
                         m: Int = 5): Dataset[MgUpdate] = {
    import ds.sparkSession.implicits._
    val mg = new graft.functions.MgSketch(k)
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[MgStreamBuf, MgUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (src, it, state) =>
          val prev = state.getOption.getOrElse(MgStreamBuf(Map.empty, 0))
          val buf = it.foldLeft(prev.counts)((b, r) => mg.reduce(b, r))
          val ver = prev.version + 1
          state.update(MgStreamBuf(buf, ver))
          mg.finish(buf).take(m).zipWithIndex.iterator.map {
            case ((tok, cnt), i) => MgUpdate(src, ver, tok, cnt, (i + 1).toLong)
          }
      }
  }

  /** q112 — [[streamHeavyHitters]] driven over the sfDir documents
    * table via a multi-micro-batch MemoryStream; the final per-source
    * emission equals the batch q40 sketch (same oracle SQL). The
    * collect feeds the MemoryStream test harness only.
    */
  def streamHeavyFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val data = s.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        explode(graft.functions.TextHash.tokens(col("text"))).as("token"))
      .as[(String, String)].collect()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val name = s"q112_stream_heavy_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = streamHeavyHitters(stream.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        feedBatches(stream, q, data)
      } finally q.stop()
    }
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    s.table(name)
      .withColumn("maxv", max(col("version")).over(bySource))
      .filter(col("version") === col("maxv"))
      .select("source", "token", "cnt", "rnk")
  }

  /** q22 — drive the incremental smoother over the committed signal
    * fixture through a real MemoryStream (multiple micro-batches to
    * exercise state carry-over), collect from the memory sink, and
    * return the result. Matches the batch smooth on interior samples,
    * which the DuckDB oracle checks.
    */
  def streamSmoothFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val data = graft.sources.SignalFixture.signal(s)
      .as[SignalRow].collect().sortBy(r => (r.experiment_id, r.channel, r.sample_idx))
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SignalRow]
    val name = s"q22_stream_smooth_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = incrementalSmooth(stream.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        feedBatches(stream, q, data)
      } finally q.stop()
    }
    s.table(name)
  }

  /** Q116 (operator) — stream-static enrichment: the event stream
    * joined to a BATCH dimension (customer → nation) and rolled up
    * per nation. Structured Streaming plans the static side as a
    * broadcast into every micro-batch — the canonical "enrich the
    * firehose against reference data" topology; the dimension is
    * re-resolvable between batches (a slowly-changing dim just
    * works), and NO stream state is keyed by it. The running
    * aggregate keys on nation (bounded cardinality) in Complete
    * mode: decimal-quantized value sums make the running total
    * combine-order-free, so the final emission equals the batch
    * join-aggregate exactly (the oracle side).
    */
  def enrichStatic(ev: DataFrame, dim: DataFrame): DataFrame =
    ev.join(broadcast(dim), ev("user_id") === dim("c_custkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,4)")).as("sv"))

  /** q116 — [[enrichStatic]] over the sfDir events table via a
    * multi-micro-batch MemoryStream against the customer⋈nation static
    * dim. Complete-mode final table = batch aggregate. The collect
    * feeds the MemoryStream harness only.
    */
  def streamEnrichFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val data = s.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("value"))
      .as[(Long, Double)].collect()
    val dim = s.read.parquet(s"$dir/customer.parquet")
      .join(broadcast(s.read.parquet(s"$dir/nation.parquet")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val name = s"q116_stream_enrich_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = enrichStatic(stream.toDS().toDF("user_id", "value"), dim)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete()).start()
      try {
        feedBatches(stream, q, data)
      } finally q.stop()
    }
    s.table(name)
      .select(col("n_name"), col("n_events"),
        col("sv").cast("double").as("sum_value"))
  }

  /** [[streamAsof]] emission row (nullable match = no click yet). */
  case class AsofOut(event_id: Long, user_id: Long, tsn: Long,
                     prev_click_value: Option[Double],
                     prev_click_tsn: Option[Long])

  /** [[streamAsof]] per-user state: the latest click seen. */
  case class ClickState(tsn: Long, value: Double)

  /** Q149 (operator) — STREAMING backward as-of join, the primitive
    * Structured Streaming lacks natively (stream-stream joins support
    * interval bounds, but "latest right row at or before t" needs
    * per-key ordered state): every non-click event is enriched with
    * the same user's most recent click at or under its event time,
    * exactly the batch Q23 contract.
    *
    * Fold: per user, events inside a micro-batch are sorted by
    * (t, click-first, event_id) — click-first makes the equal-time
    * click visible to its tie partner, i.e. the INCLUSIVE `>=` of
    * the batch join — clicks update the 16-byte state, non-clicks
    * emit with whatever state holds. Over a time-ordered feed the
    * emission stream equals the batch as-of join row-for-row.
    *
    * Scale shape: state is ONE (tsn, value) pair per user — bounded
    * forever without a watermark (vs the interval join's
    * lookback-sized buffers); shuffle is the same user_id hash
    * partitioning the batch union+window form uses. Production
    * deployments add a state TTL for retired users; the contract on
    * live keys is unchanged.
    */
  def streamAsof(ds: Dataset[(Long, Long, String, Double, Long)]): Dataset[AsofOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._2)
      .flatMapGroupsWithState[ClickState, AsofOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state) =>
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofOut]
          it.toSeq.sortBy(r => (r._5, r._3 != "click", r._1)).foreach {
            case (eid, _, typ, v, t) =>
              if (typ == "click") last = Some(ClickState(t, v))
              else out += AsofOut(eid, uid, t,
                last.map(_.value), last.map(_.tsn))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** q149 — [[streamAsof]] over the sfDir events table via a
    * multi-micro-batch time-ordered MemoryStream (the feed sorts by
    * (t, click-first, event_id) so a chunk boundary can never place a
    * click after its equal-time partner). Append emissions = the
    * batch Q23 as-of oracle. The collect feeds the MemoryStream
    * harness only.
    */
  def streamAsofFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = s.read.parquet(s"$dir/events.parquet")
    val tsu =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("ts div 1000")
      else unix_micros(col("ts"))
    val data = ev
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), tsu.as("us"))
      .as[(Long, Long, String, Double, Long)].collect()
      .sortBy(r => (r._5, r._3 != "click", r._1))
    val stream =
      org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String, Double, Long)]
    val name = s"q149_stream_asof_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = streamAsof(stream.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        feedBatches(stream, q, data)
      } finally q.stop()
    }
    s.table(name)
  }

  /** q25 — the full streaming envelope pipeline over the fixture via
    * MemoryStream; the oracle checks the batch envelope CTEs on the
    * stream-computable interior [325, n-350].
    */
  def streamEnvelopesFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val data = graft.sources.SignalFixture.signal(s)
      .as[SignalRow].collect().sortBy(r => (r.experiment_id, r.channel, r.sample_idx))
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SignalRow]
    val name = s"q25_stream_env_${System.nanoTime()}"
    withFewStatePartitions(s) {
      val q = incrementalEnvelopes(stream.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        feedBatches(stream, q, data)
      } finally q.stop()
    }
    s.table(name)
  }

  /** Q198 (operator) — CHAINED stateful streaming aggregations: 10-min
    * tumbling per-type counts re-aggregated into hourly rollups
    * (sum / max / bucket count) in ONE streaming query — the
    * multi-stateful-operator pipeline (Spark 3.4+ window-over-window)
    * that previously required two jobs with an intermediate sink.
    * Append mode end-to-end: each hourly row emits exactly once when
    * the watermark passes its end.
    *
    * At scale: state is one row per open (type, 10-min) bucket plus
    * one per open (type, hour) rollup — both bounded by the watermark
    * horizon, never by stream length.
    */
  def chainedWindows(ev: DataFrame, watermarkMin: Int = 30): DataFrame =
    ev.withWatermark("tsm", s"$watermarkMin minutes")
      .groupBy(col("event_type"), window(col("tsm"), "10 minutes").as("w10"))
      .agg(count(lit(1)).as("n10"))
      .groupBy(col("event_type"), window(col("w10"), "60 minutes").as("w60"))
      .agg(sum(col("n10")).as("n_hour"), max(col("n10")).as("max_10min"),
        count(lit(1)).as("n_buckets"))
      .select(col("event_type"),
        unix_micros(col("w60.start")).as("hour_start_us"),
        col("n_hour"), col("max_10min"), col("n_buckets"))

  /** q198 — [[chainedWindows]] over the sfDir events table (the q50
    * sentinel-flush harness; time-ordered feed ⇒ nothing
    * watermark-dropped and the appended rows equal the batch rollup).
    */
  def chainedWindowsFixture(s: SparkSession, dir: String,
                            watermarkMin: Int = 30): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = s.read.parquet(s"$dir/events.parquet")
    val tsu =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("ts div 1000")
      else unix_micros(col("ts"))
    val data = ev.select(col("event_type"), tsu.as("us"))
      .orderBy(col("us")).as[(String, Long)].collect() // fixture feed only
    val sentinel = ("__sentinel__",
      data.map(_._2).max + (watermarkMin + 80) * 60000000L)
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val name = s"q198_chained_${System.nanoTime()}"
    val in = stream.toDS().toDF("event_type", "us")
      .withColumn("tsm", expr("timestamp_micros(us)"))
    withFewStatePartitions(s) {
      val q = chainedWindows(in, watermarkMin = watermarkMin)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try feedBatches(stream, q, data, tail = Seq(sentinel))
      finally q.stop()
    }
    s.table(name).filter(col("event_type") =!= "__sentinel__")
  }

  /** Q199 (operator) — watermark-scoped streaming deduplication:
    * `dropDuplicatesWithinWatermark` keeps ONE row per id while
    * holding state only for the watermark horizon (plain
    * dropDuplicates holds every id forever — unbounded state;
    * the WithinWatermark form is the production-safe dedup for
    * at-least-once upstreams whose duplicates arrive close together).
    */
  def dedupWithinWatermark(ev: DataFrame,
                           watermarkMin: Int = 30): DataFrame =
    ev.withWatermark("tsm", s"$watermarkMin minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** q199 — [[dedupWithinWatermark]] fed the sfDir events TWICE
    * (the second copy's arrivals land in later micro-batches) — the
    * appended output equals the table exactly once.
    *
    * Horizon honesty (round-7 fix): the events table spans ~30 DAYS,
    * so with the 30-minute production default and a time-ordered feed
    * the entire second copy sat BELOW the watermark — eliminated by
    * the late-row filter without ever touching dedup state (profiled:
    * state held ~140 rows, 0 updated). The fixture now sets the
    * horizon ABOVE the table's span (45 days), so every duplicate is
    * in-horizon and exactly-once is proved by the cross-batch dedup
    * STATE — the path the operator exists for. The late-duplicate
    * drop path and horizon-bounded state are pinned separately in
    * StreamingSpec with a hand fixture; at production scale the
    * horizon is minutes and state stays bounded by it, never by
    * stream length.
    */
  def dedupWithinWatermarkFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = s.read.parquet(s"$dir/events.parquet")
    val tsu =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        expr("ts div 1000")
      else unix_micros(col("ts"))
    val data = ev.select(col("event_id"), col("event_type"), tsu.as("us"))
      .orderBy(col("us")).as[(Long, String, Long)].collect()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val name = s"q199_dedup_wm_${System.nanoTime()}"
    val in = stream.toDS().toDF("event_id", "event_type", "us")
      .withColumn("tsm", expr("timestamp_micros(us)"))
    withFewStatePartitions(s) {
      val q = dedupWithinWatermark(in, watermarkMin = 45 * 24 * 60)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      // 3 chunks of (data ++ data): chunk 2 carries the start of the
      // second copy — duplicates of chunk 1's ids arriving a batch
      // later, deduped by state, not by arrival-time luck
      try feedBatches(stream, q, data ++ data, nBatches = 3)
      finally q.stop()
    }
    s.table(name).select(col("event_id"), col("event_type"))
  }

  /** Q291 (operator) — STREAMING span scrub against a persisted span
    * index (round-12 verdict #3: the continuous version of the q285
    * batch flow — an incoming shard as a watermarked stream,
    * stream-static joined against the cross-run index artifact).
    * Input: span occurrences `(doc_id, pos, h, ts)` with event time
    * ascending in (doc_id, pos) — the order a sharded ingest feeds
    * documents. Output: removal decisions `(doc_id, pos)` in append
    * mode. An occurrence is cut when
    *
    *  - its hash exists in the PERSISTED index (stream-static
    *    left_outer probe — corpus-owned spans have no contest), or
    *  - a previous occurrence of the hash was already seen in the
    *    stream (cross-batch keyed state: first-occurrence-wins, the
    *    q278 rule, which under the ascending feed picks the same
    *    global (doc_id, pos)-min as the batch scrub).
    *
    * Scale shape: the static index probe is one hash-keyed join per
    * micro-batch against the sharded parquet artifact (8-byte rows);
    * keyed state holds ONE boolean per fresh hash seen, bounded by
    * the event-time timeout `horizon` — state for a hash idle past
    * the horizon is dropped exactly like the watermark-scoped dedup
    * of q199. A batch≡stream equality (same oracle as q282/q285)
    * pins the semantics.
    */
  def streamSpanScrub(occ: DataFrame, index: DataFrame,
                      watermark: String = "10 minutes",
                      horizonMs: Long = 60L * 60 * 1000): DataFrame = {
    import occ.sparkSession.implicits._
    occ.join(index.select(col("h"), lit(true).as("in_idx")),
        Seq("h"), "left_outer")
      .select(col("h"), col("doc_id"), col("pos"),
        coalesce(col("in_idx"), lit(false)).as("in_idx"), col("ts"))
      // the watermark column must survive into the stateful operator
      // (event-time timeouts read it), so the watermark is declared on
      // the post-join projection that still carries ts
      .withWatermark("ts", watermark)
      .as[(Long, Long, Long, Boolean, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_, rows, st) =>
          if (st.hasTimedOut) { st.remove(); Iterator.empty }
          else {
            // per-batch occurrences of this hash, (doc_id, pos)-ordered
            // (group iterators carry no order guarantee after the
            // exchange; the batch is bounded by the hash's in-batch
            // occurrence count)
            val v = rows.toVector.sortBy(r => (r._2, r._3))
            if (v.head._4) {
              // index-owned: every occurrence is cut by the static
              // probe in EVERY batch — no keyed state needed, so the
              // state store holds only FRESH hashes (review finding:
              // updating state here too made it O(all distinct
              // hashes), ~1000x the documented O(fresh) at a real
              // ingest's index hit rate)
              v.iterator.map(r => (r._2, r._3))
            } else {
              val removed =
                if (st.exists) v // seen in an earlier batch
                else v.tail      // fresh: first occurrence wins
              st.update(true)
              st.setTimeoutTimestamp(v.map(_._5.getTime).max + horizonMs)
              removed.iterator.map(r => (r._2, r._3))
            }
          }
      }
      .toDF("doc_id", "pos")
  }

  /** q291 — [[streamSpanScrub]] driven over the sfDir documents table:
    * the q282/q285 incoming shard's span occurrences fed as THREE
    * doc-aligned ascending micro-batches against the PERSISTED
    * existing-corpus index ([[graft.operators.Dedup.streamScrubParts]]),
    * then the removal decisions reassembled into cleaned documents by
    * the batch scrub tail. Equality with the q282 oracle is the
    * batch≡stream contract (the q58/q62 discipline applied to the
    * artifact flow): an index hit must cut in every batch, and a span
    * first seen in batch 1 must cut its batch-2/3 repeats through
    * STATE, not arrival luck. The fixture horizon spans the whole
    * feed so no state times out mid-proof; the collects feed the
    * MemoryStream harness and read the memory sink only.
    */
  def streamSpanScrubFixture(s: SparkSession, dir: String, w: Int = 8,
                             modN: Int = 5, nShards: Int = 8): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val (incoming, base) =
      graft.operators.Dedup.streamScrubParts(s, dir, w, modN, nShards)
    val occ = graft.operators.Dedup.spanOccurrencesOf(incoming, w)
      .select(col("doc_id"), col("pos"), col("h"))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val name = s"q291_stream_span_scrub_${System.nanoTime()}"
    val in = stream.toDS().toDF("doc_id", "pos", "h")
      // event time: one second per document — ascending with the feed
      .withColumn("ts", expr("timestamp_micros(doc_id * 1000000)"))
    // horizon: past the whole feed (fixture-only; production uses the
    // ingest-lag horizon and lets idle hash state expire)
    val horizon = occ.lastOption.map(o =>
      (o._1 + 2) * 1000L).getOrElse(1000L)
    withFewStatePartitions(s) {
      val q = streamSpanScrub(in,
          graft.operators.Dedup.readSpanIndex(s, base),
          horizonMs = horizon)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        val docIds = occ.map(_._1).distinct
        val chunks = docIds.grouped(math.max(1, docIds.length / 3 + 1)).toSeq
        chunks.foreach { ids =>
          val set = ids.toSet
          val chunk = occ.filter(o => set(o._1))
          if (chunk.nonEmpty) {
            chunk.grouped(math.max(1, chunk.length / 32 + 1))
              .foreach(b => stream.addData(b.toIndexedSeq))
            q.processAllAvailable()
          }
        }
      } finally q.stop()
    }
    val removals = s.table(name).select(col("doc_id"), col("pos"))
    graft.operators.Dedup.scrubWithRemovals(incoming, removals, w)
  }

  /** Q295 — STREAMING span-index refresh: continuous maintenance of
    * the persisted index (the write side of the q291 story — q291
    * scrubs against the artifact, q295 GROWS it). Incoming span
    * hashes arrive as a stream; each micro-batch anti-joins its
    * distinct hashes against base ∪ all previously-written delta
    * generations and lands ONLY the still-novel ones as one more
    * shard-aligned delta (foreachBatch → writeSpanDelta). The
    * cross-batch memory is the ARTIFACT ITSELF — no state store, no
    * watermark: a hash seen in batch 1 is anti-joined away in batch
    * 2 by reading batch 1's delta, so the refreshed index stays an
    * exact distinct set and the final per-shard audit is
    * bit-identical to the batch refresh (q295 shares q286's oracle:
    * stream ≡ batch for index maintenance, the q291 equality
    * discipline applied to the write path).
    *
    * Scale shape: each batch pays O(|batch| + index probe) — the
    * same O(novel) contract as q286 — and produces one immutable
    * generation; q289's compaction folds the accumulated generations
    * back to one file per shard off-peak. Exactly-once at 100 TB
    * comes from the checkpointed batch id: foreachBatch re-delivery
    * overwrites the SAME generation directory (idempotent by
    * construction — the delta for batch i is a pure function of
    * batch i and the prior generations).
    */
  def streamSpanIndexRefreshFixture(s: SparkSession, dir: String,
                                    w: Int = 8, modN: Int = 5,
                                    nShards: Int = 8): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val (incoming, base) = graft.operators.Dedup.streamScrubParts(
      s, dir, w, modN, nShards, family = "span_index_streamref_base")
    // pre-refresh audit of the base generation (nShards rows)
    val pre = graft.operators.Dedup.shardCounts(s, Seq(base), "n_existing")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val occ = graft.operators.Dedup.spanOccurrencesOf(incoming, w)
      .select(col("doc_id"), col("h"))
      .as[(Long, Long)].collect().sortBy(identity)
    val deltaRoot = ArtifactRootForStream(dir, w, modN, nShards)
    val deltas = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val q = stream.toDS().toDF("doc_id", "h")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        import scala.jdk.CollectionConverters._
        val sofar = base +: deltas.asScala.toSeq
        val novel = batch.select(col("h")).distinct()
          .join(graft.operators.Dedup.readSpanIndexDirs(batch.sparkSession,
            sofar), Seq("h"), "left_anti")
        val gen = s"$deltaRoot/b$id"
        graft.operators.Dedup.writeSpanDelta(novel, gen, nShards)
        deltas.add(gen): Unit
      }
      .outputMode(OutputMode.Update()).start()
    try {
      // three doc-aligned micro-batches: cross-batch novelty must be
      // resolved by READING the earlier generations, not by state
      val docIds = occ.map(_._1).distinct
      val chunks = docIds.grouped(math.max(1, docIds.length / 3 + 1)).toSeq
      chunks.foreach { ids =>
        val set = ids.toSet
        val chunk = occ.filter(o => set(o._1))
        if (chunk.nonEmpty) {
          chunk.grouped(math.max(1, chunk.length / 32 + 1))
            .foreach(b => stream.addData(b.toIndexedSeq))
          q.processAllAvailable()
        }
      }
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    graft.operators.Dedup.refreshAuditOf(s, pre,
      graft.operators.Dedup.shardCounts(s, base +: deltas.asScala.toSeq,
        "n_refreshed"),
      "shard", "n_refreshed")
  }

  /** One scratch root per (corpus, params) invocation for the q295
    * delta generations (ArtifactStore generation discipline). */
  private def ArtifactRootForStream(dir: String, w: Int, modN: Int,
                                    nShards: Int): String =
    graft.operators.ArtifactStore.invocationDir("span_index_streamref",
      dir, w.toString, modN.toString, nShards.toString)

  /** Q311 — STREAMING span-index refresh through the MANIFEST: q295's
    * write path where the cross-batch memory is the COMMITTED MANIFEST
    * rather than a driver-side dir list — the full production
    * composition: each micro-batch resolves the current manifest,
    * anti-joins its distinct hashes against the resolved generations,
    * lands the novel ones as one more shard-aligned delta, and COMMITS
    * a new manifest naming the extended set. Readers racing any batch
    * see a complete committed set; a foreachBatch RETRY whose
    * generation is already committed skips the step entirely (never
    * rewriting files a live manifest names), and one that crashed
    * before its commit safely rewrites the invisible generation. The
    * final audit reads via resolve() and is bit-identical to the batch q286
    * (shared oracle: stream ≡ batch for manifest-mediated index
    * maintenance).
    *
    * Scale shape: per batch O(|batch| + index probe) + one metadata
    * commit; the manifest allocation is the single-writer CAS
    * stand-in ([[graft.operators.IndexManifest.commit]]).
    */
  def streamManifestRefreshFixture(s: SparkSession, dir: String,
                                   w: Int = 8, modN: Int = 5,
                                   nShards: Int = 8): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val (incoming, base) = graft.operators.Dedup.streamScrubParts(
      s, dir, w, modN, nShards, family = "span_index_streammf_base")
    val pre = graft.operators.Dedup.shardCounts(s, Seq(base), "n_existing")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val occ = graft.operators.Dedup.spanOccurrencesOf(incoming, w)
      .select(col("doc_id"), col("h"))
      .as[(Long, Long)].collect().sortBy(identity)
    val deltaRoot = graft.operators.ArtifactStore.invocationDir(
      "span_index_streammf", dir, w.toString, modN.toString,
      nShards.toString)
    val mroot = graft.operators.ArtifactStore.invocationDir(
      "span_manifest_stream", dir, w.toString, modN.toString,
      nShards.toString)
    graft.operators.IndexManifest.commit(s, mroot, Seq(base), graft.operators.IndexManifest.SpanIndexFormat)
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val q = stream.toDS().toDF("doc_id", "h")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val ss = batch.sparkSession
        val gen = s"$deltaRoot/b$id"
        val resolved =
          graft.operators.IndexManifest.resolve(ss, mroot, graft.operators.IndexManifest.SpanIndexFormat)
        // retry-idempotence: if this batch's generation is already
        // COMMITTED, the whole step is done — rewriting it in place
        // would delete files a live manifest names (the reader race
        // the manifest exists to prevent). If the crash fell between
        // delta write and commit, gen is uncommitted (invisible) and
        // the rewrite below is safe.
        if (!resolved.contains(gen)) {
          val novel = batch.select(col("h")).distinct()
            .join(graft.operators.Dedup.readSpanIndexDirs(ss, resolved),
              Seq("h"), "left_anti")
          graft.operators.Dedup.writeSpanDelta(novel, gen, nShards)
          graft.operators.IndexManifest.commit(ss, mroot,
            resolved :+ gen, graft.operators.IndexManifest.SpanIndexFormat)
        }
      }
      .outputMode(OutputMode.Update()).start()
    try {
      val docIds = occ.map(_._1).distinct
      val chunks = docIds.grouped(math.max(1, docIds.length / 3 + 1)).toSeq
      chunks.foreach { ids =>
        val set = ids.toSet
        val chunk = occ.filter(o => set(o._1))
        if (chunk.nonEmpty) {
          chunk.grouped(math.max(1, chunk.length / 32 + 1))
            .foreach(b => stream.addData(b.toIndexedSeq))
          q.processAllAvailable()
        }
      }
    } finally q.stop()
    graft.operators.Dedup.refreshAuditOf(s, pre,
      graft.operators.Dedup.shardCounts(s,
        graft.operators.IndexManifest.resolve(s, mroot, graft.operators.IndexManifest.SpanIndexFormat),
        "n_refreshed"),
      "shard", "n_refreshed")
  }

  /** Q319 — STREAMING RETENTION: the q307 generation-GC run BETWEEN
    * micro-batches of the q311 manifest-mediated committer (round-13
    * verdict #6 — the one uncomposed lifecycle pair). Each batch
    * resolves the live set, anti-joins its novelty, lands a delta,
    * commits base ∪ delta, COMPACTS to one generation, commits the
    * switch, and runs retire(keepLast = 2) — so earlier batches'
    * generations are genuinely DELETED from disk while the stream is
    * still running. The final audit over the resolved index equals
    * the batch q286 refresh (shared oracle): proof that every batch's
    * reads — each resolved BEFORE the following GC pass — were served
    * by generations the retention window kept, and that GC never
    * deleted data the live manifest referenced. The spec additionally
    * pins that the mid-stream delete set is non-empty (the GC really
    * fired under load) and that the retired dirs are gone from disk.
    *
    * Retry note (the q311 discipline, HARDENED for the compact step):
    * the idempotence guard checks every COMMITTED manifest, not the
    * latest resolve — this committer's compact commit replaces the
    * batch's generation in the live set, so a resolve-only check
    * would let a redelivered batch overwrite a generation a kept
    * manifest still names. A retry before the grow commit re-runs the
    * whole step (its half-written generation is uncommitted and
    * invisible); a retry after it skips entirely — the content
    * already landed, and the next batch's compaction folds it.
    *
    * Scale shape: per batch O(|batch| + index probe) plus one
    * index-sized compaction rewrite — the fixture compacts every
    * batch to force the GC interleaving; production compacts on a
    * file-count trigger and runs retention off-peak. The reader-vs-GC
    * race this pins at fixture scale is exactly the retention-period
    * contract an object-store deployment relies on.
    */
  def streamRetentionFixture(s: SparkSession, dir: String, w: Int = 8,
                             modN: Int = 5, nShards: Int = 8): DataFrame =
    streamRetentionRun(s, dir, w, modN, nShards)._2

  /** Test-visible q319 split: (GC-deleted generation dirs, audit). */
  private[graft] def streamRetentionRun(s: SparkSession, dir: String,
                                        w: Int = 8, modN: Int = 5,
                                        nShards: Int = 8)
      : (Seq[String], DataFrame) = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val (incoming, base) = graft.operators.Dedup.streamRetentionParts(
      s, dir, w, modN, nShards)
    val pre = graft.operators.Dedup.shardCounts(s, Seq(base), "n_existing")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val occ = graft.operators.Dedup.spanOccurrencesOf(incoming, w)
      .select(col("doc_id"), col("h"))
      .as[(Long, Long)].collect().sortBy(identity)
    val deltaRoot = graft.operators.ArtifactStore.invocationDir(
      "span_index_streamret", dir, w.toString, modN.toString,
      nShards.toString)
    val mroot = graft.operators.ArtifactStore.invocationDir(
      "span_manifest_streamret", dir, w.toString, modN.toString,
      nShards.toString)
    graft.operators.IndexManifest.commit(s, mroot, Seq(base), graft.operators.IndexManifest.SpanIndexFormat)
    val deleted =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val q = stream.toDS().toDF("doc_id", "h")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val ss = batch.sparkSession
        val gen = s"$deltaRoot/b$id"
        val resolved =
          graft.operators.IndexManifest.resolve(ss, mroot, graft.operators.IndexManifest.SpanIndexFormat)
        // the retry guard must check EVERY committed manifest, not the
        // latest resolve: this committer's compact commit REPLACES gen
        // in the live set, so after a crash between compact-commit and
        // retire a redelivered batch would pass a resolve-only check
        // and overwrite gen in place while the kept previous manifest
        // still names it (round-14 review) — mutating a committed
        // snapshot. A gen committed ANYWHERE is immutable; its
        // content is already absorbed (the grow commit landed), so
        // skipping the whole step is content-neutral and the next
        // batch's compaction folds it.
        if (!graft.operators.IndexManifest.committedGens(ss, mroot)
            .contains(gen)) {
          val novel = batch.select(col("h")).distinct()
            .join(graft.operators.Dedup.readSpanIndexDirs(ss, resolved),
              Seq("h"), "left_anti")
          graft.operators.Dedup.writeSpanDelta(novel, gen, nShards)
          graft.operators.IndexManifest.commit(ss, mroot,
            resolved :+ gen, graft.operators.IndexManifest.SpanIndexFormat)
          // OPTIMIZE + switch: fold the live set to one generation
          val compacted = graft.operators.ArtifactStore.invocationDir(
            "span_index_streamretc", dir, w.toString, modN.toString,
            nShards.toString)
          graft.operators.Dedup.writeSpanIndex(
            graft.operators.Dedup.readSpanIndexDirs(ss, resolved :+ gen),
            compacted, nShards)
          graft.operators.IndexManifest.commit(ss, mroot,
            Seq(compacted), graft.operators.IndexManifest.SpanIndexFormat)
          // VACUUM between micro-batches: the GC under test
          graft.operators.IndexManifest.retire(ss, mroot, keepLast = 2)
            .foreach(deleted.add(_): Unit)
        }
      }
      .outputMode(OutputMode.Update()).start()
    try {
      val docIds = occ.map(_._1).distinct
      val chunks = docIds.grouped(math.max(1, docIds.length / 3 + 1)).toSeq
      chunks.foreach { ids =>
        val set = ids.toSet
        val chunk = occ.filter(o => set(o._1))
        if (chunk.nonEmpty) {
          chunk.grouped(math.max(1, chunk.length / 32 + 1))
            .foreach(b => stream.addData(b.toIndexedSeq))
          q.processAllAvailable()
        }
      }
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    (deleted.asScala.toSeq,
      graft.operators.Dedup.refreshAuditOf(s, pre,
        graft.operators.Dedup.shardCounts(s,
          graft.operators.IndexManifest.resolve(s, mroot, graft.operators.IndexManifest.SpanIndexFormat),
          "n_refreshed"),
        "shard", "n_refreshed"))
  }

  /** Q322 — STREAMING signature-index refresh: q310's maintenance job
    * computed continuously, completing the stream ≡ batch discipline
    * on the THIRD index family (scrub q291, span refresh q295/q311,
    * ANN ingest q301, drift audit q312, retention q319 — and now the
    * signature index). Incoming documents arrive as micro-batches;
    * each batch's MinHash signatures (the identical one-aggregate
    * columnar derivation the batch path uses) land as one doc-sharded
    * immutable DELTA generation next to the persisted write-once base
    * — no anti-join and no state store, because signature rows are
    * per-doc and the feed's strata are disjoint (the q310 shape). The
    * final per-shard audit over base ∪ deltas shares q310's oracle:
    * a dropped signature, a duplicated append, or shard
    * mis-assignment under the streaming writer breaks the compare.
    * A foreachBatch RETRY of the same batch id is idempotent: the
    * delta is a pure function of the batch, overwritten into the SAME
    * generation dir (the q312 discipline — and the batch-id-keyed map
    * excludes a half-written attempt from the audit until its
    * overwrite lands).
    *
    * Scale shape: per batch O(|batch|) — one shingle+minhash pass and
    * one doc-keyed shard shuffle of 17-column rows; the existing
    * corpus is never re-read. This is the nightly q310 job as a
    * continuous ingest consumer, feeding tomorrow's q309 incremental
    * clustering. The collect feeds the MemoryStream harness only.
    */
  def streamSigRefreshFixture(s: SparkSession, dir: String,
                              modN: Int = 5,
                              nShards: Int = 8): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val (incoming, base) =
      graft.operators.Dedup.streamSigParts(s, dir, modN, nShards)
    val feed = incoming.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val deltaRoot = graft.operators.ArtifactStore.invocationDir(
      "lsh_sig_stream", dir, modN.toString, nShards.toString)
    val gens = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = stream.toDS().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val gen = s"$deltaRoot/b$id"
        graft.operators.Dedup.writeLshSigIndex(
          graft.operators.Dedup.minhashSignatures(batch.sparkSession, batch),
          gen, nShards)
        gens.put(id, gen): Unit
      }
      .outputMode(OutputMode.Update()).start()
    try feedBatches(stream, q, feed, nBatches = 3)
    finally q.stop()
    import scala.jdk.CollectionConverters._
    graft.operators.Dedup.sigRefreshAudit(s, base, gens.values.asScala.toSeq)
  }

  /** Q327 — STREAMING signature-index RETENTION: q319's
    * GC-between-micro-batches composition on the THIRD index family,
    * completing the retention face of the lifecycle matrix (soak
    * q326, time travel q324). Each micro-batch lands its MinHash
    * delta (the q322 derivation), commits base ∪ delta, COMPACTS the
    * live set to one doc-sharded generation, commits the switch, and
    * runs retire(keepLast = 2) — so earlier batches' generations
    * (including the original base) are genuinely deleted from disk
    * WHILE the stream runs. The final per-shard audit over the
    * resolved index shares q310's oracle (q322's equality): proof
    * that every batch's resolve-before-GC reads were served by kept
    * generations and the retention window never deleted referenced
    * data. Retry semantics are q319's: the idempotence guard checks
    * every COMMITTED manifest (committedGens), because this
    * committer's own compact commit replaces the batch generation in
    * the live set.
    *
    * The base index is PER-INVOCATION
    * ([[graft.operators.Dedup.streamSigRetentionParts]]) — the GC
    * retires and deletes it mid-stream, so it must be this run's own
    * (the q307/q319 ownership rule; the rebuild is billed). Scale
    * shape: per batch O(|batch|) plus one index-sized compaction
    * rewrite — the fixture compacts EVERY batch to force the GC
    * interleaving; production compacts on a file-count trigger and
    * retires off-peak.
    */
  def streamSigRetentionFixture(s: SparkSession, dir: String,
                                modN: Int = 5,
                                nShards: Int = 8): DataFrame =
    streamSigRetentionRun(s, dir, modN, nShards)._2

  /** Test-visible q327 split: (GC-deleted generation dirs, audit). */
  private[graft] def streamSigRetentionRun(s: SparkSession, dir: String,
                                           modN: Int = 5,
                                           nShards: Int = 8)
      : (Seq[String], DataFrame) = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val F = graft.operators.IndexManifest.LshSigFormat
    val (incoming, base) = graft.operators.Dedup
      .streamSigRetentionParts(s, dir, modN, nShards)
    // pre-refresh audit counts, collected EAGERLY: the retention GC
    // deletes the base generation mid-stream, so a lazy read of it at
    // audit time would find nothing (nShards rows, a bounded sync)
    val pre = graft.operators.Dedup
      .sigShardCounts(s, Seq(base), "n_existing")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val feed = incoming.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val deltaRoot = graft.operators.ArtifactStore.invocationDir(
      "lsh_sig_streamret", dir, modN.toString, nShards.toString)
    val mroot = graft.operators.ArtifactStore.invocationDir(
      "lsh_sig_manifest_streamret", dir, modN.toString,
      nShards.toString)
    graft.operators.IndexManifest.commit(s, mroot, Seq(base), F)
    val deleted =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = stream.toDS().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val ss = batch.sparkSession
        val gen = s"$deltaRoot/b$id"
        val resolved = graft.operators.IndexManifest.resolve(ss, mroot, F)
        // the q319 retry guard: a gen committed ANYWHERE is immutable
        // (this committer's compact commit replaces it in the live
        // set, so a resolve-only check would let a redelivered batch
        // overwrite a generation a kept manifest still names); its
        // content is already absorbed, so skipping is content-neutral
        if (!graft.operators.IndexManifest.committedGens(ss, mroot)
            .contains(gen)) {
          // signature rows are per-doc and the feed's strata disjoint
          // — no anti-join, the q322 shape
          graft.operators.Dedup.writeLshSigIndex(
            graft.operators.Dedup.minhashSignatures(ss, batch),
            gen, nShards)
          graft.operators.IndexManifest.commit(ss, mroot,
            resolved :+ gen, F)
          // OPTIMIZE + switch: fold the live set to one generation
          val compacted = graft.operators.ArtifactStore.invocationDir(
            "lsh_sig_streamretc", dir, modN.toString, nShards.toString)
          graft.operators.Dedup.writeLshSigIndex(
            graft.operators.Dedup.readLshSigIndexDirs(ss, resolved :+ gen),
            compacted, nShards)
          graft.operators.IndexManifest.commit(ss, mroot,
            Seq(compacted), F)
          // VACUUM between micro-batches: the GC under test
          graft.operators.IndexManifest.retire(ss, mroot, keepLast = 2)
            .foreach(deleted.add(_): Unit)
        }
      }
      .outputMode(OutputMode.Update()).start()
    try feedBatches(stream, q, feed, nBatches = 3)
    finally q.stop()
    import scala.jdk.CollectionConverters._
    (deleted.asScala.toSeq,
      graft.operators.Dedup.refreshAuditOf(s, pre,
        graft.operators.Dedup.sigShardCounts(s,
          graft.operators.IndexManifest.resolve(s, mroot, F), "n_total"),
        "shard", "n_total"))
  }

  /** Q312 — STREAMING quantizer-drift monitor: q305's staleness alarm
    * computed continuously. Incoming vectors arrive as micro-batches;
    * each batch is assigned under the FROZEN persisted quantizer
    * (stream-static against the centroid artifact) and lands its
    * per-list (count, Σ cosine-distance) PARTIALS as one immutable
    * generation — map-side combine across batches, with exact
    * DECIMAL(38,10) summands, so the final fold over all generations
    * is bitwise the batch aggregate (decimal addition is associative;
    * q312 shares q305's oracle: stream ≡ batch for a drift AUDIT, the
    * equality discipline's fourth face after scrub q291, refresh
    * q295/q311, and ingest q301). A foreachBatch RETRY of the same
    * batch id is idempotent (the partials are a pure function of the
    * batch, overwritten into the SAME generation dir); CROSS-batch
    * re-delivery dedup is deliberately upstream's job — in production
    * this monitor rides the deduped stream beside q301's ingest,
    * whose vec_id anti-join drops re-sent vectors before either
    * consumer sees them (aggregate-only generations cannot dedup by
    * id, and duplicating q301's id-bearing state here would double
    * the per-batch cost for a second copy of the same guarantee).
    *
    * Scale shape: per batch O(|batch|) against the broadcast KB
    * quantizer, emitting ≤ nCentroids partial rows per generation;
    * the final rollup reads nBatches·nCentroids tiny rows. This is
    * the alarm a production ingest runs beside q301's index
    * maintenance, triggering q306's retrain when incoming drifts.
    */
  def streamDriftFixture(s: SparkSession, dir: String,
                         nCentroids: Int = 8,
                         modN: Int = 5): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val (cent, existingStats, incoming) = graft.operators.Similarity
      .streamDriftParts(s, dir, nCentroids, modN)
    val feed = incoming.select(col("vec_id"), col("de"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val root = graft.operators.ArtifactStore.invocationDir(
      "ivf_drift_stream", dir, nCentroids.toString, modN.toString)
    val gens = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Double])]
    val q = stream.toDS().toDF("vec_id", "de")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val gen = s"$root/b$id"
        graft.operators.Similarity.driftPartials(batch,
            graft.operators.Similarity.readIvfCentroids(
              batch.sparkSession, cent), "n_new", "new_sum")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(gen)
        gens.put(id, gen): Unit
      }
      .outputMode(OutputMode.Update()).start()
    try feedBatches(stream, q, feed, nBatches = 3)
    finally q.stop()
    import scala.jdk.CollectionConverters._
    val schema = "list_id BIGINT, n_new BIGINT, new_sum DECIMAL(38,10)"
    val partials =
      if (gens.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(schema))
      else gens.values.asScala.toSeq
        .map(d => s.read.schema(schema).parquet(d))
        .reduce(_ unionAll _)
    graft.operators.Similarity.driftAudit(existingStats, partials)
  }

  /** Q301 — STREAMING ANN ingest against the persisted IVF index (the
    * q295 write-path discipline on the embedding side): incoming
    * vectors arrive as a stream; each micro-batch is assigned under
    * the FROZEN persisted quantizer (stream-static against the
    * centroid artifact), anti-joined by vec_id against base ∪ all
    * previously-written delta generations (re-delivery idempotence —
    * the cross-batch memory is the ARTIFACT ITSELF, no state store,
    * no watermark), and lands as one more list-partitioned delta
    * (foreachBatch → writeIvfPostings). The final per-list audit is
    * bit-identical to the batch refresh — q301 shares q297's oracle:
    * stream ≡ batch for index maintenance.
    *
    * Scale shape: each batch pays O(|batch| + prior-generation id
    * probe) against the broadcast KB-sized quantizer and produces one
    * immutable generation; q299's compaction folds the accumulated
    * generations off-peak. Exactly-once at 100 TB comes from the
    * checkpointed batch id: a re-delivered batch overwrites the SAME
    * generation directory (idempotent — the delta for batch i is a
    * pure function of batch i and the prior generations). The collect
    * feeds the MemoryStream harness only.
    */
  def streamIvfIngestFixture(s: SparkSession, dir: String,
                             nCentroids: Int = 8,
                             modN: Int = 5): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val (cent, base, incoming) = graft.operators.Similarity
      .streamIngestParts(s, dir, nCentroids, modN)
    val feed = incoming.select(col("vec_id"), col("de"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val deltaRoot = graft.operators.ArtifactStore.invocationDir(
      "ivf_postings_streamref", dir, nCentroids.toString, modN.toString)
    // keyed by batch id so a foreachBatch RETRY of batch i excludes its
    // own (possibly half-written) generation from the anti-join side
    // and overwrites it in place — the idempotence the scaladoc claims
    // (a self-read would either fail the overwrite or anti-join the
    // batch against itself and land an empty delta)
    val deltas =
      new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Double])]
    val q = stream.toDS().toDF("vec_id", "de")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        import scala.jdk.CollectionConverters._
        val prior = base +: deltas.asScala.toSeq
          .collect { case (i, d) if i != id => d }
        val gen = s"$deltaRoot/b$id"
        graft.operators.Similarity.ingestBatch(batch.sparkSession, cent,
          prior, batch, gen)
        deltas.put(id, gen): Unit
      }
      .outputMode(OutputMode.Update()).start()
    try {
      // three vec_id-aligned micro-batches; a batch-2 re-send of a
      // batch-1 vector must be dropped by READING batch 1's delta
      val chunks = feed.grouped(math.max(1, feed.length / 3 + 1)).toSeq
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        if (chunk.nonEmpty) {
          // re-deliver the previous chunk's tail with this batch: the
          // anti-join against prior generations must drop it
          val redeliver =
            if (i > 0) chunks(i - 1).takeRight(2)
            else Array.empty[(Long, Array[Double])]
          stream.addData((redeliver ++ chunk).toIndexedSeq)
          q.processAllAvailable()
        }
      }
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    graft.operators.Similarity.postingsAudit(s, base,
      deltas.asScala.values.toSeq)
  }

  /** Q338 — STREAMING COMPOSITE INGEST: q301's micro-batch ingest on
    * the IVF-PQ family, with the manifest dimension q311 added — each
    * batch encodes under the FROZEN persisted quantizer+codebook pair,
    * anti-joins prior CODED generations (re-delivery idempotence),
    * lands a coded delta, and a COMPOSITE commit re-names the codebook
    * beside the grown postings set, so a reader that resolves
    * mid-stream always gets one consistent pair. The final audit runs
    * over whatever [[graft.operators.IndexManifest.resolveParts]]
    * serves and shares q297's oracle (list membership and counts are
    * code-independent, and the batches union to exactly the incoming
    * stratum): a double-landed re-delivery, a dropped batch, or a
    * drifted assignment all break the count compare.
    *
    * Scale shape: per batch O(|batch|) against two broadcast KB
    * artifacts plus one list-keyed shuffle of code-sized rows; the
    * accumulated small generations are q334/q331's trigger-compaction
    * problem, deliberately left unfolded here so the audit proves the
    * multi-generation read path.
    */
  def streamIvfPqIngestFixture(s: SparkSession, dir: String,
                               nCentroids: Int = 8, nSub: Int = 8,
                               subDim: Int = 8, codebookK: Int = 16,
                               modN: Int = 5): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val F = graft.operators.IndexManifest
    val (cent, cb, base, incoming) = graft.operators.Similarity
      .streamCodedParts(s, dir, nCentroids, nSub, subDim, codebookK, modN)
    val feed = incoming.select(col("vec_id"), col("de"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val deltaRoot = graft.operators.ArtifactStore.invocationDir(
      "ivfpq_postings_streamref", dir, nCentroids.toString, modN.toString)
    val mroot = graft.operators.ArtifactStore.invocationDir(
      "ivfpq_manifest_stream", dir, nCentroids.toString, modN.toString)
    F.commitTagged(s, mroot, Seq(cb -> F.PqCodebookFormat,
      base -> F.IvfPqPostingsFormat))
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Double])]
    val q = stream.toDS().toDF("vec_id", "de")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val ss = batch.sparkSession
        val gen = s"$deltaRoot/b$id"
        // the q319 retry guard: a generation committed ANYWHERE is
        // immutable, so a foreachBatch RETRY of batch i skips the
        // whole step instead of overwriting the committed b$i in
        // place (round-16 ADVICE: unlike q301, every batch here
        // COMMITS its delta, so an overwrite would mutate a
        // generation kept manifests still name). Content-neutral:
        // the batch's rows were already absorbed by the commit.
        if (!F.committedGens(ss, mroot).contains(gen)) {
          // prior generations come from the RESOLVED head (base plus
          // every earlier batch's committed delta, in commit order) —
          // the anti-join side the re-delivery idempotence needs
          val prior = F.resolveParts(ss, mroot,
            Set(F.PqCodebookFormat, F.IvfPqPostingsFormat))(
            F.IvfPqPostingsFormat)
          graft.operators.Similarity.codedIngestBatch(ss, cent, cb,
            prior, batch, nSub, subDim, gen)
          // the composite switch: codebook re-named beside the grown
          // postings set in ONE commit — mid-stream readers always
          // resolve a consistent pair
          F.commitTagged(ss, mroot, (cb -> F.PqCodebookFormat) +:
            (prior :+ gen).map(_ -> F.IvfPqPostingsFormat))
        }
      }
      .outputMode(OutputMode.Update()).start()
    try {
      val chunks = feed.grouped(math.max(1, feed.length / 3 + 1)).toSeq
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        if (chunk.nonEmpty) {
          // re-deliver the previous chunk's tail: the anti-join
          // against prior coded generations must drop it
          val redeliver =
            if (i > 0) chunks(i - 1).takeRight(2)
            else Array.empty[(Long, Array[Double])]
          stream.addData((redeliver ++ chunk).toIndexedSeq)
          q.processAllAvailable()
        }
      }
    } finally q.stop()
    val parts = F.resolveParts(s, mroot,
      Set(F.PqCodebookFormat, F.IvfPqPostingsFormat))
    val posts = parts(F.IvfPqPostingsFormat)
    graft.operators.Similarity.codedPostingsAudit(s, posts.head,
      posts.tail)
  }

  /** Q328 — STREAMING ANN RETENTION: the q319/q327 GC-under-stream
    * composition on the IVF postings family, making the retention
    * face symmetric across the three postings-style index families
    * (span q319, signature q327, postings here; the PQ codebook has
    * no doc-owned generations to retain). Each micro-batch of
    * incoming vectors is assigned under the FROZEN persisted
    * quantizer and lands as a delta generation; the committer then
    * commits base ∪ delta, COMPACTS the live set to one
    * list-partitioned generation, commits the switch, and runs
    * retire(keepLast = 2) — the original base and earlier batches'
    * generations are deleted from disk WHILE the stream runs. The
    * final day-2 search over the resolved set shares q298's oracle
    * (the deltas union to exactly the incoming stratum): proof the
    * GC never deleted data a live read needed. Retry guard is q319's
    * committedGens check.
    *
    * Base postings are PER-INVOCATION
    * ([[graft.operators.Similarity.streamAnnRetentionParts]], the
    * q307/q319 ownership rule); the quantizer memoizes — centroids
    * are not a generation and retire never touches them. Scale shape:
    * per batch O(|batch|) against the broadcast KB quantizer plus one
    * index-sized compaction rewrite — the fixture compacts every
    * batch to force the GC interleaving; production compacts on a
    * file-count trigger and retires off-peak.
    */
  def streamAnnRetentionFixture(s: SparkSession, dir: String,
                                nCentroids: Int = 8, modN: Int = 5,
                                nProbe: Int = 2, k: Int = 5): DataFrame =
    streamAnnRetentionRun(s, dir, nCentroids, modN, nProbe, k)._2

  /** Test-visible q328 split: (GC-deleted generation dirs, search). */
  private[graft] def streamAnnRetentionRun(s: SparkSession, dir: String,
                                           nCentroids: Int = 8,
                                           modN: Int = 5, nProbe: Int = 2,
                                           k: Int = 5)
      : (Seq[String], DataFrame) = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val F = graft.operators.IndexManifest.IvfPostingsFormat
    val (cent, base, incoming) = graft.operators.Similarity
      .streamAnnRetentionParts(s, dir, nCentroids, modN)
    val feed = incoming.select(col("vec_id"), col("de"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val deltaRoot = graft.operators.ArtifactStore.invocationDir(
      "ivf_postings_streamret", dir, nCentroids.toString, modN.toString)
    val mroot = graft.operators.ArtifactStore.invocationDir(
      "ivf_manifest_streamret", dir, nCentroids.toString, modN.toString)
    graft.operators.IndexManifest.commit(s, mroot, Seq(base), F)
    val deleted =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Double])]
    val q = stream.toDS().toDF("vec_id", "de")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val ss = batch.sparkSession
        val gen = s"$deltaRoot/b$id"
        val resolved = graft.operators.IndexManifest.resolve(ss, mroot, F)
        // the q319 retry guard: a gen committed ANYWHERE is immutable
        // (this committer's own compact commit replaces it in the live
        // set); its content is already absorbed, so skipping the whole
        // step on redelivery is content-neutral
        if (!graft.operators.IndexManifest.committedGens(ss, mroot)
            .contains(gen)) {
          // frozen-quantizer assignment; batches are vec-disjoint so
          // no anti-join (the q318/q322 delta shape)
          graft.operators.Similarity.assignBatch(ss, cent, batch, gen)
          graft.operators.IndexManifest.commit(ss, mroot,
            resolved :+ gen, F)
          // OPTIMIZE + switch: fold the live set to one generation
          val compacted = graft.operators.ArtifactStore.invocationDir(
            "ivf_postings_streamretc", dir, nCentroids.toString,
            modN.toString)
          graft.operators.Similarity.writeIvfPostings(
            graft.operators.Similarity.readIvfPostingsDirs(
              ss, resolved :+ gen), compacted)
          graft.operators.IndexManifest.commit(ss, mroot,
            Seq(compacted), F)
          // VACUUM between micro-batches: the GC under test
          graft.operators.IndexManifest.retire(ss, mroot, keepLast = 2)
            .foreach(deleted.add(_): Unit)
        }
      }
      .outputMode(OutputMode.Update()).start()
    try feedBatches(stream, q, feed, nBatches = 3)
    finally q.stop()
    import scala.jdk.CollectionConverters._
    (deleted.asScala.toSeq,
      graft.operators.Similarity.searchPostingsDirs(s, dir, cent,
        graft.operators.IndexManifest.resolve(s, mroot, F), nProbe, k))
  }

  /** Q339 — STREAMING RETENTION ON THE TRIGGER CADENCE: q328's
    * GC-under-stream composition with the per-batch unconditional
    * fold replaced by [[graft.operators.IndexManifest
    * .compactIfNeeded]](maxGens = 2) — the production cadence q328's
    * own scaladoc promises ("production compacts on a file-count
    * trigger"), now executable in the streaming path exactly as q331
    * made it executable in the batch path. With three micro-batches
    * the cadence is deterministic: batch 0 ends at base+d0 (pure
    * read), batch 1 reaches three generations and folds, batch 2 ends
    * at fold+d2 (no-op again) — and retire(keepLast = 2) still
    * deletes the superseded generations from disk WHILE the stream
    * runs. The final day-2 search over the resolved set shares q298's
    * oracle: cadence changes layout and cost timing, never content.
    * Retry guard is q319's committedGens check.
    *
    * Scale shape: the steady-state streaming bill becomes
    * O(|batch|) per trigger with the index-sized rewrite amortized
    * over maxGens batches — the cost story the unconditional-fold
    * fixtures deliberately overpay to force GC interleaving.
    */
  def streamAnnTriggerFixture(s: SparkSession, dir: String,
                              nCentroids: Int = 8, modN: Int = 5,
                              nProbe: Int = 2, k: Int = 5): DataFrame =
    streamAnnTriggerRun(s, dir, nCentroids, modN, nProbe, k)._3

  /** Test-visible q339 split: (per-batch fold flags, GC-deleted dirs,
    * search). */
  private[graft] def streamAnnTriggerRun(s: SparkSession, dir: String,
                                         nCentroids: Int = 8,
                                         modN: Int = 5, nProbe: Int = 2,
                                         k: Int = 5)
      : (Seq[Boolean], Seq[String], DataFrame) = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val F = graft.operators.IndexManifest.IvfPostingsFormat
    val (cent, base, incoming) = graft.operators.Similarity
      .streamAnnRetentionParts(s, dir, nCentroids, modN, fam = "strig")
    val feed = incoming.select(col("vec_id"), col("de"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val deltaRoot = graft.operators.ArtifactStore.invocationDir(
      "ivf_postings_strigref", dir, nCentroids.toString, modN.toString)
    val mroot = graft.operators.ArtifactStore.invocationDir(
      "ivf_manifest_strig", dir, nCentroids.toString, modN.toString)
    graft.operators.IndexManifest.commit(s, mroot, Seq(base), F)
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val deleted =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Double])]
    val q = stream.toDS().toDF("vec_id", "de")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val ss = batch.sparkSession
        val gen = s"$deltaRoot/b$id"
        val resolved = graft.operators.IndexManifest.resolve(ss, mroot, F)
        // the q319 retry guard: a gen committed ANYWHERE is immutable
        if (!graft.operators.IndexManifest.committedGens(ss, mroot)
            .contains(gen)) {
          graft.operators.Similarity.assignBatch(ss, cent, batch, gen)
          graft.operators.IndexManifest.commit(ss, mroot,
            resolved :+ gen, F)
          // OPTIMIZE only when the live set exceeds the trigger —
          // the q331 cadence inside the stream
          val (_, folded) = graft.operators.IndexManifest
            .compactIfNeeded(ss, mroot, F, maxGens = 2) { live =>
              val compacted = graft.operators.ArtifactStore
                .invocationDir("ivf_postings_strigc", dir,
                  nCentroids.toString, modN.toString)
              graft.operators.Similarity.writeIvfPostings(
                graft.operators.Similarity.readIvfPostingsDirs(ss, live),
                compacted)
              compacted
            }
          ran.add(folded)
          // VACUUM between micro-batches: the GC under test
          graft.operators.IndexManifest.retire(ss, mroot, keepLast = 2)
            .foreach(deleted.add(_): Unit)
        }
      }
      .outputMode(OutputMode.Update()).start()
    try feedBatches(stream, q, feed, nBatches = 3)
    finally q.stop()
    import scala.jdk.CollectionConverters._
    (ran.asScala.toSeq, deleted.asScala.toSeq,
      graft.operators.Similarity.searchPostingsDirs(s, dir, cent,
        graft.operators.IndexManifest.resolve(s, mroot, F), nProbe, k))
  }

  /** Q341 — COMPOSITE GC-UNDER-STREAM: q339's trigger-cadence
    * retention composition on the IVF-PQ family, exercising the one
    * case the composite adds that no single-family stream can — the
    * SHARED codebook generation, re-named by every commit, must
    * survive every retention pass raced against the live stream
    * while the postings generations around it die (q336 proves the
    * exclusivity rule in batch; this runs it with retire deleting
    * superseded generations from disk WHILE micro-batches commit).
    * Each batch encodes under the frozen persisted quantizer+codebook
    * pair, lands a coded delta, commits the grown composite set, runs
    * [[graft.operators.IndexManifest.compactPartsIfNeeded]](maxGens =
    * 2) — folding ONLY the postings family, the codebook re-named
    * unchanged — and retires(keepLast = 2). With three batches the
    * cadence is deterministic (no-fold, fold, no-fold; batch 2's
    * retire reclaims base/b0/b1), and the final search over whatever
    * resolveParts serves equals the batch day-2 composite search
    * (q333's shared oracle): cadence and GC change layout and cost
    * timing, never content — and a vanished shared codebook would
    * leave the final search undecodable. Retry guard is q319's
    * committedGens check.
    *
    * Scale shape: per batch O(|batch|) encode against two broadcast
    * KB artifacts plus one code-sized list shuffle; the index-sized
    * fold is amortized over maxGens batches and the retention deletes
    * are whole immutable directories — the composite family's
    * steady-state streaming bill.
    */
  def streamIvfPqRetentionFixture(s: SparkSession, dir: String,
                                  nCentroids: Int = 8, nSub: Int = 8,
                                  subDim: Int = 8, codebookK: Int = 16,
                                  modN: Int = 5, nProbe: Int = 2,
                                  k: Int = 5): DataFrame =
    streamIvfPqRetentionRun(s, dir, nCentroids, nSub, subDim, codebookK,
      modN, nProbe, k)._4

  /** Test-visible q341 split: (per-batch fold flags, GC-deleted dirs,
    * codebook dir, search). */
  private[graft] def streamIvfPqRetentionRun(s: SparkSession, dir: String,
                                             nCentroids: Int = 8,
                                             nSub: Int = 8,
                                             subDim: Int = 8,
                                             codebookK: Int = 16,
                                             modN: Int = 5,
                                             nProbe: Int = 2, k: Int = 5)
      : (Seq[Boolean], Seq[String], String, DataFrame) = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val F = graft.operators.IndexManifest
    val fmts = Set(F.PqCodebookFormat, F.IvfPqPostingsFormat)
    val (cent, cb, base, incoming) = graft.operators.Similarity
      .streamCodedRetentionParts(s, dir, nCentroids, nSub, subDim,
        codebookK, modN)
    val feed = incoming.select(col("vec_id"), col("de"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val deltaRoot = graft.operators.ArtifactStore.invocationDir(
      "ivfpq_postings_sretref", dir, nCentroids.toString, modN.toString)
    val mroot = graft.operators.ArtifactStore.invocationDir(
      "ivfpq_manifest_sret", dir, nCentroids.toString, modN.toString)
    F.commitTagged(s, mroot, Seq(cb -> F.PqCodebookFormat,
      base -> F.IvfPqPostingsFormat))
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val deleted =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Double])]
    val q = stream.toDS().toDF("vec_id", "de")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val ss = batch.sparkSession
        val gen = s"$deltaRoot/b$id"
        // the q319 retry guard: a gen committed ANYWHERE is immutable
        if (!F.committedGens(ss, mroot).contains(gen)) {
          val prior = F.resolveParts(ss, mroot, fmts)(F.IvfPqPostingsFormat)
          // frozen-pair encode; batches are vec-disjoint so no
          // anti-join (the q318/q339 delta shape)
          graft.operators.Similarity.codedAssignBatch(ss, cent, cb,
            batch, nSub, subDim, gen)
          F.commitTagged(ss, mroot, (cb -> F.PqCodebookFormat) +:
            (prior :+ gen).map(_ -> F.IvfPqPostingsFormat))
          // OPTIMIZE only when the postings family exceeds the
          // trigger; the codebook rolls forward UNCHANGED in the
          // same switch commit (q334's orthogonality rule)
          val (_, folded) = F.compactPartsIfNeeded(ss, mroot,
            F.IvfPqPostingsFormat, fmts, maxGens = 2) { live =>
            val compacted = graft.operators.ArtifactStore.invocationDir(
              "ivfpq_sretc", dir, nCentroids.toString, modN.toString)
            graft.operators.Similarity.writeIvfPqPostings(
              live.map(graft.operators.Similarity
                .readIvfPqPostings(ss, _)).reduce(_ unionAll _),
              compacted)
            compacted
          }
          ran.add(folded)
          // VACUUM between micro-batches: the retention GC under test
          // — the shared codebook is named by EVERY kept manifest, so
          // the exclusivity rule must keep it alive every pass
          F.retire(ss, mroot, keepLast = 2)
            .foreach(deleted.add(_): Unit)
        }
      }
      .outputMode(OutputMode.Update()).start()
    try feedBatches(stream, q, feed, nBatches = 3)
    finally q.stop()
    import scala.jdk.CollectionConverters._
    val parts = F.resolveParts(s, mroot, fmts)
    (ran.asScala.toSeq, deleted.asScala.toSeq, cb,
      graft.operators.Similarity.searchCodedDirs(s, dir, cent,
        parts(F.PqCodebookFormat), parts(F.IvfPqPostingsFormat),
        nProbe, k))
  }

  /** [[userProfileStream]] emission (one per updated key per batch). */
  case class TwsOut(user_id: Long, version: Int, n_events: Long,
                    total_value: Double, top_type: String)

  /** [[UserProfileProcessor]] running aggregate: exact decimal total. */
  case class TwsAgg(version: Int, n: Long, total: BigDecimal)

  /** Q197 (processor) — per-user profile on the Spark 4
    * `transformWithState` API (the successor of mapGroupsWithState:
    * NAMED, independently-typed state variables behind a
    * StatefulProcessorHandle, RocksDB-backed): a ValueState carries
    * the exact-decimal running (n, Σvalue) and a MapState carries
    * per-event-type counts — the favorite-category profile every
    * personalization pipeline keeps per user. Emits the updated
    * profile with a deterministic (count desc, type asc) argmax.
    *
    * At scale: state is one small struct + |types| map entries per
    * user, keyed by the shuffle key; the MapState updates touch only
    * the types seen in the batch (point writes, not a full-map
    * rewrite — the reason transformWithState exists).
    */
  class UserProfileProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String, BigDecimal), TwsOut] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var agg: org.apache.spark.sql.streaming.ValueState[TwsAgg] = _
    @transient private var typeCounts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState("agg", E.product[TwsAgg], TTLConfig.NONE)
      typeCounts = getHandle.getMapState("type_counts", E.STRING,
        E.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, String, BigDecimal)],
        tv: TimerValues): Iterator[TwsOut] = {
      var st = if (agg.exists()) agg.get() else TwsAgg(0, 0L, BigDecimal(0))
      rows.foreach { case (_, typ, v) =>
        st = st.copy(n = st.n + 1, total = st.total + v)
        val c = if (typeCounts.containsKey(typ)) typeCounts.getValue(typ) else 0L
        typeCounts.updateValue(typ, c + 1L)
      }
      st = st.copy(version = st.version + 1)
      agg.update(st)
      val top = typeCounts.iterator()
        .min(Ordering.by[(String, Long), (Long, String)] {
          case (t, c) => (-c, t)
        })._1
      Iterator.single(TwsOut(key, st.version, st.n, st.total.toDouble, top))
    }
  }

  /** Q197 (operator) — [[UserProfileProcessor]] wired through
    * `transformWithState` in Update mode, no time semantics.
    */
  def userProfileStream(ds: Dataset[(Long, String, BigDecimal)]): Dataset[TwsOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new UserProfileProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** q197 — [[userProfileStream]] over the sfDir events table, 3
    * micro-batches on the RocksDB state store (transformWithState
    * requires it; the conf is scoped and restored), final emission
    * per user against the batch profile oracle.
    */
  def userProfileFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val data = s.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("event_type"),
        col("value").cast("decimal(18,4)"))
      .as[(Long, String, BigDecimal)].collect()
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, BigDecimal)]
    val name = s"q197_stream_tws_${System.nanoTime()}"
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      withFewStatePartitions(s) {
        val q = userProfileStream(stream.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Update()).start()
        try {
          feedBatches(stream, q, data, nBatches = 3)
        } finally q.stop()
      }
    } finally prevProv match {
      case Some(v) => s.conf.set(provKey, v)
      case None => s.conf.unset(provKey)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("version").desc)
    s.table(name)
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select("user_id", "n_events", "total_value", "top_type")
  }
}
