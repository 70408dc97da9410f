package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{OracleSql, SparkEntry, Verify}
import graft.operators.{BeatMetrics, Envelopes, PeakDetect, Smoothing}
import graft.sources.SignalFixture

/** JVM side of the benchmark: one Spark process at local[cpus], one
  * client in a closed loop (the next operation starts when the previous
  * one returns). It runs untimed set-ups, timed passes with tracing off,
  * optionally traced passes and the signal stage probe, and an untimed
  * dump of every output for the oracle check. Raw measurements go to
  * `<out>/result.json` and `<out>/spans.json`; run.py turns them into
  * metrics.
  *
  * Usage: Main <config file of key=value lines>
  */
object Main {

  /** A workload: the operations of one pass and how to run and check them. */
  trait Work {
    def ops: Seq[String]
    def run(spark: SparkSession, op: String): Unit
    /** Per-operation hygiene, outside the operation's own time. */
    def after(spark: SparkSession): Unit = ()
    /** Run each operation once, writing its output to `dir/<name>` for
      * the oracle check; return name -> oracle SQL. */
    def check(spark: SparkSession, dir: String): Map[String, String]
    /** Whether the check runs the same plans as a pass, so it can be the
      * first set-up's warm pass. */
    def checkWarms: Boolean
    /** The signal recordings this workload's signal spine reads. */
    def signal(spark: SparkSession): DataFrame
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The paper's pipeline over a plate, as one plan: smooth, envelopes,
    * find_peaks with the 70% gate, per-beat metrics, per-channel summary.
    */
  def pipeline(plate: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val enriched = Envelopes.withEnvelopes(Smoothing.withSmooth(plate))
    val detected = PeakDetect.detectPeaks(enriched).toDF()
    val metrics = BeatMetrics.metrics(enriched, detected, markers = false)
    (detected, metrics, BeatMetrics.summary(enriched, metrics))
  }

  final class PlateWork(path: String) extends Work {
    val ops = Seq("signal_pipeline")
    def signal(spark: SparkSession): DataFrame = spark.read.parquet(path)
    def run(spark: SparkSession, op: String): Unit = noop(pipeline(signal(spark))._3)
    val checkWarms = false // the check persists the shared spine
    def check(spark: SparkSession, dir: String): Map[String, String] = {
      val enriched = Envelopes.withEnvelopes(Smoothing.withSmooth(signal(spark))).persist()
      val detected = PeakDetect.detectPeaks(enriched).toDF().persist()
      val metrics = BeatMetrics.metrics(enriched, detected, markers = false)
      val summary = BeatMetrics.summary(enriched, metrics)
      val outs = Seq(
        "q7b_peaks" -> detected,
        "q8_metrics" -> metrics.select("experiment_id", "channel", "peak_idx",
          "force", "time_to_peak", "time_to_relaxation", "duration"),
        "q9_summary" -> summary)
      outs.map { case (name, df) =>
        Verify.dumpOrMark(spark, name, (_, _) => df, "", dir)
        name -> SparkEntry.oracleSql(name).replace(OracleSql.signalGlob, path)
      }.toMap.tap(_ => Seq(detected, enriched).foreach(_.unpersist(blocking = true)))
    }
  }

  final class QueryWork(val ops: Seq[String], dataDir: String) extends Work {
    private def fn(op: String) = SparkEntry.queries.getOrElse(op,
      throw new NoSuchElementException(s"no query $op in SparkEntry.queries"))
    def signal(spark: SparkSession): DataFrame = SignalFixture.signal(spark)
    def run(spark: SparkSession, op: String): Unit = noop(fn(op)(spark, dataDir))
    /** The session hygiene graft.Bench applies between queries: caches
      * are per query, memos survive, streaming state stores unload.
      */
    override def after(spark: SparkSession): Unit = {
      spark.catalog.clearCache()
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
    val checkWarms = true
    def check(spark: SparkSession, dir: String): Map[String, String] =
      ops.distinct.map { op =>
        Verify.dumpOrMark(spark, op, (s, d) => fn(op)(s, d), dataDir, dir)
        after(spark)
        op -> SparkEntry.oracleSql.getOrElse(op, "")
      }.toMap
  }

  // ---- clocks and JVM counters -------------------------------------------

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Collect twice around a pause, so Spark's ContextCleaner can drop
    * what the first collection found unreachable.
    */
  def settle(): Unit = { System.gc(); Thread.sleep(200); System.gc() }

  def usedMb(): Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Heap the session retains: the listener bus drained (its queued
    * events and the live job and stage records they update hold heap),
    * then collections until a reading falls by less than 0.5 MB, so a
    * ContextCleaner running behind on a busy machine does not count.
    */
  def retainedMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.perfbench.Bus.drain(sc)
    settle()
    var prev, cur = usedMb()
    var n = 0
    do {
      prev = cur
      Thread.sleep(300)
      System.gc()
      cur = usedMb()
      n += 1
    } while (prev - cur >= 0.5 && n < 10)
    cur
  }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Peak heap in use right after a collection, over the armed interval:
    * the retained peak (live data and survivors), not the pre-collection
    * high-water mark, which the collector's sizing policy sets. Falls back
    * to the pools' peak usage when no collection ran.
    */
  object HeapWatch {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    private val heapNames = heapPools.map(_.getName).toSet
    @volatile private var armed = false
    private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    private lazy val installed: Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          import com.sun.management.{GarbageCollectionNotificationInfo => G}
          if (armed && n.getType == G.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = G.from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapNames(pool) => u.getUsed }.sum
            peak.accumulateAndGet(used, (a, b) => math.max(a, b))
          }
        }, null, null)
      case _ => ()
    }
    def arm(): Unit = { installed; peak.set(0L); heapPools.foreach(_.resetPeakUsage()); armed = true }
    def peakMb(): Double = {
      armed = false
      val p = if (peak.get > 0) peak.get else heapPools.map(_.getPeakUsage.getUsed).sum
      p / 1048576.0
    }
  }

  /** Generated classes compiled so far and their compile time in ms.
    * The histogram keeps every value while it holds fewer than its
    * reservoir size (1028); past that the time is the sample mean times
    * the exact count.
    */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val v = h.getSnapshot.getValues
    val sum = if (v.isEmpty) 0.0 else if (v.length >= n) v.sum.toDouble else v.sum.toDouble / v.length * n
    (n, sum)
  }

  /** Point the committed signal fixture at this checkout. SignalFixture
    * names its directory as an absolute constant (a static final field
    * of the object), so the benchmark rewrites the three path fields
    * before anything reads them; it then reads the same committed bytes
    * from the checkout it was started in.
    */
  def relocateFixture(dir: String): Unit = {
    val cls = SignalFixture.getClass
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val unsafe = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    Seq("fixtureDir" -> dir, "signalPath" -> s"$dir/signal", "stimPath" -> s"$dir/stim")
      .foreach { case (f, v) =>
        val fld = cls.getDeclaredField(f)
        unsafe.putObject(unsafe.staticFieldBase(fld), unsafe.staticFieldOffset(fld), v)
      }
    require(SignalFixture.signalPath == s"$dir/signal" && OracleSql.signalGlob.startsWith(dir),
      "could not relocate the signal fixture")
  }

  def newSession(cfg: Map[String, String]): SparkSession = {
    val cpus = cfg("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg("tmp"))
      .config("spark.sql.warehouse.dir", s"${cfg("tmp")}/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", cfg("codegen_cache"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ---- the run ------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val cfg: Map[String, String] = scala.io.Source.fromFile(args(0)).getLines()
      .filter(_.contains("=")).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    val out = cfg("out")
    val traced = cfg("trace") == "1"
    val seconds = cfg("seconds").toDouble
    relocateFixture(cfg("fixtures"))
    val work: Work = cfg("kind") match {
      case "plate" => new PlateWork(cfg("plate"))
      case "queries" => new QueryWork(cfg("ops").split(",").toSeq, cfg("data"))
    }
    val spans = new Spans
    val runId = spans.newId()
    val runStart = nowMs()
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val opRecs = ArrayBuffer.empty[Map[String, Any]]
    val batchRecs = ArrayBuffer.empty[Map[String, Any]]
    val batches = new BatchListener
    var spark = newSession(cfg)
    spark.streams.addListener(batches)

    /** One pass over the workload's operations. With a listener the pass
      * is traced: spans, listener counters and storage samples.
      */
    def pass(kind: String, layer: Option[LayerListener]): Unit = {
      val idx = passes.size
      val passId = spans.newId()
      val (cg0, cgMs0) = codegen()
      val before = layer.map { l => org.apache.spark.perfbench.Bus.drain(spark.sparkContext); l.snapshot() }
      var rddBytes, rdds = 0L
      val cpu0 = processCpuS()
      val ps = nowMs()
      work.ops.foreach { op =>
        val opId = spans.newId()
        layer.foreach(_.op = opId)
        batches.op = op
        val s = nowMs()
        val err = try { work.run(spark, op); null } catch {
          case e: Throwable => Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        }
        val e = nowMs()
        opRecs += Map("pass" -> idx, "kind" -> kind, "op" -> op, "wall_s" -> (e - s) / 1e3, "error" -> err)
        if (layer.isDefined) {
          spans.add(Span(opId, passId, op, s, e))
          val info = spark.sparkContext.getRDDStorageInfo
          rddBytes = math.max(rddBytes, info.map(i => i.memSize + i.diskSize).sum)
          rdds = math.max(rdds, info.length.toLong)
        }
        work.after(spark)
      }
      val pe = nowMs()
      val cpu1 = processCpuS()
      layer.foreach(_.op = 0L)
      val (cg1, cgMs1) = codegen()
      val deltas = layer.map { l =>
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        val after = l.snapshot()
        after.map { case (k, v) => k -> (v - before.get(k)) } ++
          Map("materialize.resident_bytes_peak" -> rddBytes.toDouble, "materialize.rdds_peak" -> rdds.toDouble)
      }
      if (layer.isDefined) spans.add(Span(passId, runId, s"pass $idx", ps, pe))
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      batchRecs ++= batches.take().map(_ + ("pass" -> idx))
      passes += Map("kind" -> kind, "wall_s" -> (pe - ps) / 1e3, "cpu_s" -> (cpu1 - cpu0),
        "codegen_classes" -> (cg1 - cg0), "codegen_ms" -> (cgMs1 - cgMs0),
        "layers" -> deltas.orNull)
    }

    val marks = ArrayBuffer("start" -> runStart)
    def mark(name: String): Unit = marks += name -> nowMs()

    // set-up 1, from process start (t0_ms is when run.py began the run);
    // where the check runs the pass's own plans, it is the warm pass
    val checkDir = s"$out/check"
    var sqls: Map[String, String] = null
    if (work.checkWarms) sqls = work.check(spark, checkDir) else pass("warm", None)
    val setups = ArrayBuffer((nowMs() - cfg("t0_ms").toDouble) / 1e3)
    mark("setup")

    // set-ups 2..n: a fresh session and one warm pass each, before the
    // timed passes, so those start on a warmed-up JVM
    for (_ <- 1 until cfg("setups").toInt) {
      spark.stop()
      val t = nowMs()
      spark = newSession(cfg)
      spark.streams.addListener(batches)
      pass("warm", None)
      setups += (nowMs() - t) / 1e3
    }
    mark("setups")

    // timed passes, each from a settled heap; a traced run alternates
    // untraced and traced passes, attaching the listeners only for the
    // traced ones. The retained heap is read once the first min_passes
    // passes are done, a point every run reaches whatever its speed:
    // the session's bookkeeping grows with each pass, so a reading after
    // all passes would follow how many fit in the run.
    val layer = if (traced) Some(new LayerListener(spans)) else None
    val minPasses = cfg("min_passes").toInt
    var heapRetained = Double.NaN
    HeapWatch.arm()
    val t = nowMs()
    var i = 0
    while (i < minPasses || nowMs() - t < seconds * 1e3) {
      if (i == minPasses) heapRetained = retainedMb(spark.sparkContext)
      settle()
      if (traced && i % 2 == 1) {
        layer.foreach(Probe.attach(spark, _))
        pass("traced", layer)
        layer.foreach(Probe.detach(spark, _))
      } else pass("timed", None)
      i += 1
    }
    val heapPeak = HeapWatch.peakMb()
    if (i == minPasses) heapRetained = retainedMb(spark.sparkContext)
    mark("timed")

    val probes = ArrayBuffer.empty[Map[String, Any]]
    layer.foreach { l =>
      Probe.attach(spark, l)
      for (_ <- 0 until cfg("probes").toInt) probes += stageProbe(spark, work, l, spans, runId)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      Probe.detach(spark, l)
      mark("probes")
    }

    if (sqls == null) { sqls = work.check(spark, checkDir); mark("check") }
    spans.add(Span(runId, 0L, "run", runStart, nowMs()))
    spark.stop()

    Json.write(s"$out/result.json", Map(
      "setups_s" -> setups.toList,
      "heap_peak_mb" -> heapPeak,
      "heap_retained_mb" -> heapRetained,
      "passes" -> passes.toList,
      "ops" -> opRecs.toList,
      "batches" -> batchRecs.toList,
      "probes" -> probes.toList,
      "check" -> Map("dir" -> checkDir, "sql" -> sqls),
      "marks_ms" -> marks.toList.map { case (k, v) => List(k, v) }))
    Json.write(s"$out/spans.json", spans.all.map(s =>
      List(s.id, s.parent, s.name, s.start, s.end)))
  }

  /** Time each signal stage on its own checkpointed input, then the
    * whole pipeline as one plan over the same input. The input is the
    * workload's own recordings (the plate, or the committed fixture).
    */
  def stageProbe(spark: SparkSession, work: Work, layer: LayerListener,
                 spans: Spans, runId: Long): Map[String, Any] = {
    val probeId = spans.newId()
    val p0 = nowMs()
    def stage(name: String)(f: => Unit): Double = {
      val id = spans.newId()
      layer.op = id
      val s = nowMs(); f; val e = nowMs()
      layer.op = 0L
      spans.add(Span(id, probeId, name, s, e))
      (e - s) / 1e3
    }
    val in = work.signal(spark).localCheckpoint()
    val smooth = Smoothing.withSmooth(in)
    val tSmooth = stage("smoothing")(noop(smooth))
    val smoothCp = smooth.localCheckpoint()
    val env = Envelopes.withEnvelopes(smoothCp)
    val tEnv = stage("envelopes")(noop(env))
    val envCp = env.localCheckpoint()
    val det = PeakDetect.detectPeaks(envCp).toDF()
    val tDet = stage("peakdetect")(noop(det))
    val detCp = det.localCheckpoint()
    val tBeat = stage("beatmetrics")(noop(
      BeatMetrics.summary(envCp, BeatMetrics.metrics(envCp, detCp, markers = false))))
    val candidates = PeakDetect.candidates(smoothCp).count()
    val peaks = detCp.count()
    val tSingle = stage("signal_pipeline")(noop(pipeline(in)._3))
    Seq(in, smoothCp, envCp, detCp).foreach(_.unpersist(blocking = true))
    spans.add(Span(probeId, runId, "stage probe", p0, nowMs()))
    Map("smoothing" -> tSmooth, "envelopes" -> tEnv, "peakdetect" -> tDet,
      "beatmetrics" -> tBeat, "single" -> tSingle,
      "candidates" -> candidates, "peaks" -> peaks)
  }
}

/** Minimal JSON writer for the harness's own records. */
object Json {
  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => enc(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(enc).mkString("[", ",", "]")
    case other => enc(other.toString)
  }
  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), enc(v))
}
