package graft

/** Plan-shape regression guards: the physical plans the engine relies
  * on at scale must not silently degrade (broadcasts becoming
  * shuffles, pushdown lost, exchanges multiplying).
  */
class PlanQualitySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString()

  test("q11: all four dimensions broadcast; date filter pushed to the orders scan") {
    val p = plan("q11_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 4)
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "date pushdown lost")
  }

  test("q12: single shuffle for the aggregate feeds the rank window") {
    val p = plan("q12_topk_parts")
    // part joins broadcast; the only wide dependencies are the revenue
    // aggregate and the per-brand window sort
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q1: one channel exchange, one typed per-channel pass, no window or explode") {
    val p = plan("q1_smooth")
    // the pad and the 51-tap FIR run inside SignalKernel.smooth, once
    // per channel, behind the one channel-keyed exchange
    assert("\\bMapGroups\\b".r.findAllIn(p).size === 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Window") && !p.contains("Generate") &&
      !p.contains("collect_list"), p)
  }

  test("q16c: centroid side is broadcast, not shuffled") {
    val p = plan("q16c_ivf_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q15: dedup shuffles on xxhash64(text), and text never enters an exchange") {
    val p = plan("q15_dedup_exact")
    // the main aggregate's exchange partitions on the hash column
    assert(p.contains("xxhash64"), "hash-first plan lost")
    assert("hashpartitioning\\(h#".r.findFirstIn(p).isDefined
      || "hashpartitioning\\(xxhash64".r.findFirstIn(p).isDefined,
      s"shuffle key must be the text hash:\n$p")
    // the only text-keyed aggregate sits above the broadcast-filtered
    // dup subset, never above a full-corpus exchange
    val exchanges = "Exchange hashpartitioning\\(text#".r.findAllIn(p).size
    assert(exchanges <= 1, s"full text shuffled more than the dup subset:\n$p")
  }

  test("q15e: the df cap is a broadcast anti-join, not a shuffle of the shingle table") {
    val p = plan("q15e_ngram_jaccard")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"hot-shingle exclusion must be a broadcast anti-join:\n$p")
  }

  test("q121: intersections via one h-keyed aggregate — no self-join, no cache") {
    // earlier suites may have cached a shared subtree (q15e caches its
    // shingle table); plan-level cache reuse would then inject an
    // InMemoryTableScan that is not q121's own doing — clear first so
    // the pin tests THIS operator's storage behavior
    spark.catalog.clearCache()
    val p = plan("q121_containment")
    // round-12 verdict #6: the old shingle-keyed SELF-JOIN over a
    // cached exploded table was the canonical in-run memory spiker;
    // the pair stage is now aggregate + in-place pair explosion
    assert(!p.contains("InMemoryTableScan"),
      s"q121 must not cache the shingle table:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q121 self-join returned:\n$p")
    assert(p.contains("collect_list") || p.contains("sort_array"),
      s"pair stage must be the doc-list aggregate:\n$p")
  }

  test("q16b: multi-probe candidate join is an equi join on the bucket key") {
    val p = plan("q16b_lsh_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"probe-key join degraded to a non-equi join:\n$p")
  }

  test("q15c: signature aggregate is partial+final (map-side combine)") {
    val p = plan("q15c_minhash_lsh")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_min") || p.contains("merge_min")
      || "HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q26: KMV sketch runs as a partial typed aggregate (k longs per partition cross the exchange)") {
    val p = plan("q26_kmv_distinct")
    // typed Aggregator lowers to ObjectHashAggregate / SortAggregate
    // with a partial phase before the key exchange
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"))
    assert(p.contains("partial_kmvsketch") ||
      "(?i)partial".r.findFirstIn(p).isDefined, s"no partial agg phase:\n$p")
  }

  test("q27: hash split is projection + one aggregate exchange — no join, no extra shuffle") {
    val p = plan("q27_hash_split")
    assert(!p.contains("Join"), "split must not join")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1)
  }

  test("q30: centroid table is broadcast back, not shuffled into a sort-merge join") {
    val p = plan("q30_label_centroids")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q35: benchmark shingle set is broadcast; corpus side shuffles once, on doc_id") {
    val p = plan("q35_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "bench side must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus shingles must never sort-merge against the benchmark")
    // the only hash exchanges are the bench-distinct (tiny) and the
    // final doc_id count — the exploded corpus never re-shuffles on h
    assert("Exchange hashpartitioning\\(h".r.findAllIn(p).size <= 1)
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size === 1)
  }

  test("q36: quality sampling is a pure projection — no shuffle at all") {
    val p = plan("q36_quality_sample")
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
    assert(!p.contains("Join"))
  }

  test("q70: blocked Levenshtein join is equi on (lang, band) — no cartesian") {
    val p = plan("q70_edit_dist")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "blocking keys lost")
  }

  test("q71: vocab membership is a broadcast join; corpus tokens never reshuffle for it") {
    val p = plan("q71_vocab_oov")
    assert(p.contains("BroadcastHashJoin"), "vocab broadcast lost")
    assert(p.contains("TakeOrderedAndProject"),
      "top-v should be takeOrdered over the count aggregate, not a global sort")
  }

  test("q69: sweep-line window is partitioned by day, not global") {
    val p = plan("q69_concurrency")
    assert("hashpartitioning\\(day#".r.findFirstIn(p).isDefined,
      "per-day partitioned sweep lost — global sort would serialize at scale")
  }

  test("q57: model shuffles carry polyHash longs, not bigram strings") {
    val p = plan("q57_bigram_lm")
    assert("hashpartitioning\\((bh|wh)#".r.findFirstIn(p).isDefined,
      "hash-keyed model aggregates lost")
    assert(!"hashpartitioning\\(bigram#".r.findFirstIn(p).isDefined,
      "bigram strings entered an exchange")
  }

  test("q98: all dimensions broadcast into the share-of-parent rollup") {
    val p = plan("q98_share_of_parent")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q93: per-column stat rows read the cached 1-row aggregate") {
    val p = plan("q93_column_stats")
    // the 6 stacked branches each scan the InMemoryRelation of the
    // single cached aggregate — the parquet scan materializes once,
    // at cache fill, not per branch (round-18 A/B kept the lazy cache:
    // the eager-checkpoint variant measured slower, see columnStats)
    assert(p.contains("InMemoryTableScan"),
      "stacked stat rows must come from the cached aggregate")
  }

  test("q83/q96: candidate joins stay equi-keyed — no cartesian anywhere") {
    Seq("q83_qgram_join", "q96_cooccurrence").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q degraded to cartesian")
    }
  }

  test("q93b: sketch runs as a partial typed aggregate; estimates broadcast back") {
    val p = plan("q93b_column_stats_kmv")
    // the KMV Aggregator must map-side combine (k longs per partition
    // through the exchange), like q26
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"typed sketch aggregate missing:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "6-row estimate table must broadcast into the stat join")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q107: counter matrix broadcasts into the probe lookup — no wide join") {
    val p = plan("q107_cmsketch")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q108: fact table never shuffles — bloom bits and pass-keys broadcast") {
    val p = plan("q108_bloom_prune")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"bloom prune must stay broadcast-only:\n$p")
    // the lineitem scan reads only the 3 join/id columns
    val scans = p.linesIterator.filter(_.contains("ReadSchema"))
      .filter(_.contains("l_suppkey")).toSeq
    assert(scans.nonEmpty)
    scans.foreach(s => assert(!s.contains("l_extendedprice"),
      s"lineitem scan must prune to the key columns: $s"))
  }

  test("q109: span aggregations are partial+final on the hash; text never shuffles") {
    val p = plan("q109_dup_spans")
    // both span-keyed aggregates must have map-side partials
    assert("partial_count".r.findAllIn(p).size >= 1, s"no map-side combine:\n$p")
    assert(!"Exchange hashpartitioning\\(text#".r.findFirstIn(p).isDefined,
      s"document text entered an exchange:\n$p")
  }

  test("q110: both Lloyd assignments broadcast the centroid side") {
    val p = plan("q110_kmeans")
    // init centroids + recomputed centroids: two broadcast nested loops
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === 2,
      s"centroid side must broadcast in each iteration:\n$p")
    // the corpus is never sort-merge-joined against itself
    assert(!p.contains("SortMergeJoin"), s"unexpected corpus shuffle join:\n$p")
  }

  test("column pruning reaches the documents scan: text is not read when unused") {
    // ReadSchema in the FileScan must exclude `text` for queries that
    // only use metadata columns — at 100 TB, `text` IS the table
    def readSchemas(p: String): Seq[String] = p.linesIterator
      .filter(_.contains("ReadSchema"))
      .map(_.split("ReadSchema: ").last).toSeq
    for (q <- Seq("q27_hash_split", "q29_domain_mix")) {
      val schemas = readSchemas(plan(q))
      assert(schemas.nonEmpty, s"$q: no scan found")
      schemas.foreach(s =>
        assert(!s.contains("text"), s"$q reads text it never uses: $s"))
    }
    // q39's summary reads back the shard files it wrote: the readback
    // scan must prune to (n_chars + the shard partition column) even
    // though the files carry the full documents
    val q39 = readSchemas(plan("q39_shards"))
    assert(q39.nonEmpty)
    q39.foreach(s => assert(!s.contains("text"),
      s"shard summary reads text it never uses: $s"))
    // and the date filter on q11 still reaches the orders scan as a
    // pushed filter (guarded elsewhere) while lineitem reads only the
    // needed money columns
    val li = readSchemas(plan("q11_revenue_by_nation"))
      .filter(_.contains("l_extendedprice"))
    assert(li.nonEmpty)
    li.foreach(s => assert(!s.contains("l_comment") && !s.contains("l_shipdate"),
      s"lineitem scan reads unused columns: $s"))
  }

  test("q119: partition-key filter prunes at the directory level") {
    // replicate the operator's read side on a small partitioned tree
    // and pin that the source filter lands in PartitionFilters (file
    // listing pruned), NOT as a post-scan data filter over all files
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft_prunepin")
    try {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .write.mode("overwrite").partitionBy("source")
        .parquet(out.toString)
      val p = spark.read.parquet(out.toString)
        .filter(col("source") === "src3")
        .groupBy(col("lang")).count()
        .queryExecution.executedPlan.toString()
      assert(p.contains("PartitionFilters:") &&
        p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .contains("src3"),
        s"source filter did not reach PartitionFilters:\n$p")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    }
  }

  test("q113: support aggregate prunes before orientation; joins stay equi-keyed") {
    val p = plan("q113_triangles")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"triangle joins degraded to cartesian:\n$p")
  }

  test("q118: vocabulary linkage join is block-keyed, not cartesian") {
    val p = SparkEntry.queries("q118_jw_linkage")(spark, sfDir)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"jw linkage degraded to cartesian:\n$p")
    assert(p.contains("graft_jaro_winkler"), "native JW expr not in plan")
  }

  test("q136: correlated scalar subqueries decorrelate to one joined aggregate") {
    val p = plan("q136_dominant_supplier")
    // RewriteCorrelatedScalarSubquery must have turned both correlated
    // subqueries (SELECT + WHERE) into a de-correlated per-part
    // aggregate joined back — a surviving per-row subquery would be
    // O(n·parts) at scale
    assert(!p.toLowerCase.contains("subquery"),
      s"correlated subquery survived decorrelation:\n$p")
    assert(p.contains("HashAggregate"), "per-part aggregate missing")
  }

  test("q139: media bytes never enter an exchange — only the md5 digest shuffles") {
    val p = plan("q139_media_dedup")
    assert(p.contains("md5"), "digest projection missing")
    assert(!"Exchange [^\\n]*media".r.findFirstIn(p).isDefined,
      s"media binary column crossed an exchange:\n$p")
  }

  test("q235/q236: no cartesians; q236 joins only at the spine — template and gate are windows") {
    val p5 = plan("q235_dfdt")
    assert(!p5.contains("CartesianProduct"), s"q235 cartesian:\n$p5")
    val p6 = plan("q236_beat_template")
    assert(!p6.contains("CartesianProduct"), s"q236 cartesian:\n$p6")
    // the complete-window gate and the channels×61 template are WINDOW
    // aggregates over (…, peak_idx) and (…, off) — a broadcast-joined
    // template would be an unbounded forced broadcast at corpus scale
    // (the joins visible in the plan all belong to the enriched spine)
    assert("windowspecdefinition\\(experiment_id#\\d+, channel#\\d+, off#".r
      .findFirstIn(p6).isDefined, s"template must be a window:\n$p6")
    assert("windowspecdefinition\\(experiment_id#\\d+, channel#\\d+, peak_idx#".r
      .findFirstIn(p6).isDefined, s"gate must be a window:\n$p6")
    assert(!p6.contains("BroadcastNestedLoopJoin"), s"q236 BNLJ:\n$p6")
    // the offset fan-out rides the (small) beat table
    assert("Generate explode".r.findAllIn(p6).nonEmpty,
      s"offset explode missing:\n$p6")
  }

  test("q238-q240: no cartesians/BNLJ; q240 channel moments are windows, not join-backs") {
    val p8 = plan("q238_band_power")
    assert(!p8.contains("CartesianProduct") &&
      !p8.contains("BroadcastNestedLoopJoin"), s"q238 unbounded join:\n$p8")
    // the Fourier-bin fan-out is a narrow Generate off the per-channel
    // aggregate (channel-dim), never a fan-out of the corpus
    assert("Generate explode".r.findAllIn(p8).nonEmpty,
      s"bin explode missing:\n$p8")
    val p9 = plan("q239_fti")
    assert(!p9.contains("CartesianProduct") &&
      !p9.contains("BroadcastNestedLoopJoin"), s"q239 unbounded join:\n$p9")
    val p0 = plan("q240_beat_anomaly")
    assert(!p0.contains("CartesianProduct"), s"q240 cartesian:\n$p0")
    assert(!p0.contains("BroadcastNestedLoopJoin"), s"q240 BNLJ:\n$p0")
    // the z-score moments ride an UNORDERED channel-partition window
    // (frame only, no sort key) — a groupBy-and-join-back would put a
    // beat-dimension join on the hot path for channel-dim stats
    assert(("windowspecdefinition\\(experiment_id#\\d+, channel#\\d+, " +
      "specifiedwindowframe").r.findFirstIn(p0).isDefined,
      s"channel moments must be an unordered window:\n$p0")
  }

  test("q241-q246: no cartesians/BNLJ; the pair fan-outs stay equi-keyed") {
    // q242's channel-pair and q246's template-match self-joins must
    // remain equi-joins on their channel keys (the corpus grows in
    // channels/experiments — an unkeyed pair join would be
    // corpus-quadratic); the signal-family additions must never plan
    // a cartesian or an unbounded broadcast nested loop
    for (q <- Seq("q241_smooth_snr", "q242_synchrony", "q243_entrainment",
      "q245_fv_loop", "q246_sampen")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q BNLJ:\n$p")
    }
  }

  test("q249-q250: no cartesians/BNLJ; DFA scale fan-out is a narrow Generate; coherence joins stay equi-keyed") {
    val p9 = plan("q249_dfa")
    assert(!p9.contains("CartesianProduct"), s"q249 cartesian:\n$p9")
    assert(!p9.contains("BroadcastNestedLoopJoin"), s"q249 BNLJ:\n$p9")
    // the ×|scales| fan-out is an explode of a literal array per
    // profile row, never a join against a scale table
    assert("Generate explode".r.findAllIn(p9).nonEmpty,
      s"scale explode missing:\n$p9")
    val p0 = plan("q250_coherence")
    assert(!p0.contains("CartesianProduct"), s"q250 cartesian:\n$p0")
    assert(!p0.contains("BroadcastNestedLoopJoin"), s"q250 BNLJ:\n$p0")
    // the two sample streams meet in ONE equi-join keyed on
    // (channel, sample_idx); the modal-interval and count tables are
    // channel-dimension broadcasts
    assert("BroadcastHashJoin".r.findAllIn(p0).nonEmpty,
      s"modal/count tables must broadcast:\n$p0")
  }

  test("q251-q253: no cartesians/BNLJ; xcorr lag fan-out is a narrow Generate feeding an equi-join") {
    for (q <- Seq("q251_fragmentation", "q253_morphology_band")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q BNLJ:\n$p")
    }
    val p2 = plan("q252_lagged_xcorr")
    assert(!p2.contains("CartesianProduct"), s"q252 cartesian:\n$p2")
    assert(!p2.contains("BroadcastNestedLoopJoin"), s"q252 BNLJ:\n$p2")
    // the lag grid explodes per sample row and the two streams meet in
    // an equi-join on (experiment, shifted t) — never an unkeyed
    // channels x channels x lags product
    assert("Generate explode".r.findAllIn(p2).nonEmpty,
      s"lag explode missing:\n$p2")
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findFirstIn(p2).isDefined, s"xcorr must equi-join:\n$p2")
  }

  test("q254-q258: no cartesians/BNLJ; ApEn self-join stays channel-keyed") {
    for (q <- Seq("q254_apen", "q255_residual_sqi", "q256_force_acf",
      "q257_turning_points", "q258_pacing_transfer")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q BNLJ:\n$p")
    }
  }

  test("q259-q264: no cartesians/BNLJ; Mann-Kendall pairs stay channel-keyed") {
    for (q <- Seq("q259_hjorth", "q260_mann_kendall", "q261_rr_entropy",
      "q262_symbolic", "q263_prsa", "q264_higuchi")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q BNLJ:\n$p")
    }
    // hjorth is a single-aggregate shape off the smoothing spine:
    // one ordered window pass feeding conditional sums, never a join
    // (prsa/entropy/symbolic inherit the detect spine's internal
    // joins, so only the smoothing-spine query gets this pin)
    val pHj = plan("q259_hjorth")
    assert(!"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findFirstIn(pHj).isDefined, s"q259 must be join-free:\n$pHj")
  }

  test("q265-q268: no cartesians/BNLJ; RQA and TINN fan-outs stay equi-keyed") {
    for (q <- Seq("q265_rqa", "q266_sef", "q267_tinn", "q268_rr_mi")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q BNLJ:\n$p")
    }
  }

  test("q269-q270: no cartesians/BNLJ; 2-means centroids join channel-keyed, never broadcast") {
    for (q <- Seq("q269_rr_stationarity", "q270_beat_morph")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q BNLJ:\n$p")
    }
    // the morphology centroid table is channels x 2 x window — it grows
    // with the corpus, so every Lloyd join must be a KEYED equi-join
    // (BHJ at fixture scale is fine; the pin forbids the unkeyed forms,
    // and no join in the plan ever forces a broadcast hint)
    val p270 = plan("q270_beat_morph")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(p270).isDefined,
      s"q270 Lloyd joins must be keyed equi-joins:\n$p270")
  }

  test("q271-q273: no cartesians/BNLJ; asymmetry and Katz are join-free window passes") {
    for (q <- Seq("q271_poincare_asym", "q272_katz_fd", "q273_rr_dfa")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q BNLJ:\n$p")
    }
    // Katz runs off the smoothing spine with no detect machinery:
    // one ordered window pass + one aggregate, never a join
    val pKz = plan("q272_katz_fd")
    assert(!"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findFirstIn(pKz).isDefined, s"q272 must be join-free:\n$pKz")
  }

  test("q274-q276: no cartesians/BNLJ; the RR pair matrix is a keyed equi-join") {
    for (q <- Seq("q274_hrt", "q275_rr_xcorr", "q276_segmental_hrv")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q BNLJ:\n$p")
    }
    // the channel-pair fan-out must ride the (experiment, beat-index)
    // equi-join, never an unkeyed channels x channels product
    val p275 = plan("q275_rr_xcorr")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(p275).isDefined,
      s"q275 must pair via a keyed equi-join:\n$p275")
    // (q274/q276 inherit the detect spine's internal joins — the
    // §2.9 rule that only smoothing-spine queries get join-free pins)
  }

  test("q278/q282/q285: no cartesians; text never enters a shuffle exchange") {
    // q285 additionally proves the scrub side reads the PERSISTED
    // index parquet (asserted below) instead of re-deriving it
    for (q <- Seq("q278_span_scrub", "q282_span_scrub_ingest",
        "q285_span_index_rt")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      // materialize so AQE finalizes and the formatted explain carries
      // the real exchanges with their Input column lists
      df.write.format("noop").mode("overwrite").save()
      val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
      assert(!fmt.contains("CartesianProduct"), s"$q cartesian:\n$fmt")
      assert(!fmt.contains("BroadcastNestedLoopJoin"), s"$q BNLJ:\n$fmt")
      // the span/removal machinery moves 8-byte hashes and positions
      // only; the text column may ride at most the final doc_id join —
      // and at fixture scale the (small) removal side must broadcast,
      // keeping text out of every shuffle's OUTPUT (not just its keys).
      // At 100 TB the same plan degrades to text shuffling exactly
      // once (q282's existing shard: never — it collapses to the
      // distinct-hash index before any exchange).
      val paragraphs = fmt.split("\n\n").toSeq
      val shuffles = paragraphs.filter(_.linesIterator.toSeq.headOption
        .exists(_.matches("""\(\d+\) Exchange.*""")))
      assert(shuffles.nonEmpty, s"expected the h-keyed and rms shuffles:\n$fmt")
      shuffles.foreach(s =>
        assert(!s.contains("text#"), s"text must not shuffle in $q:\n$s"))
      // the q285 probe side must be the persisted index, not an
      // inline re-derivation: its plan scans the span-index parquet
      if (q == "q285_span_index_rt")
        assert(fmt.contains("graft_span_index"),
          s"q285 must scrub against the PERSISTED index:\n$fmt")
    }
  }

  test("q289: compacted generation is one file per shard; scrub probes ONLY it") {
    val (dir, scrub) =
      graft.operators.Dedup.compactDayTwo(spark, sfDir, 8, 5, 8)
    // OPTIMIZE contract: the accumulated base+delta part files fold to
    // exactly one h-sorted file per shard directory
    val shards = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shards.nonEmpty, s"no shard dirs under $dir")
    shards.foreach { sd =>
      val parts = sd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length === 1,
        s"shard ${sd.getName} has ${parts.length} files after compaction")
    }
    // the scrub must read the compacted generation, not the source
    // generations it replaced
    scrub.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(scrub)
    assert(fmt.contains("span_index_compact"),
      s"q289 scrub must probe the compacted index:\n$fmt")
    assert(!fmt.contains("day2base") && !fmt.contains("day2delta"),
      s"q289 scrub still reads pre-compaction generations:\n$fmt")
  }

  test("q290: purge audit scans index generations only; corpus never joins the audit") {
    val df = SparkEntry.queries("q290_span_index_purge")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    // the returned audit reads the base and purged generations (8-byte
    // index rows); the corpus-sized derivations ran at write time
    assert(fmt.contains("span_index_allbase") &&
      fmt.contains("span_index_purged"),
      s"q290 audit must read both index generations:\n$fmt")
    assert(!fmt.contains("documents.parquet"),
      s"q290 audit must not rescan the corpus:\n$fmt")
    assert(!fmt.contains("CartesianProduct") &&
      !fmt.contains("BroadcastNestedLoopJoin"), s"q290 unkeyed join:\n$fmt")
  }

  test("q292: encode+search reads the codebook ARTIFACT; codebooks never re-derived") {
    val df = SparkEntry.queries("q292_pq_artifact_rt")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("graft_pq_codebook"),
      s"q292 must read the persisted codebook:\n$fmt")
    // exactly TWO embeddings scans survive in the search plan — the
    // subvector encode pass and the probe slice; a third would mean
    // the codebook side re-derived from the corpus instead of the
    // artifact (q61's inline plan carries that third scan)
    // split on the numbered detail sections (the first one is glued to
    // the tree header, so a blank-line split undercounts)
    val scans = fmt.split("\n(?=\\(\\d+\\) )").count(p =>
      p.linesIterator.toSeq.headOption.exists(_.contains("Scan parquet")) &&
        p.contains("embeddings.parquet"))
    assert(scans === 2,
      s"expected 2 embeddings scans (encode + probes), got $scans:\n$fmt")
  }

  test("q293: cold pays k2 one-scan rounds; a warm artifact pays only the k2-k1 extension") {
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        seen.add(qe.executedPlan.toString): Unit
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    graft.operators.Similarity.clearCoresetMemo()
    graft.operators.ArtifactStore.clearMaterialized()
    try {
      val (k1, k2) = (8, 12)
      // COLD: day-1 selection over the existing stratum (seed + k1-1
      // rounds) plus the k2-k1 extension rounds — exactly k2 scans;
      // the artifact write/read moves k rows of driver data only
      SparkEntry.queries("q293_coreset_incr")(spark, sfDir)
      org.apache.spark.graftshim.TaskCpuMeter.drain(spark.sparkContext)
      val cold = seen.asScala.count(_.contains("embeddings.parquet"))
      assert(cold === k2, s"expected $k2 cold embeddings scans, got $cold")
      seen.clear()
      // WARM artifact (selection memo cleared): day-1 must NOT re-run —
      // only the k2-k1 extension rounds scan the corpus, seeded from
      // the persisted centers
      graft.operators.Similarity.clearCoresetMemo()
      SparkEntry.queries("q293_coreset_incr")(spark, sfDir)
      org.apache.spark.graftshim.TaskCpuMeter.drain(spark.sparkContext)
      val warm = seen.asScala.count(_.contains("embeddings.parquet"))
      assert(warm === k2 - k1,
        s"warm path must pay only the extension rounds, got $warm")
      seen.asScala.filter(_.contains("embeddings.parquet")).foreach { p =>
        assert(!p.contains("Exchange"), s"extension round shuffles:\n$p")
        assert(!p.contains("Join") && !p.contains("CartesianProduct"),
          s"extension round joins a corpus side:\n$p")
      }
    } finally spark.listenerManager.unregister(ql)
  }

  /** Count the "Scan parquet …embeddings.parquet" nodes of a formatted
    * plan's MAIN section (the q294 pin's idiom, shared by the
    * postings-lifecycle pins). Dynamic-partition-pruning subqueries
    * re-plan the tiny probe side below "===== Subqueries =====" — that
    * duplicate is the pruning machinery, not a corpus re-derivation,
    * so it stays out of the count. */
  private def embScans(fmt: String): Int =
    fmt.split("===== Subqueries =====")(0).split("\n(?=\\(\\d+\\) )").count(p =>
      p.linesIterator.toSeq.headOption.exists(_.contains("Scan parquet")) &&
        p.contains("embeddings.parquet"))

  test("q296: search reads the PERSISTED postings; corpus scanned once (probes only)") {
    val df = SparkEntry.queries("q296_ivf_postings_rt")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("graft_ivf_postings_rt"),
      s"q296 must read the persisted postings generation:\n$fmt")
    // exactly ONE embeddings scan (the probe side); a second would
    // mean the inverted lists were re-derived from the corpus instead
    // of read from the artifact
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
    // the IVF trade itself, in the plan: the postings scan is
    // dynamic-partition-pruned to the probes' nProbe lists
    assert(fmt.contains("dynamicpruning"),
      s"q296 postings scan must prune to the probed lists:\n$fmt")
  }

  test("q298: day-2 search reads base AND delta generations; corpus scanned once") {
    val df = SparkEntry.queries("q298_ivf_day2_search")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivf_postings_d2_base"),
      s"q298 must read the base postings generation:\n$fmt")
    assert(fmt.contains("ivf_postings_d2_delta"),
      s"q298 must read the delta postings generation:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q299: compacted generation is one file per list; search probes ONLY it") {
    val (dir, search) = graft.operators.Similarity
      .compactPostings(spark, sfDir, 8, 5, 2, 5)
    val lists = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list="))
    assert(lists.nonEmpty, s"no list dirs under $dir")
    lists.foreach { ld =>
      val parts = ld.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length === 1,
        s"list ${ld.getName} has ${parts.length} files after compaction")
    }
    search.write.format("noop").mode("overwrite").save()
    val fmt =
      org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(search)
    assert(fmt.contains("ivf_postings_compact"),
      s"q299 search must probe the compacted postings:\n$fmt")
    assert(!fmt.contains("cmp_base") && !fmt.contains("cmp_delta"),
      s"q299 search still reads pre-compaction generations:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q303: manifest-resolved scrub reads ONLY the compacted generation") {
    // the content test (scrub == q288) cannot catch a resolve that
    // returns retired generations too — the scrub's semi/anti probes
    // are duplicate-blind — so the retired-dirs-absent proof must be
    // a plan pin
    val df = SparkEntry.queries("q303_span_manifest_scrub")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("span_index_mfcompact"),
      s"q303 must read the manifest-resolved compacted generation:\n$fmt")
    assert(!fmt.contains("span_index_mfbase") &&
      !fmt.contains("span_index_mfdelta"),
      s"q303 scrub still reads manifest-retired generations:\n$fmt")
  }

  test("q304: manifest-resolved search reads ONLY the compacted generation; corpus scanned once") {
    val df = SparkEntry.queries("q304_ivf_manifest_search")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivf_postings_mfcompact"),
      s"q304 must read the manifest-resolved compacted generation:\n$fmt")
    assert(!fmt.contains("ivf_postings_mf_base") &&
      !fmt.contains("ivf_postings_mf_delta"),
      s"q304 search still reads manifest-retired generations:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q306: post-retrain search reads ONLY the rebuilt generation; stale dirs retired") {
    val df = SparkEntry.queries("q306_ivf_retrain_switch")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivf_postings_rebuilt"),
      s"q306 must read the rebuilt postings generation:\n$fmt")
    assert(!fmt.contains("ivf_postings_rs_base") &&
      !fmt.contains("ivf_postings_rs_delta"),
      s"q306 search still reads pre-retrain generations:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q307: post-GC search reads ONLY the surviving compacted generation") {
    val df = SparkEntry.queries("q307_ivf_generation_gc")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivf_postings_gccompact"),
      s"q307 must read the surviving generation:\n$fmt")
    assert(!fmt.contains("ivf_postings_gcbase") &&
      !fmt.contains("ivf_postings_gcdelta"),
      s"q307 search references a GC'd generation:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q308: time-travel search reads ONLY the day-1 base generation") {
    val df = SparkEntry.queries("q308_ivf_time_travel")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivf_postings_tt_base"),
      s"q308 must read the pinned day-1 snapshot:\n$fmt")
    assert(!fmt.contains("ivf_postings_tt_delta"),
      s"q308 snapshot read leaks the day-2 delta:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q309: warm day-2 clustering scans documents ONCE (the incoming slice); existing corpus served by the artifacts") {
    import scala.jdk.CollectionConverters._
    // warm the write-once day-1 artifacts so the measured invocation
    // is the steady-state daily run
    SparkEntry.queries("q309_incremental_clusters")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        seen.add(qe.executedPlan.toString): Unit
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      val df = SparkEntry.queries("q309_incremental_clusters")(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.graftshim.TaskCpuMeter.drain(spark.sparkContext)
      val docScans = seen.asScala.count(_.contains("documents.parquet"))
      assert(docScans === 1,
        s"day-2 path must scan documents once (incoming sigs), got $docScans")
      assert(seen.asScala.exists(_.contains("lsh_sig_index")),
        "existing signatures must come from the persisted index")
      val fmt =
        org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
      assert(fmt.contains("cc_labels_day1"),
        s"expansion must read the day-1 label artifact:\n$fmt")
      assert(!fmt.contains("documents.parquet"),
        s"the returned plan must not re-read the corpus:\n$fmt")
    } finally spark.listenerManager.unregister(ql)
  }

  /** Executed-plan capture for the q313/q315 pins: the clustering's
    * signature probe feeds an EAGER localCheckpoint, so the returned
    * plan's lineage is truncated at the checkpoint (the q309 lesson) —
    * the generation-layout proof must read the plans that actually
    * executed during the invocation. */
  private def executedPlans(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        seen.add(qe.executedPlan.toString): Unit
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      body
      org.apache.spark.graftshim.TaskCpuMeter.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(ql)
    seen.asScala.toSeq
  }

  test("q313: clustering probes ONLY the compacted signature generation") {
    // warm the write-once day-1 artifacts (gens + labels) so the
    // measured invocation is the steady-state daily run
    graft.operators.Dedup.compactSigIndex(spark, sfDir, 0.5, 5, 8)
      ._2.write.format("noop").mode("overwrite").save()
    val plans = executedPlans {
      graft.operators.Dedup.compactSigIndex(spark, sfDir, 0.5, 5, 8)
        ._2.write.format("noop").mode("overwrite").save()
    }
    // the banding probe joins the incoming signatures against the
    // existing index. Since round 18 the incoming-signature table is an
    // EAGER checkpoint (the C7 race fix), so the corpus scan and the
    // index probe live in TWO executed plans: the signature derivation
    // reads documents.parquet, and the probe joins its Scan ExistingRDD
    // against the COMPACTED generation...
    assert(plans.exists(p => p.contains("documents.parquet")),
      "the incoming-signature derivation must scan the corpus")
    assert(plans.exists(p => p.contains("Scan ExistingRDD") &&
      p.contains("lsh_sig_compact")),
      "the clustering probe must read the compacted signature index")
    // ...and never the generations compaction replaced: any plan
    // touching a replaced generation must be the pure compaction
    // REWRITE (no corpus scan, no checkpointed signature input)
    plans.filter(p => p.contains("lsh_sig_cmpbase") ||
      p.contains("lsh_sig_cmpdelta")).foreach(p =>
      assert(!p.contains("documents.parquet") &&
        !p.contains("Scan ExistingRDD"),
        s"clustering still probes a pre-compaction generation:\n$p"))
  }

  test("q315: manifest-resolved clustering reads ONLY the compacted generation") {
    // the content test (q315 == q38) cannot catch a resolve that
    // returns retired generations too — duplicated signature rows are
    // absorbed by the candidate distinct() — so the retired-dirs-
    // absent proof must come from the executed plans (q303/q304
    // discipline, via the listener because of the checkpoint cut)
    SparkEntry.queries("q315_lsh_sig_manifest")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val plans = executedPlans {
      SparkEntry.queries("q315_lsh_sig_manifest")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    // two plans since the round-18 eager signature checkpoint — see
    // the q313 pin for the split rationale
    assert(plans.exists(p => p.contains("documents.parquet")),
      "the incoming-signature derivation must scan the corpus")
    assert(plans.exists(p => p.contains("Scan ExistingRDD") &&
      p.contains("lsh_sig_mfcompact")),
      "the clustering probe must read the manifest-resolved compacted " +
        "generation")
    plans.filter(p => p.contains("lsh_sig_mfbase") ||
      p.contains("lsh_sig_mfdelta")).foreach(p =>
      assert(!p.contains("documents.parquet") &&
        !p.contains("Scan ExistingRDD"),
        s"clustering still probes a manifest-retired generation:\n$p"))
  }

  test("q317: post-switch encode reads ONLY the manifest-resolved retrained codebook") {
    val df = SparkEntry.queries("q317_pq_retrain_switch")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("pq_cb_retrained"),
      s"q317 encode must read the retrained codebook generation:\n$fmt")
    assert(!fmt.contains("pq_rs_cb1"),
      s"q317 encode still reads the retired frozen codebook:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (incoming subvectors), got ${embScans(fmt)}:\n$fmt")
  }

  test("q318: day-3 soak search reads ONLY the day-3 compacted generation; corpus scanned once") {
    val (_, _, search) =
      graft.operators.Similarity.lifecycleSoak(spark, sfDir, 8, 5, 2, 5)
    search.write.format("noop").mode("overwrite").save()
    val fmt =
      org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(search)
    assert(fmt.contains("ivf_postings_soakc2"),
      s"q318 search must read the day-3 compacted generation:\n$fmt")
    assert(!fmt.contains("soakbase") && !fmt.contains("soakd") &&
      !fmt.contains("soakc0") && !fmt.contains("soakc1"),
      s"q318 search reads a superseded generation:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q320: time-travel scrub probes ONLY the day-1 base generation") {
    val df = SparkEntry.queries("q320_span_time_travel")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("span_index_ttbase"),
      s"q320 must read the pinned day-1 snapshot:\n$fmt")
    assert(!fmt.contains("span_index_ttdelta"),
      s"q320 snapshot read leaks the day-1 delta:\n$fmt")
  }

  test("q326: post-soak clustering probes ONLY the day-3 compacted signature generation") {
    // warm the memoized label artifact so the measured invocation is
    // the steady state; executed plans because of the checkpoint cut
    SparkEntry.queries("q326_sig_soak")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val plans = executedPlans {
      SparkEntry.queries("q326_sig_soak")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    // unlike q313/q315 the soak's generations are per-invocation, so
    // their WRITE plans scan documents.parquet with a soak dir as the
    // insert target — read-side pins must exclude write commands.
    // Since round 18 the incoming-signature table is an eager
    // checkpoint (the C7 race fix), so the corpus scan and the index
    // probe live in two executed plans (see the q313 pin): the probe
    // is the non-write plan joining the checkpointed signatures
    // (Scan ExistingRDD) against the index generations.
    val reads = plans.filter(p => (p.contains("documents.parquet") ||
      p.contains("Scan ExistingRDD")) &&
      !p.contains("InsertIntoHadoopFsRelationCommand"))
    assert(reads.exists(p => p.contains("Scan ExistingRDD") &&
      p.contains("lsh_sig_soakc2")),
      "the clustering probe must read the day-3 compacted generation")
    reads.foreach(p =>
      assert(!p.contains("lsh_sig_soakbase") &&
        !p.contains("lsh_sig_soakd") && !p.contains("lsh_sig_soakc0") &&
        !p.contains("lsh_sig_soakc1"),
        s"clustering probes a superseded soak generation:\n$p"))
  }

  test("q325: final soak scrub probes ONLY the day-2 compacted generation") {
    val (_, _, scrub) =
      graft.operators.Dedup.spanSoakParts(spark, sfDir, 8, 5, 8)
    scrub.write.format("noop").mode("overwrite").save()
    val fmt =
      org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(scrub)
    assert(fmt.contains("span_soak_c2"),
      s"q325 scrub must read the day-2 compacted generation:\n$fmt")
    assert(!fmt.contains("span_soak_base") && !fmt.contains("span_soak_d") &&
      !fmt.contains("span_soak_c0") && !fmt.contains("span_soak_c1"),
      s"q325 scrub reads a superseded generation:\n$fmt")
  }

  test("q329: ADC search reads the v2 coded postings through the v2 codebook; corpus scanned once; coded scan pruned") {
    val df = SparkEntry.queries("q329_ivfpq_search")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivfpq_posts2"),
      s"q329 must read the re-coded postings generation:\n$fmt")
    assert(fmt.contains("ivfpq_cb2"),
      s"q329 must decode through the retrained codebook:\n$fmt")
    // the atomic-switch contract, visible in the plan: neither half of
    // the retired v1 pair is read — a mixed-version read (v2 codes
    // decoded through v1 codewords) would be silently wrong
    assert(!fmt.contains("ivfpq_posts1") && !fmt.contains("ivfpq_cb1"),
      s"q329 reads a retired v1 generation:\n$fmt")
    // exactly ONE embeddings scan (the probes); candidates come from
    // the coded artifact — 32× less bandwidth than raw floats
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
    // the IVF half of the trade: the coded scan is
    // dynamic-partition-pruned to the probes' nProbe lists
    assert(fmt.contains("dynamicpruning"),
      s"q329 coded scan must prune to the probed lists:\n$fmt")
  }

  test("q330: the certified side reads ONLY the day-3 compacted lifecycle generation") {
    val df = SparkEntry.queries("q330_lifecycle_recall")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivf_postings_lrcc2"),
      s"q330 must certify the day-3 compacted generation:\n$fmt")
    assert(!fmt.contains("lrcbase") && !fmt.contains("lrcd") &&
      !fmt.contains("lrcc0") && !fmt.contains("lrcc1"),
      s"q330 certifies a superseded generation:\n$fmt")
    // three embeddings scans BY DESIGN: the brute-force truth side
    // (probes + corpus — the certification's one-off cost) and the
    // served side's probes; the INDEX side contributes zero — served
    // candidates come from the resolved artifact
    assert(embScans(fmt) === 3,
      s"expected 3 embeddings scans (truth probes+corpus, served " +
        s"probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q332: the certified ADC side reads the v2 coded artifact, never a v1 generation") {
    val df = SparkEntry.queries("q332_ivfpq_recall")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivfpq_posts2") && fmt.contains("ivfpq_cb2"),
      s"q332 must certify the served v2 pair:\n$fmt")
    assert(!fmt.contains("ivfpq_posts1") && !fmt.contains("ivfpq_cb1"),
      s"q332 certifies a retired v1 generation:\n$fmt")
    // truth probes + truth corpus + ADC probes; the coded side
    // contributes zero embeddings scans
    assert(embScans(fmt) === 3,
      s"expected 3 embeddings scans, got ${embScans(fmt)}:\n$fmt")
  }

  test("q333: day-2 composite search reads base AND coded delta through the frozen codebook; corpus scanned once") {
    val df = SparkEntry.queries("q333_ivfpq_day2_search")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivfpq_d2_base") && fmt.contains("ivfpq_d2_delta"),
      s"q333 must read both coded generations:\n$fmt")
    assert(fmt.contains("ivfpq_d2_cb"),
      s"q333 must decode through the frozen codebook artifact:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
    assert(fmt.contains("dynamicpruning"),
      s"q333 coded scan must prune to the probed lists:\n$fmt")
  }

  test("q334: compacted composite search reads ONLY the folded generation; codebook unchanged") {
    val df = SparkEntry.queries("q334_ivfpq_compact")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivfpq_compact"),
      s"q334 must read the folded generation:\n$fmt")
    assert(!fmt.contains("ivfpq_cmp_base") && !fmt.contains("ivfpq_cmp_delta"),
      s"q334 reads a superseded pre-fold generation:\n$fmt")
    assert(fmt.contains("ivfpq_cmp_cb"),
      s"q334 must still decode through the same codebook:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q335: composite time travel reads ONLY the v1 pair") {
    val df = SparkEntry.queries("q335_ivfpq_time_travel")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivfpq_tt_cb1") && fmt.contains("ivfpq_tt_posts1"),
      s"q335 must read the pinned v1 codebook+postings pair:\n$fmt")
    assert(!fmt.contains("ivfpq_tt_cb2") && !fmt.contains("ivfpq_tt_posts2"),
      s"q335 snapshot read leaks the composite switch:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q336: post-soak composite search reads ONLY the day-3 compaction plus the codebook; corpus scanned once") {
    val df = SparkEntry.queries("q336_ivfpq_soak")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivfpq_soak_c2"),
      s"q336 must read the day-3 compacted generation:\n$fmt")
    assert(fmt.contains("ivfpq_soak_cb"),
      s"q336 must decode through the surviving shared codebook:\n$fmt")
    assert(!fmt.contains("ivfpq_soak_base") && !fmt.contains("ivfpq_soak_d") &&
      !fmt.contains("ivfpq_soak_c0") && !fmt.contains("ivfpq_soak_c1"),
      s"q336 reads a superseded soak generation:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q340: retrained search resolves ALL THREE families from the head commit — no v1 generation of any family; corpus scanned once; coded scan pruned") {
    val df = SparkEntry.queries("q340_ivfpq_quantizer_retrain")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivfpq_rt_cent2") && fmt.contains("ivfpq_rt_cb2") &&
      fmt.contains("ivfpq_rt_posts2"),
      s"q340 must read the retrained quantizer, codebook, and " +
        s"re-coded postings:\n$fmt")
    // the three-way atomic-switch contract, visible in the plan: no
    // generation of ANY v1 family is read — a v1 quantizer beside v2
    // postings would misroute every probe silently
    assert(!fmt.contains("ivfpq_rt_cent1") && !fmt.contains("ivfpq_rt_cb1") &&
      !fmt.contains("ivfpq_rt_posts1"),
      s"q340 reads a retired v1 generation:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
    assert(fmt.contains("dynamicpruning"),
      s"q340 coded scan must prune to the probed lists:\n$fmt")
  }

  test("q339: the trigger-cadence stream's final search reads the batch-1 fold and the batch-2 delta — nothing else") {
    val (_, _, search) = graft.streaming.StreamingOps
      .streamAnnTriggerRun(spark, sfDir)
    search.write.format("noop").mode("overwrite").save()
    val fmt =
      org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(search)
    assert(fmt.contains("ivf_postings_strigc") && fmt.contains("/b2"),
      s"q339 search must read the batch-1 fold plus the live delta:\n$fmt")
    assert(!fmt.contains("strigbase") && !fmt.contains("/b0") &&
      !fmt.contains("/b1"),
      s"q339 search reads a generation the trigger superseded:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q343: the certified post-retrain side reads the retrained triple, never a v1 generation") {
    val df = SparkEntry.queries("q343_ivfpq_retrain_recall")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivfpq_rt_cent2") && fmt.contains("ivfpq_rt_cb2") &&
      fmt.contains("ivfpq_rt_posts2"),
      s"q343 must certify the served retrained triple:\n$fmt")
    assert(!fmt.contains("ivfpq_rt_cent1") && !fmt.contains("ivfpq_rt_cb1") &&
      !fmt.contains("ivfpq_rt_posts1"),
      s"q343 certifies a retired v1 generation:\n$fmt")
    // truth probes + truth corpus + ADC probes; the coded side
    // contributes zero embeddings scans
    assert(embScans(fmt) === 3,
      s"expected 3 embeddings scans, got ${embScans(fmt)}:\n$fmt")
  }

  test("q341: the composite retention stream's final search reads the batch-1 fold, the batch-2 delta, and the surviving codebook — nothing else") {
    val (_, _, _, search) = graft.streaming.StreamingOps
      .streamIvfPqRetentionRun(spark, sfDir)
    search.write.format("noop").mode("overwrite").save()
    val fmt =
      org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(search)
    assert(fmt.contains("ivfpq_sretc") && fmt.contains("/b2"),
      s"q341 search must read the batch-1 fold plus the live delta:\n$fmt")
    assert(fmt.contains("ivfpq_sret_cb"),
      s"q341 must decode through the surviving shared codebook:\n$fmt")
    assert(!fmt.contains("ivfpq_sret_base") && !fmt.contains("/b0") &&
      !fmt.contains("/b1"),
      s"q341 search reads a generation the GC superseded:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q342: the post-sweep search reads the committed composite generations, never a stray; corpus scanned once") {
    val (_, _, _, search) = graft.operators.Similarity
      .ivfPqOrphanParts(spark, sfDir, 8, 8, 8, 16, 5, 2, 5)
    search.write.format("noop").mode("overwrite").save()
    val fmt =
      org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(search)
    assert(fmt.contains("gens/base") && fmt.contains("gens/delta") &&
      fmt.contains("gens/cb"),
      s"q342 must read the committed codebook and both coded " +
        s"generations:\n$fmt")
    assert(!fmt.contains("stray_cb") && !fmt.contains("stray_recode"),
      s"q342 search touches a crashed-job stray:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q337: the composite purge audit reads the coded artifact dirs only — the corpus is never rescanned") {
    val df = SparkEntry.queries("q337_ivfpq_purge")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("ivfpq_purge_base") && fmt.contains("ivfpq_purged"),
      s"q337 audit must read both coded generations:\n$fmt")
    assert(embScans(fmt) === 0,
      s"the purge audit is artifact-only, got ${embScans(fmt)} " +
        s"embeddings scans:\n$fmt")
  }

  test("q331: the triggered-soak scrub reads the day-1 fold and the day-2 delta — nothing else") {
    val (_, _, _, scrub) =
      graft.operators.Dedup.spanTrigParts(spark, sfDir, 8, 5, 8, 2)
    scrub.write.format("noop").mode("overwrite").save()
    val fmt =
      org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(scrub)
    assert(fmt.contains("span_trig_c1") && fmt.contains("span_trig_d2"),
      s"q331 scrub must read the day-1 fold and the day-2 delta:\n$fmt")
    assert(!fmt.contains("span_trig_base") && !fmt.contains("span_trig_d0") &&
      !fmt.contains("span_trig_d1") && !fmt.contains("span_trig_c0") &&
      !fmt.contains("span_trig_c2"),
      s"q331 scrub reads a generation the trigger never made live:\n$fmt")
  }

  test("q324: time-travel clustering probes ONLY the pre-compaction generations") {
    // the content test (q324 == q38) cannot catch a resolveAt that
    // leaked the compacted generation — duplicated signature rows are
    // absorbed by the candidate distinct() — and the clustering rides
    // an eager checkpoint, so the proof reads the EXECUTED plans
    // (q313/q315 discipline)
    SparkEntry.queries("q324_sig_time_travel")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val plans = executedPlans {
      SparkEntry.queries("q324_sig_time_travel")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    // two plans since the round-18 eager signature checkpoint — see
    // the q313 pin for the split rationale
    assert(plans.exists(p => p.contains("documents.parquet")),
      "the incoming-signature derivation must scan the corpus")
    assert(plans.exists(p => p.contains("Scan ExistingRDD") &&
      p.contains("lsh_sig_ttbase") && p.contains("lsh_sig_ttdelta")),
      "the snapshot clustering probe must read BOTH pre-compaction " +
        "generations")
    plans.filter(p => p.contains("documents.parquet") ||
      p.contains("Scan ExistingRDD")).foreach(p =>
      assert(!p.contains("lsh_sig_ttcompact"),
        s"snapshot clustering probes the post-switch generation:\n$p"))
  }

  test("q323: post-sweep scrub probes the committed generations, never the stray") {
    // content equality cannot catch a stray leak (the stray is a
    // content-identical compaction of base ∪ delta), so the
    // not-probed proof must come from the plan
    val df = SparkEntry.queries("q323_orphan_sweep")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("gens/base") && fmt.contains("gens/delta"),
      s"q323 scrub must probe both committed generations:\n$fmt")
    assert(!fmt.contains("stray_compact"),
      s"q323 scrub reads the never-committed stray generation:\n$fmt")
  }

  test("q321: time-travel encode reads ONLY the frozen day-1 codebook") {
    val df = SparkEntry.queries("q321_pq_time_travel")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("pq_tt_cb1"),
      s"q321 must read the pinned day-1 codebook:\n$fmt")
    assert(!fmt.contains("pq_tt_retrained"),
      s"q321 snapshot read leaks the retrained codebook:\n$fmt")
    assert(embScans(fmt) === 1,
      s"expected 1 embeddings scan (incoming subvectors), got ${embScans(fmt)}:\n$fmt")
  }

  test("q294: assign+search reads the centroid ARTIFACT; quantizer never re-derived") {
    val df = SparkEntry.queries("q294_ivf_artifact_rt")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val fmt = org.apache.spark.sql.graftshim.ColumnBridge.explainFormatted(df)
    assert(fmt.contains("graft_ivf_centroids"),
      s"q294 must read the persisted quantizer:\n$fmt")
    // exactly TWO embeddings scans (inverted-list build + probe
    // assignment); a third would mean the centroid side re-derived
    // from the corpus instead of the artifact
    assert(embScans(fmt) === 2,
      s"expected 2 embeddings scans (lists + probes), got ${embScans(fmt)}:\n$fmt")
  }

  test("q280: one scan per selection round; no exchange or join in the loop; local result") {
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        seen.add(qe.executedPlan.toString): Unit
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    graft.operators.Similarity.clearCoresetMemo() // count a COLD selection
    try {
      val k = 8
      val df = SparkEntry.queries("q280_coreset")(spark, sfDir)
      org.apache.spark.graftshim.TaskCpuMeter.drain(spark.sparkContext)
      // seed scan + ONE scan per round (the round-11 verdict folded
      // the old second pushed-filter vector fetch into the argmax
      // projection): exactly k embeddings scans
      val sel = seen.asScala.filter(_.contains("embeddings.parquet"))
      assert(sel.size === k, s"expected $k embeddings scans, got ${sel.size}")
      // the selected set rides the plan as LITERALS (≤ k·dim doubles)
      // folded into a least() of sqDist terms, and the argmax is a
      // per-partition TakeOrderedAndProject — the selection loop must
      // carry NO exchange and NO join of any kind
      sel.foreach { p =>
        assert(!p.contains("Exchange"), s"selection pass shuffles:\n$p")
        assert(!p.contains("Join") && !p.contains("CartesianProduct"),
          s"selection pass joins a corpus side:\n$p")
      }
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("LocalTableScan") && !p.contains("Exchange"),
        s"q280 result must be a bounded local table:\n$p")
    } finally spark.listenerManager.unregister(ql)
  }

  test("q281: assignment is one broadcast pass; no shuffled cartesian") {
    val p = plan("q281_coreset_assign")
    // the k-row center table must broadcast into the distance pass
    // (the q110 centroid discipline); a CartesianProduct would mean
    // the corpus-sized side got cross-partitioned
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centers must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"q281 cartesian:\n$p")
    // argmin window (vec_id) + coverage rollup (sid): exactly two
    // keyed exchanges — a third would mean the rollup stopped riding
    // the argmin's partitioning pipeline
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 2, s"expected <=2 hash exchanges, got $hashEx:\n$p")
  }

  test("q277: corpus scanned once; all merge rounds run on the vocab table") {
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        seen.add(qe.executedPlan.toString): Unit
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    graft.operators.TextAnalysis.clearBpeMemo() // count a COLD training
    try {
      val df = SparkEntry.queries("q277_bpe_train")(spark, sfDir)
      // the execution-listener bus is async — drain before counting
      org.apache.spark.graftshim.TaskCpuMeter.drain(spark.sparkContext)
      // at 100 TB the only corpus pass a BPE trainer may take is the
      // vocabulary aggregate (checkpointed as round-0 segmentation);
      // every merge round must read the vocab-sized checkpoint, never
      // re-scan documents
      val scans = seen.asScala.count(_.contains("documents.parquet"))
      assert(scans === 1,
        s"documents must be scanned exactly once during training, got $scans")
      // the returned merge table is driver-assembled scalar argmax
      // rows: a bounded local relation, no residual distributed work
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("LocalTableScan") && !p.contains("Exchange"),
        s"q277 result must be a bounded local table:\n$p")
    } finally spark.listenerManager.unregister(ql)
  }

  test("q279: one training corpus pass; encoding joins the vocab-sized segmentation") {
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        seen.add(qe.executedPlan.toString): Unit
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    graft.operators.TextAnalysis.clearBpeMemo() // count a COLD training
    try {
      val df = SparkEntry.queries("q279_bpe_encode")(spark, sfDir)
      org.apache.spark.graftshim.TaskCpuMeter.drain(spark.sparkContext)
      // training reads documents once (the vocab aggregate); the
      // SECOND corpus pass is the lazy encode join in the returned
      // plan — never a per-round re-scan
      val trainScans = seen.asScala.count(_.contains("documents.parquet"))
      assert(trainScans === 1,
        s"training must scan documents exactly once, got $trainScans")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("documents.parquet"),
        "the encode pass reads the corpus lazily in the returned plan")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"q279 unkeyed join:\n$p")
    } finally spark.listenerManager.unregister(ql)
  }

  test("q283: one corpus pass per shard to train+replay; a warm encode never rescans") {
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        seen.add(qe.executedPlan.toString): Unit
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    graft.operators.TextAnalysis.clearBpeMemo() // count a COLD run
    try {
      val df = SparkEntry.queries("q283_bpe_frozen")(spark, sfDir)
      org.apache.spark.graftshim.TaskCpuMeter.drain(spark.sparkContext)
      // cold: exactly TWO corpus passes — the existing-shard training
      // vocabulary and the incoming-shard replay vocabulary; every
      // merge/replay round runs on vocabulary-sized checkpoints
      val cold = seen.asScala.count(_.contains("documents.parquet"))
      assert(cold === 2,
        s"expected training + replay vocab passes only, got $cold")
      seen.clear()
      // memo-warm: constructing the query again must not touch the
      // corpus at all (round-11 verdict #1: encode-time must never
      // rescan the training corpus)
      val df2 = SparkEntry.queries("q283_bpe_frozen")(spark, sfDir)
      org.apache.spark.graftshim.TaskCpuMeter.drain(spark.sparkContext)
      val warm = seen.asScala.count(_.contains("documents.parquet"))
      assert(warm === 0, s"warm encode construction rescans the corpus: $warm")
      // the returned plan reads documents lazily (incoming occurrence
      // pass + doc list) with keyed joins only
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("documents.parquet"),
        "the encode pass reads the corpus lazily in the returned plan")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"q283 unkeyed join:\n$p")
      df2.queryExecution // silence unused warning paths
    } finally spark.listenerManager.unregister(ql)
  }

  test("q284: redaction is a pure projection — one scan, zero exchanges, codegen regex") {
    val p = plan("q284_pii_redact")
    // scan → project: the text column never moves between executors,
    // and the whole scrub runs at scan throughput
    assert(!p.contains("Exchange"), s"redaction must not shuffle:\n$p")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"expected a single documents scan:\n$p")
    // native RegExpExtractAll/RegExpReplace expressions, no UDF
    // deserialization on the hot path
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"regexes must be native expressions:\n$p")
    // the '*(n)' star prefix is executedPlan.toString's
    // WholeStageCodegen marker
    assert(p.contains("*(1) Project"), s"projection must codegen:\n$p")
  }

  test("q137: one channel-keyed window pass; stack is a narrow Generate") {
    val p = plan("q137_signal_autocorr")
    // all three leads share ONE window sort over the channel exchange
    assert("\\bWindow\\b".r.findAllIn(p).size === 1,
      s"lead columns must share one window pass:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"expected window + aggregate exchanges only:\n$p")
  }

  test("q155: declared pivot values avoid the distinct discovery scan; both phases map-side combine") {
    val p = plan("q155_event_pivot")
    // Spark's pivot plans two aggregate phases: (day, type) counts,
    // then pivotfirst by day — exchange 1 carries one row per
    // (day, type) after partials, exchange 2 one row per day. Both
    // are bounded aggregates; what the pin forbids is a JOIN or a
    // second events scan (the values-discovering pivot overload).
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2)
    assert("partial_".r.findAllIn(p).size >= 2,
      s"both pivot phases must map-side combine:\n$p")
    assert(!p.contains("Join"), s"pivot must not join:\n$p")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"declared value list must avoid the distinct discovery scan:\n$p")
  }

  test("q156: unpivot is a narrow Expand — rows fan out in-task, only the 3-group aggregate shuffles") {
    val p = plan("q156_unpivot_metrics")
    assert(p.contains("Expand"), s"unpivot must plan as Expand:\n$p")
    assert(!p.contains("Join"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"only the metric aggregate may shuffle:\n$p")
  }

  test("q158: DSIR weight table broadcasts; only the per-doc sum shuffles on doc_id") {
    val p = plan("q158_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"bounded-bucket weight table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in q158 may sort-merge:\n$p")
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size === 1,
      s"exactly one doc-keyed exchange (the final sum):\n$p")
  }

  test("q160: correlated LATERAL limit decorrelates to WindowGroupLimit + broadcast join") {
    val p = plan("q160_lateral_topn")
    assert(p.contains("WindowGroupLimit"),
      s"per-nation LIMIT must push down as a group limit:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"lateral must not plan as a per-row re-execution or cartesian:\n$p")
  }

  test("q157: ntile window is partitioned by segment, never global") {
    val p = plan("q157_spend_quartiles")
    assert("hashpartitioning\\(c_mktsegment".r.findFirstIn(p).isDefined,
      s"quartile window must partition by segment:\n$p")
  }

  test("q163: the k-core peel round is a count aggregate + two equi-keyed left-semi joins") {
    // the registered query localCheckpoints each round (lineage
    // truncation), so the executed plan of q163 itself shows only the
    // final aggregate; the per-round shape is pinned on the round
    // function the loop calls
    val ed = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("l_orderkey as src", "l_partkey as dst")
    val p = graft.operators.Graph.peelRound(ed, 3)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"peel round degraded to cartesian:\n$p")
    assert("LeftSemi".r.findAllIn(p).size === 2,
      s"expected exactly two left-semi joins:\n$p")
    // degree count partial-combines map-side before its exchange
    assert(p.contains("partial_count"),
      s"degree aggregate lost its partial phase:\n$p")
  }

  test("q170: dynamicpruning subquery reaches the partitioned fact scan") {
    // pin the exact join+rollup plan the registered query executes
    // (dppRollupFrom), against the same written layout — the
    // registered form checkpoints and deletes its temp tree, which
    // erases the plan from the returned DataFrame
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft-dpp-q170").toString
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      docs.write.partitionBy("source").mode("overwrite").parquet(s"$out/fact")
      docs.groupBy(col("source")).agg(min(col("doc_id")).as("min_doc"))
        .write.mode("overwrite").parquet(s"$out/dim")
      val df = graft.sources.GenericSources
        .dppRollupFrom(spark, s"$out/fact", s"$out/dim")
      val p = df.queryExecution.executedPlan.toString()
      assert(p.toLowerCase.contains("dynamicpruning"),
        s"no DPP filter on the partitioned fact scan:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"dim side must broadcast (it is also the DPP filter input):\n$p")
      // and the result is non-degenerate on the test data
      assert(df.count() > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("q171: one channel-keyed window pass with a bounded frame") {
    val p = plan("q171_rolling_median")
    // exactly one Window node, partitioned (the class-wide sweep pins
    // non-emptiness of partitionBy; this pins the count)
    assert("\\bWindow\\b".r.findAllIn(p).size === 1,
      s"expected exactly one window pass:\n$p")
    // the frame is ROWS BETWEEN -2 AND 2 — bounded, never unbounded
    assert(!p.toLowerCase.contains("unboundedpreceding"),
      s"rolling frame degraded to unbounded:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q173: one corpus scan; replicate fan-out is a narrow Generate") {
    // the fan-out aggregate: ONE events relation, explode fan-out
    val agg = graft.operators.Relational
      .bootstrapRepMeans(spark, sfDir, 40)
      .queryExecution.optimizedPlan.toString()
    assert("Relation \\[".r.findAllIn(agg).size === 1,
      s"fan-out pass must scan the corpus exactly once:\n$agg")
    assert(agg.contains("Generate explode"),
      s"fan-out lost its Generate:\n$agg")
    // the registered query materializes that aggregate BEFORE the
    // base/CI branches: the final plan must carry NO parquet relation
    // at all (both branches read the ~200-row checkpoint) — without
    // the checkpoint Catalyst inlines the subtree into both join
    // branches and scans the corpus twice
    val p = SparkEntry.queries("q173_bootstrap_ci")(spark, sfDir)
      .queryExecution.optimizedPlan.toString()
    assert(!p.contains("parquet"),
      s"a branch re-scans the corpus instead of the checkpoint:\n$p")
  }

  test("q159: recursive arm deduplicates the frontier and scans materialized edges") {
    val o = SparkEntry.queries("q159_recursive_reach")(spark, sfDir)
      .queryExecution.optimizedPlan.toString()
    assert(o.contains("UnionLoopRef"), s"recursion operator missing:\n$o")
    // the loop body's DISTINCT survives as a grouping aggregate on
    // (dst, hop+1) — without it the working set enumerates WALKS and
    // grows ~degree^hops (the round-5 12 s regression)
    assert("Aggregate \\[dst#\\d+L, \\(hop \\+ 1\\)#\\d+\\]".r.findFirstIn(o).isDefined,
      s"frontier dedup lost from the recursive arm:\n$o")
    // edges are localCheckpoint-materialized BEFORE the loop: no
    // parquet relation may appear anywhere in the plan — otherwise
    // each recursion step re-derives the co-purchase edges from the
    // fact table (maxHops+1 redundant scans+joins)
    assert(!o.contains("parquet"),
      s"loop body re-derives edges from parquet instead of the checkpoint:\n$o")
  }

  // ---- class-wide pin: no unbounded global rank windows ----------------

  /** Queries whose partitionBy-less WindowExec runs over an input that
    * is bounded by CONSTRUCTION (a small fixed-cardinality aggregate)
    * rather than by a limit the plan walker can see. Every entry needs
    * a justification; additions are a design review, not a formality.
    */
  private val boundedByConstruction: Map[String, String] = Map(
    "q78_skyline" -> ("the global prune's input is the union of the " +
      "per-bucket skyline frontiers — each bucket contributes at most " +
      "one point per distinct n_tokens value (strictly decreasing " +
      "n_chars along a frontier), so the survivor set is bounded by " +
      "buckets x |n_tokens domain|, a value-domain bound independent " +
      "of corpus row count (skyline distributivity, see " +
      "TextAnalysis.skyline)"))

  test("no registered query ranks through a partitionBy-less window over an unbounded input") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.{TakeOrderedAndProjectExec,
      GlobalLimitExec, LocalLimitExec, CollectLimitExec, LocalTableScanExec}

    // tree walk that descends into AQE wrappers (LeafExecNode) and
    // InMemoryRelation cache plans
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val extra = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          Seq(im.relation.cachedPlan)
        case _ => Seq.empty
      }
      p +: (p.children ++ extra).flatMap(flatten)
    }
    def bounded(p: SparkPlan): Boolean = flatten(p).exists {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
           _: LocalLimitExec | _: CollectLimitExec |
           _: LocalTableScanExec => true
      case _ => false
    }

    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.contains("_stream"))     // memory-sink scans, no windows
      .filterNot(q => boundedByConstruction.contains(q._1))
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        flatten(plan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
            s"$name: ${w.simpleStringWithNodeId()}"
        }
      }
    assert(offenders.isEmpty,
      s"unbounded global windows (single-partition sorts at scale):\n" +
        offenders.mkString("\n"))
  }

  test("q219: every RFM rank pass is range-partitioned with broadcast offsets") {
    val p = SparkEntry.queries("q219_rfm")(spark, sfDir)
      .queryExecution.executedPlan.toString()
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"rank passes must range-partition, never globally sort:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"rank offsets and the customer count must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no shuffled join belongs in the scoring chain:\n$p")
  }

  test("q222: both snapshots ride ONE keyed shuffle; no shuffled join") {
    val q = SparkEntry.queries("q222_snapshot_diff")(spark, sfDir)
      .queryExecution
    val p = q.executedPlan.toString()
    // the (user,type) aggregate and the per-type rollup: exactly two
    // hash exchanges — a second keyed shuffle would mean the mid
    // snapshot stopped riding the same aggregate
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx === 2, s"expected 2 hash exchanges, got $hashEx:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"snapshot diff must not join snapshots:\n$p")
  }
}
