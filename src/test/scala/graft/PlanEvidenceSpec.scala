package graft

/** The optimizer claims PLANS.md makes in prose, pinned as assertions:
  * filters reach the parquet scan, projections prune the read schema, and
  * top-k compiles to TakeOrderedAndProject. If a refactor breaks any of
  * these, the 100 TB story breaks silently — these tests make it loud.
  */
class PlanEvidenceSpec extends SparkSuite {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  // Tables.fanOut: a filter on a fanned frame is pushed under its
  // round-robin exchange, so a constant slice read from it scans and
  // shuffles the corpus once more. The slices read the plain scan. The
  // exchanges of a cached plan (q112's signatures) count once.
  test("q97/q112/q173 slices read the plain scan: at most one round-robin each") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    object aqe extends AdaptiveSparkPlanHelper
    def plans(p: SparkPlan): Seq[SparkPlan] =
      p +: aqe.collect(p) { case m: InMemoryTableScanExec => m.relation.cachedPlan }
        .distinct.flatMap(plans)
    for (name <- Seq("q97_decontamination", "q112_decontam_fuzzy", "q173_feature_hashing")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val all = plans(df.queryExecution.executedPlan)
      val spreads = all.flatMap(aqe.collect(_) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
      })
      assert(spreads.size <= 1, s"$name:\n${all.mkString("\n")}")
      if (name == "q97_decontamination") {
        val builds = all.flatMap(aqe.collect(_) { case b: BroadcastExchangeExec => b })
        assert(builds.size == 1 &&
          builds.forall(aqe.collect(_) { case a: HashAggregateExec => a }.isEmpty),
          s"$name:\n${all.mkString("\n")}")
      }
    }
  }

  test("q03 compound filter pushes down to the parquet scan") {
    val plan = planOf("q03_filter_compound")
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).mkString(",")
    assert(pushed.trim.nonEmpty && pushed != "",
      s"no filters reached the scan:\n$plan")
    assert(plan.contains("GreaterThan") || pushed.contains("GreaterThan") ||
      pushed.contains("In("), s"expected predicate pushdown evidence:\n$plan")
  }

  test("q02 projection prunes the parquet read schema") {
    val plan = planOf("q02_project_derive")
    val read = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(read.nonEmpty, s"no ReadSchema in scan:\n$plan")
    val cols = read.split(",").map(_.split(":")(0).trim).toSet
    // lineitem has 11 columns; the projection needs a strict subset
    assert(cols.size < 11 && cols.size > 0,
      s"scan reads $cols — projection did not prune the schema:\n$plan")
  }

  test("q100 flagship top-k compiles to TakeOrderedAndProject") {
    val plan = planOf("q100_shipping_priority")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n$plan")
  }

  test("q08 star joins broadcast every dimension (fact side never shuffles)") {
    val plan = planOf("q08_join_star_broadcast")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 3, s"expected chained broadcast joins, got $bhj:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a dimension join shuffled the fact table:\n$plan")
  }

  test("q137 null-safe join plans as a hash join, never a cartesian filter") {
    val plan = planOf("q137_nullsafe_join")
    assert(plan.contains("BroadcastHashJoin"),
      s"EqualNullSafe key fell out of the hash-join path:\n$plan")
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      s"null-safe equality degenerated to an all-pairs join:\n$plan")
  }

  test("q136 chunking never shuffles by key (explode is partition-local)") {
    val plan = planOf("q136_doc_chunk")
    assert(plan.contains("Generate"), s"explode missing:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"chunking introduced a key shuffle:\n$plan")
  }

  test("fanOut adds NO Exchange on multi-split input, spreads one-split input") {
    // The 100 TB claim behind every text-pipeline ingest: the fixture-only
    // round-robin spread must NOT become a corpus-wide shuffle when the
    // scan already parallelizes. defaultParallelism is 4 here, so >= 2
    // splits must plan Exchange-free and 1 split must fan out.
    val dir = java.nio.file.Files.createTempDirectory("fanout").toString
    try {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      base.repartition(8).write.mode("overwrite").parquet(s"$dir/many")
      base.coalesce(1).write.mode("overwrite").parquet(s"$dir/one")

      val multi = Tables.fanOut(spark.read.parquet(s"$dir/many"))
        .select(org.apache.spark.sql.functions.col("doc_id"))
      val multiPlan = multi.queryExecution.executedPlan.toString
      assert(!multiPlan.contains("Exchange"),
        s"fanOut re-shuffled an already-parallel scan:\n$multiPlan")

      val single = Tables.fanOut(spark.read.parquet(s"$dir/one"))
      val singlePlan = single.queryExecution.executedPlan.toString
      assert(singlePlan.contains("Exchange") &&
        singlePlan.toLowerCase.contains("roundrobinpartitioning"),
        s"one-split scan was not spread across cores:\n$singlePlan")
      // and both paths return the full corpus
      assert(multi.count() == base.count() && single.count() == base.count())
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("q164 shard deal: the only unpartitioned window is block-totals-sized") {
    // The two-phase claim: the corpus-sized window is PARTITIONED (by
    // block) and the single unpartitioned cumsum runs over ≤256 block
    // totals — a global ROW_NUMBER over the corpus would show a Window
    // with an empty partition spec fed by a full-corpus sort.
    val plan = planOf("q164_training_shards")
    val windows = plan.split("\n").filter(_.contains("Window "))
    assert(windows.nonEmpty, s"no Window in plan:\n$plan")
    // every Window must reference `block` (as partition key or as the
    // 256-row totals' order key); a corpus-global ROW_NUMBER would show
    // a Window over (h, doc_id) with no block anywhere.
    val globalWindows = windows.filterNot(_.contains("block"))
    assert(globalWindows.isEmpty,
      s"corpus-global window found (one-task global sort):\n$plan")
  }

  test("q165 bloom probe prunes the fact scan before the join") {
    val plan = planOf("q165_bloom_join_prune")
    assert(plan.contains("might_contain"),
      s"bloom probe missing from the plan:\n$plan")
    // The probe must sit UNDER the join: the Filter on might_contain
    // appears in the lineitem scan stage, not above a join result.
    val joinIdx = plan.indexOf("Join")
    val probeIdx = plan.indexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"probe did not stay on the scan side below the join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"bloom literal degenerated into a cross join:\n$plan")
  }

  test("q166 BM25 top-k compiles to TakeOrderedAndProject") {
    val plan = planOf("q166_bm25_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n$plan")
  }

  test("q275 CDC chunking: array-HOF cut pass, no cartesian, partial-agg census") {
    val plan = planOf("q275_cdc_chunk_dedup")
    assert(!plan.contains("CartesianProduct"),
      s"chunk census degenerated into a cross join:\n$plan")
    // The chunker must stay a projection (Generate explodes CHUNKS, never
    // per-word rows): exactly the two chunk-explode Generates (census
    // build + probe branch), no posexplode-over-words blowup. Count in
    // the FINAL adaptive plan only — toString appends the initial plan,
    // which would double every node.
    val finalPlan = plan.split("== Initial Plan ==").head
    val generates = "Generate".r.findAllMatchIn(finalPlan).size
    assert(generates <= 2,
      s"expected <=2 chunk Generates, got $generates:\n$finalPlan")
    // First-occurrence census is a map-combined hash aggregate (q140's
    // shape), not a sort window over the chunk partition.
    assert(!plan.contains("WindowExec") && plan.contains("HashAggregate"),
      s"census is not a partial hash aggregate:\n$plan")
  }

  test("q276 RRF: both legs end in TakeOrderedAndProject before fusion") {
    val plan = planOf("q276_rrf_hybrid_retrieval")
    val topk = "TakeOrderedAndProject".r.findAllMatchIn(plan).size
    // lex top-100, sem top-100, fused top-15.
    assert(topk >= 3, s"expected 3 TakeOrderedAndProject, got $topk:\n$plan")
    // The one cross join in the plan is the BROADCAST of the single-row
    // query vector; a non-broadcast cartesian against the embeddings
    // scan would be the 100-TB failure mode.
    assert(!plan.contains("CartesianProduct"),
      s"query-vector join fell back to a cartesian product:\n$plan")
  }

  test("q199/q202 prefix sums: every window references the block key") {
    // The two-phase claim for the round-10 rank/cumsum family: no
    // corpus-global ROW_NUMBER/SUM window — the only unpartitioned
    // windows run over block totals and carry `block` as their key.
    for (q <- Seq("q199_pareto_abc", "q202_gini")) {
      val plan = planOf(q)
      val windows = plan.split("\n").filter(_.contains("Window "))
      assert(windows.nonEmpty, s"$q: no Window in plan:\n$plan")
      val global = windows.filterNot(_.contains("block"))
      assert(global.isEmpty,
        s"$q: corpus-global window found (one-task global sort):\n$plan")
    }
  }

  test("q205 CMS: exact top-10 is TakeOrderedAndProject, probe is broadcast") {
    val plan = planOf("q205_cms_heavy_hitters")
    assert(plan.contains("TakeOrderedAndProject"),
      s"exact top-10 fell back to a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"4096-cell sketch probe did not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"probe degenerated to an all-pairs join:\n$plan")
  }

  test("q212/q224/q227 rank family: every window references the block key") {
    for (q <- Seq("q212_rank_movers", "q224_skyline", "q227_time_to_convert")) {
      val plan = planOf(q)
      val windows = plan.split("\n").filter(_.contains("Window "))
      assert(windows.nonEmpty, s"$q: no Window in plan:\n$plan")
      val global = windows.filterNot(_.contains("block"))
      assert(global.isEmpty,
        s"$q: corpus-global window found (one-task global sort):\n$plan")
    }
  }

  test("q216/q220 top-k compile to TakeOrderedAndProject, no cartesian") {
    for (q <- Seq("q216_recency_weighted_score", "q220_blame_supplier")) {
      val plan = planOf(q)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q: top-k fell back to a global sort:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$q: cartesian in plan:\n$plan")
    }
  }

  test("q207 ship-lag: every window is partitioned by priority") {
    // The histogram-rank claim: cumulative counts run per (pri) over the
    // ~100-value day histogram — a global unpartitioned window would
    // mean the raw fact-fact join output was sorted on one task.
    val plan = planOf("q207_ship_lag_percentiles")
    val windows = plan.split("\n").filter(_.contains("Window "))
    assert(windows.nonEmpty, s"no Window in plan:\n$plan")
    val global = windows.filterNot(_.contains("pri"))
    assert(global.isEmpty, s"unpartitioned window found:\n$plan")
  }

  test("q228/q236 blocked similarity joins: equi-joins only, no cartesian") {
    // The blocking claim both queries exist for: candidates come from an
    // equi-join on the blocking key (rare-shingle prefix / grid cell),
    // never a cartesian or broadcast-NLJ pair product.
    for (q <- Seq("q228_prefix_filter_join", "q236_grid_epsilon_join")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q: cartesian in plan:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q: nested-loop pair product in plan:\n$plan")
    }
  }

  test("q230/q231/q239 top-k compile to TakeOrderedAndProject") {
    for (q <- Seq("q230_assoc_rules", "q231_friend_of_friend",
        "q239_dow_seasonal_residual")) {
      val plan = planOf(q)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q: top-k fell back to a global sort:\n$plan")
    }
  }

  test("q232 decorrelates: no correlated re-scan, aggregates share one base") {
    // The oracle keeps the correlated scalar subquery; the Spark plan
    // must instead read lineitem ONCE per aggregate branch (2 scans max)
    // and join the per-pair and per-part aggregates — no nested-loop
    // per-row re-execution shape.
    val plan = planOf("q232_dominant_supplier_parts")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q232: correlated-style plan:\n$plan")
    // AQE's toString echoes the Initial Plan below the Final Plan —
    // count scans in the final section only.
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val scans = finalPlan.split("\n").count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans <= 2, s"q232: lineitem scanned $scans times:\n$plan")
  }

  test("q261 Theil-Sen: every window references the blk key (blocked rank)") {
    // The blocked two-phase median claim: the O(days²) pair frame is
    // never ranked by a corpus-global ROW_NUMBER — slopes bin into
    // ≤4096 monotone blocks, the only unpartitioned window runs over
    // the ≤4096-row block-count frame (ordered by blk), and the final
    // row_number is partitioned by blk on just the median block.
    val plan = planOf("q261_theil_sen_slope")
    val windows = plan.split("\n").filter(_.contains("Window "))
    assert(windows.nonEmpty, s"no Window in plan:\n$plan")
    val global = windows.filterNot(_.contains("blk"))
    assert(global.isEmpty,
      s"pair-frame-global window found (one-task global sort):\n$plan")
  }

  test("q256/q258/q259/q262 newcomers: no pair-frame windows, no cartesian") {
    // The round-10 session-3 queries get the same regression armor as
    // the q212/q216/q220 generation: these four are pure aggregate
    // pipelines whose only joins are 1-row/broadcast-sized — any
    // Window over a data-sized frame or a CartesianProduct appearing
    // here means a refactor broke the shape.
    for (q <- Seq("q256_poisson_burst", "q258_supplier_coverage",
        "q259_price_volume_mix", "q262_fano_burstiness")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q: cartesian in plan:\n$plan")
      val windows = plan.split("\n").filter(_.contains("Window "))
      // q259's mix bridge windows ride month-sized frames keyed by m/
      // mm; the others have no window at all.
      if (q != "q259_price_volume_mix")
        assert(windows.isEmpty, s"$q: unexpected Window:\n$plan")
    }
  }

  test("q257/q260 blocked families: every window references its block key") {
    for ((q, key) <- Seq("q257_magnitude_histogram" -> Seq("mag", "blk"),
        "q260_sequence_gap_audit" -> Seq("blk"))) {
      val plan = planOf(q)
      val windows = plan.split("\n").filter(_.contains("Window "))
      val global = windows.filterNot(w => key.exists(w.contains))
      assert(global.isEmpty,
        s"$q: window without ${key.mkString("/")} key (global sort):\n$plan")
    }
  }

  test("q263 stencil: kernel windows are block-partitioned (ghost cells)") {
    // The map_overlap claim: the radius-2 kernel never runs as a global
    // ordered window over the array — halo rows replicate into neighbor
    // blocks and every Window carries blk as its partition key.
    val plan = planOf("q263_map_overlap_stencil")
    val windows = plan.split("\n").filter(_.contains("Window "))
    assert(windows.nonEmpty, s"no Window in plan:\n$plan")
    val global = windows.filterNot(_.contains("blk"))
    assert(global.isEmpty,
      s"array-global window found (one-task global sort):\n$plan")
  }

  test("q264 bootstrap: replication is a generator, no window, no cartesian") {
    // The sample-with-replacement claim: replicate counts come from a
    // per-row hash draw and explode — a zero-shuffle projection until
    // the final aggregate. A Window or cartesian appearing here means
    // the resample degenerated into a sort or pair product.
    val plan = planOf("q264_bootstrap_resample")
    assert(plan.contains("Generate"), s"explode missing:\n$plan")
    assert(!plan.split("\n").exists(_.contains("Window ")),
      s"unexpected Window in resample plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("q267 separable stencil: windows keyed by row then column, no global") {
    // The separability claim: each pass partitions by one grid axis —
    // an unpartitioned Window would mean the 2-d kernel collapsed onto
    // a single-task sort of the whole grid.
    val plan = planOf("q267_stencil_2d_separable")
    val windows = plan.split("\n").filter(_.contains("Window "))
    assert(windows.nonEmpty, s"no Window in plan:\n$plan")
    val global = windows.filterNot(w => w.contains("ri") || w.contains("cj"))
    assert(global.isEmpty, s"grid-global window found:\n$plan")
  }

  test("q268 pps sample compiles to TakeOrderedAndProject") {
    val plan = planOf("q268_weighted_sample_pps")
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted top-k fell back to a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("q269 DBSCAN: candidates come from the grid equi-join, no cartesian") {
    // The ε-pair join must be an EQUI-join on the grid cell (cx, cy) —
    // never a cartesian. (The plan legitimately contains two
    // BroadcastNestedLoopJoins: the 1-row census-count frames crossed
    // into the noise row — aggregate-sized by construction, so only
    // CartesianProduct and a missing cell-keyed join are failures.)
    val plan = planOf("q269_dbscan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    val cellJoin = plan.split("\n").exists(l =>
      (l.contains("HashJoin") || l.contains("SortMergeJoin"))
        && l.contains("cx") && l.contains("cy"))
    assert(cellJoin, s"no (cx, cy) equi-join for the pair candidates:\n$plan")
  }

  test("q277 PQ: codebook/LUT joins broadcast, shortlist is top-k, no cartesian") {
    // Training/encode/ADC all join the corpus against frames bounded by
    // m·k·(dims/m) = 1,024 rows (codebook) or 128 rows (LUT, shortlist):
    // every one must be a broadcast-hash join — a shuffle there would
    // move the corpus to co-locate with a kilobyte. The ADC shortlist
    // must be TakeOrderedAndProject (per-partition heap of 60), and
    // nothing may fall back to a cartesian.
    val plan = planOf("q277_product_quantization")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"ADC shortlist fell back to a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"no broadcast join for codebook/LUT:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a kilobyte-side join shuffled the corpus:\n$plan")
  }

  test("q278 BPE: vocab loop is argmax-broadcast, no cartesian, no window") {
    // The training loop must never cartesian two data-sized frames: the
    // only BroadcastNestedLoopJoins allowed are the deliberate 1-row
    // argmax frames riding along as columns (crossJoin(broadcast(top)),
    // the block-totals exemption). The per-round pair count must be a
    // hash aggregate (map-side combined over the vocab), and the merge
    // apply is a fold — no WindowExec anywhere.
    val plan = planOf("q278_bpe_merge_training")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("WindowExec"), s"window crept in:\n$plan")
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
  }

  test("q279 encode: merges are one projection stack, corpus pays a broadcast join") {
    // The 5 chained merge folds are compile-time literals — they must
    // stay a projection over the distinct-word frame (no WindowExec,
    // no per-merge shuffle), and the corpus-sized side must meet the
    // memoized word→count frame through a broadcast-hash join.
    val plan = planOf("q279_bpe_encode")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("WindowExec"), s"window crept in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"corpus did not meet the vocab via broadcast:\n$plan")
  }

  test("q274 general PCA: Gram is map-side combined, readout is top-k") {
    // The one corpus-sized pass: the exploded upper-triangle Gram must
    // partial-aggregate before its exchange (wire carries ≤ dims²/2
    // partials per task, never corpus-height rows)…
    val gram = graft.operators.GramPCA.gramFrame(
      Tables.embeddings(spark, sfDir), "embedding", 64)
    gram.collect()
    val gplan = gram.queryExecution.executedPlan.toString
    val aggs = gplan.split("\n").count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"no partial/final aggregate pair:\n$gplan")
    // …and the per-component readout is TakeOrderedAndProject (map-side
    // top-3 per partition, 3-row driver merge), with no cartesian.
    val plan = planOf("q274_pca_topk_general")
    assert(plan.contains("TakeOrderedAndProject"),
      s"component readout fell back to a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("q235 clamped balance: windows are user-partitioned, one agg pass") {
    val plan = planOf("q235_clamped_running_balance")
    val windows = plan.split("\n").filter(_.contains("Window "))
    assert(windows.nonEmpty, s"no Window in plan:\n$plan")
    assert(windows.forall(_.contains("user_id")),
      s"unpartitioned window in the scan path:\n$plan")
  }

  test("q287 label agreement: probes broadcast, no cartesian") {
    // The non-equi probe×candidate join must be a broadcast nested
    // loop of the BOUNDED probe sample — a CartesianProduct would mean
    // the corpus met itself unbounded.
    val plan = planOf("q287_knn_label_agreement")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"probe side not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("q303 KL signature: corpus meets the top-64 table via broadcast") {
    val plan = planOf("q303_domain_kl_signature")
    assert(plan.contains("BroadcastHashJoin"),
      s"signature probe not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("q304 silhouette: one broadcast centroid join, no windows") {
    // The whole metric is aggregates around ONE broadcast of the
    // #labels×64 centroid frame — any Window or sort-merge join says
    // the plan degenerated.
    val plan = planOf("q304_centroid_silhouette")
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid frame not broadcast:\n$plan")
    assert(!plan.contains("Window "), s"unexpected window:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"SMJ crept in:\n$plan")
  }

  test("q207 fact-fact join runs adaptive and skew-split-eligible at scale") {
    // q207's lineitem⋈orders is the registry's one DELIBERATE fact-fact
    // shuffle join (neither side is a dimension at 100 TB). At fixture
    // scale Catalyst broadcasts the orders side, so to pin the at-scale
    // shape we disable the broadcast threshold: the join must then plan
    // as a shuffle join INSIDE AdaptiveSparkPlan with skew-join handling
    // on — the combination that lets AQE split a hot o_orderkey at
    // runtime. A CartesianProduct or nested-loop here would be a bug at
    // any scale.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      val df = SparkEntry.queries("q207_ship_lag_percentiles")(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AdaptiveSparkPlan"),
        s"fact-fact join not under AQE (no runtime skew split possible):\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffle join on the fact-fact edge:\n$plan")
      assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
        s"fact-fact join degenerated to all-pairs:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // was unset before the test (optional conf, no default to restore)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("q228 PPJoin candidates come from equi prefix-token joins, never all-pairs") {
    // The losslessness twin (all-pairs) lives in the SPEC only; the
    // engine path must generate candidates exclusively through hash
    // joins on prefix tokens. Any CartesianProduct / nested-loop join
    // in the executed plan means the prefix filter silently degenerated
    // to O(N²) — the exact failure PPJoin exists to prevent.
    val plan = planOf("q228_prefix_filter_join")
    assert(!plan.contains("CartesianProduct"),
      s"prefix-filter join degenerated to a cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"prefix-filter join degenerated to a nested loop:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"no equi join found for candidate generation:\n$plan")
  }

  // A local checkpoint keeps its input's hash partitioning only with AQE
  // off. The sessions here run AQE, so the LogicalRDD leaf reports
  // UnknownPartitioning(0) and a consumer keyed on the same column
  // shuffles again. The k-means memo build keeps a persist of the live
  // Lloyd.units plan next to its checkpoint for exactly this reason.
  test("a local checkpoint keeps its hash partitioning only with AQE off") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
    import org.apache.spark.sql.functions.{col, count, lit}
    def checkpointed() = spark.range(200)
      .select((col("id") % 10).as("k"), col("id"))
      .repartition(col("k")).localCheckpoint(true)
    def leaf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.outputPartitioning
      }.get
    def keyedConsumerPlan(df: org.apache.spark.sql.DataFrame): String = {
      val agg = df.groupBy(col("k")).agg(count(lit(1)).as("n"))
      assert(agg.collect().map(_.getLong(1)).sum == 200)
      agg.queryExecution.executedPlan.toString
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val aqe = checkpointed()
    assert(leaf(aqe) == UnknownPartitioning(0))
    val aqePlan = keyedConsumerPlan(aqe)
    assert(aqePlan.contains("Exchange hashpartitioning(k"),
      s"expected the consumer to re-shuffle:\n$aqePlan")
    withConf("spark.sql.adaptive.enabled", "false") {
      val plain = checkpointed()
      assert(leaf(plain) match {
        case HashPartitioning(Seq(k: Attribute), n) => k.name == "k" && n == 4
        case _ => false
      }, s"partitioning ${leaf(plain)}")
      val plainPlan = keyedConsumerPlan(plain)
      assert(!plainPlan.contains("Exchange"),
        s"expected the consumer to reuse the partitioning:\n$plainPlan")
    }
  }
}
