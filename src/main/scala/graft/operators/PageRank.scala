package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Deterministic fixed-iteration PageRank over a directed edge list.
  *
  * rank'(v) = (1−d) + d · Σ_{(s→v)} rank(s)/outdeg(s), the classic
  * unnormalized formulation (Page et al. 1999): with rank₀ ≡ 1 the total
  * mass stays |V| every iteration when every node has out-degree ≥ 1
  * (the caller's contract here — feed a symmetrized edge list for
  * arbitrary graphs; a dangling-mass term is the standard extension).
  *
  * Determinism is the point of this implementation: a bare SUM(double)
  * over contributions would be partial-aggregation-order dependent and
  * no two runs (or engines) would agree bit-for-bit. Each contribution
  * rank(s)/deg(s) — itself a single IEEE division from identical inputs
  * — is therefore quantized to INTEGER 10⁻⁹ units via FLOOR(c·1e9) and
  * summed as exact integers: integer addition is associative, so the
  * sum is order-free, codegen'd, and map-side combinable — unlike the
  * collect_list ordered-fold alternative, which materializes and sorts
  * an in-degree-sized array per node per iteration (the r9 bench
  * measured it at ~3× the per-iteration cost). FLOOR-of-a-double, not a
  * decimal cast, is load-bearing: a double→DECIMAL(38,12) quantization
  * looks equivalent but DuckDB implements that cast multiply-based
  * while Spark converts exact-decimal, so the two engines quantize a
  * hair apart and the walks drift ~1e-9 by iteration 10 (the r9 sf0.1
  * sweep caught it live) — whereas floor of the SAME double after the
  * SAME IEEE multiply is engine-identical by construction. Unit sums
  * stay far under 2^53 for any mass up to ~10⁶ |V|, so the final
  * int→double conversion is exact; the ≤1e-9 per-edge truncation is a
  * deterministic model choice (mass decays ≤ d·|E|·1e-9 per iteration),
  * not noise — both engines compute the identical quantized walk.
  *
  * Scale shape: the edge list materializes ONCE (persist) and degree /
  * with-degree / node frames all derive from that cache; every
  * iteration is ONE broadcast-joined pass over the cached edges + ONE
  * aggregate shuffle whose map-side combine reduces it to node-sized.
  * The broadcast is an EXPLICIT hint, not left to Catalyst: each
  * generation is a `LogicalRDD` (lineage cut), whose unknown size
  * statistics default to "huge", so the planner picks sort-merge and
  * shuffle-writes the 2|E| cached edge rows every iteration before AQE
  * can demote the join. When |V| outgrows the broadcast ceiling
  * ([[PageRank.BroadcastRanksMaxNodes]]) the operator AUTO-SELECTS the
  * shuffle escape (r14; override with `broadcastRanks = Some(b)`): the
  * edge frame is hash-partitioned by src once at its DISK_ONLY
  * checkpoint write and joined to the rank frame by a shuffled hash
  * join. Under AQE the checkpoint does not keep that partitioning, so
  * each iteration still re-exchanges the edges (ROADMAP direction 4).
  * Both strategies are bit-identical (GraphRetrievalPropertySpec pins
  * it).
  *
  * r13 rework receipts (q167, sf0.1, local[32], min-of-3): 6.85 s →
  * 4.21 s. The three levers, in measured order of effect: (1) setup
  * frames lineage-cut with eager localCheckpoint so each iteration
  * re-plans an O(1) tree instead of the full parquet lineage (the
  * profile showed 0.35-0.45 s/iteration of pure driver-side planning);
  * (2) deg rides the generation frame so the contribution side is a
  * projection, not a per-iteration broadcast join; (3) the readout
  * reuses the operator's degree frame (runWithDeg) instead of
  * rebuilding the edge list from source.
  * Every generation is cut eagerly with `localCheckpoint(true)` — NOT
  * for plan size (a step references `ranks` once, so the chain only
  * grows linearly, unlike ConnectedComponents' thrice-referencing star
  * rewrites) but because the node-sized rank frame is the BROADCAST side
  * of the next iteration's join, and a broadcast exchange executes its
  * subtree as its own job: left lazy, iteration k's broadcast re-runs
  * iterations 1..k−1 from scratch — a quadratic recompute the r9
  * profile measured as 2× wall on a 5-deep lazy chain. Cutting
  * makes each broadcast a scan of ~|V| cached rows. Superseded
  * generations, and on exit the data-sized setup checkpoints, are
  * released through [[Gen.release]]; Gen records why a checkpoint and
  * not a persist (the r17/r18 sf100 shuffle-disk deaths).
  */
object PageRank {

  /** Auto-select ceiling for the broadcast-rank strategy: above this
    * many source nodes, each iteration's rank-side broadcast (a
    * node-sized hash relation rebuilt 10×, held whole in every executor
    * next to the data-sized edge cache) is what OOMs before anything
    * else does — the r13 sf10 run (1.5M nodes, 120M cached edges)
    * needed a 48 GB heap on the broadcast path and completes at the
    * default 8 GB on the shuffle escape. At ~50-100 B/row of broadcast
    * hash relation, 1M nodes ≈ 100 MB per iteration — the conventional
    * upper edge of "broadcastable"; beyond it the src-pinned shuffle
    * join moves the SAME node-sized frame per iteration without
    * holding it resident everywhere. */
  private[graft] val BroadcastRanksMaxNodes = 1000000L

  /** The cheaper, earlier auto-select signal: above this many cached
    * edge rows the DEFAULT deserialized checkpoint (~64 B/UnsafeRow)
    * crosses ~2 GB of the 8 GB unified pool and even the degree
    * aggregate over it starts fighting storage for execution pages —
    * the shuffle escape (disk-pinned edges) is chosen from the free
    * block-count alone, before any aggregate touches the cache. */
  private[graft] val EdgeCacheMaxRows = 32000000L

  /** The auto-select heuristic, surfaced for unit testing: broadcast
    * iff the source-node count fits [[BroadcastRanksMaxNodes]]. */
  private[graft] def chooseBroadcast(nSrcNodes: Long): Boolean =
    nSrcNodes <= BroadcastRanksMaxNodes

  /** @param edges distinct (src, dst) pairs. With the default
    *              `redistributeDangling = false`, every node must appear
    *              as a src (out-degree ≥ 1 — feed a symmetrized edge
    *              list); with it true, arbitrary digraphs are safe:
    *              sink (out-degree-0) mass is redistributed uniformly,
    *              the standard dangling-node extension. Self-loops are
    *              legal.
    * @param broadcastRanks None (default) auto-selects from the actual
    *              node count ([[chooseBroadcast]] — the count is one
    *              O(ms) action on the already-checkpointed degree
    *              frame); Some(b) forces the strategy. Both strategies
    *              produce BIT-IDENTICAL ranks (spec-proven) — this is
    *              purely an execution-layout choice.
    */
  def run(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85,
      redistributeDangling: Boolean = false,
      broadcastRanks: Option[Boolean] = None,
      edgeCountHint: Option[Long] = None): DataFrame =
    runWithDeg(edges, iterations, damping, redistributeDangling,
      broadcastRanks, edgeCountHint)._1

  /** As [[run]], but also returns the out-degree frame `(node, deg)` the
    * loop already computed — a readout that reports rank next to degree
    * (q167's shape) would otherwise rebuild the whole edge list from
    * source a second time. */
  /** @param edgeCountHint caller-known UPPER BOUND on the edge count
    *              (e.g. the source fact table's metadata row count —
    *              O(row-group stats) to obtain). When it already exceeds
    *              [[EdgeCacheMaxRows]], the operator takes the shuffle
    *              escape DIRECTLY: the src-pinned disk checkpoint is
    *              built straight from the input lineage and the
    *              un-pinned edge cache is never materialized at all —
    *              at the r17 sf100 receipt (~1B edges) that un-pinned
    *              copy was a ~20 GB disk write whose only purpose was
    *              the strategy count, and it tipped the spill disk
    *              over. None (default) keeps the measured small-graph
    *              flow: checkpoint once, decide from the free block
    *              count. An over-estimate merely picks the escape
    *              early — both strategies are bit-identical. */
  def runWithDeg(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85,
      redistributeDangling: Boolean = false,
      broadcastRanks: Option[Boolean] = None,
      edgeCountHint: Option[Long] = None): (DataFrame, DataFrame) = {
    // iterations >= 1: the exit path releases nodesDeg's local-checkpoint
    // blocks, and with zero iterations `ranks` would still be derived
    // from nodesDeg — a lineage-truncated frame whose cache was just
    // freed, i.e. a frame that fails on first scan. No caller passes
    // < 1; fail fast rather than return a poisoned frame.
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e0 = edges.select(col("src"), col("dst"))
    // Every setup frame the LOOP references is lineage-cut with an eager
    // localCheckpoint, not just persisted: a persisted frame keeps its
    // full logical plan (parquet scans → join → distinct → union here),
    // and EVERY iteration's `df.rdd` re-analyzes, re-optimizes, and
    // re-plans that whole tree on the driver — the r13 profile measured
    // that planning at 0.35-0.45 s of each iteration's ~0.5 s wall at
    // sf0.1 (execution was ~0.1 s). Cutting to a LogicalRDD makes the
    // per-iteration tree O(1)-sized: join(scan, broadcast(join of two
    // node-sized scans)) + union(scan) + aggregate. The edge
    // checkpoint itself is declared inside the non-hint branch below —
    // declaring it here would eagerly write the data-sized cache even
    // when the edgeCountHint escape is about to skip it.
    // STRATEGY RESOLUTION (r14, two signals, both O(driver) cheap):
    //  1. The cached edge-row count — free off the materialized blocks,
    //     no aggregate. A data-huge edge cache forces the shuffle escape
    //     before anything AGGREGATES over it: at sf10 (117M edges) the
    //     default deserialized cache is ~7.5 GB of an 8 GB unified pool
    //     and the degree aggregate dies with AGGREGATE_OUT_OF_MEMORY
    //     (PLANS.md Round-14 item 3) — so above
    //     [[EdgeCacheMaxRows]] the decision is made from the count alone
    //     and deg is computed only AFTER the cache moves to disk.
    //  2. Otherwise the node count (deg.count(), safe over a small
    //     cache) against [[BroadcastRanksMaxNodes]]: rank-side broadcast
    //     is the regime's other memory term.
    // SHUFFLE PATH LAYOUT: the edges re-pin by src ONCE into a DISK_ONLY
    // checkpoint — serialized ~24 B/row streamed through the block
    // writer (MEMORY_AND_DISK_SER instead heap-OOMs building whole
    // blocks in the MemoryStore), OS page cache serves the 10
    // per-iteration re-reads, and the executor heap stays free for
    // execution. The pin does NOT survive the lineage cut under AQE:
    // the checkpoint's LogicalRDD reports UnknownPartitioning(0)
    // (PlanEvidenceSpec pins it), so every iteration's join exchanges
    // the edges by src again.
    // The pin derives from the eRaw cache (one read + one shuffle —
    // rebuilding from the source lineage measured +40 s of redundant
    // join/distinct at sf10), with eRaw released the moment the pinned
    // copy is materialized. The BROADCAST path deliberately keeps the
    // deserialized default unpinned: an unconditional repartition
    // measured +1.3 s and DISK_ONLY +1.2 s on q167's 4.2 s sf0.1 wall,
    // for layouts broadcast joins never use.
    val diskLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY
    // Node-sized degree frame, checkpointed once — NOT recomputed per
    // iteration (the loop's broadcast subtree joins ranks against it).
    def degOf(frame: DataFrame): DataFrame =
      frame.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(true)
    // Hint-directed escape (r17): when the caller's upper bound already
    // exceeds the cache ceiling, the pinned copy is built straight from
    // the input lineage — ONE source pass, ONE disk-resident copy; the
    // eRaw materialization below exists only to measure what the hint
    // already told us.
    val hintEscape = edgeCountHint.exists(_ > EdgeCacheMaxRows) &&
      !broadcastRanks.contains(true)
    val (e, deg, bcast) = if (hintEscape) {
      val pinned = e0.repartition(col("src")).localCheckpoint(true, diskLevel)
      (pinned, degOf(pinned), false)
    } else {
      val eRaw = e0.localCheckpoint(true)
      def pinToDisk(): DataFrame = {
        val pinned = eRaw.repartition(col("src"))
          .localCheckpoint(true, diskLevel)
        Gen.release(eRaw)
        pinned
      }
      if (broadcastRanks.contains(true)) (eRaw, degOf(eRaw), true)
      else if (broadcastRanks.contains(false)) {
        val pinned = pinToDisk(); (pinned, degOf(pinned), false)
      } else if (edgeCountHint.exists(_ <= EdgeCacheMaxRows)) {
        // A hint UNDER the cache ceiling answers the first strategy
        // signal by itself (nEdgeRows <= hint <= EdgeCacheMaxRows), so
        // the edge-count action is a whole job spent re-measuring what
        // the caller already proved from row-group metadata (r18 —
        // q167's hint is 2x the fact row count). Only the node count
        // remains to resolve.
        val dg = degOf(eRaw)
        if (chooseBroadcast(dg.count())) (eRaw, dg, true)
        else (pinToDisk(), dg, false)
      } else {
        val nEdgeRows = eRaw.count()
        if (nEdgeRows > EdgeCacheMaxRows) {
          val pinned = pinToDisk(); (pinned, degOf(pinned), false)
        } else {
          val dg = degOf(eRaw)
          if (chooseBroadcast(dg.count())) (eRaw, dg, true)
          else (pinToDisk(), dg, false)
        }
      }
    }
    // Without sinks, the src side of `deg` IS the node set; with the
    // dangling extension the node set is src ∪ dst (sinks appear only
    // as dst) and the sink set is nodes ∖ srcs — both computed once,
    // outside the loop.
    // Escape path: the setup's join/distinct/repartition shuffle files
    // are dead the moment the pin is materialized, but they are freed
    // only when their ShuffleDependencies are GC'd — and the sf100
    // receipt measured the setup peak (source shuffles + pin write)
    // within a rounding error of the whole spill disk. One collector
    // nudge here returns ~25 GB before the iterations start.
    if (!bcast) System.gc()
    val nodes = (if (redistributeDangling)
        e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
          .localCheckpoint(true)
      else deg.select(col("src").as("node")))
    val sinks = if (redistributeDangling)
      nodes.join(deg.select(col("src").as("node")), Seq("node"),
        "left_anti").localCheckpoint(true)
    else null
    // |V| as a driver scalar: one setup action (like CC's fixpoint
    // probe), used only to split the dangling units evenly.
    val nNodes = if (redistributeDangling) nodes.count() else 0L
    val degN = deg.withColumnRenamed("src", "node")
    // The generation frame carries (node, deg, rank), not just rank: the
    // per-source contribution needs rank/deg, and if deg lived in its own
    // frame every iteration would pay a node⋈deg broadcast JOIN (its own
    // exchange job) before the edge pass. With deg riding the generation,
    // the contribution side is a pure PROJECTION of the cached frame, and
    // deg re-enters the next generation through the same aggregate the
    // baseline rows ride (contribution rows carry deg = null; the one
    // baseline row per node carries the real deg; MAX picks it out).
    // Sinks (dangling path) have no out-edges and no deg row — their
    // baseline deg is null, harmless: rpd's inner join just never sees
    // them as sources, matching the r12 withDeg-join semantics.
    val nodesDeg = if (redistributeDangling)
      nodes.join(degN, Seq("node"), "left").localCheckpoint(true)
    else degN // already a checkpoint scan — no second copy
    var ranks = nodesDeg.withColumn("rank", lit(1.0))
    var gen: Option[DataFrame] = None
    (1 to iterations).foreach { _ =>
      // The floor-quantized per-source contribution rank(s)/deg(s) is
      // computed ONCE per node in the (node-sized) broadcast subtree and
      // carried across that node's out-edges by the join — bit-identical
      // to flooring per edge (same IEEE division, same floor), but the
      // per-iteration edge pass degenerates to scan + hash-probe +
      // column carry, and the |E|-row edges⋈degree frame the r12 shape
      // materialized no longer exists at all.
      val rpd = ranks.filter(col("deg").isNotNull)
        .select(col("node").as("src"),
          floor((col("rank") / col("deg").cast("double")) * lit(1e9))
            .as("c"))
      // Zero-mass baseline rows ride the SAME aggregate instead of a
      // per-iteration left join: an integer zero is additive identity,
      // so nodes with no in-edges come out of the sum at exactly 0 —
      // one fewer join (and broadcast job) per generation.
      // Shuffle strategy: hint shuffle_hash on the node-sized rank side —
      // a plain SMJ would SORT the data-sized edge cache every iteration,
      // while a ShuffledHashJoin builds the hash relation from the
      // ~|V|-row rank partition and streams the edges through it.
      val contribs = e
        .join(if (bcast) broadcast(rpd) else rpd.hint("shuffle_hash"),
          Seq("src"))
        .select(col("dst").as("node"), lit(null).cast("long").as("deg"),
          col("c"))
        .union(nodesDeg.select(col("node"), col("deg"), lit(0L).as("c")))
      val summed = contribs.groupBy(col("node"))
        .agg(max(col("deg")).as("deg"), sum(col("c")).as("msum"))
      // Dangling mass stays in the integer-unit domain end to end:
      // each sink's rank is floor-quantized exactly like an edge
      // contribution, the units sum as exact longs (1-row aggregate,
      // broadcast to every node), and the per-node share is an integer
      // `div` — deterministic, and the remainder lost is < |V| units
      // (≤ 1e-9·|V| mass/iteration), the same class of deterministic
      // truncation the per-edge floor already makes.
      val withMass = if (redistributeDangling) {
        val dang = ranks.join(sinks, Seq("node"))
          .agg(coalesce(sum(floor(col("rank") * lit(1e9))), lit(0L))
            .as("du"))
        summed.crossJoin(broadcast(dang))
          .select(col("node"), col("deg"),
            (col("msum") + expr(s"du div ${nNodes}")).as("msum"))
      } else summed
      val next = withMass
        .select(col("node"), col("deg"),
          (lit(1.0 - damping) + lit(damping) *
            (col("msum").cast(DoubleType) / lit(1e9))).as("rank"))
      // Generation cut: eager localCheckpoint, which truncates the RDD
      // lineage, so the superseded generation's shuffle files become
      // unreachable with it (see Gen).
      val nCk = next.localCheckpoint(true)
      // Superseded generation's blocks: released deterministically via
      // the LogicalRDD-leaf handle (never the FIRST ranks frame — that
      // one scans nodesDeg/deg, which the exit path returns).
      gen.foreach(Gen.release)
      gen = Some(nCk)
      ranks = nCk
      // Escape path only: with lineage now truncated per generation,
      // one collector nudge per iteration lets ContextCleaner delete
      // the unreachable shuffle files, bounding disk to ~2 generations
      // (~25 GB at sf100) instead of all 10 (~120 GB, the killer).
      // Broadcast-path graphs shuffle node-sized data and skip the
      // pause (q167's 4.4 s sf0.1 wall would pay ~5% for nothing).
      if (!bcast) System.gc()
    }
    // Release the setup checkpoints the loop is done with — above all
    // `e`, the DATA-SIZED 2|E| edge cache, which in a long-lived JVM
    // (the 331-query bench) would otherwise linger until GC +
    // ContextCleaner get around to it (they rarely do between queries).
    // `deg` stays live: the returned degN frame scans it. The final
    // generation's cache also stays live — the returned ranks
    // projection scans it (see Gen); both were eagerly
    // materialized, so nothing released here is recomputed through.
    Gen.release(e)
    if (redistributeDangling) {
      Gen.release(nodes)
      Gen.release(sinks)
      Gen.release(nodesDeg) // its own checkpoint here; when
      // !redistributeDangling it aliases deg's scan and must NOT be freed
    }
    (ranks.select(col("node"), col("rank")), degN)
  }
}
