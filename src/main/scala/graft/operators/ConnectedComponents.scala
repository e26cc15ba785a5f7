package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by the alternating large-star /
  * small-star algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi,
  * Vassilvitskii — "Connected Components in MapReduce and Beyond",
  * ACM SoCC 2014), the clustering step of every near-dup pipeline
  * (SURVEY.md §2.11 ✦; used by q76 and q269's DBSCAN).
  *
  * Each round rewrites the edge set twice:
  *   - large-star: every node u computes m = min(Γ(u) ∪ {u}) and
  *     re-attaches each STRICTLY LARGER neighbor to m;
  *   - small-star: with edges oriented child-larger, every node u
  *     re-attaches its smaller neighbors AND itself to m = min(N⁻(u)).
  * The paper proves each rewrite preserves connectivity, never loses a
  * node, and that alternation converges to min-rooted stars in
  * O(log² n) rounds (a handful in practice, even on path graphs).
  * This replaces the r11 propagate+single-shortcut scheme, whose
  * "doubling" degenerated to a linear min-label crawl on filament
  * chains with position-random ids (25 iterations without fixpoint on
  * q269's 1,052-node ε-graph; PLANS.md Round 12 records the
  * before/after traces). A plain propagation loop looks correct on
  * clique-like duplicate clusters (diameter ≤ 2) and silently
  * under-merges long chains — the property test drives a 30-node path
  * through this exact trap.
  *
  * Convergence is detected by a content fingerprint of the edge set —
  * (row count, XOR of xxhash64(u,v)) — equal across a full round ⇒ the
  * round was the identity ⇒ star fixpoint. XOR, not SUM: the edge set
  * is dedup'd so XOR is a sound set fingerprint, it cannot overflow
  * (a Long sum of 64-bit hashes trips ANSI arithmetic), and it is
  * order-free. The fingerprint is the round's one materializing action
  * and only a loop-termination probe, never part of the result, so its
  * hash function needs no cross-engine story.
  *
  * Iteration hygiene: every generation is a local checkpoint and the
  * superseded one is released through [[Gen.release]] the moment its
  * successor is materialized (the r11 lesson, and the reason the
  * checkpoint and not a persist — see Gen). The round references its
  * input three times, so an uncut plan would grow exponentially in
  * round count.
  *
  * Scale notes (100 TB / 1e9 nodes): both star rewrites shuffle on node
  * id — the same partitioning every round, so AQE reuses exchange
  * layouts; edge sets only shrink (dedup + re-attachment toward minima).
  */
object ConnectedComponents {

  /** @param pairs two-column frame of undirected edges (any orderable id
    *              type); symmetrized/canonicalized internally.
    * @param maxIter cap on large-star+small-star ROUNDS. O(log² n)
    *                suffices: 25 covers any graph this side of 2^5
    *                doublings of a doubling — raise only with evidence.
    * @return (id, cluster) — cluster is the minimum id reachable from id;
    *         isolated nodes (absent from pairs) are absent here too.
    * @throws IllegalStateException when maxIter rounds end without a
    *         fixpoint: an under-merged clustering is never returned.
    */
  def run(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val cols = pairs.columns
    // Canonical child-larger orientation (u > v), self-loops dropped,
    // dedup'd: both star rewrites below preserve this orientation, so
    // it is established exactly once.
    val e0 = pairs
      .select(greatest(col(cols(0)), col(cols(1))).as("u"),
        least(col(cols(0)), col(cols(1))).as("v"))
      .filter(col("u") =!= col("v")).distinct()

    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var edges = e0.localCheckpoint(eager = false)
    var prev = fingerprint(edges) // materializes the initial generation
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // ---- large-star: attach larger neighbors to the neighborhood min.
      // Aliases are load-bearing: repeated self-derived joins otherwise
      // trip the ambiguous-attribute check.
      val sym = edges.select(col("u").as("a"), col("v").as("b"))
        .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
      val lsMin = sym.groupBy(col("a")).agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      val ls = sym.join(lsMin, Seq("a")).where(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v")).distinct()
      // ls is referenced twice by small-star (min aggregate + join);
      // cutting it keeps each leg single-execution AND bounds the plan.
      // The checkpoint is LAZY (r18): the round's one fingerprint action
      // materializes it as a side effect — its two consumer stages run
      // inside that same job, and the block manager's per-partition
      // loading locks make whichever task arrives second wait for (not
      // recompute) the partition — so an eager checkpoint would be one
      // whole scheduling round-trip per CC round that buys nothing.
      val lsC = ls.localCheckpoint(eager = false)
      // ---- small-star: u > all of N⁻(u), so m = min(N⁻(u)) directly;
      // re-attach the smaller neighbors and u itself, dropping the
      // (m, m) self-loop. Output stays child-larger by construction.
      val ssMin = lsC.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = lsC.join(ssMin, Seq("u"))
        .select(col("v").as("cu"), col("m").as("cv"))
        .unionByName(ssMin.select(col("u").as("cu"), col("m").as("cv")))
        .filter(col("cu") =!= col("cv"))
        .select(col("cu").as("u"), col("cv").as("v")).distinct()
      val ssC = ss.localCheckpoint(eager = false)
      val cur = fingerprint(ssC) // materializing action for this round
      converged = cur == prev
      prev = cur
      // The superseded generations are dead from here on — release them
      // now; ContextCleaner would not (no GC in a tight driver loop).
      Gen.release(edges)
      Gen.release(lsC)
      edges = ssC
      iter += 1
    }
    if (!converged) {
      Gen.release(edges)
      throw new IllegalStateException(
        s"[ConnectedComponents] no fixpoint after $maxIter rounds — " +
          "labels may be under-merged; raise maxIter")
    }
    // At the star fixpoint every edge is (child, component-min root):
    // children read their parent, roots (parent side) map to themselves.
    // The final generation's checkpoint stays live — the labels scan it.
    // (All intermediate generations were released above.)
    edges.select(col("u").as("id"), col("v").as("cluster"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("cluster")))
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
  }
}
