package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round k-core peeling over an undirected edge list.
  *
  * The k-core is the maximal subgraph in which every node has degree ≥ k
  * (Seidman 1983) — the standard "dense cohesive community" extraction
  * run after a co-occurrence graph build. The algorithm is iterative
  * peeling: drop every node whose current degree is < k, drop the edges
  * that touched it, repeat. A FIXED round count (rather than a
  * convergence test) keeps the companion DuckDB oracle expressible as an
  * unrolled CTE chain (the PageRank/q167 trade: DuckDB's recursive CTEs
  * cannot aggregate in the recursive term); callers that need the true
  * fixpoint pass a generous `rounds` — peeling removes at least one node
  * per non-converged round, so `rounds ≥ |V|` is always exact, and in
  * practice core numbers stabilize in a handful of rounds.
  *
  * Everything is exact integer arithmetic — degrees are counts — so
  * there is no cross-engine float question anywhere; determinism needs
  * no quantization here.
  *
  * Scale shape: each round is one degree aggregate (map-side combined,
  * node-sized output) + two semi-joins filtering the edge list (the
  * survivor set broadcasts when node-sized allows — Catalyst's call).
  * Every round ends with a local-checkpoint generation: the next round
  * references the surviving edges through BOTH the degree aggregate and
  * the edge filter, so an un-truncated plan doubles per round — the
  * ConnectedComponents lesson (exponential analyzer time), not a
  * performance nicety. The superseded generation is released inside
  * the loop through [[Gen.release]] (see Gen for why).
  */
object KCore {

  /** @param edges distinct undirected pairs (x, y), one row per edge
    *              (x < y canonical form recommended; self-loops illegal).
    * @return surviving (node, deg) rows after `rounds` peels at
    *         threshold k, plus whether the peel had already converged
    *         (round produced no removals) — (nodes, converged).
    */
  def run(edges: DataFrame, k: Int, rounds: Int): (DataFrame, Boolean) = {
    // Row count of a generation off its checkpoint blocks: the count
    // job materializes the lazy checkpoint (see Gen.blocks).
    def rows(g: DataFrame): Long = Gen.blocks(g).map(_.count()).sum
    var e = edges.select(col("x"), col("y")).localCheckpoint(eager = false)
    var prevCount = rows(e)
    var converged = false
    var round = 0
    while (round < rounds && !converged) {
      val deg = e.select(col("x").as("n")).union(e.select(col("y")))
        .groupBy(col("n")).agg(count(lit(1)).as("dg"))
      val keep = deg.filter(col("dg") >= k).select(col("n"))
      val next = e
        .join(keep.withColumnRenamed("n", "x"), Seq("x"), "semi")
        .join(keep.withColumnRenamed("n", "y"), Seq("y"), "semi")
        .select(col("x"), col("y"))
      val nC = next.localCheckpoint(eager = false)
      // one scalar action per round — the justified fixpoint probe
      // (CC's pattern); edge counts only ever shrink, so an unchanged
      // count means no node was removed.
      val n = rows(nC)
      converged = n == prevCount
      prevCount = n
      Gen.release(e) // superseded generation, dead now
      e = nC
      round += 1
    }
    val deg = e.select(col("x").as("node")).union(e.select(col("y")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // `deg` scans the final generation's checkpoint, which stays live.
    (deg, converged)
  }
}
