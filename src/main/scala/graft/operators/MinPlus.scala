package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded min-plus relaxation (Bellman-Ford rounds) from a seed set —
  * q225's hop-count BFS (unit weights) and q243's weighted SSSP.
  * After `rounds` rounds, d is the shortest distance from any seed over
  * paths of at most `rounds` edges (the min-plus semiring power
  * A^rounds over the seed vector); farther nodes are absent. Bounded
  * rounds make the result well-defined without a fixpoint test, and the
  * oracles unroll the identical rounds as CTEs.
  *
  * Per round: ONE frontier⋈edges equi-join + ONE min-distance aggregate
  * (map-combined), cut with an eager localCheckpoint — a lazily chained
  * generation re-executes all prior rounds — and the superseded
  * generation released through [[Gen.release]].
  */
private[graft] object MinPlus {

  /** @param seeds (node, d) starting distances.
    * @param adj   (src, dst, w) directed edges; list both directions of
    *              an undirected edge.
    * @return (node, d), a checkpoint the caller's result scans. */
  def relax(seeds: DataFrame, adj: DataFrame, rounds: Int): DataFrame = {
    var dist = seeds.select(col("node"), col("d")).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val next = dist.join(adj, col("node") === col("src"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
      val gen = dist.unionByName(next)
        .groupBy(col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint(true)
      Gen.release(dist)
      dist = gen
    }
    dist
  }
}
