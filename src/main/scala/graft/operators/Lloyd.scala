package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Integer-exact Lloyd k-means over long-format embedding units — q214's
  * model (memoized, and reused by q286 and q317) and q277's per-subspace
  * product-quantizer codebooks. `keys` names the columns that split the
  * corpus into independent problems trained as ONE joint plan (q277's
  * `sub`; none for q214): a centroid is (keys…, cid).
  *
  * Every step is engine-exact, so the DuckDB twin ([[twinSql]]) unrolls
  * the identical rounds as CTEs: coordinates quantize once to FLOOR
  * 1e-6 integer units, distances are exact integer Σ(x−c)² sums, argmin
  * is the min of one composite BIGINT d²·k+cid (lower cid wins equal
  * distances; cid < k because seeds are vec_id < k), and the update is
  * FLOOR(sum/count) — one double division of exact integers. A centroid
  * that loses every member has no row in the update and drops out of
  * the next round, on both engines.
  *
  * Per round: one broadcast of the centroid frame against the corpus,
  * one map-combined (vec_id, keys…, cid) distance aggregate, one
  * (keys…, cid, dim) centroid aggregate, cut with an eager
  * localCheckpoint — a lazy broadcast subtree re-executes the whole
  * chain — and the superseded generation released through
  * [[Gen.release]].
  */
private[graft] object Lloyd {

  /** (vec_id, dim, xu) units of `embeddings`. The hash repartition by
    * vec_id at the core dial (REPARTITION_BY_NUM, which AQE does not
    * coalesce) makes every in-loop aggregate and join on (vec_id, …)
    * exchange-free once the caller persists the frame: a round-robin
    * spread, or a checkpoint (UnknownPartitioning under AQE), would
    * re-shuffle the corpus in every round. */
  def units(embeddings: DataFrame): DataFrame =
    embeddings
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism,
        col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * 1e6).as("xu"))

  /** Data-deterministic init: vector vec_id < k seeds centroid cid =
    * vec_id in every key group. */
  def seeds(ve: DataFrame, keys: Seq[String], k: Int): DataFrame =
    ve.filter(col("vec_id") < k)
      .select(cols(keys) ++ Seq(col("vec_id").as("cid"), col("dim"),
        col("xu").as("cu")): _*)
      .localCheckpoint(true)

  /** (vec_id, keys…, key) with key = d²·k + cid for every centroid of
    * the vector's key group. */
  def keys(ve: DataFrame, cent: DataFrame, keys: Seq[String],
      k: Int): DataFrame =
    ve.join(broadcast(cent), keys :+ "dim")
      .withColumn("dd", (col("xu") - col("cu")) * (col("xu") - col("cu")))
      .groupBy(cols("vec_id" +: keys :+ "cid"): _*)
      .agg(sum(col("dd")).as("d2"))
      .select(cols("vec_id" +: keys) :+
        (col("d2") * k + col("cid")).as("key"): _*)

  /** (vec_id, keys…, cid): each vector's nearest centroid. */
  def assign(ve: DataFrame, cent: DataFrame, keys: Seq[String],
      k: Int): DataFrame = {
    val by = cols("vec_id" +: keys)
    this.keys(ve, cent, keys, k)
      .groupBy(by: _*).agg(min(col("key")).as("key"))
      .select(by :+ pmod(col("key"), lit(k.toLong)).as("cid"): _*)
  }

  /** (keys…, cid, dim, cu): floor-mean centroids of an assignment. */
  def update(ve: DataFrame, asg: DataFrame, keys: Seq[String]): DataFrame =
    ve.join(asg, "vec_id" +: keys)
      .groupBy(cols(keys :+ "cid" :+ "dim"): _*)
      .agg(sum(col("xu")).as("ss"), count(lit(1)).as("n"))
      .select(cols(keys :+ "cid" :+ "dim") :+
        floor(col("ss").cast("double") / col("n").cast("double")).as("cu"): _*)

  /** The centroids after `n` rounds from [[seeds]]. A round's assignment
    * is consumed once, by its update, so each round is ONE checkpoint. */
  def rounds(ve: DataFrame, keys: Seq[String], k: Int, n: Int): DataFrame = {
    var cent = seeds(ve, keys, k)
    for (_ <- 1 to n) {
      val next = update(ve, assign(ve, cent, keys, k), keys)
        .localCheckpoint(true)
      Gen.release(cent)
      cent = next
    }
    cent
  }

  /** The DuckDB twin as CTEs over `embeddings`: `ve` (units plus each
    * key, given as (column, expression over `dim`)), the seeds `c0`, the
    * rounds `a1`, `c1` … `a<n>`, `c<n>`, and `a<n+1>`, the assignment
    * to `c<n>`. An unreferenced CTE is never run. */
  def twinSql(keys: Seq[(String, String)], k: Int, n: Int): String = {
    val ks = keys.map(_._1)
    def lead(p: String) = ks.map(c => s"$p$c, ").mkString
    def on(t: String) = ks.map(c => s"ve.$c = $t.$c AND ").mkString
    def upTo(m: Int) = (1 to m).mkString(", ")
    def a(i: Int) = s"""a$i AS (
        SELECT vec_id, ${lead("")}CAST(MIN(d2 * $k + cid) % $k AS BIGINT) AS cid
        FROM (
          SELECT ve.vec_id, ${lead("ve.")}c.cid,
            CAST(SUM((ve.xu - c.cu) * (ve.xu - c.cu)) AS BIGINT) AS d2
          FROM ve JOIN c${i - 1} c ON ${on("c")}ve.dim = c.dim
          GROUP BY ${upTo(ks.size + 2)})
        GROUP BY ${upTo(ks.size + 1)})"""
    def c(i: Int) = s"""c$i AS (
        SELECT ${lead("a.")}a.cid, ve.dim,
          CAST(FLOOR(CAST(SUM(ve.xu) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cu
        FROM ve JOIN a$i a ON ${on("a")}ve.vec_id = a.vec_id
        GROUP BY ${upTo(ks.size + 2)})"""
    val derived = keys.map { case (name, e) => s", $e AS $name" }.mkString
    (Seq(s"""ve AS (
        SELECT *$derived FROM (
          SELECT vec_id, g.i AS dim,
            CAST(FLOOR(CAST(embedding[g.i + 1] AS DOUBLE) * 1e6) AS BIGINT)
              AS xu
          FROM embeddings,
            (SELECT unnest(generate_series(0, 63)) AS i) g))""",
      s"""c0 AS (SELECT ${lead("")}vec_id AS cid, dim, xu AS cu FROM ve
        WHERE vec_id < $k)""") ++
      (1 to n).flatMap(i => Seq(a(i), c(i))) :+ a(n + 1)).mkString(",\n      ")
  }

  private def cols(names: Seq[String]): Seq[Column] = names.map(col)
}
