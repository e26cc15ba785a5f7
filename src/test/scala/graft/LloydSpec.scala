package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Lloyd

/** operators.Lloyd on a hand-built long-format frame whose geometry holds
  * the two edge cases no fixture constructs, run keyless (q214's shape)
  * and keyed by `sub` (q277's shape):
  *   - a TIE: a point exactly equidistant from two centroids goes to the
  *     lower cid;
  *   - a DROP: seed 2 duplicates a lower-id seed, so the tie rule takes
  *     every member from it in round 1; its centroid has no row after
  *     the update and is absent from round 2 on, as the twin's join
  *     drops it.
  * Each round's centroids and the assignment to them must equal a
  * plain-Scala replica of the integer arithmetic (d²·k+cid argmin,
  * FLOOR(sum/count) update).
  */
class LloydSpec extends SparkSuite {
  import spark.implicits._

  private val k = 3

  // (vec_id, sub, coordinates). In sub 0, vec 2 duplicates vec 1 and
  // vec 3 sits halfway between vec 0 and vec 1; in sub 1, vec 2
  // duplicates vec 0 and vec 3 sits halfway between vec 0 and vec 1.
  private val points: Seq[(Long, Long, Seq[Long])] = Seq(
    (0L, 0L, Seq(0L, 0L)), (1L, 0L, Seq(10L, 0L)), (2L, 0L, Seq(10L, 0L)),
    (3L, 0L, Seq(5L, 0L)), (4L, 0L, Seq(1L, 1L)), (5L, 0L, Seq(9L, 1L)),
    (6L, 0L, Seq(-3L, -2L)),
    (0L, 1L, Seq(-4L, 7L)), (1L, 1L, Seq(2L, 1L)), (2L, 1L, Seq(-4L, 7L)),
    (3L, 1L, Seq(-1L, 4L)), (4L, 1L, Seq(3L, -5L)), (5L, 1L, Seq(-6L, 9L)),
    (6L, 1L, Seq(1L, 2L)))

  /** (vec_id, sub, dim, xu) units; sub 1 owns dims 2 and 3. */
  private val units = points.flatMap { case (v, g, xs) =>
    xs.zipWithIndex.map { case (x, i) => (v, g, 2 * g + i, x) }
  }

  private type Cent = Map[(Long, Long), Map[Long, Long]] // (sub, cid) → dim → cu
  private type Asg = Map[(Long, Long), Long]             // (vec_id, sub) → cid
  private type Unit4 = (Long, Long, Long, Long)          // (vec_id, sub, dim, xu)

  private def replicaAssign(us: Seq[Unit4], c: Cent): Asg =
    us.groupBy(u => (u._1, u._2)).map { case ((v, g), xs) =>
      val key = c.collect { case ((cg, cid), cu) if cg == g =>
        xs.map { u => val d = u._4 - cu(u._3); d * d }.sum * k + cid
      }.min
      (v, g) -> key % k
    }

  private def replicaUpdate(us: Seq[Unit4], a: Asg): Cent =
    us.groupBy(u => (u._2, a((u._1, u._2)), u._3)).toSeq
      .map { case ((g, cid, dim), xs) =>
        (g, cid) -> (dim -> math.floor(
          xs.map(_._4).sum.toDouble / xs.size.toDouble).toLong)
      }.groupBy(_._1).map { case (gc, ds) => gc -> ds.map(_._2).toMap }

  private def replicaRounds(us: Seq[Unit4], n: Int): Cent =
    (1 to n).foldLeft[Cent](
      us.filter(_._1 < k).groupBy(u => (u._2, u._1))
        .map { case (gc, xs) => gc -> xs.map(u => u._3 -> u._4).toMap }
    )((c, _) => replicaUpdate(us, replicaAssign(us, c)))

  /** Runs the checks with `keys` = Seq("sub") or, keyless, on sub 0. */
  private def check(keys: Seq[String]): Unit = {
    val rows = if (keys.isEmpty) units.filter(_._2 == 0L) else units
    val ve = rows.toDF("vec_id", "sub", "dim", "xu")
      .select((col("vec_id") +: keys.map(col)) ++
        Seq(col("dim"), col("xu")): _*)
    def sub(r: org.apache.spark.sql.Row): Long =
      if (keys.isEmpty) 0L else r.getAs[Long]("sub")
    def centOf(df: DataFrame): Cent =
      df.collect().toSeq.map { r =>
        (sub(r), r.getAs[Long]("cid")) ->
          (r.getAs[Long]("dim") -> r.getAs[Long]("cu"))
      }.groupBy(_._1).map { case (gc, ds) => gc -> ds.map(_._2).toMap }
    def asgOf(df: DataFrame): Asg =
      df.collect().map { r =>
        (r.getAs[Long]("vec_id"), sub(r)) -> r.getAs[Long]("cid")
      }.toMap

    for (n <- 0 to 3) {
      val cent = Lloyd.rounds(ve, keys, k, n)
      val want = replicaRounds(rows, n)
      assert(centOf(cent) == want, s"centroids after $n rounds")
      assert(asgOf(Lloyd.assign(ve, cent, keys, k)) ==
        replicaAssign(rows, want), s"assignment to round-$n centroids")
      if (n == 0) {
        // The tie is real: vec 3's distances to centroids 0 and 1 are
        // equal, and the lower cid takes it.
        val byD2 = Lloyd.keys(ve, cent, keys, k).filter(col("vec_id") === 3)
          .collect().map(r => r.getAs[Long]("key"))
          .groupBy(_ / k).values.map(_.map(_ % k).toSet).toSeq
        assert(byD2.exists(c => c(0L) && c(1L)),
          s"vec 3 is not equidistant from centroids 0 and 1: $byD2")
        assert(asgOf(Lloyd.assign(ve, cent, keys, k))
          .filter(_._1._1 == 3L).values.forall(_ == 0L))
      }
      if (n >= 1)
        assert(!centOf(cent).keySet.exists(_._2 == 2L),
          s"centroid 2 lost every member in round 1 but is present after $n rounds")
    }
  }

  test("keyless Lloyd (q214's shape) equals the replica through a tie and a drop") {
    check(Nil)
  }

  test("sub-keyed Lloyd (q277's shape) equals the replica through a tie and a drop") {
    check(Seq("sub"))
  }
}
