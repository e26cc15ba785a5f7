package graft

import scala.util.Random

/** operators.GramPCA — the general-k routine behind q265 (k=3) and
  * q274 (k=5). Three legs:
  *   1. spectrum recovery on a SYNTHETIC matrix with a known eigensystem
  *      (random orthonormal basis, well-separated eigenvalues): the
  *      driver-side deflated power iteration must recover each λ within
  *      1% and each eigenvector direction within |cos| > 0.99 — this is
  *      the "is it actually an eigensolver" test no fixture query can
  *      express (the fixture spectrum is near-flat).
  *   2. distributed Gram parity: gramUnits over a tiny frame equals the
  *      same floor-unit accumulation computed locally — pins the
  *      exploded-upper-triangle aggregate to its definition.
  *   3. fixture sanity at k=5 (q274's instantiation): extracted
  *      components pairwise near-orthogonal (the invariant deflation
  *      exists for) and λ non-increasing within 5% — the fixture tail
  *      eigenvalues are nearly TIED, so 16-step-converged extraction
  *      can invert adjacent ones by a couple percent (measured: λ3→λ4
  *      +2% at sf0.001). Extraction stays deterministic and
  *      oracle-matched; strict descent only holds for separated
  *      spectra (leg 1 proves that case at 1%).
  */
class GramPCASpec extends SparkSuite {

  test("deflated power iteration recovers a known spectrum") {
    val dims = 16
    val rng = new Random(7)
    // Random orthonormal basis via Gram-Schmidt on seeded gaussians.
    val basis = Array.ofDim[Double](4, dims)
    for (i <- 0 until 4) {
      var v = Array.fill(dims)(rng.nextGaussian())
      for (j <- 0 until i) {
        val d = v.zip(basis(j)).map { case (a, b) => a * b }.sum
        v = v.zip(basis(j)).map { case (a, b) => a - d * b }
      }
      val n = math.sqrt(v.map(t => t * t).sum)
      basis(i) = v.map(_ / n)
    }
    val lams = Array(100.0, 40.0, 10.0, 2.0)
    val m = Array.tabulate(dims, dims) { (j, k) =>
      (0 until 4).map(i => lams(i) * basis(i)(j) * basis(i)(k)).sum
    }
    val got = graft.operators.GramPCA.deflateTopK(m, 3, iters = 60)
    got.zipWithIndex.foreach { case ((v, lam), i) =>
      assert(math.abs(lam - lams(i)) <= 0.01 * lams(i),
        s"component $i: lambda $lam vs ${lams(i)}")
      val cos = math.abs(v.zip(basis(i)).map { case (a, b) => a * b }.sum)
      assert(cos > 0.99, s"component $i: |cos(v, truth)| = $cos")
    }
    // the input matrix must not be mutated (deflateTopK clones)
    assert(m(0)(0) == (0 until 4).map(i => lams(i) * basis(i)(0) * basis(i)(0)).sum)
  }

  test("distributed gramUnits == local floor-unit accumulation") {
    import spark.implicits._
    val rng = new Random(11)
    val dims = 6
    val rows = Seq.fill(40)(Array.fill(dims)((rng.nextInt(2000) - 1000) / 250.0f))
    val df = rows.toDF("embedding")
    val got = graft.operators.GramPCA.gramUnits(df, "embedding", dims)
    for (j <- 0 until dims; k <- j until dims) {
      val want = rows.map(r =>
        math.floor(r(j).toDouble * r(k).toDouble * 1e9).toLong).sum.toDouble
      assert(got(j)(k) == want, s"gram($j,$k): ${got(j)(k)} vs $want")
      assert(got(k)(j) == want, "mirror")
    }
  }

  test("256-d corpus takes the distributed path and matches the driver eigensystem") {
    // The r16 verdict #7 stretch: a production-width embedding must not
    // route through the dims² driver collect. Synthetic 256-d corpus
    // with a separated 2-component spectrum + noise; topK must (1)
    // dispatch to the distributed matvec above DriverDimsMax, (2) agree
    // with the driver-path eigensystem on the SAME data (the driver
    // path is still fine at 256 dims inside a test — 32,896 rows), and
    // (3) recover the planted leading direction.
    import spark.implicits._
    val rng = new Random(13)
    val dims = 256
    val u = Array.fill(dims)(rng.nextGaussian())
    val un = math.sqrt(u.map(t => t * t).sum)
    val u1 = u.map(_ / un)
    val w = Array.fill(dims)(rng.nextGaussian())
    val wOrth0 = {
      val d = w.zip(u1).map { case (a, b) => a * b }.sum
      w.zip(u1).map { case (a, b) => a - d * b }
    }
    val wn = math.sqrt(wOrth0.map(t => t * t).sum)
    val u2 = wOrth0.map(_ / wn)
    val rows = Seq.fill(400) {
      val (s1, s2) = (rng.nextGaussian() * 4, rng.nextGaussian() * 1.5)
      Array.tabulate(dims)(j =>
        (s1 * u1(j) + s2 * u2(j) + rng.nextGaussian() * 0.05).toFloat)
    }
    val df = rows.toDF("embedding")
    assert(dims > graft.operators.GramPCA.DriverDimsMax)
    // The distributed path runs at least one matvec job per power step
    // (k·iters = 32); the driver path collects the Gram once.
    var dist: Seq[(Array[Double], Double)] = Nil
    val jobs = jobsDuring {
      dist = graft.operators.GramPCA.topK(df, "embedding", dims, 2)
    }
    assert(jobs >= 2 * 16,
      s"256 dims ran $jobs jobs: routed through the driver-matrix collect")
    val driver = graft.operators.GramPCA.deflateTopK(
      graft.operators.GramPCA.gramUnits(df, "embedding", dims), 2)
    dist.zip(driver).zipWithIndex.foreach { case (((vd, ld), (vv, lv)), i) =>
      assert(math.abs(ld - lv) <= 1e-6 * lv,
        s"component $i lambda: distributed $ld vs driver $lv")
      val cos = math.abs(vd.zip(vv).map { case (a, b) => a * b }.sum)
      assert(cos > 0.999999, s"component $i direction: |cos| = $cos")
    }
    val cosU = math.abs(dist.head._1.zip(u1).map { case (a, b) => a * b }.sum)
    assert(cosU > 0.99, s"leading component missed the planted axis: $cosU")
    spark.catalog.clearCache()
  }

  test("fixture top-5 (q274's k): lambdas near-sorted, components near-orthogonal") {
    // 64 dims take the driver path: one Gram collect, no matvec jobs.
    val emb = Tables.embeddings(spark, sfDir)
    var comps: Seq[(Array[Double], Double)] = Nil
    val jobs = jobsDuring {
      comps = graft.operators.GramPCA.topK(emb, "embedding", 64, 5)
    }
    assert(jobs <= 2, s"64 dims ran $jobs jobs: not the driver path")
    comps.sliding(2).foreach { case Seq((_, l1), (_, l2)) =>
      assert(l2 <= l1 * 1.05, s"lambda increased past tie-band: $l1 -> $l2")
    }
    for (i <- comps.indices; j <- i + 1 until comps.size) {
      val dot = comps(i)._1.zip(comps(j)._1)
        .map { case (a, b) => a * b }.sum
      assert(math.abs(dot) < 0.05,
        s"components $i,$j not orthogonal: dot=$dot")
    }
  }
}
