package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** General top-k principal components of an embedding column via the
  * distributed Gram matrix + driver-side deflated power iteration — the
  * k-component generalization of q265's top-3 routine (da.linalg.svd in
  * spirit: for PCA-shaped use, the top-k eigenpairs of AᵀA ARE the
  * right singular vectors and squared singular values).
  *
  * Scale split, the load-bearing design decision: the ONLY thing that
  * touches the (possibly 100 TB) corpus is the Gram accumulation — one
  * map-side-combined integer-unit aggregate whose output is dims²/2
  * longs regardless of corpus height (64 dims → 2,080 rows; even 4k
  * dims → 8.4M rows, still driver-safe). Everything after — k rounds of
  * 16-step power iteration with Hotelling deflation (M ← M − λ·v·vᵀ) —
  * is O(k · iters · dims²) driver arithmetic on that bounded matrix,
  * deliberately NOT distributed: distributing a 64×64 matvec would be
  * pure overhead.
  *
  * Determinism contract (shared with the q180/q265 oracles): Gram
  * entries are FLOOR(xⱼ·xₖ·1e9) integer units summed exactly (order-free
  * long addition; exact as doubles below 2⁵³ units — q180's documented
  * LIMIT); each iteration is a sequential left-fold matvec, an IEEE
  * √ norm, and a floor-quantized renorm (floor(t/λ·1e12)/1e12), so two
  * engines running the same recipe agree bit-for-bit. A near-flat
  * spectrum needs enough iterations per component that deflation
  * residual does not pollute later components (q265 measured 8 as too
  * few at the fixture spectrum; 16 converges).
  */
object GramPCA {

  /** The distributed leg as a frame — exposed so PlanEvidenceSpec can
    * pin its shape (partial aggregation: the wire carries at most
    * dims²/2 partials per task, never corpus-sized rows). */
  def gramFrame(emb: DataFrame, embCol: String, dims: Int): DataFrame =
    emb
      .select(col(embCol), explode(sequence(lit(0), lit(dims - 1))).as("j"))
      .select(col(embCol), col("j"),
        explode(sequence(col("j"), lit(dims - 1))).as("k"))
      .select(col("j"), col("k"),
        floor(element_at(col(embCol), col("j") + 1).cast("double")
          * element_at(col(embCol), col("k") + 1).cast("double")
          * lit(1e9)).as("u"))
      .groupBy(col("j"), col("k")).agg(sum(col("u")).as("g"))

  /** Distributed integer-unit Gram of `embCol` (array column, length
    * `dims`): upper triangle as FLOOR(xⱼ·xₖ·1e9) unit sums, mirrored
    * into a dense driver-side dims×dims matrix (unit domain). */
  def gramUnits(emb: DataFrame, embCol: String, dims: Int): Array[Array[Double]] = {
    val gramRows = gramFrame(emb, embCol, dims)
      .collect() // dims²-bounded by construction — the ONE deliberate collect
    val m = Array.ofDim[Double](dims, dims)
    gramRows.foreach { r =>
      val (j, k, v) = (r.getInt(0), r.getInt(1), r.getLong(2))
      m(j)(k) = v.toDouble; m(k)(j) = v.toDouble
    }
    m
  }

  /** Top-k eigenpairs of symmetric `m0` (NOT mutated) by power iteration
    * with Hotelling deflation. Returns (unit eigenvector, eigenvalue in
    * m0's domain) per component, extraction order. Arithmetic is exactly
    * q265's oracle-mirrored recipe — see the determinism contract above.
    */
  def deflateTopK(m0: Array[Array[Double]], k: Int,
      iters: Int = 16): Seq[(Array[Double], Double)] = {
    val dims = m0.length
    val m = m0.map(_.clone())
    (1 to k).map { _ =>
      var v = Array.fill(dims)(0.125)
      var lam = 0.0
      for (_ <- 1 to iters) {
        val y = Array.tabulate(dims) { j =>
          var acc = 0.0; var kk = 0
          while (kk < dims) { acc += m(j)(kk) * v(kk); kk += 1 }
          acc
        }
        var n2 = 0.0; var j = 0
        while (j < dims) { n2 += y(j) * y(j); j += 1 }
        lam = math.sqrt(n2)
        v = y.map(t => math.floor(t / lam * 1e12) / 1e12)
      }
      var j = 0
      while (j < dims) {
        var kk = 0
        while (kk < dims) { m(j)(kk) = m(j)(kk) - lam * v(j) * v(kk); kk += 1 }
        j += 1
      }
      (v, lam)
    }
  }

  /** Driver-matrix dims ceiling (r16 verdict #7): at the fixture's 64
    * dims the dims² collect is 2,080 rows and a driver matvec is pure
    * win, but a 1024-d production embedding makes it 524k rows ×
    * k·iters driver flops. Above this threshold [[topK]] switches to
    * [[distributedTopK]], which never materializes the matrix off the
    * cluster. Every registry query sits at 64 dims, so the oracle-
    * checked surface always takes the (bit-deterministic) driver path. */
  val DriverDimsMax = 128

  /** Convenience composition: top-k principal components of `embCol`
    * straight from the frame. Dispatches on dims — see
    * [[DriverDimsMax]]. */
  def topK(emb: DataFrame, embCol: String, dims: Int, k: Int,
      iters: Int = 16): Seq[(Array[Double], Double)] =
    if (dims <= DriverDimsMax) deflateTopK(gramUnits(emb, embCol, dims), k, iters)
    else distributedTopK(emb, embCol, dims, k, iters)

  /** Wide-dims path: the Gram matrix stays a persisted (j, k, g) frame
    * on the cluster; each power step is ONE map-side-combined aggregate
    * over it (y(j) = Σₖ g(j,k)·v(k)) and the driver holds only
    * dims-sized vectors. Hotelling deflation FACTORIZES — the
    * correction Σₖ λc·vc(j)·vc(k)·v(k) = λc·vc(j)·(vc·v) — so deflated
    * components become a rank-c driver correction on the matvec result
    * and the gram frame itself is never rewritten (no per-component
    * dims²-row update pass, no lineage growth). The v-vector rides each
    * step as a plan literal (dims doubles).
    *
    * Contract difference vs the driver path: the per-j aggregate sums
    * doubles in shuffle order, so this path promises EIGEN-RECOVERY
    * (spec-pinned on a synthetic spectrum, cross-validated against the
    * driver path) rather than the cross-engine bit-parity the oracle
    * queries need — no oracle rides it, by the [[DriverDimsMax]]
    * dispatch. Quantized renorm keeps per-step vectors bounded exactly
    * like the driver recipe. */
  def distributedTopK(emb: DataFrame, embCol: String, dims: Int, k: Int,
      iters: Int = 16): Seq[(Array[Double], Double)] = {
    val gramU = gramFrame(emb, embCol, dims)
    val full = gramU
      .unionByName(gramU.filter(col("j") =!= col("k"))
        .select(col("k").as("j"), col("j").as("k"), col("g")))
      .persist()
    full.count() // materialize once; k·iters matvec jobs then scan cache
    val comps = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Double)]
    for (_ <- 1 to k) {
      var v = Array.fill(dims)(0.125)
      var lam = 0.0
      for (_ <- 1 to iters) {
        val vLit = array(v.toSeq.map(lit): _*)
        val y = Array.ofDim[Double](dims)
        full.select(col("j"),
            (col("g").cast("double") * element_at(vLit, col("k") + 1)).as("c"))
          .groupBy(col("j")).agg(sum(col("c")).as("y"))
          .collect() // dims rows — the driver never sees dims² data
          .foreach(r => y(r.getInt(0)) = r.getDouble(1))
        comps.foreach { case (vc, lamC) =>
          var dotCv = 0.0
          var j = 0
          while (j < dims) { dotCv += vc(j) * v(j); j += 1 }
          j = 0
          while (j < dims) { y(j) -= lamC * vc(j) * dotCv; j += 1 }
        }
        var n2 = 0.0
        var j = 0
        while (j < dims) { n2 += y(j) * y(j); j += 1 }
        lam = math.sqrt(n2)
        v = y.map(t => math.floor(t / lam * 1e12) / 1e12)
      }
      comps += ((v, lam))
    }
    full.unpersist(blocking = false) // results are collected; nothing lazy remains
    comps.toSeq
  }
}
