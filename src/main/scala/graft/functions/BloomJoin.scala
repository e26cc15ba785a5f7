package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.functions.{call_function, lit}

/** Bloom semi-join reduction helpers (q165).
  *
  * The probe is Spark's own `BloomFilterMightContain` — the exact
  * expression Catalyst's `InjectRuntimeFilter` plants when it decides a
  * join deserves a bloom reduction: codegen'd, and false ⇒ definitely
  * absent. It is deliberately NOT in the public function registry (the
  * optimizer normally owns it), so a plan that wants the reduction
  * explicitly — where the dim-side selectivity is known to the author,
  * not to stats — registers it on the session under a `graft_` name via
  * the same `functionRegistry.registerFunction` route as
  * [[CosineSimilarity]]. The expression requires its filter input to be
  * a CONSTANT (or scalar subquery), which pairs with the build side
  * below rather than a column-valued cross join.
  *
  * The build side is the public `df.stat.bloomFilter` — a distributed
  * `putLong` aggregate whose merged ~KB filter returns to the driver
  * (the same shape as q74's k-means centroids: a tiny trained artifact
  * from one pass, then a broadcast-able constant in the main plan).
  * `BloomFilterImpl.writeTo` is the serialization `readFrom` inside
  * `BloomFilterMightContain` expects, and both sides hash raw longs
  * through the same internal `putLong`/`mightContainLong` pair — no
  * manual xxhash64 wrapping (that is the INTERNAL aggregate's contract,
  * not this one's).
  */
object BloomJoin {

  /** Build a bloom filter over a LONG key column; returns it as a
    * constant binary Column ready for [[mightContain]]. */
  def buildFilter(dim: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double): Column = {
    val bf = dim.stat.bloomFilter(keyCol, expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    lit(bos.toByteArray)
  }

  /** might_contain(filter, key) — false ⇒ key definitely absent. The key
    * must be LongType (the expression's contract). */
  def mightContain(filter: Column, key: Column): Column =
    call_function("graft_might_contain", filter, key)

  /** The registry entry of `graft_might_contain`, built once. */
  private[graft] val entry: FunctionArity.Entry =
    FunctionArity.two("graft_might_contain", classOf[BloomFilterMightContain])(
      new BloomFilterMightContain(_, _))

  /** Register the probe under a `graft_` name on an existing session. */
  def register(spark: SparkSession): Unit = FunctionArity.register(spark, entry)
}
