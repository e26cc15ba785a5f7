package graft

import scala.util.Random

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.{BloomJoin, CosineSimilarity, IntDotProduct, SignLshBucket, TopCells, WordNgrams}
import graft.plans.GraftExtensions

/** graft.plans.GraftExtensions — the one install list and its two
  * routes: `withExtensions` at session build time, and
  * `SparkEntry.prepare` on a live session.
  *
  * A second SparkSession is built THROUGH the extensions class on the
  * shared SparkContext (clearDefault/clearActive + getOrCreate — the
  * public way to get a fresh session without a second context), then:
  *   1. all six functions resolve from PURE SQL TEXT — no Scala-side
  *      register(spark) call anywhere on this session — and so do they
  *      on the shared session after `prepare`;
  *   2. the optimizer rule fires on a parquet-backed naive levenshtein
  *      bound exactly as the imperatively-installed rule does;
  *   3. the SmallSort planner strategy is the same object on both routes;
  *   4. a repeat install puts the same registry entries, and no query
  *      changes what `lsh_bucket` means for later queries.
  */
class ExtensionsSpec extends SparkSuite {

  private def withExtSession[A](f: SparkSession => A): A = {
    val old = spark // force lazy init of the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      f(s2) // do NOT s2.stop(): that would stop the shared context
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  private def floats(xs: Seq[Double]): String =
    xs.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")

  /** Every function of the install list, called from SQL text on `s`. */
  private def allSixResolve(s: SparkSession): Unit = {
    def one(sql: String) = s.sql(s"SELECT $sql").collect()(0)
    val c = one(s"cosine_sim(${floats(Seq(3, 4))}, ${floats(Seq(3, 4))})").getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12, s"cosine_sim self-sim = $c")
    // lsh_bucket: same vector → same bucket, and the value is a long.
    val b = one(s"lsh_bucket(${floats(Seq(1, -2))})").getLong(0)
    assert(b == one(s"lsh_bucket(${floats(Seq(1, -2))})").getLong(0))
    val d = one("int_dot(array(1, 2, 3), array(4, 5, 6))").getLong(0)
    assert(d == 32L, s"int_dot([1,2,3],[4,5,6]) = $d")
    val bf = BloomFilter.create(100, 0.01)
    bf.putLong(5L)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val hex = bos.toByteArray.map(b => f"$b%02X").mkString
    assert(one(s"graft_might_contain(X'$hex', CAST(5 AS BIGINT))").getBoolean(0))
    assert(one("word_ngrams('a b c', 2)").getSeq[String](0) == Seq("a b", "b c"))
    // Centroid 7 is (0, 1) and centroid 9 is (1, 0): (1, 0)'s top cell is 9.
    val top = one(s"top_cells(${floats(Seq(1, 0))}, array(CAST(7 AS BIGINT), " +
      s"CAST(9 AS BIGINT)), ${floats(Seq(0, 1, 1, 0))}, 1)").getSeq[Long](0)
    assert(top == Seq(9L), s"top_cells = $top")
    val names = GraftExtensions.functions.map(_._1.funcName).toSet
    assert(names == Set("cosine_sim", "lsh_bucket", "int_dot",
      "graft_might_contain", "word_ngrams", "top_cells"))
  }

  test("injected functions resolve from pure SQL on a withExtensions session") {
    withExtSession(allSixResolve)
  }

  test("prepare installs the same six functions on the shared session") {
    SparkEntry.prepare(spark)
    allSixResolve(spark)
  }

  test("a repeat install puts the same registry entries") {
    SparkEntry.prepare(spark)
    val reg = spark.sessionState.functionRegistry
    def infos() = GraftExtensions.functions.map(f => reg.lookupFunction(f._1).get)
    val first = infos()
    assert(first.zip(GraftExtensions.functions).forall { case (i, f) => i eq f._2 })
    SparkEntry.prepare(spark)
    Seq(CosineSimilarity.register _, SignLshBucket.register _, IntDotProduct.register _,
      BloomJoin.register _, WordNgrams.register _, TopCells.register _).foreach(_(spark))
    val again = infos()
    assert(first.zip(again).forall { case (a, b) => a eq b },
      "a repeat install replaced a registered function")
  }

  // lsh_bucket once took its plane count from the session: q57
  // registered 32 planes, and every later lsh_bucket(v) on the session
  // returned a 32-plane bucket. The plane count is part of the call.
  test("lsh_bucket(v) stays 16 planes after q57, and lsh_bucket(v, 32) is q57's kernel") {
    val rng = new Random(57)
    val v = Array.fill(64)((rng.nextInt(9) - 4) / 2.0) // exact as floats
    def replica(planes: Int): Long = {
      val c = SignLshBucket.coeffs(planes)
      (0 until planes).foldLeft(0L) { (b, p) =>
        var acc = 0.0
        v.indices.foreach(j => acc += v(j).toFloat.toDouble * c(p)(j))
        if (acc > 0) b + (1L << p) else b
      }
    }
    assert((replica(32) >>> 16) != 0, "pick a v with a 32-plane bit >= 16")
    val vSql = floats(v.toSeq)
    def bucket(s: SparkSession, call: String): Long =
      s.sql(s"SELECT $call").collect()(0).getLong(0)
    val ext16 = withExtSession(bucket(_, s"lsh_bucket($vSql)"))
    assert(SparkEntry.queries("q57_ann_lsh_buckets")(spark, sfDir).collect().nonEmpty)
    spark.catalog.clearCache()
    assert(bucket(spark, s"lsh_bucket($vSql)") == ext16)
    assert(ext16 == replica(16))
    assert(bucket(spark, s"lsh_bucket($vSql, 32)") == replica(32))
  }

  test("lsh_bucket rejects a plane count outside 1..64 or not a literal") {
    SparkEntry.prepare(spark)
    val v = floats(Seq(1, -2))
    for (call <- Seq(s"lsh_bucket($v, 0)", s"lsh_bucket($v, 65)",
        s"lsh_bucket($v, n) FROM VALUES (32) AS t(n)", s"lsh_bucket($v, 32, 1)"))
      intercept[AnalysisException](spark.sql(s"SELECT $call").collect())
  }

  test("the optimizer rule rides the extensions route") {
    withExtSession { s2 =>
      val docs = Tables.documents(s2, sfDir)
        .select(col("doc_id"), substring(col("text"), 1, 12).as("head"))
      val a = docs.select(col("doc_id").as("da"), col("head").as("ha"))
      val b = docs.select(col("doc_id").as("db"), col("head").as("hb"))
      val le = a.crossJoin(b).filter(col("da") < col("db"))
        .filter(levenshtein(col("ha"), col("hb")) <= 2)
      val rewritten = le.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.collect {
            case l: Levenshtein if l.threshold.isDefined => l
          }
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.condition.toSeq.flatMap(_.collect {
            case l: Levenshtein if l.threshold.isDefined => l
          })
      }.flatten
      assert(rewritten.nonEmpty,
        "naive bound not rewritten on the withExtensions session")
    }
  }

  test("the SmallSort strategy is the same object on both routes") {
    val small = graft.plans.SmallSort
    withExtSession { s2 =>
      assert(s2.sessionState.planner.strategies.count(_ eq small) == 1)
      val df = Tables.region(s2, sfDir).select(col("r_regionkey")).orderBy(col("r_regionkey").desc)
      assert(df.head().getInt(0) == 4)
      // A narrow chain over a small file scan sorts in place.
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Coalesce 1") && !plan.contains("Gather"), plan)
      // A range is not a file scan: it gathers.
      val range = s2.range(100).orderBy(col("id").desc)
      assert(range.head() == 99L)
      val rangePlan = range.queryExecution.executedPlan.toString
      assert(rangePlan.contains("Gather") && !rangePlan.contains("Coalesce"), rangePlan)
    }
    small.register(spark)
    small.register(spark) // idempotent
    assert(spark.experimental.extraStrategies.count(_ eq small) == 1)
    assert(spark.sessionState.planner.strategies.count(_ eq small) == 1)
  }
}
