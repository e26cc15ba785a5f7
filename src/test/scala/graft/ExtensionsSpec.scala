package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.functions._

/** graft.plans.GraftExtensions — the `withExtensions` deployment route.
  *
  * A second SparkSession is built THROUGH the extensions class on the
  * shared SparkContext (clearDefault/clearActive + getOrCreate — the
  * public way to get a fresh session without a second context), then:
  *   1. all four injected functions resolve from PURE SQL TEXT — no
  *      Scala-side register(spark) call anywhere on this session;
  *   2. the optimizer rule fires on a parquet-backed naive levenshtein
  *      bound exactly as the imperatively-installed rule does;
  *   3. the SmallSort planner strategy is the same object on both routes.
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

  test("injected functions resolve from pure SQL on a withExtensions session") {
    withExtSession { s2 =>
      val c = s2.sql(
        "SELECT cosine_sim(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS c")
        .collect()(0).getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12, s"cosine_sim self-sim = $c")
      // lsh_bucket: same vector → same bucket, and the value is a long.
      val b = s2.sql(
        "SELECT lsh_bucket(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT))) AS b")
        .collect()(0).getLong(0)
      val b2 = s2.sql(
        "SELECT lsh_bucket(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT))) AS b")
        .collect()(0).getLong(0)
      assert(b == b2)
      val d = s2.sql(
        "SELECT int_dot(array(1, 2, 3), array(4, 5, 6)) AS d")
        .collect()(0).getLong(0)
      assert(d == 32L, s"int_dot([1,2,3],[4,5,6]) = $d")
      assert(s2.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("graft_might_contain")))
    }
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
