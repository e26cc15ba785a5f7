package graft

/** Driver-contract invariants: the registry is well-formed, the flagship
  * smoke query returns rows, and every registered query executes on the
  * smallest fixture. */
class ContractSpec extends SparkSuite {

  test("query names are unique and oracle keys are a subset") {
    val names = SparkEntry.queries.keySet
    assert(names.nonEmpty)
    assert(SparkEntry.oracleSql.keySet.subsetOf(names),
      s"orphan oracle keys: ${SparkEntry.oracleSql.keySet -- names}")
  }

  test("entry (t1 smoke) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query named in COVERAGE.md exists in the registry") {
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")))
    val cited = "q\\d{2,3}_[a-z0-9_]+".r.findAllIn(md).toSet
    val names = SparkEntry.queries.keySet
    val stale = cited -- names
    assert(stale.isEmpty, s"COVERAGE.md cites non-existent queries: $stale")
    // and the map is total the other way: every query appears in the doc
    // (by full name or its qNN prefix — family rows cite ranges)
    val prefixes = "q\\d{2,3}".r.findAllIn(md).toSet
    val undocumented = names.filterNot(n =>
      cited.contains(n) || prefixes.contains(n.takeWhile(_ != '_')))
    assert(undocumented.isEmpty, s"queries missing from COVERAGE.md: $undocumented")
  }

  test("every registered query executes at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // README numbers rot silently (round 4 shipped "42 tests" against 45
  // actual) — derive each from the artifact it describes and assert the
  // doc carries the derived value, same contract as the COVERAGE.md sync.
  test("README counts match the registry and the test tree") {
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")))
    val n = SparkEntry.queries.size
    assert(md.contains(s"`SparkEntry.queries.size`, $n as of"),
      s"README query count drifted from $n")
    val noOracle = (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet)
      .map(_.takeWhile(_ != '_')).toSeq.sortBy(_.drop(1).toInt)
    assert(md.contains(
      s"the ${noOracle.size} engine-specific queries ${noOracle.mkString("/")}"),
      s"README no-oracle list drifted: expected ${noOracle.mkString("/")}")
    val suites = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/test/scala"))
      try s.filter(_.toString.endsWith("Spec.scala")).count()
      finally s.close()
    }
    assert(md.contains(s"$suites suites"), s"README suite count drifted from $suites")
  }

  // (file path, line) for every line of src/main/scala that is not a
  // comment line
  private lazy val mainCode: List[(java.nio.file.Path, String)] = {
    import scala.jdk.CollectionConverters._
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    def isComment(l: String): Boolean =
      Seq("//", "*", "/*").exists(l.trim.startsWith)
    files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.filterNot(isComment)
        .map(f -> _)
    }
  }

  private def filesWith(needle: String): Set[String] =
    mainCode.collect { case (f, l) if l.contains(needle) => f.getFileName.toString }.toSet

  // The session builder and the SPARK_GRAFT_* env reads once had a
  // hand-copy per main, and the copies drifted (the tests lacked
  // spark.rdd.compress, Verify ignored SPARK_GRAFT_SHUFFLE_PARTITIONS).
  test("one session builder and one place reading SPARK_GRAFT_* env") {
    assert(filesWith("SparkSession.builder()") == Set("Session.scala"))
    assert(filesWith("\"SPARK_GRAFT_").subsetOf(
      Set("Session.scala", "Bench.scala")),
      s"SPARK_GRAFT_* read in ${filesWith("\"SPARK_GRAFT_")}")
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.rdd.compress", "false") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  // Generations were once cut two ways: a persist of `df.rdd` as external
  // Rows (which keeps the RDD lineage and every shuffle file behind it)
  // and a local checkpoint, released through two doors. One mechanism
  // remains: local checkpoints, released through Gen.release.
  test("one generation mechanism: no rdd persist, one release door") {
    Seq(".rdd.persist(", "releaseLocalCheckpoint", "Memo.release").foreach { n =>
      assert(filesWith(n).isEmpty, s"$n found in ${filesWith(n)}")
    }
  }

  // Spark re-evaluates a currentRow→unboundedFollowing frame for every
  // row, so its cost is quadratic in the partition (q158's interpolation
  // grid was the worst case). The same values come from the reversed order's
  // running frame: first(x, ignoreNulls) becomes last(x, ignoreNulls),
  // a suffix sum a running sum.
  test("no currentRow→unboundedFollowing window frame") {
    val n = "Window.currentRow, Window.unboundedFollowing"
    assert(filesWith(n).isEmpty, s"$n found in ${filesWith(n)}")
  }

  // A fan-out width once came from `rdd.getNumPartitions` of the planned
  // frame: every call planned it, built its scan's reader (broadcasting
  // the Hadoop conf) and, over a broadcast join, ran a job while the
  // DataFrame was being built. Scan widths come from the file listing
  // (Tables.scanWidth).
  test("no planning probe: no getNumPartitions in src/main") {
    val n = "getNumPartitions"
    assert(filesWith(n).isEmpty, s"$n found in ${filesWith(n)}")
  }

  // Query code once installed extensions itself (23 register calls and
  // q84's rule install), q57 rebound lsh_bucket to 32 planes for every
  // later query on the session, and spec hooks were mutable globals in
  // query objects. SparkEntry.prepare installs GraftExtensions' one list
  // before every registry call, and a hook is an argument.
  test("one install list: no query registers a function or holds a @volatile global") {
    val queries = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val found = for {
      (f, l) <- mainCode if f.startsWith(queries)
      n <- Seq(".register(", ".install(", "@volatile") if l.contains(n)
    } yield s"${f.getFileName}: ${l.trim}"
    assert(mainCode.exists(_._1.startsWith(queries)))
    assert(found.isEmpty, found.mkString("\n"))
  }

  // GramPCA once kept a @volatile global that every topK call wrote, only
  // so a spec could see which path ran; a spec counts the path's jobs.
  test("no @volatile global anywhere in src/main") {
    val n = "@volatile"
    assert(filesWith(n).isEmpty, s"$n found in ${filesWith(n)}")
  }

  // The integer Lloyd loop was written out twice in Spark (q214's memo
  // and q277) and four times as DuckDB CTEs (q214, q286, q317, q277).
  // operators.Lloyd holds the one body and its one twin generator.
  test("the Lloyd arithmetic is written once per engine") {
    val twin = "MIN(d2 *"
    assert(filesWith(twin) == Set("Lloyd.scala"),
      s"$twin found in ${filesWith(twin)}")
    val queries = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val found = for {
      (f, l) <- mainCode if f.startsWith(queries)
      n <- Seq("def assign(", "def update(") if l.contains(n)
    } yield s"${f.getFileName}: ${l.trim}"
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("oracle SQL mentions only fixture tables") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // FROM/JOIN targets must be fixture tables or inline subqueries.
    val bad = SparkEntry.oracleSql.collect {
      case (name, sql) =>
        val refs = "(?i)(?:FROM|JOIN)\\s+([a-z_][a-z0-9_]*)".r
          .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
        // CTE names and aliases resolve before tables; only flag unknown
        // refs that are not defined as CTEs in the same statement. A CTE
        // may carry a column list (recursive form: `reach(src, dst) AS (`).
        val ctes = "(?i)([a-z_][a-z0-9_]*)\\s*(?:\\([^)]*\\))?\\s+AS\\s*(?:MATERIALIZED\\s*)?\\(".r
          .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
        name -> (refs -- tables -- ctes)
    }.filter(_._2.nonEmpty)
    // Inline VALUES/derived-table aliases and generator table functions
    // (q88's FROM range(n)) are fine; just surface surprises.
    val unknown = bad.filterNot { case (_, refs) =>
      refs.forall(r => Set("t", "t2", "o", "r", "bands", "cand", "jp",
        "sh", "sh0", "sz", "pr", "sig", "banded", "wc", "bits", "fp", "iw", "h",
        "w", "f", "eb", "e2", "cond", "range", "rowred",
        "generate_series").contains(r))
    }
    assert(unknown.isEmpty, unknown.mkString("\n"))
  }
}
