package graft

import org.apache.spark.sql.functions._

/** Invariants of the sf1 scale-proof fixture builder (tools/GenSf1):
  * the scaling measurements in PLANS.md are only meaningful if the 10×
  * fixture preserves the join topology and distributions it claims to.
  * Runs the builder against sf0.001 (≈6k lineitem) into a temp dir —
  * the same code path as the sf1 build, two decades cheaper.
  */
class GenSf1Spec extends SparkSuite {

  test("GenSf1 output preserves row counts, FK validity, and replica semantics") {
    val out = java.nio.file.Files.createTempDirectory("gensf1spec").toString
    try {
      // The generator runs on the shared session and must leave its
      // runtime confs alone: a builder-side .config() on getOrCreate
      // rewrites them for every suite that runs after this one.
      val shuffleBefore = spark.conf.get("spark.sql.shuffle.partitions")
      graft.tools.GenSf1.generate(spark, sfDir, out)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == shuffleBefore,
        "GenSf1 changed the shared session's shuffle partitions")

      def cnt(t: String): Long = spark.read.parquet(s"$out/$t.parquet").count()
      def src(t: String): Long = spark.read.parquet(s"$sfDir/$t.parquet").count()

      // Facts scale exactly 10×; dims copy as-is.
      Seq("customer", "orders", "lineitem", "events", "documents",
        "embeddings").foreach { t =>
        assert(cnt(t) == 10 * src(t), s"$t: ${cnt(t)} != 10x ${src(t)}")
      }
      Seq("region", "nation", "supplier", "part").foreach { t =>
        assert(cnt(t) == src(t), s"dim $t changed size")
      }

      // FK validity: every orders.o_custkey resolves; every
      // lineitem.l_orderkey resolves (the key-shift must not tear edges).
      val c = spark.read.parquet(s"$out/customer.parquet")
      val o = spark.read.parquet(s"$out/orders.parquet")
      val l = spark.read.parquet(s"$out/lineitem.parquet")
      assert(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
        .count() == 0, "orphan o_custkey after shift")
      assert(l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti")
        .count() == 0, "orphan l_orderkey after shift")
      // No key collisions across replicas.
      assert(c.select("c_custkey").distinct().count() == c.count())
      assert(o.select("o_orderkey").distinct().count() == o.count())

      // Replica 0 documents are byte-identical to the source; replica
      // i > 0 keeps the token MULTISET but not the order (shingle
      // decorrelation — the property the dedup scaling claim rests on).
      val d0 = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val dOut = spark.read.parquet(s"$out/documents.parquet")
      val nSrcDocs = d0.count()
      assert(dOut.filter(col("doc_id") < nSrcDocs)
        .select(col("doc_id"), col("text")).exceptAll(d0).count() == 0,
        "replica 0 text not byte-identical")
      val srcTok = d0.select(col("doc_id"),
        sort_array(split(col("text"), " ")).as("toks"))
      val r1 = dOut.filter(col("doc_id") >= nSrcDocs
          && col("doc_id") < 2 * nSrcDocs)
        .select((col("doc_id") - nSrcDocs).as("doc_id"),
          sort_array(split(col("text"), " ")).as("toks"),
          col("text"))
      val joined = r1.join(srcTok.withColumnRenamed("toks", "src_toks"),
        Seq("doc_id")).persist()
      assert(joined.filter(col("toks") =!= col("src_toks")).count() == 0,
        "replica 1 token multiset drifted")
      // …and the ORDER must differ for multi-word docs (else shingles
      // would still collide and dedup would see 10-deep dup clusters).
      val reordered = joined
        .join(d0.withColumnRenamed("text", "src_text"), Seq("doc_id"))
        .filter(size(split(col("src_text"), " ")) >= 8)
      val same = reordered.filter(col("text") === col("src_text")).count()
      assert(same < reordered.count() / 100 + 5,
        s"$same of ${reordered.count()} multi-word replica texts kept source order")
      joined.unpersist(blocking = false)

      // Embeddings: replica vectors are near but not equal (nudge), and
      // events kept the BIGINT-nanos ts contract.
      val e = spark.read.parquet(s"$out/embeddings.parquet")
      val nVec = src("embeddings")
      val ej = e.filter(col("vec_id") >= nVec && col("vec_id") < 2 * nVec)
        .select((col("vec_id") - nVec).as("vec_id"), col("embedding").as("e1"))
        .join(spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding").as("e0")), Seq("vec_id"))
        .select(aggregate(zip_with(col("e0"), col("e1"), (a, b) =>
          abs(a.cast("double") - b.cast("double"))), lit(0.0),
          (acc, x) => acc + x).as("l1"))
      val l1s = ej.agg(min(col("l1")).as("mn"), max(col("l1")).as("mx"))
        .head()
      assert(l1s.getDouble(0) > 0.0, "replica embedding identical to source")
      assert(l1s.getDouble(1) < 1.0, "replica embedding nudge too large")
      assert(spark.read.parquet(s"$out/events.parquet")
        .schema("ts").dataType ==
        org.apache.spark.sql.types.LongType, "events ts lost nanos contract")

      // The implicit user_id→c_custkey edge is replica-preserved:
      // user_id shifts by the CUSTOMER width, so every event's replica
      // index agrees between its event_id and its user_id (a wUser
      // shift would put replica-i users inside replica 0's customer
      // range and change the user↔customer join topology across SFs).
      val wCustS = src("customer")
      val wEventS = src("events")
      assert(spark.read.parquet(s"$out/events.parquet")
        .filter(expr(s"event_id div $wEventS != user_id div $wCustS"))
        .count() == 0, "events replica index disagrees between event_id and user_id")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(out))
    }
  }
}
