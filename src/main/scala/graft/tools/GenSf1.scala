package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sf1 fixture builder (scale-proof harness, not product
  * surface): 10× the sf0.1 fixture by key-shifted replication, so the
  * heavy-tail queries can be measured one decade above bench scale and
  * the sf0.1→sf1 scaling factor recorded in PLANS.md. The driver's own
  * generator recipe is not available; replication preserves the join
  * topology, key density (every id range stays 0..N−1-contiguous), and
  * value distributions exactly, which is what cost-scaling measurements
  * need.
  *
  * Replica-shift rules (replica i ∈ 0..9):
  *   - fact keys shift by the table's OWN key-space width (max key + 1,
  *     read from the source — at sf0.1 that is custkey +15000·i,
  *     orderkey +150000·i, event_id +100000·i, doc_id +5000·i,
  *     vec_id +2000·i; user_id shifts by the CUSTOMER width +15000·i so
  *     the user_id→c_custkey edge stays replica-local too) — FK edges
  *     stay valid within a replica and never cross replicas, at ANY
  *     source SF (GenSf1Spec drives the same path from sf0.001).
  *   - dimensions (region/nation/supplier/part) copy as-is: dims scale
  *     sublinearly in any real warehouse, and keeping them fixed makes
  *     the fact-side 10× the ONLY variable.
  *   - document text for replica i > 0 is the same token multiset with
  *     the words re-ordered by a per-(doc, replica) md5 sort key:
  *     replica texts stop being near-duplicates of the originals (their
  *     shingle sets diverge), so dedup queries scale with CORPUS SIZE
  *     rather than with an artificial 10-deep duplicate-cluster
  *     structure replication would otherwise inject — while the token
  *     unigram statistics (vocab, Zipf, lengths) scale naturally.
  *     Replica 0 keeps the original text byte-for-byte, so every
  *     fixture-injected pattern the queries probe for still exists.
  *   - embeddings for replica i > 0 get a deterministic ±5e-3 per-dim
  *     nudge (vec_id- and dim-keyed), so kNN/ANN tie structure is not
  *     10 identical copies of every vector.
  *   - events keep their timestamps (10× user population, same busy
  *     month — densifies windows the way real growth does) and write
  *     `ts` as BIGINT nanos, the contract Tables.events normalizes to.
  *
  * Usage: sbt "runMain graft.tools.GenSf1 /root/testdata/sf0.1 /root/repo/tmp/sf1"
  */
object GenSf1 {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/repo/tmp/sf1")
    // Optional third arg: comma-separated table subset ("documents,
    // embeddings,events") for a PARTIAL decade dir — the r15 verdict's
    // sf100 stretch needs only the tables the heavy-tail kernels read,
    // and the full fact chain (lineitem alone is ~11 GB at sf100) would
    // dominate the generation wall for receipts that never scan it. A
    // partial dir is receipt-grade only: full-registry runs need every
    // table.
    val tables = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    generate(graft.Session.local(), src, out, tables)
  }

  /** Writes the 10× fixture of `src` into `out` with the caller's
    * session, changing none of its runtime confs beyond
    * [[graft.SparkEntry.prepare]]. `tables` restricts the output to a
    * subset (None = all ten). */
  def generate(s: SparkSession, src: String, out: String,
      tables: Option[Set[String]] = None): Unit = {
    val knownTables = Set("region", "nation", "customer", "supplier",
      "part", "orders", "lineitem", "events", "documents", "embeddings")
    // Fail FAST on a typo (r16 advice): 'embedings' would otherwise
    // produce a partial decade dir silently missing the intended
    // table, surfacing only as a downstream AnalysisException far
    // from the cause (q331's first sf100 attempt was this class).
    val unknown = tables.getOrElse(Set.empty) -- knownTables
    require(unknown.isEmpty,
      s"unknown table(s) ${unknown.toSeq.sorted.mkString(", ")} - " +
        s"known: ${knownTables.toSeq.sorted.mkString(", ")}")
    val want: String => Boolean = tables.getOrElse(knownTables)
    // nanosAsLong: the width probe below reads events.parquet bare.
    graft.SparkEntry.prepare(s)
    new java.io.File(out).mkdirs()

    def reps(build: Int => DataFrame): DataFrame =
      (0 until 10).map(build).reduce(_ unionByName _)

    // Key-space width per shifted key: max + 1 from the source (keys are
    // 0-based contiguous in every fixture generation so far, but max+1 is
    // correct even if they stop being).
    def width(table: String, key: String): Long =
      s.read.parquet(s"$src/$table.parquet")
        .agg(max(col(key))).head().getLong(0) + 1L
    val wCust = width("customer", "c_custkey")
    val wOrd = width("orders", "o_orderkey")
    val wEvent = width("events", "event_id")
    val wDoc = width("documents", "doc_id")
    val wVec = width("embeddings", "vec_id")

    def write(name: String, df: => DataFrame, files: Int): Unit = {
      if (!want(name)) {
        System.err.println(s"[gensf1] $name: skipped (table filter)")
        return
      }
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      System.err.println(s"[gensf1] $name: " +
        s.read.parquet(s"$out/$name.parquet").count() + " rows")
    }

    // Dimensions: byte-for-byte copies.
    Seq("region", "nation", "supplier", "part").foreach { t =>
      write(t, s.read.parquet(s"$src/$t.parquet"), 2)
    }

    val cust = s.read.parquet(s"$src/customer.parquet")
    write("customer", reps(i => cust
      .withColumn("c_custkey", col("c_custkey") + lit(wCust * i))
      .withColumn("c_name", when(lit(i) === 0, col("c_name"))
        .otherwise(concat(col("c_name"), lit(s"#r$i"))))), 8)

    val ord = s.read.parquet(s"$src/orders.parquet")
    write("orders", reps(i => ord
      .withColumn("o_orderkey", col("o_orderkey") + lit(wOrd * i))
      .withColumn("o_custkey", col("o_custkey") + lit(wCust * i))), 8)

    val li = s.read.parquet(s"$src/lineitem.parquet")
    write("lineitem", reps(i => li
      .withColumn("l_orderkey", col("l_orderkey") + lit(wOrd * i))), 16)

    // events: ts normalized to the BIGINT-nanos contract before shifting.
    // Written as a DIRECTORY of part files since r15: fromEventsDir
    // detects the layout and scans the directory, so Trigger.AvailableNow
    // drains the decade fixtures in bounded multi-file micro-batches —
    // the r13 sf10 classification put the q108/q331 >60 s walls purely on
    // the old single-file layout (one input split, one giant batch). The
    // driver's own fixture stays single-file and keeps the glob path.
    // user_id shifts by the CUSTOMER key-space width, not its own: the
    // implicit user_id→c_custkey edge (q331's enrichment join, q169's
    // allowlist check) must stay replica-preserved — a wUser shift would
    // land every replica's users inside replica 0's customer key range,
    // changing the user↔customer match topology between SFs and
    // invalidating scaling conclusions for those joins. The resulting
    // user_id gaps are harmless: no query relies on user-id contiguity,
    // only on per-user grouping and the FK edge.
    if (want("events")) {
      val ev = graft.Tables.events(s, src)
      // Fail fast if the source breaks the shift's precondition: the
      // wCust shift keeps the user->customer edge replica-local ONLY
      // while every source user_id sits below the customer key-space
      // width. GenSf1Spec asserts this after generation, but a spec only
      // guards test runs — a violating source here would silently
      // produce cross-replica user/customer overlap, so the generator
      // itself must refuse.
      val maxUser = ev.agg(max(col("user_id"))).head().getLong(0)
      require(maxUser < wCust,
        s"events.user_id max $maxUser >= customer width $wCust: " +
          "the wCust shift would cross replica customer key ranges")
      val evAll = reps(i => ev
        .withColumn("event_id", col("event_id") + lit(wEvent * i))
        .withColumn("user_id", col("user_id") + lit(wCust * i)))
      // A stale single-FILE events.parquet from a pre-r15 generation
      // blocks the directory write — remove it first.
      val evDst = new java.io.File(s"$out/events.parquet")
      if (evDst.isFile) evDst.delete()
      write("events", evAll, 16)
    }

    val doc = s.read.parquet(s"$src/documents.parquet")
    write("documents", reps { i =>
      val shifted = doc.withColumn("doc_id", col("doc_id") + lit(wDoc * i))
      if (i == 0) shifted
      else shifted
        .withColumn("text", array_join(transform(
          array_sort(transform(split(col("text"), " "), w =>
            struct(md5(concat_ws(":", w, col("doc_id").cast("string"),
              lit(i.toString))).as("k"), w.as("w")))),
          x => x.getField("w")), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, 8)

    val emb = s.read.parquet(s"$src/embeddings.parquet")
    write("embeddings", reps { i =>
      val shifted = emb.withColumn("vec_id", col("vec_id") + lit(wVec * i))
      if (i == 0) shifted
      else shifted.withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          (x + (pmod(col("vec_id") * lit(31L) + j.cast("long") * lit(17L)
              + lit(i.toLong), lit(101L)).cast("float") - lit(50.0f))
            * lit(1e-4f)).cast("float")))
      // 32 files, not 4 (r17): at sf100 the 4-file layout put the whole
      // 2M-row corpus into ~4 parquet row groups, so every scan-side
      // stage of an embeddings-heavy kernel ran on <= 4 cores no matter
      // the split count (parquet reads whole row groups; measured: the
      // q50 probe-map's repartition MAP side was one 105 s task with 31
      // 60 ms siblings). A real lake has files >> cores; the fixture
      // should too.
    }, 32)

    System.err.println(s"[gensf1] done -> $out")
  }
}
