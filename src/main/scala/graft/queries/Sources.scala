package graft.queries

import graft.{Q, Tables}
import graft.dsl._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources, sinks and null handling: SURVEY.md §2.1 (S1/S3/S6 csv, text,
  * json-lines round-trips), §2.2 P7 (fillna/dropna), P9 (sample).
  *
  * Round-trip queries write a sink under java.io.tmpdir and read it back in
  * the same plan — exercising the writer/reader pair end-to-end. Doubles
  * survive CSV round-trips exactly (shortest-round-trip formatting), which
  * the oracle (reading the ORIGINAL parquet) proves.
  */
object Sources extends Q.Module {

  // pid-discriminated paths + write-once-per-process: see Sinks scaladoc.
  private def tmp(name: String, d: String): String = Sinks.tmp(s"src_$name", d)

  // --- q58: CSV sink + glob scan with explicit schema (S1, S6).
  private val q58 = Q(
    "q58_source_csv_roundtrip",
    "S1/S6 csv: write part to CSV, re-read with schema, aggregate",
    (s, d) => {
      val path = tmp("csv", d)
      Sinks.once(path) {
        Tables.part(s, d).write.mode("overwrite")
          .option("header", "true").csv(path)
      }
      val schema = StructType(Seq(
        StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_brand", StringType), StructField("p_type", StringType),
        StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))
      s.read.option("header", "true").schema(schema).csv(path)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("total_price"))
        .orderBy(col("p_brand"))
    },
    Some(s"""SELECT p_brand, COUNT(*) AS n, ${dsumSql("p_retailprice")} AS total_price
    FROM part GROUP BY p_brand ORDER BY p_brand"""))

  // --- q59: text-lines sink/scan, the bag/read_text shape (S3, S6).
  private val q59 = Q(
    "q59_source_textlines",
    "S3 read_text: write document bodies as text lines, re-read, tokenize",
    (s, d) => {
      val path = tmp("txt", d)
      Sinks.once(path) {
        Tables.documents(s, d).select(col("text"))
          .write.mode("overwrite").text(path)
      }
      s.read.text(path)
        .select(size(split(col("value"), " ")).cast("long").as("n_tokens"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"))
    },
    Some("""SELECT COUNT(*) AS n_lines,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      CAST(MIN(len(string_split(text, ' '))) AS BIGINT) AS min_tokens,
      CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
    FROM documents"""))

  // --- q60: JSON-lines sink/scan (S3/S6; bag-of-dicts shape).
  private val q60 = Q(
    "q60_source_jsonlines",
    "S3 json-lines: write events subset as JSONL, re-read, aggregate",
    (s, d) => {
      val path = tmp("json", d)
      Sinks.once(path) {
        Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value"))
          .write.mode("overwrite").json(path)
      }
      s.read.json(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    },
    Some(s"""SELECT event_type, COUNT(*) AS n, ${dsumSql("value")} AS total_value
    FROM events GROUP BY event_type ORDER BY event_type"""))

  // --- q61: fillna over join-produced nulls (P7).
  private val q61 = Q(
    "q61_nulls_fillna",
    "P7 fillna: left join orders-1997, na.fill defaults, isNull flag",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(year(col("o_orderdate")) === 1997)
        .groupBy(col("o_custkey")).agg(dsum(col("o_totalprice")).as("spend_97"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .withColumn("no_orders_97", col("spend_97").isNull)
        .na.fill(Map("spend_97" -> -1.0))
        .select(col("c_custkey"), col("no_orders_97"), col("spend_97"))
        .orderBy(col("c_custkey"))
    },
    Some(s"""SELECT c_custkey, spend_97 IS NULL AS no_orders_97,
      COALESCE(spend_97, -1.0) AS spend_97
    FROM customer LEFT JOIN (
      SELECT o_custkey, ${dsumSql("o_totalprice")} AS spend_97
      FROM orders WHERE year(o_orderdate) = 1997 GROUP BY o_custkey) o
      ON c_custkey = o_custkey
    ORDER BY c_custkey"""))

  // --- q62: dropna (P7) — dropping join-produced null rows == inner join.
  private val q62 = Q(
    "q62_nulls_dropna",
    "P7 dropna: na.drop removes customers without 1996 orders",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(year(col("o_orderdate")) === 1996)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders_96"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .na.drop(Seq("n_orders_96"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"), sum(col("n_orders_96")).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n_customers,
      CAST(SUM(n_orders_96) AS BIGINT) AS n_orders
    FROM customer JOIN (
      SELECT o_custkey, COUNT(*) AS n_orders_96
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey) o
      ON c_custkey = o_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  // --- q63: seeded sample + repartition + persist (P9, S7, S8). Sampling
  //     is engine-specific → no oracle (driver records rows>0). The query
  //     proves the sample is deterministic per seed by sampling twice and
  //     intersecting.
  private val q63 = Q(
    "q63_sample_repartition",
    "P9/S7/S8 sample(seed)+persist+repartition (no oracle: engine RNG)",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"))
      // persist: consumed by both exceptAll legs AND the returned frame,
      // which outlives this builder — harness-owned cache (Verify/Bench
      // clearCache after each query is the paired release).
      val s1 = li.sample(withReplacement = false, 0.1, seed = 42)
        .repartition(8).persist()
      val s2 = li.sample(withReplacement = false, 0.1, seed = 42)
      // exceptAll, not intersect: (l_orderkey, l_linenumber) is not unique
      // in the fixture, and intersect would dedup identical sampled rows.
      val stable = s1.exceptAll(s2).count() == 0 && s2.exceptAll(s1).count() == 0
      s1.withColumn("pid", spark_partition_id())
        .agg(count(lit(1)).as("n_sampled"),
          countDistinct(col("pid")).as("n_partitions"),
          lit(stable).as("seed_stable"))
    },
    None)

  // --- q72: ORC sink + scan round-trip (second columnar format; same
  //     pushdown/pruning machinery as parquet via the vectorized reader).
  private val q72 = Q(
    "q72_source_orc_roundtrip",
    "S2/S6 orc: write supplier to ORC, re-read with pushdown, aggregate",
    (s, d) => {
      val path = tmp("orc", d)
      Sinks.once(path) {
        Tables.supplier(s, d).write.mode("overwrite").orc(path)
      }
      s.read.orc(path)
        .filter(col("s_acctbal") > 0)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), dsum(col("s_acctbal")).as("total_bal"))
        .orderBy(col("s_nationkey"))
    },
    Some(s"""SELECT s_nationkey, COUNT(*) AS n, ${dsumSql("s_acctbal")} AS total_bal
    FROM supplier WHERE s_acctbal > 0
    GROUP BY s_nationkey ORDER BY s_nationkey"""))

  // --- q87: stratified sampling — per-stratum fractions via
  //     stat.sampleBy (the class-rebalancing op of a training-data
  //     pipeline: downsample dominant languages, keep the tail). Engine
  //     RNG → no oracle; the result itself carries the checks: per-seed
  //     determinism (two draws compared) and per-stratum rates in a
  //     generous tolerance band.
  private val q87 = Q(
    "q87_sample_stratified",
    "P9✦ stratified sampleBy lang: rebalanced corpus (no oracle: engine RNG)",
    (s, d) => {
      val fr = Map("en" -> 0.2, "de" -> 0.5, "es" -> 0.5, "fr" -> 1.0, "zh" -> 1.0)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      def draw() = docs.stat.sampleBy("lang", fr, 42L)
      // NOTE (bench reader): the seed-stability self-check below runs 3
      // sampling plans + 2 exceptAll().count() ACTIONS inside this
      // builder — q87's bench time measures that self-check, not one
      // query (isolated ~0.6 s; a contended driver window multiplies
      // it). Legitimate only because this is a no-oracle query whose
      // checks must live in the result itself.
      // persist: harness-owned cache (see q63) — the returned frame
      // outlives this builder.
      val s1 = draw().persist()
      val stable = s1.exceptAll(draw()).count() == 0 &&
        draw().exceptAll(s1).count() == 0
      val base = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
      s1.groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        .join(base, Seq("lang"))
        .withColumn("target_frac",
          element_at(typedLit(fr), col("lang")))
        .withColumn("rate", col("n_sampled").cast("double") / col("n_total"))
        .withColumn("in_band",
          (col("rate") - col("target_frac")) <= 0.15 &&
            (col("target_frac") - col("rate")) <= 0.15)
        .withColumn("seed_stable", lit(stable))
        .orderBy(col("lang"))
    },
    None)

  // --- q152: DETERMINISTIC stratified sample — q87's rebalancing with
  //     per-stratum HASH thresholds instead of engine RNG, which moves
  //     class rebalancing into the hard oracle gate: keep a doc iff
  //     hashMod(doc_id, 1000) < thr(lang), thr = frac·1000 (q102's
  //     mixture idiom, per-stratum). Same fractions as q87; unknown
  //     strata default to 0 (dropped) on both engines. The sample is a
  //     pure codegen'd filter — no shuffle, no state, reproducible
  //     across engines/runs/retries, which is what a training-data
  //     shard spec needs (q87 stays as the engine-RNG sampleBy surface
  //     demo). Output is the sampled ROWS, so the hash match pins the
  //     exact membership, not just rates.
  private val q152 = Q(
    "q152_stratified_hash_sample",
    "P9✦ deterministic stratified sample via per-stratum hash thresholds",
    (s, d) => {
      val thr = typedLit(Map(
        "en" -> 200L, "de" -> 500L, "es" -> 500L, "fr" -> 1000L, "zh" -> 1000L))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"))
        .filter(hashMod(col("doc_id"), 1000)
          < coalesce(element_at(thr, col("lang")), lit(0L)))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang FROM documents
    WHERE (CAST(doc_id AS HUGEINT) * 2654435761) % 1000 <
      CASE lang WHEN 'en' THEN 200 WHEN 'de' THEN 500 WHEN 'es' THEN 500
        WHEN 'fr' THEN 1000 WHEN 'zh' THEN 1000 ELSE 0 END
    ORDER BY doc_id"""))

  // --- q85: XML sink + scan round-trip (built into Spark 4's spark-sql —
  //     the spark-xml package was merged upstream in 4.0). Explicit schema
  //     on re-read: XML inference would widen ints.
  private val q85 = Q(
    "q85_source_xml_roundtrip",
    "S3/S6 xml: write nation as XML rows, re-read with schema, aggregate",
    (s, d) => {
      val path = tmp("xml", d)
      Sinks.once(path) {
        Tables.nation(s, d).write.mode("overwrite")
          .option("rowTag", "nation").format("xml").save(path)
      }
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.option("rowTag", "nation").schema(schema).format("xml").load(path)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_nationkey")).cast("long").as("sum_keys"))
        .orderBy(col("n_regionkey"))
    },
    Some("""SELECT n_regionkey, COUNT(*) AS n,
      CAST(SUM(n_nationkey) AS BIGINT) AS sum_keys
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  // --- q88: S5 chunked array creation — the dask.array shape
  //     (`da.from_array` / `da.random((n, m), chunks=...)`) Spark-native:
  //     `spark.range(n)` is the partitioned (chunked) id axis — range is
  //     split across defaultParallelism partitions exactly like dask
  //     chunks — and a deterministic `transform(sequence(0, m-1),
  //     i -> f(id, i))` generates the m-wide second axis per row, all
  //     inside one codegen'd projection (no data is ever materialized on
  //     the driver). Reductions along BOTH axes: axis 1 (within a row) as
  //     a HOF fold in the same projection — zero shuffle — and axis 0
  //     (across rows) as an ordinary grouped aggregate — the one shuffle.
  //     f(id, i) integer arithmetic, not rand(seed): engine RNG streams
  //     differ, deterministic arithmetic gives DuckDB an exact twin
  //     (rand-based creation is exercised RNG-free via seeded sampling in
  //     q63/q87).
  private val q88 = Q(
    "q88_array_generate",
    "S5 generated arrays: range id axis + transform matrix, reduced along both axes",
    (s, _) => {
      val m = 16
      val mat = s.range(4096).select(col("id"),
        transform(sequence(lit(0), lit(m - 1)),
          i => (col("id") * 31 + i * 17) % 97).as("row"))
      mat.select(col("id"),
          aggregate(col("row"), lit(0L), (acc, v) => acc + v).as("row_sum"),
          array_min(col("row")).as("row_min"),
          array_max(col("row")).as("row_max"))
        .groupBy((col("id") % 8).as("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("row_sum")).as("sum_all"),
          min(col("row_min")).as("min_all"),
          max(col("row_max")).as("max_all"))
        .orderBy(col("grp"))
    },
    Some("""WITH t AS (
      SELECT id, list_transform(generate_series(0, 15), i -> (id * 31 + i * 17) % 97) AS row
      FROM range(4096) r(id)),
    rowred AS (
      SELECT id, CAST(list_sum(row) AS BIGINT) AS row_sum,
        CAST(list_min(row) AS BIGINT) AS row_min,
        CAST(list_max(row) AS BIGINT) AS row_max
      FROM t)
    SELECT id % 8 AS grp, COUNT(*) AS n_rows,
      CAST(SUM(row_sum) AS BIGINT) AS sum_all,
      MIN(row_min) AS min_all, MAX(row_max) AS max_all
    FROM rowred GROUP BY grp ORDER BY grp"""))

  // --- q96: distributed matrix multiply — the dask.array blockwise
  //     algebra shape (`A @ B`) as a relational plan: matrices in COO
  //     form (i, k, v), C[i,j] = Σ_k A[i,k]·B[k,j] is a join on the
  //     contraction index k + a grouped sum on (i, j). One shuffle per
  //     side (hash on k) + one aggregate shuffle — and the aggregate is
  //     partial/final, so the wire carries one partial per (i, j, task),
  //     not one row per multiply. At real scale you block the matrices
  //     (tile ids as extra key columns, same plan shape) so each join
  //     task multiplies a tile pair in memory — the relational form IS
  //     blocked matmul with 1×1 tiles. Integer entries → exact oracle.
  private val q96 = Q(
    "q96_array_matmul",
    "S5/array: COO matmul via join-on-k + grouped sum, exact integer oracle",
    (s, _) => {
      val a = s.range(128).select(col("id").as("i"),
          explode(sequence(lit(0L), lit(31L))).as("k"))
        .withColumn("a", (col("i") * 7 + col("k") * 3) % 11)
      val b = s.range(32).select(col("id").as("k"),
          explode(sequence(lit(0L), lit(23L))).as("j"))
        .withColumn("b", (col("k") * 5 + col("j") * 2) % 13)
      a.join(b, Seq("k"))
        .groupBy(col("i"), col("j"))
        .agg(sum(col("a") * col("b")).as("v"))
        .orderBy(col("i"), col("j"))
    },
    Some("""WITH a AS (
      SELECT i, k, (i * 7 + k * 3) % 11 AS a
      FROM range(128) t(i), (SELECT unnest(generate_series(0, 31)) AS k)),
    b AS (
      SELECT k, j, (k * 5 + j * 2) % 13 AS b
      FROM range(32) t(k), (SELECT unnest(generate_series(0, 23)) AS j))
    SELECT a.i, b.j, CAST(SUM(a.a * b.b) AS BIGINT) AS v
    FROM a JOIN b USING(k) GROUP BY 1, 2 ORDER BY i, j"""))

  // --- q263: MAP-OVERLAP STENCIL — the dask.array ghost-cell idiom
  //     (da.overlap.map_overlap(f, depth=r)): apply a radius-2 sliding
  //     kernel to a blocked 1-d array so that CHUNK-BOUNDARY outputs see
  //     their neighbors in adjacent chunks. Spark-first shape: a global
  //     ordered window would funnel the whole array through one sorter,
  //     so instead each element within r of a block edge REPLICATES into
  //     the neighbor block (the ghost/halo exchange — an explode over
  //     its ≤2 memberships, ~0.4% row inflation at B = 1024), the kernel
  //     runs as an ordinary window PARTITIONED by block with its halo
  //     complete, and only home-block outputs are kept. The array's true
  //     ends (id 0/1 and N−2/N−1) have no halo to fetch, so their c5 < 5
  //     — boundary semantics, not a bug. The oracle runs the SAME kernel
  //     as ONE global window in DuckDB and aggregates per block:
  //     matching block sums certify halo exchange == the global stencil
  //     (a broken halo shifts every block-edge s5). Integer x(id) keeps
  //     every kernel sum exact.
  private val q263 = Q(
    "q263_map_overlap_stencil",
    "S5/da.overlap ✦: radius-2 stencil over a blocked array via ghost-cell replication",
    (s, _) => {
      val w = org.apache.spark.sql.expressions.Window
      val base = s.range(32768).select(col("id"),
        ((col("id") * 31 + 7) % 101).as("x"))
      val ghosted = base
        .withColumn("blk", explode(expr(
          """filter(array(id div 1024,
               IF(id % 1024 < 2 AND id div 1024 > 0, id div 1024 - 1, NULL),
               IF(id % 1024 >= 1022 AND id div 1024 < 31, id div 1024 + 1,
                  NULL)),
             b -> b IS NOT NULL)""")))
      val win = w.partitionBy(col("blk")).orderBy(col("id"))
        .rowsBetween(-2, 2)
      ghosted
        .withColumn("s5", sum(col("x")).over(win))
        .withColumn("c5", count(lit(1)).over(win))
        .filter(expr("id div 1024") === col("blk"))
        .groupBy(col("blk"))
        .agg(count(lit(1)).as("n"), sum(col("s5")).as("sum_s5"),
          sum(col("c5")).as("sum_c5"), min(col("s5")).as("min_s5"),
          max(col("s5")).as("max_s5"))
        .orderBy(col("blk"))
    },
    Some("""WITH t AS (SELECT id, (id * 31 + 7) % 101 AS x
      FROM range(32768) r(id)),
    w AS (SELECT id,
        CAST(SUM(x) OVER (ORDER BY id
          ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS BIGINT) AS s5,
        CAST(COUNT(*) OVER (ORDER BY id
          ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS BIGINT) AS c5
      FROM t)
    SELECT id // 1024 AS blk, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(s5) AS BIGINT) AS sum_s5,
      CAST(SUM(c5) AS BIGINT) AS sum_c5,
      MIN(s5) AS min_s5, MAX(s5) AS max_s5
    FROM w GROUP BY 1 ORDER BY blk"""))

  // --- q264: DETERMINISTIC BOOTSTRAP (sample WITH replacement) — the
  //     resampling primitive q63/q87/q152 deliberately left out: those
  //     draw WITHOUT replacement, and engine RNG forbids a hash-parity
  //     oracle for rand()-based bootstrap. Here each order's replicate
  //     COUNT is an inverse-CDF Poisson(1) draw from the portable
  //     hashMod2L uniform (the standard bootstrap approximation of
  //     multinomial resampling — dask's df.sample(frac=1, replace=True)
  //     shape): u ∈ [0, 1e6) integer, k = F⁻¹(u) with MILLIONTH
  //     thresholds as integer literals (367879, 735759, 919699, 981012,
  //     996340 — hardcoded so no exp()/libm call enters the comparison;
  //     draws capped at 5, P(k>5) ≈ 6e-4 folds into k=5). Replication
  //     is explode(filter(sequence(1,5), i -> i ≤ k)) — codegen'd, no
  //     shuffle, k=0 rows drop (that ~36.8% of orders is the out-of-bag
  //     set). The readout compares original vs bootstrap per-priority
  //     order counts and mean cents — everything integer until the one
  //     presentation division. Fully oracle-checkable, unlike engine-RNG
  //     sampling; at 100 TB this is a zero-shuffle projection. The
  //     oracle verifies through the algebraic identity Σ_replicates f =
  //     Σ_rows k·f (DuckDB cannot bind an outer column inside a
  //     FROM-clause UNNEST lambda) — same result, and the Spark side
  //     still exercises the real explode machinery.
  private val q264 = Q(
    "q264_bootstrap_resample",
    "P9 ✦ bootstrap: sample-with-replacement via deterministic inverse-CDF Poisson(1) draws",
    (s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority").as("priority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      val drawn = o.withColumn("u6", hashMod2L(col("o_orderkey"), lit(1000000L)))
        .withColumn("k",
          when(col("u6") < 367879L, 0L).when(col("u6") < 735759L, 1L)
            .when(col("u6") < 919699L, 2L).when(col("u6") < 981012L, 3L)
            .when(col("u6") < 996340L, 4L).otherwise(5L))
      val boot = drawn
        .select(col("priority"), col("cents"),
          explode(filter(sequence(lit(1L), lit(5L)),
            i => i <= col("k"))).as("rep"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n_boot"), sum(col("cents")).as("sum_boot"))
      val orig = o.groupBy(col("priority"))
        .agg(count(lit(1)).as("n_orig"), sum(col("cents")).as("sum_orig"))
      orig.join(boot, Seq("priority"))
        .select(col("priority"), col("n_orig"), col("n_boot"),
          fpTrunc(col("sum_orig").cast("double") / col("n_orig") / 100, 4)
            .as("mean_orig"),
          fpTrunc(col("sum_boot").cast("double") / col("n_boot") / 100, 4)
            .as("mean_boot"))
        .orderBy(col("priority"))
    },
    Some(s"""WITH o AS (SELECT o_orderkey, o_orderpriority AS priority,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders),
    d AS (SELECT priority, cents,
        CASE WHEN u6 < 367879 THEN 0 WHEN u6 < 735759 THEN 1
          WHEN u6 < 919699 THEN 2 WHEN u6 < 981012 THEN 3
          WHEN u6 < 996340 THEN 4 ELSE 5 END AS k
      FROM (SELECT *, ${hashMod2LSql("o_orderkey", "1000000")} AS u6 FROM o)),
    boot AS (SELECT priority, CAST(SUM(k) AS BIGINT) AS n_boot,
        CAST(SUM(cents * k) AS BIGINT) AS sum_boot
      FROM d GROUP BY priority HAVING SUM(k) > 0),
    orig AS (SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_orig,
        CAST(SUM(cents) AS BIGINT) AS sum_orig
      FROM o GROUP BY priority)
    SELECT priority, n_orig, n_boot,
      FLOOR(CAST(sum_orig AS DOUBLE) / n_orig / 100 * 1e4) / 1e4
        AS mean_orig,
      FLOOR(CAST(sum_boot AS DOUBLE) / n_boot / 100 * 1e4) / 1e4
        AS mean_boot
    FROM orig JOIN boot USING (priority) ORDER BY priority"""))

  // --- q268: WEIGHTED SAMPLING WITHOUT REPLACEMENT (πps) — "draw
  //     k = 50 orders, big-ticket ones proportionally more often":
  //     Ohlsson's SEQUENTIAL POISSON SAMPLING, the survey-statistics
  //     standard for probability-proportional-to-size draws. Each row
  //     gets key u_i/w_i (u_i the portable-hash uniform, w_i = order
  //     cents) and the sample is the k smallest keys — inclusion prob.
  //     ≈ k·w_i/Σw. Unlike the Efraimidis–Spirakis u^(1/w) key (whose
  //     ln/pow is NOT bit-identical across engines — the q161 lesson),
  //     this key is ONE IEEE division of exact integers, so ordering is
  //     engine-identical with a (u6, key) tiebreak and the whole draw
  //     is reproducible. Scale shape: key is a codegen'd projection and
  //     the k-smallest select compiles to TakeOrderedAndProject (map-
  //     side per-partition top-k, k-row driver merge — no global sort);
  //     the in-result corpus mean (broadcast 1-row aggregate) shows the
  //     weighting bites: sampled mean cents ≫ corpus mean.
  private val q268 = Q(
    "q268_weighted_sample_pps",
    "P9 ✦ weighted sampling w/o replacement: sequential Poisson πps, exact top-k by u/w key",
    (s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority").as("priority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      val keyed = o
        .withColumn("u6", hashMod2L(col("o_orderkey"), lit(1000000L)) + 1)
        .withColumn("skey", col("u6").cast("double") / col("cents"))
      val corpus = o.agg(
        (sum(col("cents")).cast("double") / count(lit(1)) / 100)
          .as("corpus_mean"))
      keyed.orderBy(col("skey"), col("u6"), col("o_orderkey")).limit(50)
        .crossJoin(broadcast(corpus))
        .select(col("o_orderkey"), col("priority"),
          fpTrunc(col("cents").cast("double") / 100, 2).as("price"),
          col("skey"), fpTrunc(col("corpus_mean"), 4).as("corpus_mean"))
        .orderBy(col("skey"), col("u6"), col("o_orderkey"))
    },
    Some(s"""WITH o AS (SELECT o_orderkey, o_orderpriority AS priority,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders),
    keyed AS (SELECT *, ${hashMod2LSql("o_orderkey", "1000000")} + 1 AS u6,
        CAST(${hashMod2LSql("o_orderkey", "1000000")} + 1 AS DOUBLE) / cents
          AS skey
      FROM o),
    corpus AS (SELECT CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100
        AS corpus_mean FROM o)
    SELECT o_orderkey, priority,
      ${fpTruncSql("CAST(cents AS DOUBLE) / 100", 2)} AS price,
      skey, ${fpTruncSql("corpus_mean", 4)} AS corpus_mean
    FROM keyed, corpus
    ORDER BY skey, u6, o_orderkey LIMIT 50"""))

  // --- q267: 2-D SEPARABLE STENCIL — da.overlap in two dimensions
  //     (image-style blocked arrays). A 2-d ghost exchange needs corner
  //     halos and ×9 scatter inflation; a SEPARABLE kernel (3×3 box =
  //     horizontal 1-d sum ∘ vertical 1-d sum) needs neither: pass 1
  //     windows each ROW (partition ri, order cj, ±1) for the
  //     horizontal sums, pass 2 windows each COLUMN over those
  //     (partition cj, order ri, ±1) — two shuffles total, both
  //     perfectly keyed, no replication, no data-sized sort anywhere
  //     (partitions are single image rows/columns). Grid edges see
  //     fewer neighbors and c9 < 9 records it — boundary semantics as
  //     in q263. The oracle computes the SAME kernel non-separably (a
  //     9-offset neighbor join + groupBy cell), certifying the
  //     separable decomposition; integer x keeps every sum exact. The
  //     readout aggregates per 64×64 block so the result frame stays
  //     16 rows at any grid size.
  private val q267 = Q(
    "q267_stencil_2d_separable",
    "S5/da.overlap ✦: 3×3 box filter on a 2-d grid via separable row/column window passes",
    (s, _) => {
      val w = org.apache.spark.sql.expressions.Window
      val g = s.range(65536).select(
        expr("id div 256").as("ri"), (col("id") % 256).as("cj"),
        expr("((id div 256) * 31 + (id % 256) * 17 + 7) % 101").as("x"))
      val wh = w.partitionBy(col("ri")).orderBy(col("cj")).rowsBetween(-1, 1)
      val h = g.withColumn("hs", sum(col("x")).over(wh))
        .withColumn("hc", count(lit(1)).over(wh))
      val wv = w.partitionBy(col("cj")).orderBy(col("ri")).rowsBetween(-1, 1)
      h.withColumn("s9", sum(col("hs")).over(wv))
        .withColumn("c9", sum(col("hc")).over(wv))
        .groupBy(expr("ri div 64").as("bi"), expr("cj div 64").as("bj"))
        .agg(count(lit(1)).as("n"), sum(col("s9")).as("sum_s9"),
          sum(col("c9")).as("sum_c9"), min(col("s9")).as("min_s9"),
          max(col("s9")).as("max_s9"))
        .orderBy(col("bi"), col("bj"))
    },
    Some("""WITH t AS (SELECT id // 256 AS ri, id % 256 AS cj,
        (id // 256 * 31 + id % 256 * 17 + 7) % 101 AS x
      FROM range(65536) r(id)),
    o AS (SELECT u.u, v.v
      FROM generate_series(-1, 1) u(u), generate_series(-1, 1) v(v)),
    n AS (SELECT a.ri, a.cj, CAST(SUM(b.x) AS BIGINT) AS s9,
        CAST(COUNT(*) AS BIGINT) AS c9
      FROM t a JOIN o ON TRUE
        JOIN t b ON b.ri = a.ri + o.u AND b.cj = a.cj + o.v
      GROUP BY a.ri, a.cj)
    SELECT ri // 64 AS bi, cj // 64 AS bj, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(s9) AS BIGINT) AS sum_s9, CAST(SUM(c9) AS BIGINT) AS sum_c9,
      MIN(s9) AS min_s9, MAX(s9) AS max_s9
    FROM n GROUP BY 1, 2 ORDER BY bi, bj"""))

  // --- q266: BOOTSTRAP CONFIDENCE INTERVAL — what q264's single
  //     resample exists FOR: B = 32 independent deterministic replicates
  //     of the per-priority mean, read off as an empirical percentile
  //     interval (2nd smallest / 2nd largest replicate mean ≈ a 94% CI
  //     by the order-statistics rule (B+1−2·2)/(B+1)). Replicate b's
  //     draw for order o is Poisson(1) via the same integer-millionth
  //     inverse CDF as q264, keyed hashMod2L(o_orderkey·32 + b) so
  //     draws are independent across replicates but bit-reproducible.
  //     Scale shape: the corpus is read ONCE and exploded ×32 inside a
  //     codegen'd projection (no shuffle — this 32× pass IS the
  //     bootstrap's intrinsic cost), map-side combines into the
  //     (priority × 32)-row replicate frame, and all percentile
  //     machinery (row_number over 32-row groups) runs on that tiny
  //     frame. Each replicate mean is ONE exact-integer division;
  //     selection by (mean, b) needs no float tolerance.
  private val q266 = Q(
    "q266_bootstrap_ci",
    "P9 ✦ bootstrap CI: 32 deterministic Poisson replicates → empirical percentile interval",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority").as("priority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      val reps = o
        .select(col("priority"), col("cents"),
          explode(sequence(lit(0L), lit(31L))).as("b"),
          col("o_orderkey"))
        .withColumn("u6",
          hashMod2L(col("o_orderkey") * 32 + col("b"), lit(1000000L)))
        .withColumn("k",
          when(col("u6") < 367879L, 0L).when(col("u6") < 735759L, 1L)
            .when(col("u6") < 919699L, 2L).when(col("u6") < 981012L, 3L)
            .when(col("u6") < 996340L, 4L).otherwise(5L))
        .groupBy(col("priority"), col("b"))
        .agg(sum(col("k")).as("nb"), sum(col("cents") * col("k")).as("sb"))
        .withColumn("mean_b", col("sb").cast("double") / col("nb") / 100)
      val wLo = w.partitionBy(col("priority"))
        .orderBy(col("mean_b"), col("b"))
      val wHi = w.partitionBy(col("priority"))
        .orderBy(col("mean_b").desc, col("b").desc)
      val picked = reps
        .withColumn("rlo", row_number().over(wLo))
        .withColumn("rhi", row_number().over(wHi))
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n_reps"),
          min(when(col("rlo") === 2, col("mean_b"))).as("ci_lo"),
          min(when(col("rhi") === 2, col("mean_b"))).as("ci_hi"))
      val orig = o.groupBy(col("priority"))
        .agg((sum(col("cents")).cast("double") / count(lit(1)) / 100)
          .as("mean_orig"))
      orig.join(picked, Seq("priority"))
        .select(col("priority"), col("n_reps"),
          fpTrunc(col("mean_orig"), 4).as("mean_orig"),
          fpTrunc(col("ci_lo"), 4).as("ci_lo"),
          fpTrunc(col("ci_hi"), 4).as("ci_hi"))
        .orderBy(col("priority"))
    },
    Some(s"""WITH o AS (SELECT o_orderkey, o_orderpriority AS priority,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders),
    reps AS (SELECT priority, b,
        CAST(SUM(k) AS BIGINT) AS nb,
        CAST(SUM(cents * k) AS BIGINT) AS sb
      FROM (SELECT priority, cents, b,
          CASE WHEN u6 < 367879 THEN 0 WHEN u6 < 735759 THEN 1
            WHEN u6 < 919699 THEN 2 WHEN u6 < 981012 THEN 3
            WHEN u6 < 996340 THEN 4 ELSE 5 END AS k
        FROM (SELECT o.*, r.b,
            ${hashMod2LSql("o.o_orderkey * 32 + r.b", "1000000")} AS u6
          FROM o, generate_series(0, 31) r(b)))
      GROUP BY priority, b),
    m AS (SELECT priority, b, CAST(sb AS DOUBLE) / nb / 100 AS mean_b,
        ROW_NUMBER() OVER (PARTITION BY priority
          ORDER BY CAST(sb AS DOUBLE) / nb / 100, b) AS rlo,
        ROW_NUMBER() OVER (PARTITION BY priority
          ORDER BY CAST(sb AS DOUBLE) / nb / 100 DESC, b DESC) AS rhi
      FROM reps),
    picked AS (SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_reps,
        MIN(CASE WHEN rlo = 2 THEN mean_b END) AS ci_lo,
        MIN(CASE WHEN rhi = 2 THEN mean_b END) AS ci_hi
      FROM m GROUP BY priority),
    orig AS (SELECT priority,
        CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100 AS mean_orig
      FROM o GROUP BY priority)
    SELECT priority, n_reps,
      ${fpTruncSql("mean_orig", 4)} AS mean_orig,
      ${fpTruncSql("ci_lo", 4)} AS ci_lo,
      ${fpTruncSql("ci_hi", 4)} AS ci_hi
    FROM orig JOIN picked USING (priority) ORDER BY priority"""))

  // --- q99: SCHEMA EVOLUTION — a column added to a live dataset's later
  //     files (the most common lake migration). Two generations written
  //     under partition dirs v=1 (without n_regionkey) and v=2 (with);
  //     `mergeSchema` unions the file footers so old files surface the
  //     new column as NULL — no rewrite of historical data. The oracle
  //     reconstructs the same union from the source table. At 100 TB
  //     this is the difference between an O(new-files) migration and an
  //     O(lake) rewrite; mergeSchema's footer-union cost is why it is
  //     opt-in, so production pins the merged schema in the catalog.
  private val q99 = Q(
    "q99_schema_evolution",
    "S2/S6 schema evolution: mergeSchema over file generations, old rows NULL",
    (s, d) => {
      val path = tmp("evo", d)
      Sinks.once(path) {
        Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
          .write.mode("overwrite").parquet(s"$path/v=1")
        Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .write.mode("overwrite").parquet(s"$path/v=2")
      }
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n"),
          count(col("n_regionkey")).as("n_with_region"),
          sum(col("n_regionkey")).cast("long").as("sum_region"))
        .orderBy(col("v"))
    },
    Some("""WITH gens AS (
      SELECT 1 AS v, n_nationkey, CAST(NULL AS INT) AS n_regionkey FROM nation
      UNION ALL
      SELECT 2, n_nationkey, n_regionkey FROM nation)
    SELECT CAST(v AS INT) AS v, COUNT(*) AS n,
      COUNT(n_regionkey) AS n_with_region,
      CAST(SUM(n_regionkey) AS BIGINT) AS sum_region
    FROM gens GROUP BY v ORDER BY v"""))

  // --- q143: BINARY-FILE SOURCE — `spark.read.format("binaryFile")`,
  //     the ingestion path that turns raw files on disk (images, audio,
  //     scraped documents) into a (path, length, content) frame — the
  //     front door of every multimodal pipeline (q55/q56/q81/q133 then
  //     operate on the binary column). Staging: the first 25 documents
  //     are written as UTF-8 .txt files by an executor-side
  //     foreachPartition onto the shared filesystem (local-mode tmpdir
  //     here; an object-store/NFS mount in production — NOT a driver
  //     collect), once per process via Sinks. The scan side is the real
  //     product surface: binaryFile shards by file across tasks, prunes
  //     with pathGlobFilter, and never materializes more than one file
  //     per row. Oracle: sha-256 and byte length of the file content
  //     must equal DuckDB's hash/octet-length of the same documents'
  //     UTF-8 text — proving the bytes survived the disk round-trip
  //     bit-for-bit (including multibyte zh docs).
  private val q143 = Q(
    "q143_source_binaryfile",
    "S-family: binaryFile scan of staged raw files, byte-exact round-trip",
    (s, d) => {
      val dir = tmp("binfiles", d)
      Sinks.once(dir) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        Tables.documents(s, d).filter(col("doc_id") < 25)
          .select(col("doc_id"), col("text"))
          .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
            rows.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(s"$dir/doc_${r.getLong(0)}.txt"),
                r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
          }
      }
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(dir)
        .select(
          regexp_extract(col("path"), "doc_([0-9]+)\\.txt$", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          sha2(col("content"), 256).as("sha"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      sha256(text) AS sha
    FROM documents WHERE doc_id < 25 ORDER BY doc_id"""))

  // --- q246: DYNAMIC PARTITION OVERWRITE — the backfill pattern every
  //     partitioned lake needs: rewrite exactly ONE month's partition in
  //     place (corrected rows) while every other partition's files stay
  //     untouched. partitionOverwriteMode=dynamic scopes the overwrite
  //     to partitions present in the incoming frame — STATIC mode (the
  //     default) would delete the whole table root first, which at
  //     100 TB is the difference between rewriting 1/1000th of the lake
  //     and all of it. The verify reads the table BACK and checks both
  //     directions: the backfilled month contains only corrected rows
  //     (n_backfilled = n) and the neighboring months contain only
  //     originals (n_backfilled = 0) with their full row counts — if
  //     dynamic mode had clobbered siblings, the read-back counts drop
  //     and the oracle (which computes the expected post-backfill state
  //     from the source table) catches it. ym is the directory-inferred
  //     INT partition column on read-back.
  private val q246 = Q(
    "q246_dynamic_partition_overwrite",
    "S6 ✦ dynamic partition overwrite: single-month backfill, sibling partitions untouched",
    (s, d) => {
      val path = tmp("dpo", d)
      val base = Tables.orders(s, d)
        .withColumn("ym",
          expr("year(o_orderdate) * 100 + month(o_orderdate)"))
      Sinks.once(path) {
        base.write.mode("overwrite").partitionBy("ym").parquet(path)
        // The DYNAMIC overwrite mode is set on an ISOLATED session
        // (shared SparkContext, FRESH SQL conf from the shared initial/
        // builder conf — newSession does NOT copy runtime s.conf.set
        // changes, so any conf this write depends on must be builder-
        // level or re-set here): flipping it on the caller's session —
        // even inside try/finally — would let any concurrently-executing
        // query on that session observe DYNAMIC mid-flight and silently
        // change its own overwrite semantics.
        val bf = s.newSession()
        bf.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
        Tables.orders(bf, d)
          .withColumn("ym",
            expr("year(o_orderdate) * 100 + month(o_orderdate)"))
          .filter(col("ym") === 199506)
          .withColumn("o_orderpriority",
            concat(lit("BF-"), col("o_orderpriority")))
          .write.mode("overwrite").partitionBy("ym").parquet(path)
      }
      Tables.read(s, path)
        .filter(col("ym") >= 199504 && col("ym") <= 199508)
        .groupBy(col("ym"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderpriority").startsWith("BF-"), 1L)
            .otherwise(0L)).as("n_backfilled"))
        .orderBy(col("ym"))
    },
    Some("""WITH m AS (SELECT
        CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym
      FROM orders)
    SELECT ym, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(CASE WHEN ym = 199506 THEN COUNT(*) ELSE 0 END AS BIGINT)
        AS n_backfilled
    FROM m WHERE ym BETWEEN 199504 AND 199508
    GROUP BY ym ORDER BY ym"""))

  def defs: Seq[Q] = Seq(q58, q59, q60, q61, q62, q63, q72, q85, q87, q152, q88,
    q96, q99, q143, q246, q263, q264, q266, q267, q268)
}
