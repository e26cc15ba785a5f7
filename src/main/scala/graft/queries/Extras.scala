package graft.queries

import graft.{Q, Tables}
import graft.dsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Remaining surface: spark.ml LSH integration, TF-IDF, pivot, map ops.
  */
object Extras extends Q.Module {

  // --- q64: spark.ml MinHashLSH integration (the library-provided scale
  //     path for fuzzy dedup; q48 is the from-scratch equivalent). Model
  //     hashes are seed-fixed but Spark-specific → no oracle. Two modes
  //     behind the corpus-size gate (r15 verdict #2): the library's own
  //     approxSimilarityJoin at fixture SFs, and above 10k documents a
  //     banded candidate join over the SAME fitted model's hashes —
  //     spark.ml bands are single-hash (pure OR-amplification, collision
  //     prob = s per table), so its candidate volume explodes on a dense
  //     corpus; compositing the 4 hashes into 2 AND-amplified bands
  //     (collision prob s² each) collapses it while the verify stays
  //     ml-exact (same index-set jaccard, same strict < threshold).
  //     MlLshAnnSpec pins the banded result ⊆ the library result with
  //     measured recall on the fixture corpus.
  private[graft] def mlLshPairs(s: SparkSession, d: String,
      forceAnn: Option[Boolean] = None): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, NGram, Tokenizer}
    val docs = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    // Featurize on word 3-grams, not unigrams: the synthetic vocabulary
    // is ~40 words, so unigram binary vectors are near-identical across
    // the corpus, every minhash bucket holds every document, and the
    // LSH join degenerates to a spilling cartesian product. Trigrams
    // (same shingles as q47/q48) are discriminative.
    val tok = new Tokenizer().setInputCol("text").setOutputCol("words")
    val ng = new NGram().setN(3).setInputCol("words").setOutputCol("grams")
    val tf = new HashingTF().setInputCol("grams").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    // persist: fit + transform + (ann) signature/index extraction each
    // re-run the tokenize→ngram→hashingTF lineage otherwise (3 corpus
    // passes at sf10). MEMORY_AND_DISK spills; harness clearCache frees.
    val featured = tf.transform(ng.transform(tok.transform(docs))).persist()
    // 4 single-hash tables, not 8: spark.ml bands are single-hash (pure
    // OR-amplification), so candidate volume — and the dominant cost,
    // the per-candidate jaccard on sparse vectors — grows linearly with
    // tables. 4 keeps recall high at half the candidate work.
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(4).setSeed(42L)
    val model = lsh.fit(featured)
    // Query-against-index shape: a bounded query set probes the full
    // corpus — the deployment pattern at scale (the symmetric self-join
    // is q48's job).
    if (forceAnn.getOrElse(
        Vectors.corpusExceedsAnnGate(s, d, "documents", Tables.documents))) {
      import org.apache.spark.ml.functions.vector_to_array
      import s.implicits._
      // The model's 4 single-value hash vectors, composited into 2
      // AND-bands: (h0,h1) and (h2,h3). A composite collision implies
      // both single-hash collisions, so the candidate set — and hence
      // the result — is a strict subset of approxSimilarityJoin's.
      val sig = model.transform(featured).select(col("doc_id") +:
        (0 until 4).map(i =>
          element_at(vector_to_array(element_at(col("hashes"), i + 1)), 1)
            .cast("long").as(s"h$i")): _*)
      val bands = sig.select(col("doc_id"), explode(array(
          struct(lit(0).as("band"), concat_ws(":", col("h0"), col("h1")).as("key")),
          struct(lit(1).as("band"), concat_ws(":", col("h2"), col("h3")).as("key"))))
          .as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      val cand = bands.filter(col("doc_id") < 250)
        .select(col("doc_id").as("da"), col("band"), col("key"))
        .join(bands.select(col("doc_id").as("db"), col("band"), col("key")),
          Seq("band", "key"))
        .filter(col("da") < col("db"))
        .select(col("da"), col("db")).distinct()
      // ml-exact verify: keyDistance = 1 - |A∩B| / |A∪B| over the
      // nonzero-index sets of the binary feature vectors — the same
      // integer sizes and the same double division approxSimilarityJoin
      // computes, so the distances are bit-identical.
      val idx = featured.select(col("doc_id"), col("features"))
        .as[(Long, org.apache.spark.ml.linalg.Vector)]
        .map { case (id, v) => (id, v.toSparse.indices) }
        .toDF("doc_id", "idx")
      cand
        .join(idx.select(col("doc_id").as("da"), col("idx").as("ia")), Seq("da"))
        .join(idx.select(col("doc_id").as("db"), col("idx").as("ib")), Seq("db"))
        .withColumn("inter",
          size(array_intersect(col("ia"), col("ib"))).cast("double"))
        .withColumn("jaccard_dist",
          lit(1.0) - col("inter") /
            ((size(col("ia")) + size(col("ib"))).cast("double") - col("inter")))
        .filter(col("jaccard_dist") < 0.5)
        .select(col("da"), col("db"), col("jaccard_dist"))
        .orderBy(col("da"), col("db"))
    } else {
      val queries = featured.filter(col("doc_id") < 250)
      model.approxSimilarityJoin(queries, featured, 0.5, "jaccard_dist")
        .select(col("datasetA.doc_id").as("da"), col("datasetB.doc_id").as("db"),
          col("jaccard_dist"))
        .filter(col("da") < col("db"))
        .orderBy(col("da"), col("db"))
    }
  }

  private val q64 = Q(
    "q64_ml_minhash_lsh",
    "✦ spark.ml MinHashLSH approxSimilarityJoin demo (no oracle: ml hashes)",
    (s, d) => mlLshPairs(s, d),
    None)

  // --- q65: TF-IDF-style term weighting. The idf uses the rational form
  //     N/df instead of ln(N/df): ln() is not guaranteed to round
  //     identically across engines' libm, while division and
  //     multiplication of exact integers are single correctly-rounded
  //     IEEE ops. Top-3 terms per doc for 20 docs.
  private val q65 = Q(
    "q65_text_tfidf",
    "✦ TF-IDF: term weights (rational idf), top-3 terms per doc",
    (s, d) => {
      val docs = Tables.fanOut(Tables.documents(s, d))
      val words = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      // Corpus size folded INTO the plan as a broadcast 1-row cross join
      // (not a driver-side count()): the whole query stays one job, and
      // the count subplan reads parquet row-group metadata only.
      val nDf = Tables.documents(s, d).select(count(lit(1)).as("n"))
      val tf = words.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("word"))
      tf.join(df, Seq("word"))
        .crossJoin(broadcast(nDf))
        .withColumn("tfidf", col("tf") * (col("n").cast("double") / col("df")))
        .filter(col("doc_id") < 20)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("word"), col("tf"), col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("rnk"))
    },
    Some("""WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT doc_id, word, tf, df,
        tf * (CAST((SELECT n FROM n) AS DOUBLE) / df) AS tfidf
      FROM tf JOIN df USING(word) WHERE doc_id < 20),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rnk
      FROM scored)
    SELECT doc_id, CAST(rnk AS INT) AS rnk, word, tf, df, tfidf
    FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk"""))

  // --- q66: pivot — wide-format aggregation with an explicit column list
  //     (the only scalable form: an implicit pivot needs a distinct-value
  //     scan first). Oracle mirrors with conditional aggregation.
  private val q66 = Q(
    "q66_pivot",
    "pivot: yearly revenue per market segment as wide columns",
    (s, d) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .withColumn("yr", year(col("o_orderdate")))
        .groupBy(col("yr"))
        .pivot("c_mktsegment", segs)
        .agg(dsum(col("o_totalprice")))
        .na.fill(0.0)
        .orderBy(col("yr"))
    },
    Some(s"""SELECT CAST(year(o_orderdate) AS INT) AS yr,
      ${Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(seg =>
        s"COALESCE(CAST(SUM(CASE WHEN c_mktsegment = '$seg' THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE), 0.0) AS \"$seg\"").mkString(",\n      ")}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY yr ORDER BY yr"""))

  // --- q67: map-typed column ops — parse props JSON to MAP<STRING,INT>,
  //     explode entries, aggregate per key.
  private val q67 = Q(
    "q67_map_ops",
    "map: from_json to MAP, map_keys/explode entries, per-key stats",
    (s, d) => {
      // fanOut: the fixture is one parquet file → one input split, and
      // per-row JSON parsing is the whole cost of this query. On a real
      // multi-file lake the scan parallelism comes from splits and fanOut
      // is the identity — no shuffle is added (Tables.fanOut scaladoc).
      Tables.fanOut(Tables.events(s, d))
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.DataType
            .fromDDL("MAP<STRING, INT>")).as("m"))
        .select(col("event_id"), explode(col("m")).as(Seq("k", "v")))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy(col("k"))
    },
    Some("""SELECT k, COUNT(*) AS n,
      CAST(SUM(CAST(props->>k AS INT)) AS BIGINT) AS sum_v,
      MIN(CAST(props->>k AS INT)) AS min_v,
      MAX(CAST(props->>k AS INT)) AS max_v
    FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events)
    GROUP BY k ORDER BY k"""))

  // --- q68: argmax/argmin via max_by/min_by (idxmax in the reference
  //     surface) — single-pass, no window needed.
  private val q68 = Q(
    "q68_argmax",
    "argmax: per-segment order with max/min total price via max_by/min_by",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      // Deterministic tie-break via one composite BIGINT comparator:
      // exact price cents (<= ~6e7) scaled by 1e7 plus the order key
      // (< 1e7) — identical in both engines, unlike struct comparators
      // (DuckDB arg_max takes no STRUCT) or bare double prices (ties).
      val cmp = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        .multiply(lit(10000000L)) + col("o_orderkey")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          max_by(col("o_orderkey"), cmp).as("best_order"),
          min_by(col("o_orderkey"), cmp).as("worst_order"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_totalprice")).as("min_price"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment,
      arg_max(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000000 + o_orderkey) AS best_order,
      arg_min(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000000 + o_orderkey) AS worst_order,
      MAX(o_totalprice) AS max_price, MIN(o_totalprice) AS min_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  // --- q69: unpivot/melt — long-format from wide columns.
  private val q69 = Q(
    "q69_unpivot_melt",
    "melt: lineitem measures to long format, per-measure stats",
    (s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "measure", "value")
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        .orderBy(col("measure"))
    },
    Some(s"""SELECT measure, COUNT(*) AS n, ${dsumSql("value")} AS total,
      MIN(value) AS vmin, MAX(value) AS vmax
    FROM (
      SELECT l_orderkey, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
      UNION ALL SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
      UNION ALL SELECT l_orderkey, 'l_tax', l_tax FROM lineitem)
    GROUP BY measure ORDER BY measure"""))

  // --- q70: five-way star join over the remaining dimension paths
  //     (part, supplier) — TPC-H Q9's shape: profit by nation and year.
  private val q70 = Q(
    "q70_join_profit",
    "J1/J3 five-way join: profit by supplier nation and order year",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d).filter(col("p_type").isin("PROMO", "STANDARD"))
      val sup = Tables.supplier(s, d)
      val o = Tables.orders(s, d)
      val n = Tables.nation(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(p, li("l_partkey") === p("p_partkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .withColumn("yr", year(col("o_orderdate")))
        .groupBy(col("n_name"), col("yr"))
        .agg(dsumWide(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"), col("yr"))
    },
    Some(s"""SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
      ${dsumWideSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
      COUNT(*) AS n_items
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
    WHERE p_type IN ('PROMO', 'STANDARD')
    GROUP BY n_name, yr ORDER BY n_name, yr"""))

  // --- q71: grouped list aggregation (groupby.agg(list)). collect_list
  //     order is partition-arbitrary, so the checked form sorts the array
  //     — the only deterministic contract for list aggregation in any
  //     distributed engine.
  private val q71 = Q(
    "q71_collect_list",
    "A2/A12 grouped list agg: sorted distinct order-years per customer",
    (s, d) => {
      Tables.orders(s, d)
        .withColumn("yr", year(col("o_orderdate")))
        .groupBy(col("o_custkey"))
        .agg(concat_ws(",", array_sort(collect_set(col("yr")))).as("years"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_custkey"))
    },
    Some("""SELECT o_custkey,
      array_to_string(list_sort(list_distinct(list(CAST(year(o_orderdate) AS INT)))), ',') AS years,
      COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey ORDER BY o_custkey"""))

  // --- q82: the spark.sql(...) entrypoint + GROUPING SETS with
  //     grouping_id — the general form behind rollup/cube (q28/q29), and
  //     proof the SQL surface works end-to-end over registered views
  //     (every other query drives the DataFrame API). grouping_id uses
  //     the same bit encoding (Postgres convention) in both engines;
  //     NULLS FIRST is spelled out because the engines' defaults differ.
  private val q82 = Q(
    "q82_sql_grouping_sets",
    "A11/SQL surface: GROUPING SETS + grouping_id via spark.sql over a view",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
      """)
    },
    Some("""SELECT o_orderstatus, o_orderpriority,
      CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS INT) AS gid,
      COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""))

  // --- q83: spark.ml BucketedRandomProjectionLSH (SURVEY §2.3 J9's named
  //     library path for Euclidean ANN; the from-scratch sign-LSH twin is
  //     q57). Model hashes are seed-fixed but Spark-internal → no oracle.
  private val q83 = Q(
    "q83_ml_brp_lsh",
    "✦ spark.ml BucketedRandomProjectionLSH euclidean ANN (no oracle: ml hashes)",
    (s, d) => {
      import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
      import org.apache.spark.ml.functions.array_to_vector
      val e = Tables.embeddings(s, d)
        .withColumn("fvec", array_to_vector(col("embedding")))
      val lsh = new BucketedRandomProjectionLSH()
        .setInputCol("fvec").setOutputCol("h")
        .setBucketLength(2.0).setNumHashTables(3).setSeed(42L)
      val model = lsh.fit(e)
      // Query-against-index: bounded query set probes the corpus. Radius
      // 1.2 is selective on this corpus (typical inter-vector distance
      // ~1.4): it returns the true near-neighbor tail, not everything.
      val q = e.filter(col("vec_id") < 10)
      model.approxSimilarityJoin(q, e, 1.2, "dist")
        .select(col("datasetA.vec_id").as("qid"),
          col("datasetB.vec_id").as("nid"), col("dist"))
        .filter(col("qid") =!= col("nid"))
        .orderBy(col("qid"), col("nid"))
    },
    None)

  // --- q100: the classic shipping-priority analytics flagship (TPC-H Q3
  //     shape): selective dimension filter → fact join → grouped revenue
  //     → global top-10. The full optimizer story in one query: both
  //     date predicates push to the parquet scans, the filtered customer
  //     segment broadcasts, revenue aggregates partial/final in exact
  //     decimal, and the top-10 runs as TakeOrderedAndProject (per-
  //     partition top-10, then a 10-row driver merge — never a full
  //     sort of the result).
  private val q100 = Q(
    "q100_shipping_priority",
    "flagship: segment revenue top-10 (TPC-H Q3 shape), pushdown+broadcast+topk",
    (s, d) => {
      val cut = lit("1995-03-15").cast("timestamp_ntz")
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < cut)
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsumWide(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"),
          col("revenue"),
          col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
          col("o_orderpriority"))
    },
    Some(s"""SELECT l_orderkey,
      ${dsumWideSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
      o_orderdate, o_orderpriority
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10"""))

  // --- q166: BM25 TOP-K RETRIEVAL — the ranked-retrieval upgrade of
  //     q65's TF-IDF: Okapi BM25 (k1=1.2, b=0.75) scoring of a fixed
  //     3-term query, top-10 docs. Shape: one token pass feeds both the
  //     doc-length frame and the term-filtered tf frame (the filter on
  //     the query terms prunes the corpus BEFORE the tf shuffle — at
  //     100 TB the posting lists for 3 terms, not the corpus, shuffle);
  //     df and the (N, Σdl) corpus stats are aggregate-sized broadcast
  //     frames. Determinism: idf's ln() is the one 1-ulp-across-libm
  //     primitive, so the FINAL score is rounded to 9 decimals (q27's
  //     pattern) and top-k orders by (rounded score, doc_id); every
  //     other factor is an identically-parenthesized single IEEE
  //     expression from exact integers, and the per-doc term sum folds a
  //     word-sorted list sequentially (q141's idiom). The top-k itself
  //     is orderBy+limit → TakeOrderedAndProject (per-partition heaps,
  //     never a global sort).
  /** Okapi BM25 (k1=1.2, b=0.75) per-doc scores for a fixed term set —
    * (doc_id, dl, n_terms, bm25) for every doc containing >= 1 query
    * term. Shared verbatim by q166 (top-10 readout) and q276 (the
    * lexical leg of RRF fusion): one body, one arithmetic, so the two
    * queries cannot drift. See q166's comment for the plan shape and
    * the ln()-rounding determinism rule. */
  private def bm25Frame(s: SparkSession, d: String,
      qTerms: Seq[String]): DataFrame = {
      val (k1, b) = (1.2, 0.75)
      val docs = Tables.fanOut(Tables.documents(s, d))
      // dl is a PROJECTION (size of the split array), not a token-stream
      // groupBy: the full corpus never shuffles for lengths — only the
      // 3-term posting lists do (r9 bench: 1.2 s → ~0.4 s at sf0.1).
      val dl = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("totdl"))
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word").isin(qTerms: _*))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val sc = tf.join(broadcast(df), Seq("word"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("idf", log(
          (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)) + lit(1.0)))
        .withColumn("avgdl", col("totdl").cast("double") / col("n").cast("double"))
        .withColumn("sc", col("idf") *
          ((col("tf").cast("double") * lit(k1 + 1)) /
            (col("tf").cast("double") +
              lit(k1) * (lit(1 - b) + lit(b) * (col("dl").cast("double") / col("avgdl"))))))
      sc.groupBy(col("doc_id"))
        .agg(max(col("dl")).as("dl"),
          count(lit(1)).as("n_terms"),
          aggregate(
            transform(sort_array(collect_list(struct(col("word"), col("sc")))),
              x => x.getField("sc")),
            lit(0.0), (a, x) => a + x).as("s"))
        .select(col("doc_id"), col("dl"), col("n_terms"),
          round(col("s"), 9).as("bm25"))
  }

  private val q166 = Q(
    "q166_bm25_topk",
    "✦ retrieval: Okapi BM25 top-10 docs for a 3-term query (posting-list-pruned)",
    (s, d) => bm25Frame(s, d, Seq("filter", "merge", "vector"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(10),
    Some("""WITH dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents),
    stats AS (SELECT COUNT(*) AS n, SUM(dl) AS totdl FROM dl),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks
      WHERE word IN ('filter', 'merge', 'vector') GROUP BY 1, 2),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
    sc AS (
      SELECT tf.doc_id, tf.word, dl.dl,
        ln((CAST(s.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
            / (CAST(df.df AS DOUBLE) + 0.5) + 1.0) *
          ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
            (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
              (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
                (CAST(dl.dl AS DOUBLE)
                  / (CAST(s.totdl AS DOUBLE) / CAST(s.n AS DOUBLE)))))) AS sc
      FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats s)
    SELECT doc_id, MAX(dl) AS dl, COUNT(*) AS n_terms,
      ROUND(list_sum(list(sc ORDER BY word)), 9) AS bm25
    FROM sc GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10"""))

  /** Baskets as SORTED DISTINCT item arrays — the one shared
    * materialization every basket-mining query (q190 pairs, q226
    * triples, q230 rules, q332 relative-minsup triples) derives from,
    * built ONCE per fixture dir via [[graft.operators.Memo]] as an
    * eager serialized localCheckpoint.
    *
    * WHY ARRAYS, not the flat distinct (o, p) frame the family used
    * through r18's first receipts: with flat rows every A-priori level
    * is a SELF-JOIN on the basket key — at the sf100 receipt the L2
    * pair aggregation sort-merge-joined two 600M-row sides (223.7 s,
    * `tmp/r18/prof332.log`) to produce TWO surviving pairs, and the
    * basket count was a second full 600M-row distinct pass (71.4 s).
    * With arrays the family needs exactly ONE data-sized shuffle ever
    * (this groupBy(o)); each level is then builtin-generator explodes
    * over the ≤7-item arrays (WholeStageCodegen, C(k, 2)/C(k, 3)
    * rows per basket) feeding a map-combined aggregate — no join, no
    * sort — and the basket count is a shuffle-free count of this
    * frame. At a 1000-executor 100 TB run the same shape holds: the
    * basket build is the only pass over the fact table, and level
    * volume is bounded by pruned basket width, not by join planning.
    *
    * sort_array makes each row deterministic (collect_set order is
    * not); set semantics equal the old DISTINCT, and every consumer
    * ends in a fully tie-broken orderBy — oracle SQL unchanged.
    *
    * Storage level is SERIALIZED (MEMORY_AND_DISK_SER), not the
    * localCheckpoint default deserialized level: the frame is
    * data-sized (~147M rows at sf100), and the deserialized unroll
    * path (`putIteratorAsValues`) holds ~80 B of objects per ~24 B
    * row, which exhausted a 48 GB heap at sf100 before the store's
    * size accounting triggered the disk spill — both first r18 q332
    * receipt attempts died there (`tmp/r18/receipts{1,2}.err`: OOM in
    * UnsafeRow.copy under MemoryStore.putIteratorAsValues, GCLocker
    * alloc retries from 32 threads). Serialized blocks unroll through
    * the byte-buffer path with exact accounting and degrade per-block
    * to disk. */
  private[graft] def basketArrays(s: SparkSession, d: String): DataFrame =
    graft.operators.Memo.cached[DataFrame](s, d, "basketArrays",
      Seq("lineitem")) {
      val b = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .groupBy(col("o"))
        .agg(sort_array(collect_set(col("p"))).as("items"))
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      (b, Seq(b))
    }

  /** Flat distinct (o, p) view — a zero-shuffle explode of the
    * memoized [[basketArrays]]; the per-item support (L1) aggregates
    * read this. */
  private[graft] def basketItems(s: SparkSession, d: String): DataFrame =
    basketArrays(s, d).select(col("o"), explode(col("items")).as("p"))

  /** Within-basket ordered item pairs (o, pa, pb), pa < pb — generated
    * PER ROW from the sorted items array by two builtin generators
    * (posexplode + explode-of-slice), so pair volume is C(k, 2) per
    * basket inside WholeStageCodegen and there is NO self-join and no
    * basket-key shuffle anywhere in the level. */
  private def basketPairs(b: DataFrame): DataFrame =
    b.select(col("o"), col("items"),
        posexplode(col("items")).as(Seq("i", "pa")))
      .select(col("o"), col("pa"),
        explode(slice(col("items"), col("i") + lit(2),
          size(col("items")))).as("pb"))

  /** Within-basket ordered pairs WITH the generation state carried
    * (items array + positions), so a level-3 consumer can extend a
    * surviving pair to its candidate third items — `explode(slice(
    * items, i + j + 3, …))` — AFTER an A-priori prune between the
    * levels, without re-joining the basket frame. */
  private def basketPairsWithTail(b: DataFrame): DataFrame =
    b.select(col("o"), col("items"),
        posexplode(col("items")).as(Seq("i", "pa")))
      .select(col("o"), col("pa"), col("items"), col("i"),
        posexplode(slice(col("items"), col("i") + lit(2),
          size(col("items")))).as(Seq("j", "pb")))

  /** L2-frequent pairs at the ABSOLUTE minsup 2 with their support —
    * the (pa, pb, s2) frame q226 (triple-candidate closure) and q230
    * (rule scoring) both build identically: generated pairs + one
    * map-combined count. Shared per dir via Memo, same determinism
    * argument as [[basketArrays]]. q190 (minsup 25/3) and q332
    * (relative minsup) keep their own thresholds and share only the
    * basket frame. Serialized level for the same reason as
    * [[basketArrays]]: at absolute minsup 2 the pair set is
    * density-sized (1.2M rows at sf1, growing with co-occurrence). */
  private def l2PairsMin2(s: SparkSession, d: String): DataFrame =
    graft.operators.Memo.cached[DataFrame](s, d, "l2PairsMin2",
      Seq("lineitem")) {
      val op = basketItems(s, d)
      val f1 = op.groupBy(col("p")).agg(count(lit(1)).as("s1"))
        .filter(col("s1") >= 2)
      val l2 = basketPairs(basketArrays(s, d))
        .join(broadcast(f1.select(col("p").as("pa"))), Seq("pa"), "semi")
        .join(broadcast(f1.select(col("p").as("pb"))), Seq("pb"), "semi")
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("s2"))
        .filter(col("s2") >= 2)
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      (l2, Seq(l2))
    }

  // --- q190: FREQUENT-PAIR MINING (A-priori) — market-basket pair
  //     support + lift over order baskets, the classic distributed
  //     frequent-itemset shape. Two scale designs: pair GENERATION is
  //     per-row explodes over the memoized basket arrays (C(k, 2) rows
  //     per basket, WholeStageCodegen, no self-join — see
  //     [[basketArrays]] for the receipt that killed the join form),
  //     and the A-PRIORI PRUNE — only items whose single-item support
  //     clears the threshold may appear in a pair (downward closure) —
  //     is a broadcast semi-join on the generated stream BEFORE the
  //     aggregate, so infrequent items never pollute the count hash
  //     tables. Pair support is one map-combined aggregate; lift =
  //     sup·N/(sa·sb) is a single IEEE division of exact integer
  //     products (fpTrunc presents). The top-20 compiles to
  //     TakeOrderedAndProject with a deterministic (sup desc, pa, pb)
  //     tie-break. At 100 TB you'd iterate the same prune for triples
  //     (A-priori level-wise — q226/q332 do); the pair level here is
  //     the canonical demonstration.
  private val q190 = Q(
    "q190_frequent_pairs",
    "✦ basket mining: A-priori pruned frequent pairs with support + lift, top-20",
    (s, d) => {
      val ba = basketArrays(s, d)
      val op = basketItems(s, d)
      val freq = op.groupBy(col("p")).agg(count(lit(1)).as("sup1"))
        .filter(col("sup1") >= 25)
      val pairs = basketPairs(ba)
        .join(broadcast(freq.select(col("p").as("pa"))), Seq("pa"), "semi")
        .join(broadcast(freq.select(col("p").as("pb"))), Seq("pb"), "semi")
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 3)
      val no = ba.agg(count(lit(1)).as("no"))
      pairs
        .join(broadcast(freq.select(col("p").as("pa"), col("sup1").as("sa"))),
          Seq("pa"))
        .join(broadcast(freq.select(col("p").as("pb"), col("sup1").as("sb"))),
          Seq("pb"))
        .crossJoin(broadcast(no))
        .select(col("pa"), col("pb"), col("sup"), col("sa"), col("sb"),
          fpTrunc((col("sup") * col("no")).cast("double")
            / (col("sa") * col("sb")).cast("double"), 9).as("lift_t"))
        .orderBy(col("sup").desc, col("pa"), col("pb"))
        .limit(20)
    },
    Some("""WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    freq AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS sup1 FROM op
      GROUP BY p HAVING COUNT(*) >= 25),
    pruned AS (SELECT op.o, op.p FROM op JOIN freq USING (p)),
    pairs AS (
      SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS sup
      FROM pruned a JOIN pruned b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING COUNT(*) >= 3),
    no AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS no FROM op)
    SELECT pa, pb, sup, fa.sup1 AS sa, fb.sup1 AS sb,
      FLOOR((CAST(sup * no.no AS DOUBLE)
        / CAST(fa.sup1 * fb.sup1 AS DOUBLE)) * 1e9) / 1e9 AS lift_t
    FROM pairs JOIN freq fa ON fa.p = pa JOIN freq fb ON fb.p = pb, no
    ORDER BY sup DESC, pa, pb LIMIT 20"""))

  // --- q224: 2D SKYLINE (Pareto front) — parts no other part dominates
  //     on (retail price ↑, size ↓): the multi-criteria shortlist
  //     operator. The textbook test is O(n²) NOT EXISTS; in 2D the
  //     skyline collapses to ONE ordered pass — a point survives iff no
  //     strictly-higher-priced point has size ≤ its own AND no same-
  //     priced point is strictly smaller. Both tests come from the
  //     DISTINCT-PRICE frame (price, min-size-at-price): the
  //     strictly-higher prefix min is an EXCLUSIVE two-phase running min
  //     over price-desc blocks (block offsets via an exclusive
  //     blocks-sized window + in-block rowsBetween(…, -1) frame — the
  //     q199 decomposition with exclusive frames), and the same-price
  //     test is size = min-size-at-price. All integer cents. The oracle
  //     runs the O(n²) NOT EXISTS definition — a genuinely different
  //     algorithm certifying the one-pass reduction.
  private val q224 = Q(
    "q224_skyline",
    "✦ skyline / Pareto front on (price↑, size↓): one ordered pass vs O(n²) oracle",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val p = Tables.part(s, d).select(col("p_partkey"),
        (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"), col("p_size").cast("long").as("sz"))
      val perPrice = p.groupBy(col("cents")).agg(min(col("sz")).as("msize"))
        .withColumn("block", expr("cents div 4096"))
      val wB = Window.orderBy(col("block").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val off = perPrice.groupBy(col("block"))
        .agg(min(col("msize")).as("bmin"))
        .withColumn("boffmin", min(col("bmin")).over(wB))
        .select(col("block"), col("boffmin"))
      val wIn = Window.partitionBy(col("block")).orderBy(col("cents").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val pref = perPrice.join(broadcast(off), Seq("block"))
        .withColumn("m1", least(coalesce(min(col("msize")).over(wIn),
          lit(Long.MaxValue)), coalesce(col("boffmin"),
          lit(Long.MaxValue))))
        .select(col("cents"), col("msize"), col("m1"))
      p.join(pref, Seq("cents"))
        .filter(col("sz") === col("msize") && col("m1") > col("sz"))
        .select(col("p_partkey"), col("cents").as("price_cents"), col("sz"))
        .orderBy(col("price_cents").desc, col("p_partkey"))
    },
    Some("""WITH p AS (SELECT p_partkey,
        CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          AS cents,
        CAST(p_size AS BIGINT) AS sz
      FROM part)
    SELECT a.p_partkey, a.cents AS price_cents, a.sz
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.cents >= a.cents AND b.sz <= a.sz
        AND (b.cents > a.cents OR b.sz < a.sz))
    ORDER BY price_cents DESC, p_partkey"""))

  // --- q226: FREQUENT TRIPLES (A-priori level 3) — q190's level-wise
  //     mining taken one level deeper, the part that makes A-priori
  //     A-priori: candidate (a,b,c) triples are extended ONLY from
  //     pairs in the L2-frequent set (downward closure — a frequent
  //     triple's every pair is frequent). Shape: pairs are generated
  //     per row from the basket arrays WITH their generation state
  //     carried ([[basketPairsWithTail]]); the L2 semi-join prunes that
  //     pair stream BETWEEN the levels; survivors extend to third items
  //     by exploding the rest of their own carried array — so the
  //     3-way volume is bounded by frequent-pair co-occurrence × basket
  //     tail, with no basket self-join at any level (see
  //     [[basketArrays]] for the sf100 receipt that killed the join
  //     form). The L2 set is DENSITY-sized, not catalog-sized — 3.5k
  //     pairs at sf0.1 but 1.2M at sf1 (the part catalog is fixed
  //     across decades while supports inflate), so its three
  //     semi-joins stay size-adaptive (AQE promotes them to broadcasts
  //     exactly while L2 is actually small), never a forced broadcast.
  //     All thresholds are counts (min-support 2 at every level); the
  //     top-20 compiles to TakeOrderedAndProject with the full
  //     (sup desc, a, b, c) deterministic tiebreak.
  private val q226 = Q(
    "q226_frequent_triples",
    "✦ basket mining: A-priori frequent triples (L2-closure prune between generated levels)",
    (s, d) => {
      val ba = basketArrays(s, d)
      val l2 = l2PairsMin2(s, d).select(col("pa"), col("pb"))
      val xy = basketPairsWithTail(ba)
        .join(l2, Seq("pa", "pb"), "semi")
      val cand = xy
        .select(col("o"), col("pa"), col("pb"),
          explode(slice(col("items"), col("i") + col("j") + lit(3),
            size(col("items")))).as("pc"))
        .join(l2.select(col("pa"), col("pb").as("pc")),
          Seq("pa", "pc"), "semi")
        .join(l2.select(col("pa").as("pb"), col("pb").as("pc")),
          Seq("pb", "pc"), "semi")
      cand.groupBy(col("pa"), col("pb"), col("pc"))
        .agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 2)
        .orderBy(col("sup").desc, col("pa"), col("pb"), col("pc"))
        .limit(20)
    },
    Some("""WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    f1 AS (SELECT p FROM op GROUP BY p HAVING COUNT(*) >= 2),
    pr AS (SELECT op.o, op.p FROM op JOIN f1 USING (p)),
    l2 AS (SELECT a.p AS pa, b.p AS pb
      FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    cand AS (
      -- inner hash-joined closure, not correlated EXISTS: (pa,pb) being
      -- UNIQUE in l2 makes both forms equivalent, and the EXISTS form
      -- re-scanned l2 per candidate (measured 380 s at sf0.01)
      SELECT x.o, x.p AS pa, y.p AS pb, z.p AS pc
      FROM pr x
      JOIN pr y ON x.o = y.o AND x.p < y.p
      JOIN pr z ON x.o = z.o AND y.p < z.p
      JOIN l2 ab ON ab.pa = x.p AND ab.pb = y.p
      JOIN l2 ac ON ac.pa = x.p AND ac.pb = z.p
      JOIN l2 bc ON bc.pa = y.p AND bc.pb = z.p)
    SELECT pa, pb, pc, CAST(COUNT(*) AS BIGINT) AS sup
    FROM cand GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
    ORDER BY sup DESC, pa, pb, pc LIMIT 20"""))

  // --- q230: ASSOCIATION RULES — the step after frequent-itemset mining
  //     (q190 pairs, q226 triples): turn the L2-frequent pairs into
  //     directed rules a→b scored by support, confidence and lift. Shape:
  //     the rule frame is PAIR-sized (already aggregated), so the two
  //     single-support joins broadcast the frequent-item table and the
  //     basket count rides as a 1-row broadcast frame — no further pass
  //     over lineitem. Determinism: the confidence gate is the
  //     cross-multiplied integer 2·sup(ab) ≥ sup(a) (conf ≥ 0.5, never a
  //     double compare); conf and lift are each ONE double division of
  //     exact BIGINT products (sup·N and sup(a)·sup(b) both « 2⁶³), so
  //     both engines order the top-25 identically; ties break on
  //     (ante, cons). Ends in TakeOrderedAndProject.
  private val q230 = Q(
    "q230_assoc_rules",
    "✦ basket mining: association rules from frequent pairs — support/confidence/lift top-25",
    (s, d) => {
      val op = basketItems(s, d)
      // Basket count = row count of the memoized array frame: no
      // second distinct pass over the item stream (71.4 s at sf100).
      val nB = basketArrays(s, d).agg(count(lit(1)).as("nb"))
      val f1 = op.groupBy(col("p")).agg(count(lit(1)).as("s1"))
        .filter(col("s1") >= 2)
      val l2 = l2PairsMin2(s, d)
      val rules = l2.select(col("pa").as("ante"), col("pb").as("cons"),
          col("s2"))
        .unionByName(l2.select(col("pb").as("ante"), col("pa").as("cons"),
          col("s2")))
        .join(broadcast(f1.select(col("p").as("ante"), col("s1").as("sa"))),
          Seq("ante"))
        .join(broadcast(f1.select(col("p").as("cons"), col("s1").as("sc"))),
          Seq("cons"))
        .crossJoin(broadcast(nB))
      rules.filter(col("s2") * 2 >= col("sa"))
        .select(col("ante"), col("cons"), col("s2").as("support"),
          col("sa").as("ante_support"),
          (col("s2").cast("double") / col("sa")).as("conf"),
          ((col("s2") * col("nb")).cast("double")
            / (col("sa") * col("sc"))).as("lift"))
        .orderBy(col("lift").desc, col("ante"), col("cons"))
        .limit(25)
    },
    Some("""WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    nb AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS nb FROM op),
    f1 AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS s1 FROM op
      GROUP BY p HAVING COUNT(*) >= 2),
    pr AS (SELECT op.o, op.p FROM op JOIN f1 USING (p)),
    l2 AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS s2
      FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    ru AS (SELECT pa AS ante, pb AS cons, s2 FROM l2
      UNION ALL SELECT pb, pa, s2 FROM l2)
    SELECT ante, cons, s2 AS support, fa.s1 AS ante_support,
      CAST(s2 AS DOUBLE) / fa.s1 AS conf,
      CAST(s2 * nb.nb AS DOUBLE) / (fa.s1 * fc.s1) AS lift
    FROM ru JOIN f1 fa ON fa.p = ante JOIN f1 fc ON fc.p = cons, nb
    WHERE 2 * s2 >= fa.s1
    ORDER BY lift DESC, ante, cons LIMIT 25"""))

  // --- q332: RELATIVE-MINSUP FREQUENT TRIPLES — q226's A-priori with
  //     the PRODUCTION threshold form: minsup = greatest(2, baskets
  //     div 50000) at every level (L1/L2/L3), i.e. ~0.002% of baskets
  //     with an absolute floor of 2. q226's fixed minsup = 2 makes the
  //     ANSWER SET itself grow superlinearly once basket count grows
  //     against a fixed item dimension (the r13 sf1 sweep measured
  //     13.8× — output-sensitive by design, not a plan defect); a
  //     relative threshold tracks the co-occurrence density, so both
  //     the L1/L2 prunes and the answer set stay scale-stable — the
  //     form a 100 TB basket-mining deployment actually runs. At every
  //     fixture SF baskets div 50000 = 0, so the floor makes q332's
  //     thresholds equal q226's and the oracle exercises the same
  //     arithmetic; the relative term takes over exactly at the
  //     density decades (sf1: minsup 29, sf10: 294) where q226's
  //     absolute form blows up. The basket count is a shuffle-free
  //     count of the memoized array frame riding as a broadcast 1-row
  //     frame into every threshold filter — no driver-side action, no
  //     second pass. Levels are per-row generated from the basket
  //     arrays (see [[basketArrays]] — the self-join form's sf100
  //     receipt spent 223.7 s sorting 2×600M rows to keep 2 pairs);
  //     because the relative threshold keeps f1 and l2 scale-stable,
  //     every prune here is a BROADCAST semi — the only shuffles in
  //     the whole query are the one basket build and the bounded
  //     aggregate exchanges.
  private val q332 = Q(
    "q332_frequent_triples_relative",
    "✦ basket mining: A-priori triples with relative minsup (greatest(2, baskets div 50000))",
    (s, d) => {
      val ba = basketArrays(s, d)
      val op = basketItems(s, d)
      val no = ba.agg(count(lit(1)).as("no"))
      val ms = greatest(lit(2L), expr("no div 50000"))
      val f1 = op.groupBy(col("p")).agg(count(lit(1)).as("s1"))
        .crossJoin(broadcast(no)).filter(col("s1") >= ms)
      val l2 = basketPairs(ba)
        .join(broadcast(f1.select(col("p").as("pa"))), Seq("pa"), "semi")
        .join(broadcast(f1.select(col("p").as("pb"))), Seq("pb"), "semi")
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("s2"))
        .crossJoin(broadcast(no)).filter(col("s2") >= ms)
        .select(col("pa"), col("pb"))
      val cand = basketPairsWithTail(ba)
        .join(broadcast(l2), Seq("pa", "pb"), "semi")
        .select(col("o"), col("pa"), col("pb"),
          explode(slice(col("items"), col("i") + col("j") + lit(3),
            size(col("items")))).as("pc"))
        .join(broadcast(l2.select(col("pa"), col("pb").as("pc"))),
          Seq("pa", "pc"), "semi")
        .join(broadcast(l2.select(col("pa").as("pb"), col("pb").as("pc"))),
          Seq("pb", "pc"), "semi")
      cand.groupBy(col("pa"), col("pb"), col("pc"))
        .agg(count(lit(1)).as("sup"))
        .crossJoin(broadcast(no))
        .filter(col("sup") >= ms)
        .select(col("pa"), col("pb"), col("pc"), col("sup"),
          ms.cast("long").as("minsup"))
        .orderBy(col("sup").desc, col("pa"), col("pb"), col("pc"))
        .limit(20)
    },
    Some("""WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    no AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS no FROM op),
    ms AS (SELECT GREATEST(CAST(2 AS BIGINT), no // 50000) AS ms FROM no),
    f1 AS (SELECT p FROM op GROUP BY p
      HAVING COUNT(*) >= (SELECT ms FROM ms)),
    pr AS (SELECT op.o, op.p FROM op JOIN f1 USING (p)),
    l2 AS (SELECT a.p AS pa, b.p AS pb
      FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT ms FROM ms)),
    cand AS (
      SELECT x.o, x.p AS pa, y.p AS pb, z.p AS pc
      FROM pr x
      JOIN pr y ON x.o = y.o AND x.p < y.p
      JOIN pr z ON x.o = z.o AND y.p < z.p
      JOIN l2 ab ON ab.pa = x.p AND ab.pb = y.p
      JOIN l2 ac ON ac.pa = x.p AND ac.pb = z.p
      JOIN l2 bc ON bc.pa = y.p AND bc.pb = z.p)
    SELECT pa, pb, pc, CAST(COUNT(*) AS BIGINT) AS sup,
      (SELECT ms FROM ms) AS minsup
    FROM cand GROUP BY 1, 2, 3
    HAVING COUNT(*) >= (SELECT ms FROM ms)
    ORDER BY sup DESC, pa, pb, pc LIMIT 20"""))

  // --- q276: RECIPROCAL-RANK-FUSION hybrid retrieval — the standard
  //     way production search stacks (and RAG data pipelines) combine a
  //     LEXICAL ranker with a SEMANTIC one without score calibration:
  //     each leg contributes 1/(60 + rank) for the docs on its top-100
  //     list (Cormack/Clarke/Büttcher's k = 60), and docs found by BOTH
  //     legs float to the top. Legs: q166's BM25 (shared bm25Frame —
  //     byte-identical arithmetic) and exact cosine against a fixed
  //     query vector (vec_id 7; doc_id = vec_id is the corpus linkage,
  //     q81's contract). Scale shape: each leg ends in orderBy+limit →
  //     TakeOrderedAndProject (per-partition heaps, never a global
  //     sort); the row_number that turns the 100-row lists into ranks
  //     and the full-outer fusion join run on ≤ 100-row frames — the
  //     house block-totals exemption for single-partition windows. At
  //     100 TB the semantic leg swaps brute-force cosine for q74's IVF
  //     probe; the fusion math is list-size-bounded either way.
  //     Determinism: ranks are integers over (rounded score, id) total
  //     orders; the 1/(60+r) contribution is FLOOR of one IEEE division
  //     of exact small integers — engine-identical by construction.
  private val q276 = Q(
    "q276_rrf_hybrid_retrieval",
    "✦ retrieval: reciprocal-rank fusion of BM25 and embedding-cosine top-100",
    (s, d) => {
      val lexTop = bm25Frame(s, d, Seq("filter", "merge", "vector"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(100)
      val lex = lexTop.select(col("doc_id"),
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .cast("long").as("r_lex"))
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val qv = e.filter(col("vec_id") === 7).select(col("embedding").as("qe"))
      val semTop = e.filter(col("vec_id") =!= 7)
        .crossJoin(broadcast(qv))
        .withColumn("cos_t",
          fpTrunc(graft.functions.CosineSimilarity
            .cosineSim(col("embedding"), col("qe")), 9))
        .orderBy(col("cos_t").desc, col("vec_id")).limit(100)
      val sem = semTop.select(col("vec_id").as("doc_id"),
        row_number().over(Window.orderBy(col("cos_t").desc, col("vec_id")))
          .cast("long").as("r_sem"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          (coalesce(floor(lit(1.0e9)
              / (lit(60.0) + col("r_lex").cast("double"))), lit(0L))
            + coalesce(floor(lit(1.0e9)
              / (lit(60.0) + col("r_sem").cast("double"))), lit(0L)))
            .cast("long"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(15)
    },
    Some(s"""WITH dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents),
    stats AS (SELECT COUNT(*) AS n, SUM(dl) AS totdl FROM dl),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks
      WHERE word IN ('filter', 'merge', 'vector') GROUP BY 1, 2),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
    sc AS (
      SELECT tf.doc_id, tf.word,
        ln((CAST(s.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
            / (CAST(df.df AS DOUBLE) + 0.5) + 1.0) *
          ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
            (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
              (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
                (CAST(dl.dl AS DOUBLE)
                  / (CAST(s.totdl AS DOUBLE) / CAST(s.n AS DOUBLE)))))) AS sc
      FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats s),
    bm AS (SELECT doc_id, ROUND(list_sum(list(sc ORDER BY word)), 9) AS bm25
      FROM sc GROUP BY doc_id),
    lex AS (SELECT doc_id,
        CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
          AS r_lex
      FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100)),
    qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
    cs AS (SELECT vec_id,
        ${fpTruncSql(cosineSql("embedding", "qe"), 9)} AS cos_t
      FROM embeddings, qv WHERE vec_id <> 7),
    sem AS (SELECT vec_id AS doc_id,
        CAST(ROW_NUMBER() OVER (ORDER BY cos_t DESC, vec_id) AS BIGINT)
          AS r_sem
      FROM (SELECT * FROM cs ORDER BY cos_t DESC, vec_id LIMIT 100))
    SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem,
      CAST(COALESCE(CAST(FLOOR(1e9 / (60 + r_lex)) AS BIGINT), 0)
        + COALESCE(CAST(FLOOR(1e9 / (60 + r_sem)) AS BIGINT), 0) AS BIGINT)
        AS rrf
    FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 15"""))

  // --- q291: LUHN CHECKSUM VALIDATION AUDIT — the mod-10 checksum
  //     family (payment PANs, IMEIs, some national IDs) as a
  //     first-class data-quality gate: q101 redacts PII by PATTERN;
  //     this validates candidate identifiers by CHECKSUM, the screen
  //     that separates real leaked numbers from random digit noise
  //     (a random 16-digit string passes Luhn 1 time in 10 — the
  //     audit's base rate, which the fixture leg exhibits). The fixture
  //     has no digit runs (checked), so candidates are SYNTHESIZED
  //     deterministically from c_custkey (the q94/q97 injection idiom —
  //     7-digit key zone + 8-digit multiplicative-hash zone + key-mod-10
  //     check digit, both engines spell the same string), making
  //     validity a pure function of the key. The Luhn sum itself is one
  //     bounded 16-step HOF fold per row — per-row O(1), zero shuffle
  //     before the 5-group segment rollup; HOFs skip WholeStageCodegen,
  //     so a hot-path variant would move the fold into a codegen'd
  //     Expression (the q84 route), same plan shape otherwise.
  private val q291 = Q(
    "q291_luhn_checksum_audit",
    "✦ data quality: Luhn mod-10 checksum validation of synthesized identifiers, per segment",
    (s, d) => {
      val pan = concat(
        lpad(col("c_custkey").cast("string"), 7, "0"),
        lpad(((col("c_custkey") * 7919L) % 9999991L).cast("string"), 8, "0"),
        (col("c_custkey") % 10L).cast("string"))
      // Doubling rule spelled from the LEFT of the fixed-width-16 string:
      // position-from-right 17-i is even exactly when i is odd.
      val luhnSum = expr("""aggregate(transform(sequence(1, 16), i ->
        CASE WHEN i % 2 = 1
          THEN CASE WHEN CAST(substring(pan, i, 1) AS INT) * 2 > 9
            THEN CAST(substring(pan, i, 1) AS INT) * 2 - 9
            ELSE CAST(substring(pan, i, 1) AS INT) * 2 END
          ELSE CAST(substring(pan, i, 1) AS INT) END),
        0, (a, x) -> a + x)""")
      Tables.customer(s, d)
        .select(col("c_mktsegment").as("segment"), pan.as("pan"))
        .withColumn("valid", luhnSum % 10 === 0)
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"))
        .select(col("segment"), col("n"), col("n_valid"),
          fpTrunc(col("n_valid").cast("double") / col("n").cast("double"),
            9).as("valid_rate"))
        .orderBy(col("segment"))
    },
    Some(s"""WITH p AS (
      SELECT c_mktsegment AS segment,
        lpad(CAST(c_custkey AS VARCHAR), 7, '0')
          || lpad(CAST((c_custkey * 7919) % 9999991 AS VARCHAR), 8, '0')
          || CAST(c_custkey % 10 AS VARCHAR) AS pan
      FROM customer),
    v AS (SELECT segment,
        list_sum(list_transform(generate_series(1, 16), i ->
          CASE WHEN i % 2 = 1
            THEN CASE WHEN CAST(substring(pan, i, 1) AS INT) * 2 > 9
              THEN CAST(substring(pan, i, 1) AS INT) * 2 - 9
              ELSE CAST(substring(pan, i, 1) AS INT) * 2 END
            ELSE CAST(substring(pan, i, 1) AS INT) END))
          % 10 = 0 AS valid
      FROM p)
    SELECT segment, COUNT(*) AS n,
      CAST(SUM(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
      ${fpTruncSql(
        "CAST(SUM(CASE WHEN valid THEN 1 ELSE 0 END) AS DOUBLE)" +
          " / CAST(COUNT(*) AS DOUBLE)", 9)} AS valid_rate
    FROM v GROUP BY segment ORDER BY segment"""))

  def defs: Seq[Q] =
    Seq(q64, q65, q66, q67, q68, q69, q70, q71, q82, q83, q100, q166, q190,
      q224, q226, q230, q276, q291, q332)
}
