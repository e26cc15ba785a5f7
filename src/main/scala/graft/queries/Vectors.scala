package graft.queries

import graft.{Q, Tables}
import graft.dsl.{cosineSql, dotSql, fsum, norm2Sql}
import graft.operators.Lloyd
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Array / vector operations over `embeddings.embedding: ARRAY<FLOAT>`:
  * SURVEY.md §2.8 (array family), §2.11 similarity search (exact kNN here;
  * the LSH-bucketed scale path lives in the dedup/similarity module).
  *
  * Float determinism: every arithmetic op is an explicit CAST-to-double
  * higher-order function — `aggregate`/`zip_with` fold sequentially
  * left-to-right, and DuckDB's `list_sum(list_transform(...))` does the
  * same, so dot products and cosines are bit-identical across engines
  * (verified empirically on the fixtures). Native engine kernels
  * (`list_cosine_similarity`) and float→decimal casts are NOT bit-stable
  * across engines and are never used in oracle-checked queries.
  *
  * Scale notes (100 TB): per-row array ops are whole-stage-codegen'd
  * projections — no shuffle, no UDF. Exact kNN broadcasts the (small) query
  * set and streams the candidate side; per-query top-k runs as one window
  * on the score. At a billion candidates you'd switch to the LSH variant;
  * the brute-force plan is still the correctness baseline.
  */
object Vectors extends Q.Module {

  /** Probe BUDGET for the retrieval-audit family (q287/q305/q311/q320):
    * the first 400 decimated ids (vec_id % 5 = 0 ∧ vec_id < 5·400). A
    * probe set that is a corpus FRACTION makes probes×candidates
    * quadratic in corpus size — the r13 sf1 scale sweep measured exactly
    * that (q320 1.13 s → 48.2 s, q287 1.44 → 55.1, q305 0.92 → 49.2 at
    * 10× data). These audits are statistical estimates (hubness,
    * label-noise rate, NDCG, RBO): a fixed-size deterministic sample
    * estimates them at ANY corpus size, which is the same bounded-probe
    * contract q44 sets for exact kNN. At the three fixture SFs the cap
    * is above every vec_id, so results are bit-identical to the
    * pre-budget rows. */
  private val ProbeBudget = 400L

  /** Candidate-pair generator shared by the retrieval-audit family
    * (q287/q305/q311/q320): probe rows (pid, pe, …) × candidate rows
    * (cid, ce, …), self-pairs excluded. Two modes:
    *
    *  - EXACT (every fixture SF): broadcast-probe × FULL corpus — the
    *    r13 shape, |probes|·N scored rows. Linear by construction
    *    (fixed probe budget) but still the registry's heaviest tail at
    *    100× bench scale (53-61 s/query at sf10: 400 probes × 200k
    *    candidates of fused cosine + the top-k window over 80M rows).
    *  - ANN SHORTLIST (auto above [[AuditAnnMinCorpus]] candidates, the
    *    r13 probe-family comments' named dial made real in r14): each
    *    probe's candidates come from its nprobe=4 nearest trained IVF
    *    cells (Scale.ivfProbeMap — the SAME kernel q74/q109 ship, cell
    *    cap included), then the caller's exact scoring re-ranks the
    *    shortlist. Per-probe candidate volume is bounded by
    *    nprobe·cellCap ≈ 2k at ANY corpus size, so the audit cost is
    *    probes·O(1) + the linear IVF training/assignment pass. The
    *    audits are statistical estimates; AuditAnnSpec pins shortlist
    *    top-10 recall ≥ 0.7 against the exact scan on a clustered
    *    corpus (IVF recall is a data-geometry property — on
    *    structureless uniform noise no cell system can do better than
    *    random, like every IVF deployment).
    *
    * The mode gate is CORPUS SIZE (one memoized metadata-only count per
    * fixture dir), not a per-query flag: fixture SFs (≤ 2k vectors)
    * stay exact, so every oracle hash is bit-identical to r13; the
    * decades above flip to the shortlist automatically — exactly how a
    * 100 TB deployment would run these audits. The gate is the only
    * decider on the registry path: nothing global or environmental can
    * flip an oracle run into the approximate mode. Specs and A/B
    * measurements pick a mode per call through the `forceAnn`
    * parameter. */
  private val AuditAnnMinCorpus = 10000L
  private val AuditNProbe = 4

  /** q269's regime dial: at or below this many points the persisted
    * ε-pair set is bounded by ~deg·100k rows (deg ≈ 40–400 at the
    * fixture densities — tens of MB), and the direct point-graph form
    * wins on job count; above it the pair set is the r16 sf100 disk
    * killer (~8B rows) and the grid-collapsed form must run. Both
    * regimes produce a bit-identical census (spec-pinned). */
  private val DbscanDirectMaxPoints = 100000L

  /** Shared corpus-size gate (r15 verdict #2 widened it beyond the
    * audit family — q50's embedding near-dup and q64's ml-LSH baseline
    * ride the same dial): exact/brute below [[AuditAnnMinCorpus]] rows
    * (every fixture-SF oracle hash bit-identical), banded/IVF above.
    * Same content-stamped Memo staleness contract for every caller:
    * keyed on the fixture's content stamp (not a plain per-dir map), so
    * a dir regenerated at a different scale in the same JVM (GenSf1
    * chains sf1 -> sf10) re-counts instead of serving a stale gate
    * decision (r14 advice). */
  private[queries] def corpusExceedsAnnGate(s: SparkSession, d: String,
      table: String, load: (SparkSession, String) => DataFrame): Boolean =
    graft.operators.Memo.cached[java.lang.Long](
      s, d, s"${table}Count", Seq(table)) {
        (Long.box(load(s, d).count()), Nil)
      } > AuditAnnMinCorpus

  private[queries] def auditUseAnn(s: SparkSession, d: String): Boolean =
    corpusExceedsAnnGate(s, d, "embeddings", Tables.embeddings)

  /** @param spreadExact fan the exact branch's candidate scan out to the
    *        core dial. The exact branch only runs below
    *        [[AuditAnnMinCorpus]] (10k rows — above it the ANN shortlist
    *        is the scale path), so this is a bounded-regime tuning: at
    *        400 probes (q287/q305/q320) the single-split pair loop costs
    *        ~1 s of single-core kernel time and the spread wins
    *        (r18 driver c32: q287 1.03→0.82, q305 1.08→0.75,
    *        q320 1.02→0.89); q311's loop is ~4× cheaper (its rank filter
    *        rides inside the aggregate, no map-side sort) and the added
    *        round-robin exchange + 32-wide sub-second stages LOST
    *        (driver c32 0.25→0.64, VERDICT r18 item 3) — it opts out. */
  private[graft] def auditPairs(s: SparkSession, d: String,
      probes: DataFrame, cands: DataFrame,
      forceAnn: Option[Boolean] = None,
      spreadExact: Boolean = true): DataFrame =
    if (forceAnn.getOrElse(auditUseAnn(s, d)))
      annAuditPairs(s, d, probes, cands)
    else
      // fanOut (r18): the exact branch is a broadcast nested-loop over
      // the candidate scan, and the one-file fixture scan is a single
      // split — every caller's |probes|×|cands| cosine loop ran on ONE
      // core (the r18 profile: a 1.2 s single-task stage inside
      // q287/q305). Identity on a multi-split lake (Tables scaladoc);
      // results are row-order-free (callers rank with tie-breaks).
      broadcast(probes).join(
        if (spreadExact) Tables.fanOut(cands) else cands,
        col("pid") =!= col("cid"))

  private def annAuditPairs(s: SparkSession, d: String,
      probes: DataFrame, cands: DataFrame): DataFrame = {
    val cm = Scale.ivfProbeMap(s, d, AuditNProbe)
    // Probe side: ≤ |probes|·nprobe rows after the fan-out — broadcast.
    // Candidate side: one (cell, sub) lookup per corpus row. Cells are
    // disjoint (a candidate has exactly one rn=1 cell) and a probe
    // probes nprobe distinct cells, so no (pid, cid) pair can repeat.
    val pm = probes.join(cm.select(col("vec_id").as("pid"),
      col("cell"), col("sub")), Seq("pid"))
    val km = cands.join(cm.filter(col("rn") === 1)
      .select(col("vec_id").as("cid"), col("cell"), col("sub")), Seq("cid"))
    broadcast(pm).join(km, Seq("cell", "sub"))
      .filter(col("pid") =!= col("cid"))
      .drop("cell", "sub")
  }

  /** Sequential left-to-right double dot product of two float arrays. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private def norm2(a: Column): Column =
    aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))

  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  // DuckDB twins of dot/norm2/cosine live in graft.dsl (shared with the
  // Scale and Dedup oracle builders).

  // --- q41: element-level array functions. Ops: §2.8 array family.
  private val q41 = Q(
    "q41_array_funcs",
    "array: size/element_at/min/max/filter/exists on embeddings",
    (s, d) => {
      Tables.embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        element_at(col("embedding"), 1).as("first_val"),
        array_min(col("embedding")).as("vmin"),
        array_max(col("embedding")).as("vmax"),
        size(filter(col("embedding"), _ > lit(0.0f))).cast("long").as("n_pos"),
        exists(col("embedding"), _ > lit(0.5f)).as("has_big"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id, len(embedding) AS n_dims,
      embedding[1] AS first_val,
      list_min(embedding) AS vmin, list_max(embedding) AS vmax,
      len(list_filter(embedding, x -> x > 0.0)) AS n_pos,
      len(list_filter(embedding, x -> x > 0.5)) > 0 AS has_big
    FROM embeddings ORDER BY vec_id"""))

  // --- q42: norms + per-label norm stats. Ops: array arithmetic (dask.array
  //     elementwise + reduction).
  private val q42 = Q(
    "q42_vector_norms",
    "array reductions: L2 norm per vector, extremes per label",
    (s, d) => {
      Tables.embeddings(s, d)
        .select(col("label"), sqrt(norm2(col("embedding"))).as("l2"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), min(col("l2")).as("min_l2"),
          max(col("l2")).as("max_l2"))
        .orderBy(col("label"))
    },
    Some(s"""SELECT label, COUNT(*) AS n,
      MIN(SQRT(${norm2Sql("embedding")})) AS min_l2,
      MAX(SQRT(${norm2Sql("embedding")})) AS max_l2
    FROM embeddings GROUP BY label ORDER BY label"""))

  // --- q43: pairwise cosine along consecutive ids (zip_with / dot).
  private val q43 = Q(
    "q43_cosine_pairs",
    "array: bit-deterministic cosine between consecutive vectors",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"))
      a.join(b, col("idb") === col("ida") + 1)
        .select(col("ida"), col("idb"),
          dot(col("ea"), col("eb")).as("dot_ab"),
          cosine(col("ea"), col("eb")).as("cos_ab"))
        .orderBy(col("ida"))
    },
    Some(s"""SELECT a.vec_id AS ida, b.vec_id AS idb,
      ${dotSql("a.embedding", "b.embedding")} AS dot_ab,
      ${cosineSql("a.embedding", "b.embedding")} AS cos_ab
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    ORDER BY ida"""))

  // --- q44: exact brute-force kNN: top-5 cosine neighbors for 20 query
  //     vectors. Ops: §2.11 similarity search (exact baseline), J9.
  private val q44 = Q(
    "q44_knn_exact",
    "similarity search: exact cosine top-5 neighbors for 20 queries",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("cid"))
      // No fanOut (r19; added r18, reverted): at 20 probes the pair loop
      // is 40k fused cosines — well under the round-robin exchange plus
      // 32-wide-stage dispatch it bought (driver c32: 0.19 r17 → 0.37
      // r18). auditPairs' 400-probe callers keep the spread; this
      // bounded-probe loop does not need it. The fused codegen'd kernel
      // is on the hot path (bit-identical to the HOF form — see
      // graft.functions.CosineSimilarity).
      broadcast(q).join(c, col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          graft.functions.CosineSimilarity.cosineSim(col("qe"), col("ce")).as("score"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank").cast("int").as("rank"), col("cid"), col("score"))
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""SELECT qid, CAST(rank AS INT) AS rank, cid, score FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
        ${cosineSql("q.embedding", "c.embedding")} AS score,
        ROW_NUMBER() OVER (PARTITION BY q.vec_id
          ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 20)
    WHERE rank <= 5 ORDER BY qid, rank"""))

  // --- q45: per-label centroid (mean vector). `avg(double)` across rows
  //     is addition-order dependent, so through round 5 this was a
  //     rows-only query. Oracle-grade since round 6 via the repo's
  //     sequential-fold discipline (q105's two-phase shape): per
  //     (label, pos, block = vec_id div 64) the values fold left-to-right
  //     in vec_id order (bounded ≤64-element lists), then the block
  //     partials fold in block order — and the DuckDB twin spells the
  //     SAME blocked grouping, so both engines execute identical fold
  //     trees and the means are bit-identical with NO rounding. (Unlike
  //     q105 there is no recurrence to prove, so mirroring the blocking
  //     in the oracle is legitimate — the check proves cross-engine
  //     executability, not a decomposition.) The single mean division is
  //     one identical double op. Output stays in (label, pos, mean_v)
  //     long format — all-scalar columns (an ARRAY<DOUBLE> column
  //     crashed the harness's pandas sort in round 1); re-assembly is
  //     one groupBy(label) + array_sort(collect_list) away. Scale: the
  //     only lists are per-(label,pos,block) ≤64 values and the
  //     block-partials frame at corpus/64 structs per (label,pos) — an
  //     adversarially deep corpus applies the same decomposition
  //     recursively (q105's note).
  private val q45 = Q(
    "q45_vector_centroid",
    "array: per-label mean embedding, blocked sequential fold (exact oracle)",
    (s, d) => {
      val t = Tables.embeddings(s, d)
        .select(col("label"), col("vec_id"), expr("vec_id div 64").as("block"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
      val parts = t.groupBy(col("label"), col("pos"), col("block"))
        .agg(count(lit(1)).as("m"),
          array_sort(collect_list(struct(col("vec_id"), col("v")))).as("xs"))
        .select(col("label"), col("pos"), col("block"), col("m"),
          aggregate(col("xs"), lit(0.0),
            (acc, x) => acc + x.getField("v").cast("double")).as("part"))
      parts.groupBy(col("label"), col("pos"))
        .agg(sum(col("m")).as("n"),
          array_sort(collect_list(struct(col("block"), col("part")))).as("bs"))
        .select(col("label"), col("pos").cast("int").as("pos"),
          (aggregate(col("bs"), lit(0.0),
            (acc, b) => acc + b.getField("part")) / col("n")).as("mean_v"))
        .orderBy(col("label"), col("pos"))
    },
    Some("""WITH x AS (
      SELECT label, vec_id, vec_id // 64 AS block,
        unnest(generate_series(1, len(embedding))) AS p,
        unnest(embedding) AS v
      FROM embeddings),
    parts AS (
      SELECT label, p, block, COUNT(*) AS m,
        list_sum(list_transform(list(v ORDER BY vec_id),
          y -> CAST(y AS DOUBLE))) AS part
      FROM x GROUP BY label, p, block)
    SELECT label, CAST(p - 1 AS INT) AS pos,
      list_sum(list(part ORDER BY block)) / SUM(m) AS mean_v
    FROM parts GROUP BY label, p ORDER BY label, pos"""))

  // --- q57: LSH-bucketed ANN — the scale path for q44. Sign-random-
  //     projection with 32 pseudo-random hyperplanes (md5-derived ±1
  //     coeffs, so the oracle can rebuild them) split into FOUR
  //     independent 8-bit bands. Candidates are pairs agreeing on ANY
  //     band, deduped, then exact-cosine reranked. Two dials, explicitly:
  //     band WIDTH (8 bits = 256 buckets) bounds in-bucket pair volume at
  //     O(N²/256) per band and must grow with the corpus; band COUNT L
  //     amplifies recall (detect prob = 1-(1-p^bits)^L with
  //     p = 1-θ/π per plane) and is the knob for the similarity level
  //     targeted — at near-dup cosine (≥0.9) L=4 detects ~3 in 4 pairs,
  //     while moderate-similarity search (cos≈0.4, p≈0.63, p⁸≈0.03)
  //     inherently needs narrower bands or IVF (q74). The banding-theory
  //     match is asserted against brute force in AsofDedupSpec.
  private val q57 = Q(
    "q57_ann_lsh_buckets",
    "✦ ANN via 32-plane sign-LSH, 4×8-bit bands + exact rerank",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      // persist: the 32-plane × 64-dim sketch is the dominant pass at the
      // 1e9 design point and both sides of the banded self-join derive
      // from it — without the persist it is computed twice (harness-owned
      // cache: Verify/Bench clearCache after each query releases it).
      // coeff(p, j) = +1 iff first md5 nibble of "p:j" < 8 — the fused
      // codegen'd SignLshBucket expression; the oracle rebuilds the same
      // coefficients from md5 and folds in the same order.
      val eb = e
        .withColumn("bucket", graft.functions.SignLshBucket.lshBucket(col("embedding"), 32))
        .select(col("vec_id"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("b"),
              (shiftright(col("bucket"), 8 * b) % 256).as("bandval"))): _*)).as("band"))
        .select(col("vec_id"), col("band.b").as("b"), col("band.bandval").as("bandval"))
        .persist()
      // HOT-BUCKET SUB-SPLIT (r14, the q78/q84 kernel's rule applied to
      // the ANN side): a band bucket larger than 64 splits into
      // ceil(c/64) deterministic hashMod2L(vec_id) sub-buckets and the
      // pair join runs within (b, bandval, sub) — in-bucket volume c·64
      // instead of c². 8-bit bands saturate at 256 buckets, so corpus
      // growth makes EVERY bucket hot (sf10: ~780 avg, Σc² blew a 75 GB
      // spill in r13's full run); sampling candidates is native to the
      // LSH contract (recall is already probabilistic — the band-count
      // dial), and the scale ladder past it is q74 IVF / q277 PQ. At
      // every fixture SF the cap is inactive (bucket maxima 12/10/32),
      // so fixture results are bit-identical; the oracle mirrors the
      // count + hash arithmetic so the match holds at any scale.
      val bcnt = eb.groupBy(col("b"), col("bandval"))
        .agg(count(lit(1)).as("c"))
      val ebc = eb.join(broadcast(bcnt), Seq("b", "bandval"))
        .withColumn("sub", graft.dsl.hashMod2L(col("vec_id"),
          expr("(c + 63) div 64")))
        .drop("c")
      // Dedup candidate PAIRS before the rerank: a pair agreeing on both
      // bands must be scored once, and the distinct runs on 2 longs — the
      // embeddings join back in only for the surviving candidates.
      val cand = ebc.select(col("b"), col("bandval"), col("sub"), col("vec_id").as("da"))
        .join(ebc.select(col("b"), col("bandval"), col("sub"), col("vec_id").as("db")),
          Seq("b", "bandval", "sub"))
        .filter(col("da") < col("db"))
        .select(col("da"), col("db")).distinct()
      cand
        .join(e.select(col("vec_id").as("da"), col("embedding").as("ea")), Seq("da"))
        .join(e.select(col("vec_id").as("db"), col("embedding").as("eb")), Seq("db"))
        .withColumn("score",
          graft.functions.CosineSimilarity.cosineSim(col("ea"), col("eb")))
        .filter(col("score") >= 0.3)
        .select(col("da"), col("db"), col("score"))
        .orderBy(col("da"), col("db"))
    },
    Some(s"""WITH sk AS (
      SELECT vec_id,
        CAST(list_sum(list_transform(generate_series(0, 31), p ->
          CASE WHEN list_sum(list_transform(generate_series(1, 64), j ->
              CAST(embedding[j] AS DOUBLE) *
              (CASE WHEN strpos('01234567', substr(md5(p || ':' || (j - 1)), 1, 1)) > 0
                    THEN 1.0 ELSE -1.0 END))) > 0
               THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
      FROM embeddings),
    bands AS (
      SELECT vec_id, b, (bucket // CAST(power(256, b) AS BIGINT)) % 256 AS bandval
      FROM sk, (SELECT unnest(generate_series(0, 3)) AS b)),
    bcnt AS (SELECT b, bandval, CAST(COUNT(*) AS BIGINT) AS c
      FROM bands GROUP BY 1, 2),
    bandsc AS (SELECT bands.vec_id, bands.b, bands.bandval,
        ${graft.dsl.hashMod2LSql("bands.vec_id", "(c + 63) // 64")} AS sub
      FROM bands JOIN bcnt USING (b, bandval)),
    cand AS (SELECT DISTINCT p.vec_id da, q.vec_id db
             FROM bandsc p JOIN bandsc q USING(b, bandval, sub)
             WHERE p.vec_id < q.vec_id)
    SELECT cand.da AS da, cand.db AS db,
      ${cosineSql("x.embedding", "y.embedding")} AS score
    FROM cand
      JOIN embeddings x ON x.vec_id = cand.da
      JOIN embeddings y ON y.vec_id = cand.db
    WHERE ${cosineSql("x.embedding", "y.embedding")} >= 0.3
    ORDER BY da, db"""))

  // --- q95: embedding PREPROCESSING — L2-normalize then int8-quantize,
  //     the storage-shrinking step before building any large ANN index
  //     (4 bytes/dim float32 → 1 byte/dim int8). Both transforms are
  //     array HOFs in one codegen'd projection: no shuffle, no UDF. The
  //     quantizer truncates toward zero (`cast int` in Spark ==
  //     `trunc()` in DuckDB — plain CAST rounds there, a cross-engine
  //     trap), and the report stays all-scalar: per-vector quantized
  //     checksum, max |dequantization error| (bounded by 1/127 ≈ 0.0079
  //     for unit-norm input), and the norm of the normalized vector.
  private val q95 = Q(
    "q95_embedding_quantize",
    "✦ vector preprocessing: L2-normalize + int8 quantize, error report",
    (s, d) => {
      // staged projections so the norm is computed ONCE per row — a
      // lambda that embeds the norm aggregate would re-evaluate it per
      // ELEMENT (O(d²)/row; HOFs run interpreted, no CSE inside lambdas)
      val unitized = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          sqrt(norm2(col("embedding"))).as("l2_norm"))
        .select(col("vec_id"), col("l2_norm"),
          transform(col("embedding"),
            x => x.cast("double") / col("l2_norm")).as("unit"))
      val qv = transform(col("unit"), x => (x * 127.0).cast("int"))
      unitized.select(col("vec_id"), col("l2_norm"), col("unit"), qv.as("qv"))
        .select(col("vec_id"),
          col("l2_norm"),
          sqrt(aggregate(col("unit"), lit(0.0), (acc, v) => acc + v * v)).as("unit_norm"),
          aggregate(col("qv"), lit(0L), (acc, v) => acc + v).as("q_checksum"),
          array_max(zip_with(col("unit"), col("qv"),
            (u, q) => abs(u - q.cast("double") / 127.0))).as("max_quant_err"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH t AS (
      SELECT vec_id,
        SQRT(${norm2Sql("embedding")}) AS l2_norm,
        list_transform(embedding,
          x -> CAST(x AS DOUBLE) / SQRT(${norm2Sql("embedding")})) AS unit
      FROM embeddings),
    q AS (SELECT vec_id, l2_norm, unit,
        list_transform(unit, x -> CAST(trunc(x * 127.0) AS INT)) AS qv
      FROM t)
    SELECT vec_id, l2_norm,
      SQRT(list_sum(list_transform(unit, x -> x * x))) AS unit_norm,
      CAST(list_sum(qv) AS BIGINT) AS q_checksum,
      list_max(list_transform(list_zip(unit, qv),
        p -> ABS(p[1] - CAST(p[2] AS DOUBLE) / 127.0))) AS max_quant_err
    FROM q ORDER BY vec_id"""))

  // --- q117: FILTERED (metadata-constrained) kNN — "top-k neighbors
  //     among candidates matching a predicate", the filtered-vector-search
  //     shape every retrieval stack runs (label/tenant/lang constraints).
  //     The constraint here is label equality with the query vector, and
  //     that changes the PLAN CLASS: q44's all-candidates scan is a
  //     broadcast nested-loop over |Q|×|C|; adding the equality turns the
  //     same top-k into a BroadcastHashJoin on label — the candidate side
  //     is hash-pruned to the matching partition of the label space before
  //     any cosine is evaluated (predicate-before-distance, the filtered-
  //     ANN rule). Top-k per query is the rank<=k WindowGroupLimit path.
  private val q117 = Q(
    "q117_filtered_knn",
    "✦ similarity: label-constrained cosine top-3 (filtered vector search)",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("label"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cid"), col("label"), col("embedding").as("ce"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("cid"))
      // No fanOut (r19; added r18, reverted): the label equi-join hash-
      // prunes candidates before any cosine — 20 probes × label-matched
      // candidates is far too little work to repay the added exchange
      // and 32-wide stages (q44's measurement, same bounded-probe
      // class).
      broadcast(q).join(c, Seq("label"))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("label"), col("cid"),
          graft.functions.CosineSimilarity.cosineSim(col("qe"), col("ce")).as("score"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank").cast("int").as("rank"),
          col("label"), col("cid"), col("score"))
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""SELECT qid, CAST(rank AS INT) AS rank, label, cid, score FROM (
      SELECT q.vec_id AS qid, q.label AS label, c.vec_id AS cid,
        ${cosineSql("q.embedding", "c.embedding")} AS score,
        ROW_NUMBER() OVER (PARTITION BY q.vec_id
          ORDER BY ${cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
      FROM embeddings q JOIN embeddings c
        ON q.label = c.label AND q.vec_id != c.vec_id
      WHERE q.vec_id < 20)
    WHERE rank <= 3 ORDER BY qid, rank"""))

  // --- q129: QUANTIZED-DOMAIN kNN — retrieval over q95's int8 vectors
  //     WITHOUT dequantizing: rank by the integer dot product of the
  //     quantized codes. This is the production memory-bandwidth trick
  //     (int8 scan = 4× fewer bytes than float32, SIMD-friendly), and it
  //     has a determinism bonus: integer dot products are ASSOCIATIVE
  //     and exact, so any execution order in any engine agrees — unlike
  //     float dots, which need the sequential-fold discipline. Unit
  //     vectors make the int dot a monotone cosine proxy (up to
  //     quantization error, which q95 bounds). Plan = q44's shape:
  //     broadcast query rows, one fused codegen'd int-dot projection
  //     (functions/IntDotProduct — r15 replaced the codegen-ineligible
  //     HOF form), WindowGroupLimit top-k.
  private val q129 = Q(
    "q129_quantized_knn",
    "✦ similarity: top-3 neighbors by int8 quantized dot product",
    (s, d) => {
      // fanOut BEFORE the quantization projection (r19; r18 had it on
      // the candidate side of the join, AFTER quant): the r19 profile
      // showed q129's hot stage is the interpreted HOF quant itself
      // (norm2 fold + transform per row — 0.5 s single-task CPU on the
      // one-split fixture scan), not the pair loop the r18 fanOut
      // spread. Fanning the scan out runs quant at the core dial. The
      // plan holds TWO round-robin exchanges, one per join side: the
      // `vec_id < 10` filter is pushed below the probe side's exchange,
      // so the two sides' exchanges differ and are not reused (the
      // probe side's is 10 rows). Identity on a multi-split lake
      // (Tables scaladoc); quant arithmetic unchanged.
      val quant = Tables.fanOut(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding"),
          sqrt(norm2(col("embedding"))).as("n"))
        .select(col("vec_id"),
          transform(col("embedding"),
            x => ((x.cast("double") / col("n")) * 127.0).cast("int")).as("qv"))
      val q = quant.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("qv").as("qq"))
      val c = quant.select(col("vec_id").as("cid"), col("qv").as("cq"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("dot_q").desc, col("cid"))
      // Codegen'd fused int dot (r15): the HOF form
      // aggregate(zip_with(...)) ran the lambda interpreter once per
      // (probe, candidate) pair — the 2M-pair hot loop at sf10.
      // Integer dots are associative and exact, so on THIS query's
      // arrays (equal-length, null-free, |v| <= 127 by construction of
      // the quantization transform above) the swap is bit-identical;
      // outside that envelope the kernel's semantics intentionally
      // diverge from the HOF form (IntDotProduct scaladoc lists them;
      // IntDotExpressionSpec pins both the parity and the divergences).
      broadcast(q).join(c, col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          graft.functions.IntDotProduct.intDot(col("qq"), col("cq"))
            .as("dot_q"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank").cast("int").as("rank"),
          col("cid"), col("dot_q"))
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH t AS (
      SELECT vec_id,
        list_transform(embedding,
          x -> CAST(trunc((CAST(x AS DOUBLE) / SQRT(${norm2Sql("embedding")})) * 127.0)
            AS INT)) AS qv
      FROM embeddings)
    SELECT qid, CAST(rank AS INT) AS rank, cid, dot_q FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
        CAST(list_sum(list_transform(list_zip(q.qv, c.qv),
          p -> CAST(p[1] AS BIGINT) * p[2])) AS BIGINT) AS dot_q,
        ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
          list_sum(list_transform(list_zip(q.qv, c.qv),
            p -> CAST(p[1] AS BIGINT) * p[2])) DESC, c.vec_id) AS rank
      FROM t q JOIN t c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 10)
    WHERE rank <= 3 ORDER BY qid, rank"""))

  // --- q170: HARD-NEGATIVE / HARD-POSITIVE MINING — contrastive-pair
  //     construction for embedding training: per anchor, the HARDEST
  //     NEGATIVE is the most-similar vector with a DIFFERENT label (the
  //     near-miss the model must learn to separate) and the HARDEST
  //     POSITIVE the least-similar one with the SAME label (the far
  //     member it must still pull in). q44's plan shape — broadcast
  //     anchors, one codegen'd cosine pass over the candidate stream,
  //     rank-1 per (anchor, side) via WindowGroupLimit so each map task
  //     forwards one candidate before the shuffle. Both sides ride ONE
  //     candidate pass: side = "is the label equal", and the window
  //     orders by a sign-flipped score so rank 1 means "max cos" on the
  //     neg side and "min cos" on the pos side. Determinism: cosines are
  //     the bit-identical sequential fold; ties break on vec_id;
  //     presentation via fpTrunc (ROUND splits engines — PLANS.md r9).
  //     Scale: exactly q44's baseline class; at a billion candidates the
  //     candidate stream narrows through the IVF/LSH route first.
  private val q170 = Q(
    "q170_hard_pair_mining",
    "✦ contrastive mining: hardest negative + hardest positive per anchor",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val a = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("aid"), col("embedding").as("ae"),
          col("label").as("al"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("label").as("cl"))
      val w = Window.partitionBy(col("aid"), col("side"))
        .orderBy(col("ord"), col("cid"))
      // No fanOut (r19; added r18, reverted): 20 anchors — q44's
      // bounded-probe measurement applies unchanged.
      broadcast(a).join(c, col("aid") =!= col("cid"))
        .select(col("aid"),
          when(col("al") === col("cl"), lit("pos")).otherwise(lit("neg"))
            .as("side"),
          col("cid"),
          graft.functions.CosineSimilarity.cosineSim(col("ae"), col("ce"))
            .as("score"))
        .withColumn("ord",
          when(col("side") === "neg", -col("score")).otherwise(col("score")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("aid"), col("side"), col("cid"),
          graft.dsl.fpTrunc(col("score"), 9).as("score"))
        .orderBy(col("aid"), col("side"))
    },
    Some(s"""SELECT aid, side, cid, FLOOR(score * 1e9) / 1e9 AS score FROM (
      SELECT a.vec_id AS aid,
        CASE WHEN a.label = c.label THEN 'pos' ELSE 'neg' END AS side,
        c.vec_id AS cid,
        ${cosineSql("a.embedding", "c.embedding")} AS score,
        ROW_NUMBER() OVER (
          PARTITION BY a.vec_id, CASE WHEN a.label = c.label
            THEN 'pos' ELSE 'neg' END
          ORDER BY CASE WHEN a.label = c.label
            THEN ${cosineSql("a.embedding", "c.embedding")}
            ELSE -${cosineSql("a.embedding", "c.embedding")} END,
            c.vec_id) AS rn
      FROM embeddings a JOIN embeddings c ON a.vec_id != c.vec_id
      WHERE a.vec_id < 20)
    WHERE rn = 1 ORDER BY aid, side"""))

  // --- q180: TALL-SKINNY GRAM-MATRIX PCA (da.linalg analog) — the one
  //     dask.array linear-algebra shape with no analog here until now:
  //     decompose a tall n×64 matrix by (1) a DISTRIBUTED Gram matrix
  //     Gᵀ = XᵀX — the blockwise pattern da.linalg.tsqr teaches: each
  //     task folds its rows into ≤2080 (j ≤ k) partial sums, the shuffle
  //     carries only those partials, and the result is O(d²) no matter
  //     how tall X is — then (2) a DRIVER-SIDE power iteration on the
  //     tiny 64×64 matrix (legitimately driver-sized: 2080 longs), then
  //     (3) a DISTRIBUTED projection of every row onto the leading
  //     component. Determinism machinery, in order of appearance:
  //     Gram entries are floor(xⱼ·xₖ·1e9) INTEGER UNITS summed as LONG
  //     (float→double widening and the IEEE product are exact; the
  //     quantized sum is associative → shuffle-order-free and
  //     engine-identical — the q167 idiom); the 8 power-iteration steps
  //     start from the exact v₀ = 1/√64 = 0.125 and use only
  //     sequential left folds (k = 0..63 ascending — the same order
  //     DuckDB's list_sum(list_transform) folds), IEEE √ and ÷, and a
  //     floor-quantized renormalization (v ← ⌊(y/‖y‖)·1e12⌋/1e12) each
  //     step, so both engines walk bit-identical vectors; the projection
  //     is the module's standard zip_with/aggregate sequential dot.
  //     λ₁ is the power-iteration estimate ‖G·v₇‖ rescaled out of units.
  //     Output: top-20 documents by first-principal-component score —
  //     raw doubles are engine-identical so the ORDER BY needs no
  //     tie-break beyond vec_id; fpTrunc presents. A rank-recovery
  //     property test (noiseless rank-1 fixture) lives in
  //     OperatorPropertySpec.
  private val q180 = Q(
    "q180_gram_pca",
    "da.linalg ✦: tall-skinny Gram-matrix PCA — distributed XᵀX, driver power iteration, distributed projection",
    (s, d) => {
      // (1) distributed Gram in integer 1e-9 units and (2) the driver-side
      // power iteration, 8 steps with quantized renorm: operators.GramPCA,
      // the same arithmetic q265 runs for three components.
      val (v, lamUnits) = graft.operators.GramPCA.topK(
        Tables.embeddings(s, d), "embedding", 64, k = 1, iters = 8).head
      val lam1 = lamUnits * 1e-9
      val vCol = array(v.toSeq.map(lit): _*)
      // (3) distributed projection onto the leading component.
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          aggregate(zip_with(col("embedding"), vCol,
            (x, w) => x.cast("double") * w), lit(0.0), (acc, t) => acc + t)
            .as("proj"))
        .orderBy(col("proj").desc, col("vec_id"))
        .limit(20)
        .select(col("vec_id"), col("label"),
          graft.dsl.fpTrunc(col("proj"), 9).as("pc1_score"),
          graft.dsl.fpTrunc(lit(lam1), 6).as("lam1"))
    },
    Some("""WITH pr AS (
      SELECT jj.j AS j, kk.k AS k
      FROM generate_series(0, 63) jj(j), generate_series(0, 63) kk(k)
      WHERE jj.j <= kk.k),
    gram AS (
      SELECT j, k,
        CAST(SUM(CAST(FLOOR(CAST(e.embedding[j + 1] AS DOUBLE)
          * CAST(e.embedding[k + 1] AS DOUBLE) * 1e9) AS BIGINT)) AS BIGINT) AS g
      FROM embeddings e, pr GROUP BY j, k),
    full_m AS (
      SELECT j * 64 + k AS idx, g FROM gram
      UNION ALL
      SELECT k * 64 + j AS idx, g FROM gram WHERE j < k),
    gm AS (SELECT list(g ORDER BY idx) AS m FROM full_m),
    v0 AS (SELECT list_transform(generate_series(0, 63), x -> 0.125) AS v),
    y1 AS (SELECT list_transform(generate_series(0, 63), j -> list_sum(
        list_transform(generate_series(0, 63), k -> m[j * 64 + k + 1] * v[k + 1]))) AS y
      FROM gm, v0),
    n1 AS (SELECT y, sqrt(list_sum(list_transform(y, t -> t * t))) AS nrm FROM y1),
    v1 AS (SELECT list_transform(y, t -> floor(t / nrm * 1e12) / 1e12) AS v FROM n1),
    y2 AS (SELECT list_transform(generate_series(0, 63), j -> list_sum(
        list_transform(generate_series(0, 63), k -> m[j * 64 + k + 1] * v[k + 1]))) AS y
      FROM gm, v1),
    n2 AS (SELECT y, sqrt(list_sum(list_transform(y, t -> t * t))) AS nrm FROM y2),
    v2 AS (SELECT list_transform(y, t -> floor(t / nrm * 1e12) / 1e12) AS v FROM n2),
    y3 AS (SELECT list_transform(generate_series(0, 63), j -> list_sum(
        list_transform(generate_series(0, 63), k -> m[j * 64 + k + 1] * v[k + 1]))) AS y
      FROM gm, v2),
    n3 AS (SELECT y, sqrt(list_sum(list_transform(y, t -> t * t))) AS nrm FROM y3),
    v3 AS (SELECT list_transform(y, t -> floor(t / nrm * 1e12) / 1e12) AS v FROM n3),
    y4 AS (SELECT list_transform(generate_series(0, 63), j -> list_sum(
        list_transform(generate_series(0, 63), k -> m[j * 64 + k + 1] * v[k + 1]))) AS y
      FROM gm, v3),
    n4 AS (SELECT y, sqrt(list_sum(list_transform(y, t -> t * t))) AS nrm FROM y4),
    v4 AS (SELECT list_transform(y, t -> floor(t / nrm * 1e12) / 1e12) AS v FROM n4),
    y5 AS (SELECT list_transform(generate_series(0, 63), j -> list_sum(
        list_transform(generate_series(0, 63), k -> m[j * 64 + k + 1] * v[k + 1]))) AS y
      FROM gm, v4),
    n5 AS (SELECT y, sqrt(list_sum(list_transform(y, t -> t * t))) AS nrm FROM y5),
    v5 AS (SELECT list_transform(y, t -> floor(t / nrm * 1e12) / 1e12) AS v FROM n5),
    y6 AS (SELECT list_transform(generate_series(0, 63), j -> list_sum(
        list_transform(generate_series(0, 63), k -> m[j * 64 + k + 1] * v[k + 1]))) AS y
      FROM gm, v5),
    n6 AS (SELECT y, sqrt(list_sum(list_transform(y, t -> t * t))) AS nrm FROM y6),
    v6 AS (SELECT list_transform(y, t -> floor(t / nrm * 1e12) / 1e12) AS v FROM n6),
    y7 AS (SELECT list_transform(generate_series(0, 63), j -> list_sum(
        list_transform(generate_series(0, 63), k -> m[j * 64 + k + 1] * v[k + 1]))) AS y
      FROM gm, v6),
    n7 AS (SELECT y, sqrt(list_sum(list_transform(y, t -> t * t))) AS nrm FROM y7),
    v7 AS (SELECT list_transform(y, t -> floor(t / nrm * 1e12) / 1e12) AS v FROM n7),
    y8 AS (SELECT list_transform(generate_series(0, 63), j -> list_sum(
        list_transform(generate_series(0, 63), k -> m[j * 64 + k + 1] * v[k + 1]))) AS y
      FROM gm, v7),
    n8 AS (SELECT y, sqrt(list_sum(list_transform(y, t -> t * t))) AS nrm FROM y8),
    v8 AS (SELECT list_transform(y, t -> floor(t / nrm * 1e12) / 1e12) AS v, nrm FROM n8),
    proj AS (
      SELECT e.vec_id, e.label,
        list_sum(list_transform(list_zip(e.embedding, v8.v),
          p -> CAST(p[1] AS DOUBLE) * p[2])) AS proj,
        v8.nrm AS nrm
      FROM embeddings e, v8)
    SELECT vec_id, label,
      FLOOR(proj * 1e9) / 1e9 AS pc1_score,
      FLOOR((nrm * 1e-9) * 1e6) / 1e6 AS lam1
    FROM proj ORDER BY proj DESC, vec_id LIMIT 20"""))

  // q180's quantized power iteration as a CTE builder — 16 steps here
  // (vs q180's 8: the fixture spectrum is near-flat, so deflation with
  // an under-converged vector would leave enough residual that the
  // extracted lambdas come out non-descending) — so q265 can run it
  // three times (once per component) without hand-unrolling 48 step
  // blocks: reads list column `m` from `mCte`, starts at the shared
  // v0 = 0.125 constant, emits y/n/v CTE triples suffixed `$tag$i`;
  // v$tag16 carries the converged vector AND its norm.
  private def powerIterSql(tag: String, mCte: String): String =
    (1 to 16).map { i =>
      val vin = if (i == 1) "v0" else s"v$tag${i - 1}"
      s"""y$tag$i AS (SELECT list_transform(generate_series(0, 63), j -> list_sum(
        list_transform(generate_series(0, 63), k -> m[j * 64 + k + 1] * v[k + 1]))) AS y
      FROM $mCte, $vin),
    n$tag$i AS (SELECT y, sqrt(list_sum(list_transform(y, t -> t * t))) AS nrm FROM y$tag$i),
    v$tag$i AS (SELECT list_transform(y, t -> floor(t / nrm * 1e12) / 1e12) AS v, nrm FROM n$tag$i)"""
    }.mkString(",\n    ")

  // --- q265: TOP-3 PRINCIPAL COMPONENTS VIA DEFLATION — closes
  //     da.linalg.svd in spirit where q180 stops at PC1: after each
  //     component converges, the Gram matrix is DEFLATED
  //     (M ← M − λ·v·vᵀ — Hotelling's deflation) and the same 16-step
  //     quantized power iteration runs on the residual, so components
  //     2 and 3 emerge orthogonal to the extracted ones (up to the
  //     finite convergence error, which both engines share exactly).
  //     Everything q180 proved carries over verbatim: the Gram stays
  //     the dims²-bounded distributed integer-unit aggregate (the ONE
  //     deliberate collect, 2,080 longs regardless of corpus height);
  //     iteration arithmetic is sequential left folds + IEEE √÷ +
  //     floor-quantized renorm, bit-identical across engines (long→
  //     double Gram entries are exact below 2⁵³ units — q180's
  //     documented limit); deflation is the same three-factor product
  //     λ·vⱼ·vₖ left-assoc in both. Readout: per component, λ and the
  //     top-5 documents by projection — the oracle rebuilds all 48
  //     iteration steps from the CTE builder above, with the reused
  //     matrix CTEs MATERIALIZED (plain CTEs re-inline per reference
  //     in DuckDB 1.0 and the nested chains go exponential).
  private val q265 = Q(
    "q265_pca_top3_deflation",
    "da.linalg ✦: top-3 PCA — Gram power iteration with Hotelling deflation per component",
    (s, d) => {
      // Generalized in r12: the Gram accumulation + deflated power
      // iteration now live in operators.GramPCA (arbitrary k — q274
      // runs k = 5); this query is the k = 3 instantiation with
      // byte-identical arithmetic to the r11 inline version.
      val dims = 64
      val comps = graft.operators.GramPCA.topK(
        Tables.embeddings(s, d), "embedding", dims, k = 3)
      val e = Tables.embeddings(s, d)
      def proj(v: Array[Double]) =
        aggregate(zip_with(col("embedding"), array(v.toSeq.map(lit): _*),
          (x, w) => x.cast("double") * w), lit(0.0), (acc, t) => acc + t)
      val scored = e.select(col("vec_id"), col("label"),
        proj(comps(0)._1).as("p1"), proj(comps(1)._1).as("p2"),
        proj(comps(2)._1).as("p3"))
      (1 to 3).map { c =>
        scored.orderBy(col(s"p$c").desc, col("vec_id")).limit(5)
          .select(lit(c).as("component"), col("vec_id"), col("label"),
            graft.dsl.fpTrunc(col(s"p$c"), 9).as("score"),
            graft.dsl.fpTrunc(lit(comps(c - 1)._2 * 1e-9), 6).as("lam"))
      }.reduce(_ unionByName _)
        .orderBy(col("component"), col("score").desc, col("vec_id"))
    },
    Some(s"""WITH pr AS (
      SELECT jj.j AS j, kk.k AS k
      FROM generate_series(0, 63) jj(j), generate_series(0, 63) kk(k)
      WHERE jj.j <= kk.k),
    gram AS (
      SELECT j, k,
        CAST(SUM(CAST(FLOOR(CAST(e.embedding[j + 1] AS DOUBLE)
          * CAST(e.embedding[k + 1] AS DOUBLE) * 1e9) AS BIGINT)) AS BIGINT) AS g
      FROM embeddings e, pr GROUP BY j, k),
    full_m AS (
      SELECT j * 64 + k AS idx, g FROM gram
      UNION ALL
      SELECT k * 64 + j AS idx, g FROM gram WHERE j < k),
    gm AS MATERIALIZED (SELECT list(g ORDER BY idx) AS m FROM full_m),
    v0 AS (SELECT list_transform(generate_series(0, 63), x -> 0.125) AS v),
    ${powerIterSql("a", "gm")},
    gm2 AS MATERIALIZED (SELECT list_transform(generate_series(0, 4095),
        i -> m[i + 1] - nrm * v[(i // 64) + 1] * v[(i % 64) + 1]) AS m
      FROM gm, va16),
    ${powerIterSql("b", "gm2")},
    gm3 AS MATERIALIZED (SELECT list_transform(generate_series(0, 4095),
        i -> m[i + 1] - nrm * v[(i // 64) + 1] * v[(i % 64) + 1]) AS m
      FROM gm2, vb16),
    ${powerIterSql("c", "gm3")},
    proj AS MATERIALIZED (
      SELECT e.vec_id, e.label,
        list_sum(list_transform(list_zip(e.embedding, va16.v),
          p -> CAST(p[1] AS DOUBLE) * p[2])) AS p1,
        list_sum(list_transform(list_zip(e.embedding, vb16.v),
          p -> CAST(p[1] AS DOUBLE) * p[2])) AS p2,
        list_sum(list_transform(list_zip(e.embedding, vc16.v),
          p -> CAST(p[1] AS DOUBLE) * p[2])) AS p3
      FROM embeddings e, va16, vb16, vc16),
    sel AS (
      (SELECT 1 AS component, vec_id, label,
        FLOOR(p1 * 1e9) / 1e9 AS score,
        FLOOR((va16.nrm * 1e-9) * 1e6) / 1e6 AS lam
      FROM proj, va16 ORDER BY p1 DESC, vec_id LIMIT 5)
      UNION ALL
      (SELECT 2 AS component, vec_id, label,
        FLOOR(p2 * 1e9) / 1e9 AS score,
        FLOOR((vb16.nrm * 1e-9) * 1e6) / 1e6 AS lam
      FROM proj, vb16 ORDER BY p2 DESC, vec_id LIMIT 5)
      UNION ALL
      (SELECT 3 AS component, vec_id, label,
        FLOOR(p3 * 1e9) / 1e9 AS score,
        FLOOR((vc16.nrm * 1e-9) * 1e6) / 1e6 AS lam
      FROM proj, vc16 ORDER BY p3 DESC, vec_id LIMIT 5))
    SELECT component, vec_id, label, score, lam
    FROM sel ORDER BY component, score DESC, vec_id"""))

  // --- q274: GENERAL TOP-K PCA — q265's routine at ARBITRARY k,
  //     closing the "full da.linalg.svd beyond top-3" gap (VERDICT r11
  //     residual #2): operators.GramPCA runs the same dims²-bounded
  //     integer-unit Gram + driver-side deflated power iteration for
  //     any k; this query instantiates k = 5 (top-3 docs per component)
  //     and the oracle rebuilds all FIVE 16-step chains + FOUR
  //     Hotelling deflations from the q265 CTE builder. For PCA-shaped
  //     use the top-k eigenpairs of AᵀA are exactly the right singular
  //     vectors and squared singular values, so this IS the svd surface
  //     the training teaches. The fixture spectrum is near-flat, so
  //     adjacent tail λs are nearly tied and 16-step extraction can
  //     invert them by a couple percent (GramPCASpec measures +2% at
  //     λ3→λ4, sf0.001) — extraction order is still deterministic
  //     (identical quantized arithmetic on both engines), which is all
  //     the hash gate needs; components stay pairwise near-orthogonal
  //     (the spec's real invariant).
  private val q274 = Q(
    "q274_pca_topk_general",
    "da.linalg ✦: general top-k PCA (k=5) — operators.GramPCA Gram + deflated power iteration",
    (s, d) => {
      val dims = 64
      val k = 5
      val comps = graft.operators.GramPCA.topK(
        Tables.embeddings(s, d), "embedding", dims, k)
      def proj(v: Array[Double]) =
        aggregate(zip_with(col("embedding"), array(v.toSeq.map(lit): _*),
          (x, w) => x.cast("double") * w), lit(0.0), (acc, t) => acc + t)
      val scored = Tables.embeddings(s, d).select(
        col("vec_id") +: col("label") +:
          comps.zipWithIndex.map { case ((v, _), i) =>
            proj(v).as(s"p${i + 1}") }: _*)
      (1 to k).map { c =>
        scored.orderBy(col(s"p$c").desc, col("vec_id")).limit(3)
          .select(lit(c).as("component"), col("vec_id"), col("label"),
            graft.dsl.fpTrunc(col(s"p$c"), 9).as("score"),
            graft.dsl.fpTrunc(lit(comps(c - 1)._2 * 1e-9), 6).as("lam"))
      }.reduce(_ unionByName _)
        .orderBy(col("component"), col("score").desc, col("vec_id"))
    },
    Some {
      def defl(src: String, vt: String, out: String) =
        s"""$out AS MATERIALIZED (SELECT list_transform(generate_series(0, 4095),
        i -> m[i + 1] - nrm * v[(i // 64) + 1] * v[(i % 64) + 1]) AS m
      FROM $src, $vt)"""
      def sel(c: Int, tag: String) =
        s"""(SELECT $c AS component, vec_id, label,
        FLOOR(p$c * 1e9) / 1e9 AS score,
        FLOOR((v${tag}16.nrm * 1e-9) * 1e6) / 1e6 AS lam
      FROM proj, v${tag}16 ORDER BY p$c DESC, vec_id LIMIT 3)"""
      val tags = Seq("a", "b", "c", "d", "e")
      s"""WITH pr AS (
      SELECT jj.j AS j, kk.k AS k
      FROM generate_series(0, 63) jj(j), generate_series(0, 63) kk(k)
      WHERE jj.j <= kk.k),
    gram AS (
      SELECT j, k,
        CAST(SUM(CAST(FLOOR(CAST(e.embedding[j + 1] AS DOUBLE)
          * CAST(e.embedding[k + 1] AS DOUBLE) * 1e9) AS BIGINT)) AS BIGINT) AS g
      FROM embeddings e, pr GROUP BY j, k),
    full_m AS (
      SELECT j * 64 + k AS idx, g FROM gram
      UNION ALL
      SELECT k * 64 + j AS idx, g FROM gram WHERE j < k),
    gm AS MATERIALIZED (SELECT list(g ORDER BY idx) AS m FROM full_m),
    v0 AS (SELECT list_transform(generate_series(0, 63), x -> 0.125) AS v),
    ${powerIterSql("a", "gm")},
    ${defl("gm", "va16", "gmb")},
    ${powerIterSql("b", "gmb")},
    ${defl("gmb", "vb16", "gmc")},
    ${powerIterSql("c", "gmc")},
    ${defl("gmc", "vc16", "gmd")},
    ${powerIterSql("d", "gmd")},
    ${defl("gmd", "vd16", "gme")},
    ${powerIterSql("e", "gme")},
    proj AS MATERIALIZED (
      SELECT e.vec_id, e.label,
        ${tags.zipWithIndex.map { case (t, i) =>
          s"""list_sum(list_transform(list_zip(e.embedding, v${t}16.v),
          p -> CAST(p[1] AS DOUBLE) * p[2])) AS p${i + 1}""" }.mkString(",\n        ")}
      FROM embeddings e, ${tags.map(t => s"v${t}16").mkString(", ")}),
    sel AS (
      ${tags.zipWithIndex.map { case (t, i) => sel(i + 1, t) }
        .mkString("\n      UNION ALL\n      ")})
    SELECT component, vec_id, label, score, lam
    FROM sel ORDER BY component, score DESC, vec_id"""
    })

  // --- q188: CLASS-CENTROID SIMILARITY MATRIX — the embedding-space
  //     quality audit (are label clusters separable? which classes
  //     collide?) run before trusting labels for contrastive training:
  //     per-label mean vectors, then all pairwise centroid cosines.
  //     Everything stays in LONG (label, dim, value) format — no
  //     driver-side matrix, no array re-assembly: centroids are
  //     integer-unit sums per (label, dim) (64·|labels| partials after
  //     map-side combine, regardless of corpus size), and each pairwise
  //     cosine is an equi-join on dim + three more integer-unit sums
  //     (dot, norm², norm²) — the q167 FLOOR quantization making every
  //     aggregate order-free, since a relational SUM of doubles would
  //     be partial-order-dependent (the sequential-fold HOF trick needs
  //     an array, which long format deliberately avoids). |labels|² ≤
  //     100 pairs: the pair join is broadcast-tiny even at petabyte
  //     corpus scale — the corpus only ever feeds the first aggregate.
  private val q188 = Q(
    "q188_centroid_similarity",
    "✦ embedding audit: pairwise label-centroid cosines, long-format integer-unit pipeline",
    (s, d) => {
      val cnt = Tables.embeddings(s, d).groupBy(col("label"))
        .agg(count(lit(1)).as("n"))
      val cen = Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(sum(floor(col("x").cast("double") * lit(1e9))).as("u"))
        .join(broadcast(cnt), Seq("label"))
        .select(col("label"), col("dim"),
          ((col("u").cast("double") / col("n")) / lit(1e9)).as("c"))
      val a = cen.select(col("label").as("la"), col("dim"), col("c").as("ca"))
      val pairs = a.join(
        cen.select(col("label").as("lb"), col("dim"), col("c").as("cb")),
        Seq("dim"))
        .filter(col("la") < col("lb"))
        .groupBy(col("la"), col("lb"))
        .agg(
          sum(floor(col("ca") * col("cb") * lit(1e9))).as("qdot"),
          sum(floor(col("ca") * col("ca") * lit(1e9))).as("qna"),
          sum(floor(col("cb") * col("cb") * lit(1e9))).as("qnb"))
      pairs.select(col("la").as("label_a"), col("lb").as("label_b"),
          graft.dsl.fpTrunc(col("qdot").cast("double")
            / (sqrt(col("qna").cast("double"))
              * sqrt(col("qnb").cast("double"))), 6).as("cos_t"))
        .orderBy(col("label_a"), col("label_b"))
    },
    Some("""WITH cnt AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label),
    cen AS (
      SELECT e.label, g.dim,
        (CAST(CAST(SUM(CAST(FLOOR(CAST(e.embedding[g.dim + 1] AS DOUBLE) * 1e9)
            AS BIGINT)) AS BIGINT) AS DOUBLE)
          / ANY_VALUE(c.n)) / 1e9 AS c
      FROM embeddings e
      JOIN cnt c ON c.label = e.label,
        generate_series(0, 63) g(dim)
      GROUP BY e.label, g.dim),
    pairs AS (
      SELECT a.label AS la, b.label AS lb,
        CAST(SUM(CAST(FLOOR(a.c * b.c * 1e9) AS BIGINT)) AS BIGINT) AS qdot,
        CAST(SUM(CAST(FLOOR(a.c * a.c * 1e9) AS BIGINT)) AS BIGINT) AS qna,
        CAST(SUM(CAST(FLOOR(b.c * b.c * 1e9) AS BIGINT)) AS BIGINT) AS qnb
      FROM cen a JOIN cen b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label)
    SELECT la AS label_a, lb AS label_b,
      FLOOR((CAST(qdot AS DOUBLE) / (SQRT(CAST(qna AS DOUBLE))
        * SQRT(CAST(qnb AS DOUBLE)))) * 1e6) / 1e6 AS cos_t
    FROM pairs ORDER BY label_a, label_b"""))

  /** q214's k and its number of Lloyd rounds. */
  private val KmeansK = 4
  private val KmeansRounds = 3

  /** (long-format units, final centroids, final assignment) after
    * q214's [[Lloyd]] rounds, memoized so q286's
    * agreement audit and q317's margins score the IDENTICAL model (one
    * body, one arithmetic; q214's hash is unchanged). */
  private def kmeansLloyd(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) =
    graft.operators.Memo.cached[(DataFrame, DataFrame, DataFrame)](
      s, d, "kmeansLloyd", Seq("embeddings")) { kmeansLloydBuild(s, d) }

  /** The memoized build behind [[kmeansLloyd]]: r14's driver bench
    * measured q286 regressing on untouched code because q214/q286/q317
    * each re-trained this identical model — now it trains once per
    * fixture dir ([[graft.operators.Memo]]), held as localCheckpoints
    * that survive the harness's per-query clearCache. Intermediate
    * generations are released the moment their successor is
    * materialized. The loop is integer-exact deterministic, so the
    * memoized triple is bit-identical to a per-query rebuild. */
  private def kmeansLloydBuild(s: SparkSession, d: String)
      : ((DataFrame, DataFrame, DataFrame), Seq[DataFrame]) = {
    // TWO handles on the same frame, deliberately: `veLoop` is a persist
    // of the LIVE plan — its vec_id exchange stays visible to the
    // planner, so the loop's passes are exchange-free (a localCheckpoint
    // would erase the partitioning: its LogicalRDD reports
    // UnknownPartitioning under AQE, pinned by PlanEvidenceSpec).
    // `ve`, the MEMOIZED handle, is the localCheckpoint of that cache:
    // Memo outlives the harness's per-query clearCache, which would
    // empty a CacheManager persist and silently recompute (the r14
    // lesson recorded above).
    val scan = Tables.embeddings(s, d)
    val veLoop = Lloyd.units(scan).persist()
    val ve = veLoop.localCheckpoint(true) // also warms veLoop's cache
    // The last round's assignment IS the memoized asg, so it keeps its
    // own eager cut; c3 = update(a3) ends the loop.
    val prev = Lloyd.rounds(veLoop, Nil, KmeansK, KmeansRounds - 1)
    val asg = Lloyd.assign(veLoop, prev, Nil, KmeansK).localCheckpoint(true)
    graft.operators.Gen.release(prev)
    val cent = Lloyd.update(veLoop, asg, Nil).localCheckpoint(true)
    // The loop is done: the memoized triple survives on its own
    // checkpoints; the live-plan cache can go (the harness clearCache
    // would reclaim it between queries anyway).
    veLoop.unpersist(blocking = false)
    // The vec-grain outputs hand the CONSUMERS (q214's sizes, q286's
    // contingency join, q317's margin join) narrow coalesced views: the
    // in-loop core-dial width exists for the heavy corpus passes, but a
    // checkpoint inherits it, and 32 near-empty partitions cost every
    // later readout a full stage of task dispatch (q286 paired
    // 0.42→0.71 s before this). coalesce back to the SCAN's split count
    // is shuffle-free, data-proportional (the fanOut rule in reverse),
    // and a no-op on a multi-split lake where the scan width already
    // matches the data. `ve` stays wide — q317's distance pass is the
    // one genuinely compute-heavy consumer.
    val w = math.max(1, Tables.scanWidth(scan))
    ((ve, cent.coalesce(w), asg.coalesce(w)), Seq(ve, cent, asg))
  }

  // --- q214: DISTRIBUTED K-MEANS (Lloyd, k=4, 3 iterations) — the
  //     clustering workhorse behind IVF cell training (q74) and SemDeDup
  //     (q109), here as a first-class oracle-gated operator, trained by
  //     graft.operators.Lloyd: coordinates quantize ONCE to integer 1e-6
  //     units (the q167 integer-unit rule), distances are exact integer
  //     Σ(x−c)² sums, argmin uses the composite d²·k+cid key (lower cid
  //     wins equal distances), and the update re-quantizes via
  //     FLOOR(sum/count), so iteration 3's centroids cannot drift
  //     between engines (floating centroids would be the q167
  //     DECIMAL-cast trap at every generation). Init is data-
  //     deterministic (vec_id 0..3). The oracle unrolls the identical 3
  //     iterations as CTEs (Lloyd.twinSql, the q194 unrolled-chain
  //     idiom).
  private val q214 = Q(
    "q214_kmeans",
    "✦ ML: distributed k-means (k=4, 3 Lloyd iterations), integer-quantized exact arithmetic",
    (s, d) => {
      val (_, cent, asg) = kmeansLloyd(s, d)
      val sizes = asg.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
      cent.join(broadcast(sizes), Seq("cid"))
        .select(col("cid"), col("dim"), col("cu"), col("n_members"))
        .orderBy(col("cid"), col("dim"))
    },
    Some(s"""WITH ${Lloyd.twinSql(Nil, KmeansK, KmeansRounds)},
      s AS (SELECT cid, COUNT(*) AS n_members FROM a3 GROUP BY 1)
      SELECT c3.cid AS cid, c3.dim AS dim, c3.cu AS cu, s.n_members
      FROM c3 JOIN s ON c3.cid = s.cid
      ORDER BY cid, dim"""))

  // --- q215: DETERMINISTIC NEGATIVE SAMPLING — the contrastive-training
  //     data op: pick 2 cross-label negatives per anchor with NO rand()
  //     anywhere (the shard-reproducibility contract of q152/q164).
  //     Candidates come from the dsl.hashMod2L ring over the dense
  //     vec_id space (6 seeded draws per anchor — a bounded literal
  //     explode), each draw is label-checked by ONE equi-join against
  //     the id→label frame, invalid draws (self or same label) are
  //     dropped without resampling — deterministic over-provisioning
  //     (6 draws for 2 slots), the distributed answer to "rejection
  //     sampling needs a loop". Slots are (anchor, draw-order) windows
  //     over ≤6 rows. At 100 TB the candidate frame is 6×|corpus| rows
  //     joined on neg_id — a plain shuffle equi-join AQE can split;
  //     nothing is ever collected or iterated.
  private val q215 = Q(
    "q215_negative_sampling",
    "✦ training data: deterministic hash negative sampling (2 cross-label negatives per anchor)",
    (s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val n = e.agg(count(lit(1)).as("n_total"))
      val js = array((1 to 6).map(j => lit(j.toLong)): _*)
      val cand = e.select(col("vec_id").as("anchor"),
          col("label").as("anchor_label"))
        .crossJoin(broadcast(n))
        .withColumn("j", explode(js))
        .withColumn("neg_id",
          graft.dsl.hashMod2L(col("anchor") * 8 + col("j"), col("n_total")))
      val w = Window.partitionBy(col("anchor")).orderBy(col("j"))
      cand.join(e.select(col("vec_id").as("neg_id"),
          col("label").as("neg_label")), Seq("neg_id"))
        .filter(col("neg_id") =!= col("anchor")
          && col("neg_label") =!= col("anchor_label"))
        .withColumn("slot", row_number().over(w).cast("long"))
        .filter(col("slot") <= 2)
        .select(col("anchor"), col("anchor_label"), col("slot"),
          col("neg_id"), col("neg_label"))
        .orderBy(col("anchor"), col("slot"))
    },
    Some(s"""WITH e AS (SELECT vec_id, label FROM embeddings),
    n AS (SELECT COUNT(*) AS n_total FROM e),
    js AS (SELECT CAST(j AS BIGINT) AS j
      FROM (VALUES (1), (2), (3), (4), (5), (6)) t(j)),
    cand AS (SELECT e.vec_id AS anchor, e.label AS anchor_label, js.j,
        ${graft.dsl.hashMod2LSql("e.vec_id * 8 + js.j", "n.n_total")}
          AS neg_id
      FROM e CROSS JOIN js CROSS JOIN n),
    kept AS (SELECT c.anchor, c.anchor_label, c.j, c.neg_id,
        x.label AS neg_label
      FROM cand c JOIN e x ON c.neg_id = x.vec_id
      WHERE c.neg_id <> c.anchor AND x.label <> c.anchor_label),
    r AS (SELECT anchor, anchor_label, neg_id, neg_label,
        CAST(ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY j) AS BIGINT)
          AS slot
      FROM kept)
    SELECT anchor, anchor_label, slot, neg_id, neg_label
    FROM r WHERE slot <= 2 ORDER BY anchor, slot"""))

  // --- q236: GRID-BLOCKED ε-NEIGHBOR JOIN — the spatial-join pattern
  //     (DBSCAN's region query, geo proximity): all point pairs within
  //     euclidean ε in the (dim0, dim1) plane of the embedding space.
  //     Cell size = ε, so a point's neighbors can only live in its 3×3
  //     cell neighborhood: one side explodes to its 9 neighbor cells,
  //     the other stays in its home cell, and the equi-join on cell id
  //     replaces the O(n²) product — pair volume is Σ (9·cell_pop²),
  //     bounded by data density, the standard grid spatial join. Each
  //     true pair is produced exactly once (the probe side has ONE home
  //     cell). Determinism: cell = FLOOR(x/ε) of identical doubles is
  //     engine-identical (the fpTrunc argument); the verify d² ≤ ε² and
  //     the reported d² are the same IEEE expression in both engines.
  //     At 100 TB the same plan shards by cell id; hot cells (dense
  //     regions) are the AQE skew-split case. Oracle: the naive O(n²)
  //     threshold join — a different algorithm certifying the 3×3 cover
  //     is complete.
  private val q236 = Q(
    "q236_grid_epsilon_join",
    "✦ spatial: grid-blocked ε-neighbor join on the (dim0, dim1) embedding plane",
    (s, d) => {
      val eps = 0.02
      val p = Tables.embeddings(s, d).select(col("vec_id"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
      val cells = p
        .withColumn("cx", floor(col("x") / eps))
        .withColumn("cy", floor(col("y") / eps))
      val probe = cells.select(col("vec_id").as("vb"),
        col("x").as("xb"), col("y").as("yb"), col("cx"), col("cy"))
      val build = cells
        .withColumn("ox", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("oy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("vec_id").as("va"), col("x").as("xa"),
          col("y").as("ya"),
          (col("cx") + col("ox")).as("cx"), (col("cy") + col("oy")).as("cy"))
      build.join(probe, Seq("cx", "cy"))
        .filter(col("va") < col("vb"))
        .withColumn("d2",
          (col("xa") - col("xb")) * (col("xa") - col("xb"))
            + (col("ya") - col("yb")) * (col("ya") - col("yb")))
        .filter(col("d2") <= lit(eps * eps))
        .select(col("va"), col("vb"), col("d2"))
        .orderBy(col("va"), col("vb"))
    },
    Some("""WITH p AS (SELECT vec_id,
        CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings)
    SELECT a.vec_id AS va, b.vec_id AS vb,
      (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
    FROM p a JOIN p b ON a.vec_id < b.vec_id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= 0.02 * 0.02
    ORDER BY va, vb"""))

  // --- q269: DBSCAN — density-based clustering as a COMPOSITION of the
  //     engine's existing pieces, in the GRID-COLLAPSED form (r17): the
  //     ε-graph is inherently quadratic in data density (the sf100
  //     fixture measures ~4000 ε-neighbors/point — ~8B edges; the r16
  //     shape persisted that edge set and filled the spill disk), but
  //     DBSCAN never needs it materialized:
  //      - CORE TEST: any point in a collapse cell (side ε/1.5, so the
  //        cell diameter ≤ 0.943·ε < ε mathematically, with huge FP
  //        margin) holding ≥ minPts points is core by the diameter
  //        argument — zero counting. Only SPARSE-cell points anchor the
  //        counted ε-join, and sparse cells sit in sparse neighborhoods.
  //      - CONNECTIVITY: cores in one collapse cell are mutually within
  //        ε, so ConnectedComponents runs on the CELL graph (distinct
  //        core-core cross-cell witness edges, collapsed map-side from
  //        the one full candidate pass that streams — never persists —
  //        through the codegen join). Nodes ≤ #nonempty cells, not N;
  //        edges ≤ ~21 per cell, not ~deg²·N. Cluster ids come back to
  //        the oracle's vertex labels as min(vec_id) per component.
  //      - BORDERS anchor only the (small) non-core set; min-label is
  //        the deterministic resolution of DBSCAN's only
  //        order-dependent choice (textbook assigns borders to
  //        whichever cluster reaches them first; min-label is
  //        scan-order-free, so both engines and any partitioning
  //        agree).
  //     Exactness: the collapse changes WHICH computation finds cores
  //     and components, not the sets — same census bit-for-bit, same
  //     oracle. Output is the long-format (cluster, role, n) census
  //     with noise as cluster −1 — Σn = |P|. The oracle recomputes
  //     everything naively: brute-force pair join + a WITH RECURSIVE
  //     min-label reachability closure (its Σ|comp|² row count is
  //     fixture-bounded; the Spark side is the scale path). eps = 0.01,
  //     minPts = 4 give a non-degenerate census at every fixture SF
  //     (11–63 clusters, real noise). CC throws on an under-merged
  //     labeling instead of shipping a silently wrong census
  //     (q76's discipline — the r11 verdict caught q269 passing only
  //     because the round cap landed exactly on the fixpoint).
  /** q269's body. `grid` picks the regime: the registry derives it from
    * the corpus size ([[DbscanDirectMaxPoints]]), and DbscanRegimeSpec
    * passes the grid regime on a small corpus to run both on one
    * fixture. */
  private[graft] def dbscan(s: SparkSession, d: String, grid: Boolean): DataFrame = {
    val eps = 0.01
    val minPts = 4
    val side = eps / 1.5
    // |P| as a driver long (shared Memo key with the ANN gate — one
    // count per fixture dir serves both): replaces the census recount
    // pass.
    val nPts = Scale.embeddingsCount(s, d)
    // Collapse-cell id: coords are O(1) in every fixture, so ±2^20
    // cells per axis is unreachable headroom; the id stays a LONG.
    val p0 = Tables.embeddings(s, d).select(col("vec_id"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
      .withColumn("cx", floor(col("x") / eps))
      .withColumn("cy", floor(col("y") / eps))
      .withColumn("g",
        (floor(col("x") / side) + lit(1L << 20)) * lit(1L << 21)
          + (floor(col("y") / side) + lit(1L << 20)))
    /** ε-grid candidate stream: `anchor` rows (vec_id,x,y,cx,cy,g)
      * exploded to their 3×3 ε-cell neighborhood, joined to `probe`
      * rows, distance-verified. Streams through codegen — callers
      * aggregate it map-side; it is never persisted. */
    def epsPairs(anchor: DataFrame, probe: DataFrame): DataFrame =
      anchor
        .withColumn("ox", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("oy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("vec_id").as("va"), col("x").as("xa"),
          col("y").as("ya"), col("g").as("ga"),
          (col("cx") + col("ox")).as("cx"), (col("cy") + col("oy")).as("cy"))
        .join(probe.select(col("vec_id").as("vb"), col("x").as("xb"),
          col("y").as("yb"), col("g").as("gb"), col("cx"), col("cy")),
          Seq("cx", "cy"))
        .filter(col("va") =!= col("vb"))
        .filter((col("xa") - col("xb")) * (col("xa") - col("xb"))
          + (col("ya") - col("yb")) * (col("ya") - col("yb"))
          <= lit(eps * eps))
    // TWO REGIMES, one census (bit-identical by construction — the
    // spec pins it): below [[DbscanDirectMaxPoints]] the ε-pair
    // stream is cheap enough to persist ONCE and reuse for core
    // test, point-graph CC, and borders — 5 fewer jobs and no cell
    // bookkeeping, worth ~2× at fixture SFs where wall is all fixed
    // overhead (the r17 grid rewrite cost sf0.1 3.7 → 8.6 s). Above
    // it, the pair set is the scale killer (~deg·N rows, deg itself
    // grows with density — sf100 measured ~8B pairs and filled the
    // spill disk), so the grid-collapsed form never materializes it.
    val (coreComp, borders) = if (!grid) {
      // DIRECT (small corpus): persist the verified ε-pairs, run CC
      // on the point graph.
      val p = p0
      val pairs = epsPairs(p, p).select(col("va"), col("vb")).persist()
      val core = pairs.groupBy(col("va")).agg(count(lit(1)).as("n"))
        .filter(col("n") + 1 >= minPts).select(col("va").as("v")).persist()
      val ce = pairs
        .join(core.select(col("v").as("va")), Seq("va"), "semi")
        .join(core.select(col("v").as("vb")), Seq("vb"), "semi")
        .select(col("va"), col("vb"))
      val cc = graft.operators.ConnectedComponents.run(ce)
      // cores whose ε-neighbors are all non-core never enter the edge
      // set — they are their own singleton cluster (coalesce to self).
      val coreComp = core.join(cc, core("v") === cc("id"), "left")
        .select(col("v"), coalesce(col("cluster"), col("v")).as("comp"))
        .persist()
      val borders = pairs
        .join(core.select(col("v").as("va")), Seq("va"), "left_anti")
        .join(coreComp.select(col("v").as("vb"), col("comp")), Seq("vb"))
        .groupBy(col("va")).agg(min(col("comp")).as("comp"))
      (coreComp, borders)
    } else {
      // GRID-COLLAPSED (scale): the ε-graph is never materialized.
      val p = p0.persist()
      // Cell populations are cell-count-sized (≤ N/1, ~#clusters·O(1)
      // in practice) — broadcast to every leg. At a true 100 TB corpus
      // with an unbounded plane this becomes a shuffle join; here the
      // fixture plane bounds the cell space.
      val densePop = p.groupBy(col("g")).agg(count(lit(1)).as("pop"))
        .filter(col("pop") >= minPts).select(col("g"))
      // Core test: dense-cell members are core with NO counting; only
      // sparse-cell points anchor the counted join. countedCore is
      // bounded by the sparse population — broadcast-sized.
      val sparse = p.join(broadcast(densePop), Seq("g"), "left_anti")
      val countedCore = epsPairs(sparse, p)
        .groupBy(col("va")).agg(count(lit(1)).as("n"))
        .filter(col("n") + 1 >= minPts).select(col("va").as("v")).persist()
      // corePts persists: harness-owned cache (q47's rule — Verify/
      // Bench clearCache after each query releases them); it anchors
      // the edge pass, the border probe, and the census.
      val corePts = p.join(broadcast(densePop), Seq("g"), "semi")
        .unionByName(p.join(
          broadcast(countedCore.withColumnRenamed("v", "vec_id")),
          Seq("vec_id"), "semi"))
        .persist()
      // Cell-graph edges: the ONE full candidate pass; cross-cell
      // core-core witnesses collapse to distinct cell pairs map-side
      // (partial HashAggregate — the exchange carries cell pairs, not
      // the ~deg·N candidate rows).
      val ce = epsPairs(corePts, corePts)
        .filter(col("ga") =!= col("gb"))
        .select(least(col("ga"), col("gb")).as("va"),
          greatest(col("ga"), col("gb")).as("vb"))
        .distinct()
      val cc = graft.operators.ConnectedComponents.run(ce)
      // Cells with no cross-cell edge are their own component (coalesce
      // to self); vertex labels = min core vec_id per component — the
      // exact labels the oracle's vertex-level closure produces.
      val withComp = corePts.select(col("vec_id").as("v"), col("g"))
        .join(cc.withColumnRenamed("id", "g"), Seq("g"), "left")
        .select(col("v"), coalesce(col("cluster"), col("g")).as("compcell"))
      val lab = withComp.groupBy(col("compcell"))
        .agg(min(col("v")).as("comp"))
      val coreComp = withComp.join(lab, Seq("compcell"))
        .select(col("v"), col("comp")).persist()
      // Borders: only non-core points anchor the candidate stream; the
      // label joins back on the (aggregated) per-border min, not the
      // stream.
      val nonCore = sparse.join(
        broadcast(countedCore.withColumnRenamed("v", "vec_id")),
        Seq("vec_id"), "left_anti")
      val borders = epsPairs(nonCore, corePts)
        .join(coreComp.withColumnRenamed("v", "vb"), Seq("vb"))
        .groupBy(col("va")).agg(min(col("comp")).as("comp"))
      (coreComp, borders)
    }
    // n_total = the memoized |P| (p carries one row per embedding
    // row, so no recount pass).
    val counts = coreComp.agg(count(lit(1)).as("nc"))
      .withColumn("n_total", lit(nPts))
      .crossJoin(broadcast(borders.agg(count(lit(1)).as("nb"))))
    coreComp.groupBy(col("comp")).agg(count(lit(1)).as("n"))
      .select(col("comp").as("cluster"), lit("core").as("role"), col("n"))
      .unionByName(borders.groupBy(col("comp"))
        .agg(count(lit(1)).as("n"))
        .select(col("comp").as("cluster"), lit("border").as("role"),
          col("n")))
      .unionByName(counts.select(lit(-1L).as("cluster"),
        lit("noise").as("role"),
        (col("n_total") - col("nc") - col("nb")).as("n")))
      .orderBy(col("cluster"), col("role"))
  }

  private val q269 = Q(
    "q269_dbscan",
    "✦ clustering: DBSCAN via grid ε-join + core test + CC labels + min-label borders",
    (s, d) => dbscan(s, d,
      grid = Scale.embeddingsCount(s, d) > DbscanDirectMaxPoints),
    Some("""WITH p AS (SELECT vec_id,
        CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    pairs AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb
      FROM p a JOIN p b ON a.vec_id != b.vec_id
        AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= 0.01 * 0.01),
    core AS MATERIALIZED (SELECT va AS v
      FROM (SELECT va, COUNT(*) AS n FROM pairs GROUP BY va)
      WHERE n + 1 >= 4),
    ce AS MATERIALIZED (SELECT va, vb FROM pairs
      WHERE va IN (SELECT v FROM core) AND vb IN (SELECT v FROM core)),
    reach AS MATERIALIZED (
      WITH RECURSIVE rr(v, lab) AS (
        SELECT v, v FROM core
        UNION
        SELECT e.vb, r.lab FROM rr r JOIN ce e ON e.va = r.v)
      SELECT v, lab FROM rr),
    comp AS MATERIALIZED (SELECT v, CAST(MIN(lab) AS BIGINT) AS comp
      FROM reach GROUP BY v),
    borders AS MATERIALIZED (SELECT pr.va, MIN(c.comp) AS comp
      FROM pairs pr JOIN comp c ON pr.vb = c.v
      WHERE pr.va NOT IN (SELECT v FROM core)
      GROUP BY pr.va)
    SELECT comp AS cluster, 'core' AS role, CAST(COUNT(*) AS BIGINT) AS n
    FROM comp GROUP BY comp
    UNION ALL
    SELECT comp AS cluster, 'border' AS role, CAST(COUNT(*) AS BIGINT) AS n
    FROM borders GROUP BY comp
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS cluster, 'noise' AS role,
      CAST((SELECT COUNT(*) FROM p) - (SELECT COUNT(*) FROM comp)
        - (SELECT COUNT(*) FROM borders) AS BIGINT) AS n
    ORDER BY cluster, role"""))

  // --- q277: PRODUCT QUANTIZATION (PQ) — the standard way embedding
  //     search scales past what raw vectors can afford: split the
  //     64-dim space into m=8 independent 8-dim subspaces, train a
  //     tiny k=16 codebook per subspace (Lloyd, q214's integer-exact
  //     arithmetic), encode every vector as 8 small codes (64 floats →
  //     8 4-bit codes — 64× compression — that makes a 100 TB corpus's
  //     vectors RAM-resident), then answer a query with ASYMMETRIC
  //     DISTANCE COMPUTATION: one m×k lookup table of exact
  //     query-to-centroid sub-distances, and each candidate's distance
  //     is just m table lookups summed — no original vector touched.
  //     ADC then SHORTLISTS top-60 and exact d² re-ranks only those 60
  //     to a top-15 (the two-stage retrieve-then-rerank every PQ
  //     deployment runs; shortlist recall@15 = 0.93 on the fixture,
  //     pinned in PqSpec).
  //     Every step is engine-exact (graft.operators.Lloyd, keyed by
  //     `sub`): codes, LUT, and ADC sums are all integers and cannot
  //     drift between engines.
  //     Scale shape: training is q214's loop per subspace run as ONE
  //     joint plan (centroid id = (sub, cid); the codebook frame is
  //     m·k·(dims/m) = 1,024 rows — always broadcast); encoding is one
  //     broadcast join + map-combined aggregate over the long-format
  //     corpus; ADC is a broadcast of the 128-row LUT against the code
  //     frame — per-vector work is O(m), never O(dims). At 100 TB the
  //     codes frame (4 bytes/vector) replaces the 256-byte vectors in
  //     every downstream candidate sweep; the exact-d² leg here is the
  //     audit, not the scale path (production re-ranks only the ADC
  //     top-k against originals).
  private val q277 = Q(
    "q277_product_quantization",
    "✦ ANN: product quantization — 8×(k=16) codebooks, integer Lloyd, ADC shortlist-60 + exact re-rank top-15",
    (s, d) => {
      // Every downstream pass — the Lloyd rounds, the encode, the ADC
      // aggregate and the exact-d² audit — groups or joins on vec_id,
      // so the vec_id-partitioned persist (Lloyd.units) serves them all
      // without an exchange. ve persist: harness-owned cache (q47's rule
      // — Verify/Bench clearCache after each query).
      val ve = Lloyd.units(Tables.embeddings(s, d))
        .withColumn("sub", floor(col("dim") / lit(8L)))
        .persist()
      // Init: vec 0..15's subvectors seed the 16 centroids of each
      // subspace.
      val cent = Lloyd.rounds(ve, Seq("sub"), 16, 3)
      // Encode the corpus against the TRAINED codebook (iteration 3's),
      // the same pass a production encoder ships.
      val codes = Lloyd.assign(ve, cent, Seq("sub"), 16)
      val q = ve.filter(col("vec_id") === 7)
        .select(col("sub"), col("dim"), col("xu").as("qu"))
      val lut = cent.join(broadcast(q), Seq("sub", "dim"))
        .withColumn("dd", (col("qu") - col("cu")) * (col("qu") - col("cu")))
        .groupBy(col("sub"), col("cid")).agg(sum(col("dd")).as("qd2"))
      val adc = codes.filter(col("vec_id") =!= 7)
        .join(broadcast(lut), Seq("sub", "cid"))
        .groupBy(col("vec_id")).agg(sum(col("qd2")).as("adc_d2"))
      // Production pattern: ADC is the SHORTLIST mechanism (top-60 via
      // a per-partition-heap TakeOrderedAndProject), exact distance
      // re-ranks only those 60 — the original vectors are touched for
      // 60 rows, not the corpus.
      val short = adc.orderBy(col("adc_d2"), col("vec_id")).limit(60)
      val exact = ve.join(broadcast(short), Seq("vec_id"))
        .join(broadcast(q.select(col("dim"), col("qu"))), Seq("dim"))
        .withColumn("dd", (col("xu") - col("qu")) * (col("xu") - col("qu")))
        .groupBy(col("vec_id"), col("adc_d2"))
        .agg(sum(col("dd")).as("exact_d2"))
      exact.select(col("vec_id"), col("adc_d2"), col("exact_d2"))
        .orderBy(col("exact_d2"), col("vec_id")).limit(15)
    },
    Some(s"""WITH ${Lloyd.twinSql(Seq("sub" -> "dim // 8"), 16, 3)},
      q AS (SELECT sub, dim, xu AS qu FROM ve WHERE vec_id = 7),
      lut AS (SELECT c.sub, c.cid,
          CAST(SUM((q.qu - c.cu) * (q.qu - c.cu)) AS BIGINT) AS qd2
        FROM c3 c JOIN q ON c.sub = q.sub AND c.dim = q.dim
        GROUP BY 1, 2),
      adc AS (SELECT a.vec_id, CAST(SUM(l.qd2) AS BIGINT) AS adc_d2
        FROM a4 a JOIN lut l ON a.sub = l.sub AND a.cid = l.cid
        WHERE a.vec_id <> 7 GROUP BY 1),
      short AS (SELECT vec_id, adc_d2 FROM adc
        ORDER BY adc_d2, vec_id LIMIT 60),
      ex AS (SELECT ve.vec_id, sh.adc_d2,
          CAST(SUM((ve.xu - q.qu) * (ve.xu - q.qu)) AS BIGINT) AS exact_d2
        FROM ve JOIN short sh ON ve.vec_id = sh.vec_id
        JOIN q ON ve.sub = q.sub AND ve.dim = q.dim
        GROUP BY 1, 2)
      SELECT vec_id, adc_d2, exact_d2 FROM ex
      ORDER BY exact_d2, vec_id LIMIT 15"""))

  // --- q286: CLUSTER-AGREEMENT AUDIT (adjusted Rand index + purity) —
  //     "do the discovered clusters recover the known classes?": score
  //     q214's k-means assignment (the IDENTICAL memoized assignment,
  //     kmeansLloyd) against the embeddings' ground-truth labels.
  //     Everything reduces to the CONTINGENCY TABLE n_ij (label ×
  //     cluster co-occurrence counts — a #labels·#clusters-row frame,
  //     the audit's only corpus-sized pass is the one count
  //     aggregate), from which both metrics are pure integer pair
  //     counts: ARI's C(n,2)-identity form with the /2s cleared —
  //     ari = (2·C(n,2)·Σij − 2·ΣA·ΣB) / (C(n,2)·(ΣA+ΣB) − 2·ΣA·ΣB),
  //     where Σij/ΣA/ΣB are sums of x·(x−1) div 2 over cells/rows/
  //     columns (div, not float division — exact at any corpus size)
  //     — and purity = Σ_cluster max_label n_ij / n. One final IEEE
  //     division each through fpTrunc; every operand is an exact
  //     BIGINT on both engines.
  private val q286 = Q(
    "q286_cluster_agreement",
    "✦ ML eval: adjusted Rand + purity of k-means clusters vs ground-truth labels",
    (s, d) => {
      val (_, _, asg) = kmeansLloyd(s, d)
      val lab = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val ct = asg.join(lab, Seq("vec_id"))
        .groupBy(col("label"), col("cid")).agg(count(lit(1)).as("nij"))
        .localCheckpoint(true) // ≤ #labels·k rows; read by 5 readouts
      val cells = ct.agg(
        sum(col("nij")).as("n"),
        sum(expr("(nij * (nij - 1)) div 2")).as("sum_ij"),
        countDistinct(col("label")).as("n_labels"),
        countDistinct(col("cid")).as("n_clusters"))
      val rows = ct.groupBy(col("label")).agg(sum(col("nij")).as("ai"))
        .agg(sum(expr("(ai * (ai - 1)) div 2")).as("sum_a"))
      val cols = ct.groupBy(col("cid")).agg(sum(col("nij")).as("bj"))
        .agg(sum(expr("(bj * (bj - 1)) div 2")).as("sum_b"))
      val pur = ct.groupBy(col("cid")).agg(max(col("nij")).as("mx"))
        .agg(sum(col("mx")).as("purity_num"))
      cells.crossJoin(rows).crossJoin(cols).crossJoin(pur)
        .withColumn("c2n", expr("(n * (n - 1)) div 2"))
        .select(col("n"), col("n_labels"), col("n_clusters"),
          col("purity_num"),
          graft.dsl.fpTrunc(col("purity_num").cast("double")
            / col("n").cast("double"), 9).as("purity"),
          graft.dsl.fpTrunc(
            (col("c2n") * col("sum_ij") * 2
              - col("sum_a") * col("sum_b") * 2).cast("double")
              / (col("c2n") * (col("sum_a") + col("sum_b"))
                - col("sum_a") * col("sum_b") * 2).cast("double"), 9)
            .as("ari"))
    },
    Some(s"""WITH ${Lloyd.twinSql(Nil, KmeansK, KmeansRounds)},
      ct AS (SELECT CAST(e.label AS BIGINT) AS label, a.cid,
          CAST(COUNT(*) AS BIGINT) AS nij
        FROM a3 a JOIN embeddings e ON a.vec_id = e.vec_id
        GROUP BY 1, 2),
      cells AS (SELECT CAST(SUM(nij) AS BIGINT) AS n,
          CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT) AS sum_ij,
          CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
          CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_clusters
        FROM ct),
      rws AS (SELECT CAST(SUM((ai * (ai - 1)) // 2) AS BIGINT) AS sum_a
        FROM (SELECT CAST(SUM(nij) AS BIGINT) AS ai FROM ct
          GROUP BY label)),
      cls AS (SELECT CAST(SUM((bj * (bj - 1)) // 2) AS BIGINT) AS sum_b
        FROM (SELECT CAST(SUM(nij) AS BIGINT) AS bj FROM ct
          GROUP BY cid)),
      pur AS (SELECT CAST(SUM(mx) AS BIGINT) AS purity_num
        FROM (SELECT MAX(nij) AS mx FROM ct GROUP BY cid))
      SELECT n, n_labels, n_clusters, purity_num,
        ${graft.dsl.fpTruncSql(
          "CAST(purity_num AS DOUBLE) / CAST(n AS DOUBLE)", 9)} AS purity,
        ${graft.dsl.fpTruncSql(
          "CAST(((n * (n - 1)) // 2) * sum_ij * 2 - sum_a * sum_b * 2" +
            " AS DOUBLE) / CAST(((n * (n - 1)) // 2) * (sum_a + sum_b)" +
            " - sum_a * sum_b * 2 AS DOUBLE)", 9)} AS ari
      FROM cells, rws, cls, pur"""))

  // --- q287: kNN LABEL-AGREEMENT AUDIT (label-noise detection) — the
  //     confident-learning-style screen run before training a classifier
  //     on weak labels: for each probed vector, what fraction of its k=10
  //     exact-cosine nearest neighbors share its label? A vector whose
  //     neighborhood votes against it (agree ≤ 2 of 10) is a mislabel /
  //     outlier suspect. Probes are a DETERMINISTIC 1-in-5 decimation
  //     CAPPED at the fixed ProbeBudget (vec_id % 5 = 0 ∧ vec_id <
  //     5·budget — the q152 hash-sample discipline plus the r13 rule
  //     that a probe set must never be a corpus FRACTION, see
  //     ProbeBudget), so the probe frame is bounded and
  //     broadcast; candidate pairs come from auditPairs — at fixture
  //     SFs the exact ONE-corpus-scan broadcast join into the fused
  //     codegen'd cosine kernel (q44's plan), above the corpus
  //     threshold the IVF shortlist with the same exact re-rank (the
  //     r14 scale path; see auditPairs). Agreement
  //     stays integer (agree of k) until one final fpTrunc division.
  private val q287 = Q(
    "q287_knn_label_agreement",
    "✦ ML data quality: label-noise screen — kNN label agreement per probe, suspects per label",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") % 5 === 0
        && col("vec_id") < lit(5L * ProbeBudget))
        .select(col("vec_id").as("pid"), col("embedding").as("pe"),
          col("label").cast("long").as("plab"))
      val cands = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("label").cast("long").as("clab"))
      val w = Window.partitionBy(col("pid"))
        .orderBy(col("score").desc, col("cid"))
      val agree = auditPairs(s, d, probes, cands)
        .select(col("pid"), col("plab"), col("clab"),
          graft.functions.CosineSimilarity
            .cosineSim(col("pe"), col("ce")).as("score"), col("cid"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .groupBy(col("pid"), col("plab"))
        .agg(sum(when(col("clab") === col("plab"), 1L).otherwise(0L))
          .as("agree"))
      agree.groupBy(col("plab").as("label"))
        .agg(count(lit(1)).as("n_probes"),
          sum(col("agree")).as("agree_total"),
          sum(when(col("agree") <= 2, 1L).otherwise(0L)).as("n_suspect"))
        .select(col("label"), col("n_probes"), col("agree_total"),
          col("n_suspect"),
          graft.dsl.fpTrunc(col("agree_total").cast("double")
            / (col("n_probes").cast("double") * 10.0), 9).as("agreement"))
        .orderBy(col("label"))
    },
    Some(s"""WITH nb AS (
      SELECT p.vec_id AS pid, CAST(p.label AS BIGINT) AS plab,
        CAST(c.label AS BIGINT) AS clab,
        ROW_NUMBER() OVER (PARTITION BY p.vec_id
          ORDER BY ${cosineSql("p.embedding", "c.embedding")} DESC,
            c.vec_id) AS rank
      FROM embeddings p JOIN embeddings c ON p.vec_id != c.vec_id
      WHERE p.vec_id % 5 = 0 AND p.vec_id < 5 * ${ProbeBudget}),
    ag AS (SELECT pid, plab,
        CAST(SUM(CASE WHEN clab = plab THEN 1 ELSE 0 END) AS BIGINT)
          AS agree
      FROM nb WHERE rank <= 10 GROUP BY 1, 2)
    SELECT plab AS label, COUNT(*) AS n_probes,
      CAST(SUM(agree) AS BIGINT) AS agree_total,
      CAST(SUM(CASE WHEN agree <= 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_suspect,
      ${graft.dsl.fpTruncSql(
        "CAST(SUM(agree) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 10.0)",
        9)} AS agreement
    FROM ag GROUP BY plab ORDER BY label"""))

  // --- q290: EMBEDDING SNAPSHOT DRIFT — q272's PSI answers "did the
  //     scalar features drift?"; this answers the same question for the
  //     EMBEDDING SPACE between two corpus snapshots (here the
  //     deterministic vec_id-parity halves): centroid cosine, centroid
  //     norm ratio, and L1/L∞ per-dimension mean shift, plus a count of
  //     dimensions shifted beyond 0.01 (10,000 integer units). Exactness:
  //     coordinates quantize ONCE to 1e-6 integer units (the q167/q214
  //     rule), per-(snapshot, dim) means re-quantize via the engine-
  //     identical FLOOR(exact-int-sum / count) double division, and every
  //     downstream moment (dot, norms², shifts) is then EXACT BIGINT
  //     arithmetic over the two 64-long mean vectors — |mu| ≤ 1e6 units
  //     keeps Σ mu² ≤ 64·1e12 far from both the BIGINT and the 2^53
  //     double-exactness bounds, so the final sqrt/divide/fpTrunc is the
  //     only floating step. Shape at 100 TB: ONE map-combined
  //     (snap, dim) aggregate over the long-format corpus (the corpus-
  //     sized pass), then all metrics on a 64-row frame; generalizes to
  //     date-partitioned snapshots by keying snap on the partition
  //     column, where partition pruning confines each run to the two
  //     snapshots compared.
  private val q290 = Q(
    "q290_embedding_drift",
    "✦ ML data quality: embedding-space drift between snapshots — centroid cosine, norm ratio, L1/L∞ mean shift",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val ve = e.select((col("vec_id") % 2).as("snap"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("snap"), col("dim"),
          floor(col("x").cast("double") * 1e6).as("xu"))
      val mu = ve.groupBy(col("snap"), col("dim"))
        .agg(floor(sum(col("xu")).cast("double")
          / count(lit(1)).cast("double")).as("mu"))
      val wide = mu.groupBy(col("dim"))
        .agg(max(when(col("snap") === 0, col("mu"))).as("mu_ref"),
          max(when(col("snap") === 1, col("mu"))).as("mu_cur"))
      val moments = wide.agg(
        sum(col("mu_ref") * col("mu_cur")).as("dot_u"),
        sum(col("mu_ref") * col("mu_ref")).as("na"),
        sum(col("mu_cur") * col("mu_cur")).as("nb"),
        sum(abs(col("mu_ref") - col("mu_cur"))).as("l1_shift_u"),
        max(abs(col("mu_ref") - col("mu_cur"))).as("linf_shift_u"),
        sum(when(abs(col("mu_ref") - col("mu_cur")) > 10000L, 1L)
          .otherwise(0L)).as("n_dims_shifted"))
      val counts = e.agg(
        sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_cur"))
      counts.crossJoin(moments)
        .select(col("n_ref"), col("n_cur"), col("dot_u"),
          col("l1_shift_u"), col("linf_shift_u"), col("n_dims_shifted"),
          graft.dsl.fpTrunc(col("dot_u").cast("double")
            / (sqrt(col("na").cast("double"))
              * sqrt(col("nb").cast("double"))), 9).as("cos_centroids"),
          graft.dsl.fpTrunc(sqrt(col("na").cast("double"))
            / sqrt(col("nb").cast("double")), 9).as("norm_ratio"))
    },
    Some(s"""WITH ve AS (
      SELECT vec_id % 2 AS snap, g.i AS dim,
        CAST(FLOOR(CAST(embedding[g.i + 1] AS DOUBLE) * 1e6) AS BIGINT)
          AS xu
      FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i) g),
    mu AS (SELECT snap, dim,
        CAST(FLOOR(CAST(SUM(xu) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu
      FROM ve GROUP BY 1, 2),
    wide AS (SELECT dim,
        MAX(CASE WHEN snap = 0 THEN mu END) AS mu_ref,
        MAX(CASE WHEN snap = 1 THEN mu END) AS mu_cur
      FROM mu GROUP BY dim),
    mo AS (SELECT
        CAST(SUM(mu_ref * mu_cur) AS BIGINT) AS dot_u,
        CAST(SUM(mu_ref * mu_ref) AS BIGINT) AS na,
        CAST(SUM(mu_cur * mu_cur) AS BIGINT) AS nb,
        CAST(SUM(ABS(mu_ref - mu_cur)) AS BIGINT) AS l1_shift_u,
        CAST(MAX(ABS(mu_ref - mu_cur)) AS BIGINT) AS linf_shift_u,
        CAST(SUM(CASE WHEN ABS(mu_ref - mu_cur) > 10000 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_dims_shifted
      FROM wide),
    cnt AS (SELECT
        CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_ref,
        CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_cur
      FROM embeddings)
    SELECT n_ref, n_cur, dot_u, l1_shift_u, linf_shift_u, n_dims_shifted,
      ${graft.dsl.fpTruncSql(
        "CAST(dot_u AS DOUBLE) / (SQRT(CAST(na AS DOUBLE))" +
          " * SQRT(CAST(nb AS DOUBLE)))", 9)} AS cos_centroids,
      ${graft.dsl.fpTruncSql(
        "SQRT(CAST(na AS DOUBLE)) / SQRT(CAST(nb AS DOUBLE))",
        9)} AS norm_ratio
    FROM cnt, mo"""))

  // --- q304: CENTROID SILHOUETTE OF THE LABEL CLASSES — "are the
  //     labels even separable in embedding space?", the go/no-go check
  //     before training a classifier on them (q286 scores DISCOVERED
  //     clusters; this scores the GIVEN labels). Centroid variant
  //     (a = d² to own-label centroid, b = min d² to any other
  //     centroid) so the cost is one broadcast of the #labels×64
  //     centroid frame against the long-format corpus — never the
  //     all-pairs distances of textbook silhouette. Exactness: q214's
  //     integer-unit rules end-to-end (quantize once, FLOOR(sum/count)
  //     centroids, exact integer d² sums), and the per-label readout
  //     is the MICRO-averaged silhouette Σ(b−a)/Σmax(a,b) — a ratio of
  //     two exact BIGINT sums (order-free, oracle-exact at any scale),
  //     chosen over the per-row-mean variant whose float sum would
  //     need q45's block decomposition. A class that beats 0 is
  //     separable; n_misassigned counts vectors strictly closer to a
  //     foreign centroid (the label-noise suspects, cross-checking
  //     q287's kNN vote from the parametric side).
  private val q304 = Q(
    "q304_centroid_silhouette",
    "✦ ML eval: micro-averaged centroid silhouette per label class, integer-exact distances",
    (s, d) => {
      val ve = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("label"),
          col("dim").cast("long").as("dim"),
          floor(col("x").cast("double") * 1e6).as("xu"))
        .persist()
      // ve persist: centroid pass + distance pass — harness-owned
      // cache (q47's rule).
      val cent = ve.groupBy(col("label").as("cl"), col("dim"))
        .agg(floor(sum(col("xu")).cast("double")
          / count(lit(1)).cast("double")).as("cu"))
      val d2 = ve.join(broadcast(cent), Seq("dim"))
        .withColumn("dd", (col("xu") - col("cu")) * (col("xu") - col("cu")))
        .groupBy(col("vec_id"), col("label"), col("cl"))
        .agg(sum(col("dd")).as("d2"))
      val ab = d2.groupBy(col("vec_id"), col("label"))
        .agg(max(when(col("cl") === col("label"), col("d2"))).as("a"),
          min(when(col("cl") =!= col("label"), col("d2"))).as("b"))
      ab.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("b") < col("a"), 1L).otherwise(0L))
            .as("n_misassigned"),
          sum(col("b") - col("a")).as("num"),
          sum(greatest(col("a"), col("b"))).as("den"))
        .select(col("label"), col("n"), col("n_misassigned"),
          graft.dsl.fpTrunc(col("n_misassigned").cast("double")
            / col("n").cast("double"), 9).as("mis_share"),
          graft.dsl.fpTrunc(col("num").cast("double")
            / col("den").cast("double"), 9).as("micro_silhouette"))
        .orderBy(col("label"))
    },
    Some(s"""WITH ve AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label, g.i AS dim,
        CAST(FLOOR(CAST(embedding[g.i + 1] AS DOUBLE) * 1e6) AS BIGINT)
          AS xu
      FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i) g),
    cent AS (SELECT label AS cl, dim,
        CAST(FLOOR(CAST(SUM(xu) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cu
      FROM ve GROUP BY 1, 2),
    d2 AS (SELECT ve.vec_id, ve.label, c.cl,
        CAST(SUM((ve.xu - c.cu) * (ve.xu - c.cu)) AS BIGINT) AS d2
      FROM ve JOIN cent c ON ve.dim = c.dim
      GROUP BY 1, 2, 3),
    ab AS (SELECT vec_id, label,
        CAST(MAX(CASE WHEN cl = label THEN d2 END) AS BIGINT) AS a,
        CAST(MIN(CASE WHEN cl != label THEN d2 END) AS BIGINT) AS b
      FROM d2 GROUP BY 1, 2)
    SELECT label, COUNT(*) AS n,
      CAST(SUM(CASE WHEN b < a THEN 1 ELSE 0 END) AS BIGINT)
        AS n_misassigned,
      ${graft.dsl.fpTruncSql(
        "CAST(SUM(CASE WHEN b < a THEN 1 ELSE 0 END) AS DOUBLE)" +
          " / CAST(COUNT(*) AS DOUBLE)", 9)} AS mis_share,
      ${graft.dsl.fpTruncSql(
        "CAST(SUM(b - a) AS DOUBLE)" +
          " / CAST(SUM(GREATEST(a, b)) AS DOUBLE)", 9)}
        AS micro_silhouette
    FROM ab GROUP BY label ORDER BY label"""))

  // --- q305: NDCG RETRIEVAL EVALUATION — the graded-relevance metric
  //     for the engine's retrieval stack (q44 exact / q57 LSH / q276
  //     RRF): score the exact-cosine top-10 ranking per probe against
  //     same-label relevance. Per-probe DCG folds its ≤10 terms in
  //     rank order (bounded fold — deterministic at any scale);
  //     discounts are natural-log (dcg/idcg are "nats" columns —
  //     NDCG itself is BASE-INVARIANT, identical to the log2
  //     textbook value, because the base cancels in the ratio). The
  //     ideal DCG caps at min(10, #relevant-in-corpus) — the honest
  //     denominator when a label class is thin. Probes are q287's
  //     deterministic 1-in-5 decimation capped at ProbeBudget
  //     (bounded broadcast side);
  //     output stays per-probe — the grain that avoids a corpus-sized
  //     float mean (a label-level rollup would need q45's block fold).
  private val q305 = Q(
    "q305_ndcg_retrieval",
    "✦ ML eval: per-probe NDCG@10 of exact-cosine retrieval vs same-label relevance",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") % 5 === 0
        && col("vec_id") < lit(5L * ProbeBudget))
        .select(col("vec_id").as("pid"), col("embedding").as("pe"),
          col("label").cast("long").as("plab"))
      val cands = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("label").cast("long").as("clab"))
      val labTot = cands.groupBy(col("clab").as("plab"))
        .agg(count(lit(1)).as("n_lab"))
      val w = Window.partitionBy(col("pid"))
        .orderBy(col("score").desc, col("cid"))
      val ranked = auditPairs(s, d, probes, cands)
        .select(col("pid"), col("plab"), col("clab"),
          graft.functions.CosineSimilarity
            .cosineSim(col("pe"), col("ce")).as("score"), col("cid"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
      ranked.groupBy(col("pid"), col("plab"))
        .agg(sum(when(col("clab") === col("plab"), 1L).otherwise(0L))
          .as("n_rel_at10"),
          array_sort(collect_list(struct(col("rank"),
            when(col("clab") === col("plab"), 1L).otherwise(0L)
              .as("rel")))).as("arr"))
        .join(broadcast(labTot), Seq("plab"))
        // relevant pool excludes the probe itself (same label).
        .withColumn("n_ideal", least(lit(10L), col("n_lab") - 1))
        .select(col("pid"), col("plab"), col("n_rel_at10"), col("n_ideal"),
          fsum(transform(col("arr"), x =>
            x.getField("rel").cast("double")
              / log(x.getField("rank").cast("double") + 1.0)))
            .as("dcg_nats"),
          // n_ideal = 0 guard (a probe whose label class is a singleton):
          // Spark's sequence(1, 0) counts DOWN to [1, 0] (the q275/q280/
          // q289 rule), which would fold in 1/ln(1) = +Inf, while DuckDB's
          // generate_series(1, 0) is empty → NULL. NULL on both engines is
          // the agreed degenerate value (ndcg divides into NULL too).
          when(col("n_ideal") >= 1,
            fsum(transform(sequence(lit(1L), col("n_ideal")), i =>
              lit(1.0) / log(i.cast("double") + 1.0)))).as("idcg_nats"))
        .select(col("pid"), col("plab"), col("n_rel_at10"), col("n_ideal"),
          graft.dsl.fpTrunc(col("dcg_nats"), 9).as("dcg_nats"),
          graft.dsl.fpTrunc(col("idcg_nats"), 9).as("idcg_nats"),
          graft.dsl.fpTrunc(col("dcg_nats") / col("idcg_nats"), 9)
            .as("ndcg"))
        .orderBy(col("pid"))
    },
    Some(s"""WITH nb AS (
      SELECT p.vec_id AS pid, CAST(p.label AS BIGINT) AS plab,
        CASE WHEN c.label = p.label THEN 1 ELSE 0 END AS rel,
        ROW_NUMBER() OVER (PARTITION BY p.vec_id
          ORDER BY ${cosineSql("p.embedding", "c.embedding")} DESC,
            c.vec_id) AS rank
      FROM embeddings p JOIN embeddings c ON p.vec_id != c.vec_id
      WHERE p.vec_id % 5 = 0 AND p.vec_id < 5 * ${ProbeBudget}),
    lt AS (SELECT CAST(label AS BIGINT) AS plab,
        CAST(COUNT(*) AS BIGINT) AS n_lab
      FROM embeddings GROUP BY 1),
    ag AS (SELECT pid, plab,
        CAST(SUM(rel) AS BIGINT) AS n_rel_at10,
        list_sum(list_transform(list(struct_pack(rank := rank, rel := rel)
            ORDER BY rank),
          x -> CAST(x.rel AS DOUBLE) / ln(CAST(x.rank AS DOUBLE) + 1.0)))
          AS dcg
      FROM nb WHERE rank <= 10 GROUP BY 1, 2),
    fin AS (SELECT pid, ag.plab, n_rel_at10,
        LEAST(10, lt.n_lab - 1) AS n_ideal, dcg,
        CASE WHEN LEAST(10, lt.n_lab - 1) >= 1 THEN
          list_sum(list_transform(generate_series(1,
              LEAST(10, lt.n_lab - 1)),
            i -> 1.0 / ln(CAST(i AS DOUBLE) + 1.0))) END AS idcg
      FROM ag JOIN lt ON ag.plab = lt.plab)
    SELECT pid, plab, n_rel_at10, CAST(n_ideal AS BIGINT) AS n_ideal,
      ${graft.dsl.fpTruncSql("dcg", 9)} AS dcg_nats,
      ${graft.dsl.fpTruncSql("idcg", 9)} AS idcg_nats,
      ${graft.dsl.fpTruncSql("dcg / idcg", 9)} AS ndcg
    FROM fin ORDER BY pid"""))

  // --- q311: RANK-BIASED OVERLAP (RBO) QUANTIZATION-FIDELITY AUDIT —
  //     q129/q277 speed retrieval up by quantizing; this measures what
  //     quantization does to the RANKING, which recall alone cannot
  //     see (same set, scrambled order ⇒ recall 1, broken top-1). RBO
  //     compares the exact-cosine top-10 against the coarse-integer-
  //     dot top-10 per probe with TOP-WEIGHTED depth discounts:
  //     rbo@10 = (1−p)·Σ_{d=1..10} p^{d−1}·|A_d ∩ B_d|/d, with
  //     p = 1/2 — chosen over the textbook 0.9 because 2^{-(d-1)} is
  //     BINARY-EXACT in both engines (no cross-engine pow), making
  //     every term an exact rational evaluated in one fixed-order
  //     bounded fold. The quantized leg re-ranks by Σ⌊64x⌋·⌊64y⌋ —
  //     exact BIGINT scores, deterministic ties by cid. Probes are the
  //     budget-capped q287 decimation; both rankings ride the same
  //     one-scan
  //     broadcast-probe plan.
  private val q311 = Q(
    "q311_rbo_quantization",
    "✦ similarity audit: rank-biased overlap of quantized vs exact top-10 per probe",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      // Quantize PER SIDE, before the pair join (r16): the old form ran
      // zip_with(pe, ce, floor(a*64)*floor(b*64)) per PAIR — n·p HOF
      // interpreter evaluations doing n·p quantizations. Pre-quantizing
      // each side is n + p transform evaluations, and the per-pair hot
      // op becomes the fused codegen'd int_dot (q129's kernel). Scores
      // are bit-identical: ⌊64x⌋ ∈ [-64, 64] so every product and the
      // 32-term BIGINT sum are exact integers in both forms.
      val quant = (c: Column) =>
        transform(c, a => floor(a.cast("double") * 64).cast("int"))
      val probes = e.filter(col("vec_id") % 5 === 0
        && col("vec_id") < lit(5L * ProbeBudget))
        .select(col("vec_id").as("pid"), col("embedding").as("pe"),
          quant(col("embedding")).as("qp"))
      val cands = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
        quant(col("embedding")).as("qc"))
      val scored = auditPairs(s, d, probes, cands, spreadExact = false)
        .select(col("pid"), col("cid"),
          graft.functions.CosineSimilarity
            .cosineSim(col("pe"), col("ce")).as("sx"),
          graft.functions.IntDotProduct.intDot(col("qp"), col("qc"))
            .as("sq"))
      val wx = Window.partitionBy(col("pid"))
        .orderBy(col("sx").desc, col("cid"))
      val wq = Window.partitionBy(col("pid"))
        .orderBy(col("sq").desc, col("cid"))
      val ranked = scored
        .withColumn("rx", row_number().over(wx))
        .withColumn("rq", row_number().over(wq))
      val lists = ranked.groupBy(col("pid"))
        .agg(
          transform(array_sort(filter(
            collect_list(struct(col("rx"), col("cid"))),
            x => x.getField("rx") <= 10)), x => x.getField("cid"))
            .as("ax"),
          transform(array_sort(filter(
            collect_list(struct(col("rq"), col("cid"))),
            x => x.getField("rq") <= 10)), x => x.getField("cid"))
            .as("aq"))
      lists.select(col("pid"),
          size(array_intersect(col("ax"), col("aq"))).cast("long")
            .as("overlap_at10"),
          graft.dsl.fpTrunc(fsum(transform(sequence(lit(1), lit(10)),
            dep => lit(0.5)
              * pow(lit(0.5), dep.cast("double") - 1.0)
              * size(array_intersect(
                  slice(col("ax"), lit(1), dep),
                  slice(col("aq"), lit(1), dep))).cast("double")
              / dep.cast("double"))), 9).as("rbo"))
        .orderBy(col("pid"))
    },
    Some(s"""WITH sc AS (
      SELECT p.vec_id AS pid, c.vec_id AS cid,
        ${cosineSql("p.embedding", "c.embedding")} AS sx,
        CAST(list_sum(list_transform(generate_series(1, 64), k ->
          FLOOR(CAST(p.embedding[k] AS DOUBLE) * 64)
          * FLOOR(CAST(c.embedding[k] AS DOUBLE) * 64))) AS BIGINT)
          AS sq
      FROM embeddings p JOIN embeddings c ON p.vec_id != c.vec_id
      WHERE p.vec_id % 5 = 0 AND p.vec_id < 5 * ${ProbeBudget}),
    rk AS (SELECT pid, cid,
        ROW_NUMBER() OVER (PARTITION BY pid ORDER BY sx DESC, cid) AS rx,
        ROW_NUMBER() OVER (PARTITION BY pid ORDER BY sq DESC, cid) AS rq
      FROM sc),
    ls AS (SELECT pid,
        list(cid ORDER BY rx) FILTER (WHERE rx <= 10) AS ax,
        list(cid ORDER BY rq) FILTER (WHERE rq <= 10) AS aq
      FROM rk GROUP BY 1)
    SELECT pid,
      CAST(len(list_intersect(ax, aq)) AS BIGINT) AS overlap_at10,
      ${graft.dsl.fpTruncSql(
        "list_sum(list_transform(generate_series(1, 10), dep ->" +
          " 0.5 * power(0.5, CAST(dep AS DOUBLE) - 1.0)" +
          " * CAST(len(list_intersect(ax[1:dep], aq[1:dep]))" +
          " AS DOUBLE) / CAST(dep AS DOUBLE)))", 9)} AS rbo
    FROM ls ORDER BY pid"""))

  // --- q317: UNCERTAINTY SAMPLING (margin-based active learning) —
  //     where to SPEND a labeling budget: the vectors most ambiguous
  //     under the current model, measured as the margin between the
  //     best and second-best k-means cluster distances (q214's
  //     IDENTICAL memoized model, so the audit scores the clustering
  //     that actually shipped). Everything stays in q214's integer
  //     units: both mins come from the SAME composite d²·k+cid key
  //     (Lloyd.keys; the second-best is the min key strictly above the
  //     best — deterministic even under distance ties), the margin is
  //     an exact BIGINT difference of d² values, and the pick is a
  //     TakeOrderedAndProject bottom-20 (map-side top-k, never a
  //     global sort).
  private val q317 = Q(
    "q317_uncertainty_sampling",
    "✦ active learning: 20 most ambiguous vectors by best-vs-second centroid margin",
    (s, d) => {
      val (ve, cent, _) = kmeansLloyd(s, d)
      val keys = Lloyd.keys(ve, cent, Nil, KmeansK)
      // One sorted-keys aggregate instead of the old m1 (min) + self-join
      // + m2 (min above the min) pair (r19): the join form re-computed
      // the WHOLE ve⋈cent⋈aggregate subtree on both sides (the memoized
      // ve checkpoint reports UnknownPartitioning, so each side also
      // paid its own exchanges — 4 in the r19 before-dump). Keys are
      // distinct within a vec_id (the composite d²·k+cid embeds the
      // distinct cid), so the two smallest sorted keys ARE m1's min and
      // m2's strictly-greater min — bit-identical, and vec_ids with a
      // single key row drop exactly like the old inner join dropped
      // them. `get()` (0-based) stays NULL-safe under ANSI where
      // element_at would throw on a short array.
      val m2 = keys.groupBy(col("vec_id"))
        .agg(sort_array(collect_list(col("key"))).as("ks"))
        .select(col("vec_id"), get(col("ks"), lit(0)).as("k1"),
          get(col("ks"), lit(1)).as("k2"))
        .filter(col("k2").isNotNull)
      m2.select(col("vec_id"),
          pmod(col("k1"), lit(KmeansK.toLong)).as("cid"),
          expr(s"k1 div $KmeansK").as("d2_best"),
          expr(s"k2 div $KmeansK").as("d2_second"),
          (expr(s"k2 div $KmeansK") - expr(s"k1 div $KmeansK")).as("margin"))
        .orderBy(col("margin"), col("vec_id"))
        .limit(20)
    },
    Some(s"""WITH ${Lloyd.twinSql(Nil, KmeansK, KmeansRounds)},
      keys AS (${Lloyd.twinKeys(Nil, KmeansK, s"c$KmeansRounds")}),
      m1 AS (SELECT vec_id, MIN(key) AS k1 FROM keys GROUP BY 1),
      m2 AS (SELECT k.vec_id, m1.k1, MIN(k.key) AS k2
        FROM keys k JOIN m1 ON k.vec_id = m1.vec_id
        WHERE k.key > m1.k1 GROUP BY 1, 2)
      SELECT vec_id, CAST(k1 % $KmeansK AS BIGINT) AS cid,
        CAST(k1 // $KmeansK AS BIGINT) AS d2_best,
        CAST(k2 // $KmeansK AS BIGINT) AS d2_second,
        CAST(k2 // $KmeansK - k1 // $KmeansK AS BIGINT) AS margin
      FROM m2 ORDER BY margin, vec_id LIMIT 20"""))

  // --- q320: kNN HUBNESS AUDIT — the curse-of-dimensionality
  //     diagnostic for every retrieval path here (q44/q57/q74/q277):
  //     in high dimensions a few "hub" vectors appear in EVERYONE's
  //     top-k while antihubs appear in no one's, silently skewing
  //     dedup and RAG retrieval. Measured as the IN-DEGREE distribution
  //     of the probe→top-10 graph (q287's budget-capped probe set): the
  //     in-degree histogram, the max/mean hub ratio (cleared to the
  //     exact integer max·n_candidates vs total-edges compare), and
  //     the share of candidates never retrieved. Skewness-free
  //     integers end to end; one broadcast-probe scan, one in-degree
  //     aggregate over edges, histogram over the collapsed degree
  //     frame.
  private val q320 = Q(
    "q320_knn_hubness",
    "✦ similarity audit: in-degree hubness of the probe→top-10 retrieval graph",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") % 5 === 0
        && col("vec_id") < lit(5L * ProbeBudget))
        .select(col("vec_id").as("pid"), col("embedding").as("pe"))
      val cands = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val w = Window.partitionBy(col("pid"))
        .orderBy(col("score").desc, col("cid"))
      val edges = auditPairs(s, d, probes, cands)
        .select(col("pid"), col("cid"),
          graft.functions.CosineSimilarity
            .cosineSim(col("pe"), col("ce")).as("score"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
      val indeg = edges.groupBy(col("cid")).agg(count(lit(1)).as("deg"))
      val nCand = e.agg(count(lit(1)).as("n_candidates"))
      val stats = indeg.agg(count(lit(1)).as("n_retrieved"),
        sum(col("deg")).as("n_edges"), max(col("deg")).as("max_deg"))
      val hist = indeg.groupBy(col("deg")).agg(count(lit(1)).as("n_vecs"))
      hist.crossJoin(broadcast(stats)).crossJoin(broadcast(nCand))
        .select(col("deg"), col("n_vecs"), col("n_edges"), col("max_deg"),
          (col("n_candidates") - col("n_retrieved"))
            .as("n_never_retrieved"),
          graft.dsl.fpTrunc(col("max_deg").cast("double")
            * col("n_candidates").cast("double")
            / col("n_edges").cast("double"), 9).as("hub_ratio"))
        .orderBy(col("deg"))
    },
    Some(s"""WITH nb AS (
      SELECT p.vec_id AS pid, c.vec_id AS cid,
        ROW_NUMBER() OVER (PARTITION BY p.vec_id
          ORDER BY ${cosineSql("p.embedding", "c.embedding")} DESC,
            c.vec_id) AS rank
      FROM embeddings p JOIN embeddings c ON p.vec_id != c.vec_id
      WHERE p.vec_id % 5 = 0 AND p.vec_id < 5 * ${ProbeBudget}),
    ind AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS deg
      FROM nb WHERE rank <= 10 GROUP BY 1),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_retrieved,
        CAST(SUM(deg) AS BIGINT) AS n_edges,
        CAST(MAX(deg) AS BIGINT) AS max_deg FROM ind),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM embeddings),
    hist AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM ind GROUP BY 1)
    SELECT deg, n_vecs, n_edges, max_deg,
      CAST(n_candidates - n_retrieved AS BIGINT) AS n_never_retrieved,
      ${graft.dsl.fpTruncSql(
        "CAST(max_deg AS DOUBLE) * CAST(n_candidates AS DOUBLE)" +
          " / CAST(n_edges AS DOUBLE)", 9)} AS hub_ratio
    FROM hist, st, nc ORDER BY deg"""))

  def defs: Seq[Q] =
    Seq(q41, q42, q43, q44, q45, q57, q95, q117, q129, q170, q180, q188,
      q214, q215, q236, q265, q269, q274, q277, q286, q287, q290, q304,
      q305, q311, q317, q320)
}
