package graft.queries

import graft.{Q, Tables}
import graft.dsl.{fpTrunc, fpTruncSql, hashMod, hashMod2L, hashMod2LSql}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis over `documents`: SURVEY.md §2.11 ✦ — quality scoring,
  * language-ID heuristic, token counting, document fingerprinting.
  *
  * All metrics are integer counts with at most one final double division,
  * so Spark and DuckDB agree bit-for-bit. Everything is a codegen'd
  * projection + one aggregate — no UDFs, no shuffle beyond the final
  * group-by, which is the shape that survives 100 TB.
  *
  * Every corpus-sized scan fans out first (Tables.fanOut): the fixture is
  * ONE parquet file → one input split, and the per-row work here (HOF
  * filters, regex extraction, per-word md5) is the heaviest in the library
  * — without the fan-out it all runs on a single core (round-1 bench: q53
  * 11 s, q54 23 s). On a real multi-file lake the scan parallelism comes
  * from splits and fanOut is the identity — NO shuffle is added (the
  * earlier unconditional repartition would have re-shuffled the whole
  * corpus). A constant slice of a few dozen docs (q97's eval set, q173)
  * reads the plain scan.
  */
object TextAnalysis extends Q.Module {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.fanOut(Tables.documents(s, d))

  // --- q51: quality scoring (length/stopword/diversity components).
  private val q51 = Q(
    "q51_text_quality",
    "✦ quality score: word stats, stopword ratio, lexical diversity",
    (s, d) => {
      val w = split(col("text"), " ")
      val stop = Seq("the", "a")
      docs(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(w).cast("long").as("n_words"),
        size(array_distinct(w)).cast("long").as("n_distinct"),
        size(filter(w, x => x.isin(stop.map(lit(_)): _*))).cast("long").as("n_stop"))
        .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_words"))
        .withColumn("diversity", col("n_distinct").cast("double") / col("n_words"))
        .withColumn("quality", col("diversity") * (lit(1.0) - col("stop_ratio")))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, len(text) AS n_chars,
      len(string_split(text, ' ')) AS n_words,
      len(list_distinct(string_split(text, ' '))) AS n_distinct,
      len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS n_stop,
      CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
        / len(string_split(text, ' ')) AS stop_ratio,
      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')) AS diversity,
      (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')))
      * (1.0 - CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
        / len(string_split(text, ' '))) AS quality
    FROM documents ORDER BY doc_id"""))

  // --- q52: language-ID by marker-word profile (n-gram heuristic family).
  //     The fixture text is synthetic, so the interesting part is the
  //     pipeline shape: per-language marker hit counts → argmax → compare
  //     to the labeled lang.
  private val q52 = Q(
    "q52_text_langid",
    "✦ language-ID heuristic: marker-word hits vs labeled lang",
    (s, d) => {
      val w = split(col("text"), " ")
      val en = Seq("the", "a", "value", "fast")
      docs(s, d).select(
        col("doc_id"), col("lang").as("labeled"),
        size(filter(w, x => x.isin(en.map(lit(_)): _*))).cast("long").as("n_en_markers"),
        size(w).cast("long").as("n_words"))
        .withColumn("en_score", col("n_en_markers").cast("double") / col("n_words"))
        .withColumn("predicted", when(col("en_score") > 0.05, "en").otherwise("und"))
        .withColumn("agree", col("predicted") === col("labeled"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang AS labeled,
      len(list_filter(string_split(text, ' '), x -> x IN ('the','a','value','fast'))) AS n_en_markers,
      len(string_split(text, ' ')) AS n_words,
      CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','value','fast'))) AS DOUBLE)
        / len(string_split(text, ' ')) AS en_score,
      CASE WHEN CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','value','fast'))) AS DOUBLE)
        / len(string_split(text, ' ')) > 0.05 THEN 'en' ELSE 'und' END AS predicted,
      (CASE WHEN CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','value','fast'))) AS DOUBLE)
        / len(string_split(text, ' ')) > 0.05 THEN 'en' ELSE 'und' END) = lang AS agree
    FROM documents ORDER BY doc_id"""))

  // --- q53: token counting — whitespace + regex tokenizers, corpus rollup.
  private val q53 = Q(
    "q53_text_tokens",
    "✦ token counts: whitespace + regex tokenizers, per-lang totals",
    (s, d) => {
      docs(s, d).select(
        col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).cast("long").as("re_tokens"),
        length(col("text")).cast("long").as("n_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("total_ws_tokens"),
          sum(col("re_tokens")).as("total_re_tokens"),
          (sum(col("n_chars")).cast("double") / sum(col("ws_tokens"))).as("chars_per_token"))
        .orderBy(col("lang"))
    },
    Some("""SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
      CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS total_re_tokens,
      CAST(SUM(len(text)) AS DOUBLE) / SUM(len(string_split(text, ' '))) AS chars_per_token
    FROM documents GROUP BY lang ORDER BY lang"""))

  // --- q54: document fingerprint — position-weighted word-hash mod prime.
  //     Order-sensitive (a permuted document fingerprints differently),
  //     portable (single mod of an exact integer sum). A multiplicative
  //     rolling hash needs a sequential fold, which DuckDB SQL cannot
  //     express — at scale you'd use xxhash64 + aggregate() HOF in Spark.
  private val q54 = Q(
    "q54_text_fingerprint",
    "✦ fingerprint: position-weighted word-hash mod 1e9+7 per doc",
    (s, d) => {
      docs(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .withColumn("h32", conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long"))
        .groupBy(col("doc_id"))
        .agg(pmod(sum((col("pos") + 1) * col("h32")), lit(1000000007L)).as("fp"),
          count(lit(1)).as("n_words"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH iw AS (
      SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
    h AS (SELECT doc_id, i,
      CAST(list_sum(list_transform(generate_series(1, 8),
        k -> (strpos('0123456789abcdef', substr(md5(ws[i]), k, 1)) - 1)
             * CAST(power(16, 8 - k) AS BIGINT))) AS BIGINT) AS h32
      FROM iw)
    SELECT doc_id, CAST(SUM(i * h32) % 1000000007 AS BIGINT) AS fp, COUNT(*) AS n_words
    FROM h GROUP BY doc_id ORDER BY doc_id"""))

  // --- q91: text CLEANING — collapse consecutive repeated tokens (the
  //     C4-style repetition cleanup every pretraining pipeline runs
  //     before dedup) and flag repetition-heavy documents. The collapse
  //     is a positional HOF filter — keep w[i] unless it equals w[i-1] —
  //     inside one projection: no shuffle, no UDF, and the same shape
  //     covers regex redaction (PII/URL scrubbing is one more
  //     regexp_replace in this projection; the synthetic fixture has no
  //     PII to make such a column non-vacuous, so it is not emitted).
  //     Null-safe `<=>` against get(ws, i-1) makes index 0 keep its row
  //     without an ANSI out-of-bounds error; the DuckDB twin spells the
  //     same guard as `i = 1 OR ws[i-1] != x` (1-based lambdas).
  private val q91 = Q(
    "q91_text_clean",
    "✦ cleaning: collapse repeated tokens, repetition-ratio flag",
    (s, d) => {
      docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_words"),
          filter(col("ws"), (x, i) => !(x <=> get(col("ws"), i - 1))).as("cw"))
        .select(col("doc_id"), col("n_words"),
          size(col("cw")).cast("long").as("n_clean"),
          array_join(col("cw"), " ").as("cleaned"))
        .withColumn("rep_ratio",
          (col("n_words") - col("n_clean")).cast("double") / col("n_words"))
        .withColumn("flag_repetitive", col("rep_ratio") >= 0.1)
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    c AS (SELECT doc_id, len(ws) AS n_words,
        list_filter(ws, (x, i) -> i = 1 OR ws[i-1] != x) AS cw
      FROM t)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      CAST(len(cw) AS BIGINT) AS n_clean,
      array_to_string(cw, ' ') AS cleaned,
      CAST(n_words - len(cw) AS DOUBLE) / n_words AS rep_ratio,
      (CAST(n_words - len(cw) AS DOUBLE) / n_words) >= 0.1 AS flag_repetitive
    FROM c ORDER BY doc_id"""))

  // --- q94: the COMPOSED curation pipeline — the sequence a pretraining
  //     corpus actually runs, as ONE declarative plan: quality scoring
  //     (q51's metrics) → threshold filter → exact dedup keep-min (q46's
  //     shape) → per-language yield report. Each stage is a projection or
  //     one aggregate, so the whole pipeline is two shuffles (dedup
  //     group-by, lang group-by) no matter how many filter stages are
  //     chained — the point of declaring curation as a plan instead of
  //     running N scripted passes over the corpus. Corpus doubled like
  //     q46 so the dedup stage provably removes copies.
  private val q94 = Q(
    "q94_curation_pipeline",
    "✦ curation pipeline: quality filter → exact dedup → per-lang yield",
    (s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
      val corpus = base.unionByName(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("lang"), col("text")))
      val w = split(col("text"), " ")
      val kept = corpus.select(col("doc_id"), col("lang"),
          sha2(col("text"), 256).as("h"),
          size(w).cast("long").as("n_words"),
          (size(array_distinct(w)).cast("double") / size(w)).as("diversity"))
        .filter(col("n_words") >= 20 && col("diversity") >= 0.4)
      val canon = kept.groupBy(col("h"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      canon.join(kept.select(col("doc_id"), col("lang"), col("n_words")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_tokens"),
          sum(col("n_copies") - 1).as("n_dupes_removed"))
        .orderBy(col("lang"))
    },
    Some("""WITH corpus AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + 10000, lang, text FROM documents WHERE doc_id % 10 = 0),
    kept AS (
      SELECT doc_id, lang, sha256(text) AS h,
        len(string_split(text, ' ')) AS n_words,
        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' ')) AS diversity
      FROM corpus
      WHERE len(string_split(text, ' ')) >= 20
        AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' ')) >= 0.4),
    canon AS (SELECT h, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
              FROM kept GROUP BY h)
    SELECT k.lang, COUNT(*) AS n_docs,
      CAST(SUM(k.n_words) AS BIGINT) AS n_tokens,
      CAST(SUM(c.n_copies - 1) AS BIGINT) AS n_dupes_removed
    FROM canon c JOIN kept k ON k.doc_id = c.doc_id
    GROUP BY k.lang ORDER BY k.lang"""))

  // --- q97: benchmark DECONTAMINATION — flag training documents that
  //     share any word-8-gram with an evaluation set (docs 0-19 here),
  //     the overlap check every pretraining pipeline runs before
  //     training. Plan shape is the scale story: the eval set's 8-grams
  //     are tiny (a benchmark is KBs-MBs), so the check is a
  //     BROADCAST left-semi join against the corpus's gram projection —
  //     the 100 TB side is scanned once and never shuffled. Spark joins
  //     on xxhash64(gram) (8-byte keys); the oracle joins on the gram
  //     string itself — same semantics, since within this corpus a
  //     64-bit collision between two distinct grams that also lands in
  //     the eval set is ~2^-40. Eval docs are re-injected under shifted
  //     ids (like q46's doubling) so the fixture provably contains
  //     contamination. Only the training side fans out; the eval slice
  //     and its re-injected copy read the plain scan (see Tables.fanOut).
  //     The eval grams are not deduplicated: a left-semi join emits each
  //     left row at most once whatever the duplicates on its build side.
  private val q97 = Q(
    "q97_decontamination",
    "✦ decontamination: eval 8-gram broadcast semi-join flags training docs",
    (s, d) => {
      val evalDocs = Tables.documents(s, d).filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
      val training = docs(s, d).filter(col("doc_id") >= 20)
        .select(col("doc_id"), col("text"))
        .unionByName(evalDocs.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      // Fused codegen'd 8-gram kernel (r18, Dedup.shinglesWithDfOf's
      // swap): byte-identical stream, and the old size(w) >= 8 guard is
      // subsumed by the kernel's empty-array-below-n contract.
      graft.functions.WordNgrams.register(s)
      def gids(docs: DataFrame): DataFrame = docs
        .select(col("doc_id"),
          explode(array_distinct(
            graft.functions.WordNgrams.wordNgrams(col("text"), 8)))
            .as("gram"))
        .select(col("doc_id"), xxhash64(col("gram")).as("gid"))
      gids(training)
        .join(broadcast(gids(evalDocs).select(col("gid"))), Seq("gid"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_contaminated_grams"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20),
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
    iw AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w),
    grams AS (SELECT DISTINCT doc_id,
        ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
        ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] AS gram
      FROM iw),
    ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 20)
    SELECT doc_id, COUNT(*) AS n_contaminated_grams
    FROM grams
    WHERE doc_id >= 20 AND gram IN (SELECT gram FROM ev)
    GROUP BY doc_id ORDER BY doc_id"""))

  // --- q101: PII REDACTION — the regex scrub pass (emails, phone
  //     numbers) a corpus runs before training, with per-doc audit
  //     counts. The fixture text has no PII (q91's note), so the query
  //     first synthesizes a deterministic contact line per doc — the
  //     redaction itself is then non-vacuous and oracle-checkable. Shape:
  //     one codegen'd projection (two regexp_replace + two
  //     regexp_extract_all), zero shuffles, zero UDFs — at 100 TB this
  //     is a pure map over the scan, and the audit counts come out of
  //     the same pass instead of a second one. Patterns are shared
  //     Scala vals interpolated into both engines so they cannot drift;
  //     both Java regex and DuckDB's RE2 pick the same leftmost-longest
  //     match for these patterns (no backtracking-only constructs).
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
  private val q101 = Q(
    "q101_pii_redact",
    "✦ cleaning: PII regex redaction (email/phone) with audit counts",
    (s, d) => {
      val raw = concat(
        substring(col("text"), 1, 40),
        lit(" reach me at user"), col("doc_id").cast("string"),
        lit("@example.com or call +1-555-"),
        lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0"),
        lit(" thanks"))
      docs(s, d)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("raw"), lit(emailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0)))
            .cast("long").as("n_phones"),
          regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("redacted"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH raw AS (SELECT doc_id,
        substr(text, 1, 40) || ' reach me at user' || doc_id
          || '@example.com or call +1-555-'
          || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
          || ' thanks' AS raw
      FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(raw, '$emailRe')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(raw, '$phoneRe')) AS BIGINT) AS n_phones,
      regexp_replace(regexp_replace(raw, '$emailRe', '<EMAIL>', 'g'),
        '$phoneRe', '<PHONE>', 'g') AS redacted
    FROM raw ORDER BY doc_id"""))

  // --- q102: DATA-MIXTURE SAMPLING — down-sample each source to a target
  //     share of the mixture with a DETERMINISTIC hash threshold instead
  //     of rand(): keep a row iff (doc_id * 2654435761) mod 100 < pct.
  //     2654435761 (Knuth's multiplicative constant) is coprime to 100,
  //     so over any contiguous id range the kept fraction is exactly
  //     pct/100, and the decision is reproducible across engines, runs,
  //     and retries — the property that makes mixture weights auditable
  //     and the same shard re-derivable after a job restart. In
  //     production the key would be xxhash64(stable_doc_key) for
  //     statistical mixing; the arithmetic hash here is what both
  //     engines compute bit-identically. Shape: one scan + one small
  //     group-by — the mixture report never shuffles the corpus rows.
  private val q102 = Q(
    "q102_mixture_sample",
    "✦ curation: deterministic per-source mixture down-sampling + report",
    (s, d) => {
      // try_cast + coalesce make the extraction TOTAL: a digit-free
      // source yields '' which ANSI cast would throw on (and DuckDB's
      // CAST('' AS INT) always throws) — both engines instead agree on 0
      // (→ pct 20). Guarded identically in the oracle below.
      val srcNum = coalesce(
        expr("try_cast(regexp_extract(source, '[0-9]+', 0) AS INT)"), lit(0))
      val pct = (lit(20) + pmod(lit(7) * srcNum, lit(60))).cast("long")
      // No docs() repartition here: the per-row work is two integer ops,
      // so the helper's corpus-wide shuffle would cost more than it buys.
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), pct.as("target_pct"),
          // dsl.hashMod: the multiply runs in decimal so billion-scale
          // doc_ids cannot overflow LONG under ANSI (DuckDB widens).
          (hashMod(col("doc_id"), 100) < col("target_pct")).as("keep"))
        .groupBy(col("source"), col("target_pct"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("keep"), lit(1))).as("n_kept"))
        .withColumn("achieved_pct",
          col("n_kept") * lit(100.0) / col("n_total"))
        .orderBy(col("source"))
    },
    Some("""WITH t AS (SELECT doc_id, source,
        CAST(20 + (7 * COALESCE(TRY_CAST(regexp_extract(source, '[0-9]+') AS INT), 0)) % 60
          AS BIGINT) AS target_pct,
        (CAST(doc_id AS HUGEINT) * 2654435761) % 100
          < 20 + (7 * COALESCE(TRY_CAST(regexp_extract(source, '[0-9]+') AS INT), 0)) % 60 AS keep
      FROM documents)
    SELECT source, target_pct, COUNT(*) AS n_total,
      COUNT(CASE WHEN keep THEN 1 END) AS n_kept,
      CAST(COUNT(CASE WHEN keep THEN 1 END) AS DOUBLE) * 100 / COUNT(*)
        AS achieved_pct
    FROM t GROUP BY source, target_pct ORDER BY source"""))

  // --- q103: BOILERPLATE-LINE REMOVAL (CCNet-style) — drop "lines"
  //     that repeat across many documents (site chrome, license
  //     headers). The fixture has no newlines, so a line is an aligned
  //     8-word chunk, and a fixed 8-word header is prepended to every
  //     doc to make the fixture provably contain boilerplate (same
  //     injection idiom as q94/q97). Pipeline: chunk → document
  //     frequency per distinct line (ONE shuffle on the line) → the
  //     flagged boilerplate set is tiny by construction (high-df lines
  //     are few), so the removal pass joins the corpus against a
  //     BROADCAST of that set — the 100 TB side is scanned once and
  //     never shuffled a second time; per-doc reassembly sorts the
  //     surviving chunks locally after the group-by on doc_id.
  private val q103 = Q(
    "q103_boilerplate_lines",
    "✦ cleaning: strip lines repeated across >=10 docs (df broadcast)",
    (s, d) => {
      val header = "all rights reserved terms of service apply here"
      val ws = split(concat(lit(header + " "), col("text")), " ")
      val lines = docs(s, d)
        .select(col("doc_id"), ws.as("ws"))
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(0), floor((size(col("ws")) + 7) / 8).cast("int") - 1),
            j => concat_ws(" ", slice(col("ws"), j * 8 + 1, lit(8))))))
        .withColumnRenamed("pos", "j").withColumnRenamed("col", "line")
      val boiler = lines.groupBy(col("line"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 10)
        .select(col("line"), lit(true).as("boil"))
      lines.join(broadcast(boiler), Seq("line"), "left")
        .withColumn("boil", coalesce(col("boil"), lit(false)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          count(when(col("boil"), lit(1))).as("n_removed"),
          array_join(transform(
            array_sort(collect_list(when(!col("boil"),
              struct(col("j"), col("line"))))),
            x => x.getField("line")), " ").as("cleaned"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (SELECT doc_id,
        string_split('all rights reserved terms of service apply here ' || text,
          ' ') AS ws
      FROM documents),
    ch AS (SELECT doc_id, ws,
        unnest(generate_series(0, (len(ws) + 7) // 8 - 1)) AS j FROM w),
    lines AS (SELECT doc_id, j,
        array_to_string(list_slice(ws, j*8 + 1, j*8 + 8), ' ') AS line FROM ch),
    boiler AS (SELECT line FROM lines
               GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 10)
    SELECT doc_id, COUNT(*) AS n_lines,
      COUNT(CASE WHEN line IN (SELECT line FROM boiler) THEN 1 END) AS n_removed,
      COALESCE(string_agg(CASE WHEN line NOT IN (SELECT line FROM boiler)
        THEN line END, ' ' ORDER BY j), '') AS cleaned
    FROM lines GROUP BY doc_id ORDER BY doc_id"""))

  // --- q110: VOCABULARY STATISTICS — top-k tokens by collection
  //     frequency with document frequency, the corpus-stats pass every
  //     tokenizer/quality pipeline runs first (stopword discovery, BPE
  //     seeding, df cutoffs like Dedup.maxShingleDf). Shape: one shuffle
  //     on the token; cf and df fold in the same aggregate (df's distinct
  //     is a (word, doc_id) pre-aggregate, still word-partitioned); the
  //     top-k is TakeOrderedAndProject — per-partition heaps, never a
  //     global sort of the vocabulary. (cf, word) is a total order, so
  //     the rank-40 cut is deterministic on both engines.
  private val q110 = Q(
    "q110_vocab_topk",
    "✦ corpus stats: top-40 vocabulary by collection freq, with doc freq",
    (s, d) => {
      docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("cf").desc, col("word"))
        .limit(40)
    },
    Some("""SELECT word, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word ORDER BY cf DESC, word LIMIT 40"""))

  // --- q111: GOPHER-STYLE REPETITION FILTERS — the three intra-document
  //     repetition signals from the Gopher/MassiveText quality rules:
  //     duplicate-line fraction (> 0.30 rejects), fraction of characters
  //     in duplicated lines (> 0.20), and the character mass of the most
  //     frequent word-2-gram (> 0.20). The fixture has no newlines, so a
  //     "line" is an aligned 8-word chunk (q103's idiom), and every 7th
  //     doc gets its first two lines re-appended so the fixture provably
  //     contains duplicate lines (q94/q97/q103's injection idiom).
  //     Shape: every metric is array-HOF arithmetic inside ONE projection
  //     — per-document work only, zero shuffles, embarrassingly parallel
  //     over the scan; this is the 100 TB shape (a quality gate must not
  //     shuffle the corpus). The within-doc counting is O(distinct·n) per
  //     document — bounded by document length, not corpus size; a pipeline
  //     facing single documents of 10⁶+ lines would swap the HOF count for
  //     a per-partition hash count, same plan shape otherwise. Tie-break
  //     for the top bigram: lexicographic min via sorted-array head, which
  //     both engines spell identically.
  private val q111 = Q(
    "q111_gopher_repetition",
    "✦ quality: Gopher repetition filters — dup lines/chars, top-bigram mass",
    (s, d) => {
      val ws = split(col("text"), " ")
      docs(s, d)
        .select(col("doc_id"), ws.as("ws"))
        .withColumn("lines0",
          transform(sequence(lit(0), floor((size(col("ws")) + 7) / 8).cast("int") - 1),
            j => concat_ws(" ", slice(col("ws"), j * 8 + 1, lit(8)))))
        .withColumn("lines",
          when(col("doc_id") % 7 === 0,
            concat(col("lines0"), slice(col("lines0"), 1, 2)))
            .otherwise(col("lines0")))
        .withColumn("n_lines", size(col("lines")))
        .withColumn("n_distinct", size(array_distinct(col("lines"))))
        .withColumn("line_chars",
          aggregate(transform(col("lines"), l => length(l).cast("long")),
            lit(0L), (a, x) => a + x))
        .withColumn("dup_chars",
          aggregate(transform(array_distinct(col("lines")),
            l => when(size(filter(col("lines"), x => x === l)) >= 2,
              size(filter(col("lines"), x => x === l)).cast("long") * length(l))
              .otherwise(lit(0L))),
            lit(0L), (a, x) => a + x))
        .withColumn("bg",
          transform(sequence(lit(1), size(col("ws")) - 1),
            i => concat_ws(" ", slice(col("ws"), i, lit(2)))))
        .withColumn("n_chars", length(concat_ws(" ", col("ws"))))
        .withColumn("maxcnt",
          array_max(transform(array_distinct(col("bg")),
            g => size(filter(col("bg"), x => x === g)))))
        .withColumn("top_bigram",
          element_at(array_sort(filter(array_distinct(col("bg")),
            g => size(filter(col("bg"), x => x === g)) === col("maxcnt"))), 1))
        .select(col("doc_id"),
          col("n_lines").cast("long").as("n_lines"),
          ((col("n_lines") - col("n_distinct")).cast("double") / col("n_lines"))
            .as("dup_line_frac"),
          (col("dup_chars").cast("double") / col("line_chars")).as("dup_char_frac"),
          col("top_bigram"),
          ((col("maxcnt") * length(col("top_bigram"))).cast("double") / col("n_chars"))
            .as("top_bigram_frac"))
        .withColumn("flag_repetitive",
          col("dup_line_frac") > 0.30 || col("dup_char_frac") > 0.20 ||
            col("top_bigram_frac") > 0.20)
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    l0 AS (SELECT doc_id, ws,
        list_transform(generate_series(0, (len(ws)+7)//8 - 1),
          j -> array_to_string(list_slice(ws, j*8+1, j*8+8), ' ')) AS lines0
      FROM w),
    l1 AS (SELECT doc_id, ws,
        CASE WHEN doc_id % 7 = 0 THEN list_concat(lines0, list_slice(lines0, 1, 2))
             ELSE lines0 END AS lines FROM l0),
    m AS (SELECT doc_id, ws, lines,
        len(lines) AS n_lines,
        len(list_distinct(lines)) AS n_distinct,
        list_sum(list_transform(lines, l -> len(l))) AS line_chars,
        list_sum(list_transform(list_distinct(lines),
          l -> CASE WHEN len(list_filter(lines, x -> x = l)) >= 2
                    THEN len(list_filter(lines, x -> x = l)) * len(l) ELSE 0 END)) AS dup_chars,
        list_transform(generate_series(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1]) AS bg
      FROM l1),
    b AS (SELECT doc_id, n_lines, n_distinct, line_chars, dup_chars, bg,
        len(array_to_string(ws, ' ')) AS n_chars,
        list_max(list_transform(list_distinct(bg),
          g -> len(list_filter(bg, x -> x = g)))) AS maxcnt
      FROM m),
    t AS (SELECT doc_id, n_lines, n_distinct, line_chars, dup_chars, n_chars, maxcnt,
        list_sort(list_filter(list_distinct(bg),
          g -> len(list_filter(bg, x -> x = g)) = maxcnt))[1] AS top_bigram
      FROM b)
    SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
      CAST(n_lines - n_distinct AS DOUBLE) / n_lines AS dup_line_frac,
      CAST(dup_chars AS DOUBLE) / line_chars AS dup_char_frac,
      top_bigram,
      CAST(maxcnt * len(top_bigram) AS DOUBLE) / n_chars AS top_bigram_frac,
      (CAST(n_lines - n_distinct AS DOUBLE) / n_lines > 0.30)
        OR (CAST(dup_chars AS DOUBLE) / line_chars > 0.20)
        OR (CAST(maxcnt * len(top_bigram) AS DOUBLE) / n_chars > 0.20)
        AS flag_repetitive
    FROM t ORDER BY doc_id"""))

  // --- q113: QUANTILE-THRESHOLD QUALITY GATE — "drop the bottom quartile
  //     by quality score, per language", the relative-threshold curation
  //     pass that follows absolute filters like q51/q111. The threshold is
  //     RANK-based (the ceil(0.25·n)-th smallest score), not interpolated:
  //     it is an actual data value, so both engines select bit-identical
  //     doubles and the gate `score >= threshold` agrees exactly.
  //     Scale shape: pass 1 computes per-lang thresholds — one Exchange on
  //     lang + a disk-backed sort (row_number needs no unbounded per-key
  //     buffer, unlike percentile()'s collect-all ObjectHashAggregate —
  //     the q105 lesson applied to quantiles); the threshold frame is
  //     nlangs rows, BROADCAST back for pass 2, so the corpus is never
  //     shuffled for the gate itself. At 100 TB pass 1 would typically use
  //     approx_percentile (q79's sketch path) — the exact rank form here
  //     is what an oracle can verify; the plan shape is identical.
  private val q113 = Q(
    "q113_quality_quantile_gate",
    "✦ curation: per-lang rank-quantile threshold gate (drop bottom quartile)",
    (s, d) => {
      val w = split(col("text"), " ")
      val scored = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        (size(array_distinct(w)).cast("double") / size(w)).as("score"))
      val n = scored.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
      val rk = scored.withColumn("rk",
        row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("score"), col("doc_id"))))
      val thr = rk.join(broadcast(n), Seq("lang"))
        .filter(col("rk") === ceil(col("n_total") * 0.25))
        .select(col("lang"), col("score").as("threshold"))
      scored.join(broadcast(thr), Seq("lang"))
        .groupBy(col("lang"), col("threshold"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("score") >= col("threshold"), lit(1))).as("n_kept"))
        .withColumn("kept_pct",
          col("n_kept").cast("double") * 100 / col("n_total"))
        .orderBy(col("lang"))
    },
    Some("""WITH scored AS (SELECT doc_id, lang,
        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' ')) AS score
      FROM documents),
    n AS (SELECT lang, COUNT(*) AS n_total FROM scored GROUP BY lang),
    rk AS (SELECT doc_id, lang, score,
        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rk
      FROM scored),
    thr AS (SELECT rk.lang, score AS threshold
      FROM rk JOIN n USING(lang) WHERE rk = CEIL(n_total * 0.25))
    SELECT s.lang AS lang, threshold, COUNT(*) AS n_total,
      COUNT(CASE WHEN score >= threshold THEN 1 END) AS n_kept,
      CAST(COUNT(CASE WHEN score >= threshold THEN 1 END) AS DOUBLE) * 100
        / COUNT(*) AS kept_pct
    FROM scored s JOIN thr USING(lang)
    GROUP BY s.lang, threshold ORDER BY lang"""))

  // --- q114: SEQUENCE-LENGTH HISTOGRAM — the token-length distribution
  //     pass that sizes packing (q104), batching, and truncation budgets.
  //     Bucket = tokens // 10; the cumulative doc share answers "what
  //     max_len covers 90% of documents". Shape: one corpus aggregate
  //     down to ~10 bucket rows, then the running share is a window over
  //     those bucket rows only — the single-partition WindowExec runs on
  //     a frame the size of the histogram, never the corpus (q104's
  //     block-totals discipline).
  private val q114 = Q(
    "q114_length_histogram",
    "✦ corpus stats: token-length histogram + cumulative doc share",
    (s, d) => {
      val nTokens = size(split(col("text"), " ")).cast("long")
      val cum = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.documents(s, d)
        .select(floor(nTokens / 10).cast("long").as("bucket"),
          nTokens.as("n_tokens"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
        .withColumn("cum_docs", sum(col("n_docs")).over(cum))
        .withColumn("cum_doc_share",
          col("cum_docs").cast("double") / sum(col("n_docs")).over(all))
        .orderBy(col("bucket"))
    },
    Some("""WITH t AS (SELECT len(string_split(text, ' ')) AS n_tokens FROM documents),
    h AS (SELECT n_tokens // 10 AS bucket, COUNT(*) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM t GROUP BY 1)
    SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, total_tokens,
      CAST(SUM(n_docs) OVER (ORDER BY bucket
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
      CAST(SUM(n_docs) OVER (ORDER BY bucket
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        / SUM(n_docs) OVER () AS cum_doc_share
    FROM h ORDER BY bucket"""))

  // --- q116: PER-SOURCE CAP SAMPLING — "no single domain may contribute
  //     more than N documents", the anti-domination rule mixture curation
  //     applies before weighting (q102 down-samples by rate; this caps by
  //     COUNT). The kept subset must be uniform and reproducible, so the
  //     rank is over md5('cap:' || doc_id) — a deterministic shuffle of
  //     each source's docs that both engines order identically (no
  //     rand(), q102's principle). Scale shape: rank<=k over a window is
  //     rewritten by Catalyst into WindowGroupLimit — every task keeps at
  //     most k rows per source BEFORE the exchange (map-side top-k, the
  //     exact two-phase cap), so a hot domain never concentrates more
  //     than k·numPartitions rows into one task; the post-shuffle sort is
  //     disk-backed. Asserted in `CurationGateSpec`.
  private val q116 = Q(
    "q116_source_cap",
    "✦ curation: cap each source at 15 docs via deterministic hash rank",
    (s, d) => {
      val cap = 15
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(concat(lit("cap:"), col("doc_id").cast("string"))).as("r"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("r"), col("doc_id"))))
        .filter(col("rk") <= cap)
        .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))
        .orderBy(col("source"), col("rk"))
    },
    Some("""SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
      SELECT doc_id, source,
        ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY md5('cap:' || doc_id), doc_id) AS rk
      FROM documents)
    WHERE rk <= 15 ORDER BY source, rk"""))

  // --- q157: TOKEN-BUDGET SELECTION — q116 caps each source by document
  //     COUNT; real mixture specs are written in TOKENS ("at most B
  //     tokens of src7"), and the docs kept should be the BEST ones, not
  //     a uniform draw. Per source: rank docs by quality (q51's
  //     integer-derived score) descending, admit while the running token
  //     total stays within budget. Ordering rides q148's composite
  //     BIGINT key floor(quality·1e9)·2^33 − doc_id — exact in both
  //     engines (quality ∈ [0,1] keeps the product ≤ 8.6e18; doc_id <
  //     2^33 documented there), so the sort and therefore the admitted
  //     set is deterministic and engine-identical, no rand() anywhere.
  //     Scale: every doc carries n_tokens ≥ 1 (split('') is ['']), so
  //     cum_tokens ≤ B implies row_number ≤ B — the row_number()≤B
  //     pre-filter is therefore a no-op on results but Catalyst rewrites
  //     it into WindowGroupLimit: every task keeps at most B rows per
  //     source BEFORE the exchange (q116's map-side cap), so a hot
  //     source never funnels its full doc list into one task's sort —
  //     the cum-sum window then runs on ≤ B rows per source. Both
  //     windows share one spec → one sort, asserted in CurationGateSpec.
  private val q157 = Q(
    "q157_token_budget",
    "✦ curation: per-source token budget, quality-ranked greedy admit",
    (s, d) => {
      val budget = 600L
      val w = split(col("text"), " ")
      val stop = Seq("the", "a")
      val scored = docs(s, d).select(col("doc_id"), col("source"),
        size(w).cast("long").as("n_tokens"),
        (size(array_distinct(w)).cast("double") / size(w)
          * (lit(1.0) - size(filter(w, x => x.isin(stop.map(lit(_)): _*)))
              .cast("double") / size(w))).as("quality"))
      val key = floor(col("quality") * 1e9).cast("long") * lit(8589934592L) -
        col("doc_id")
      val win = Window.partitionBy(col("source")).orderBy(key.desc)
      scored
        .withColumn("rk", row_number().over(win))
        .filter(col("rk") <= budget)
        .withColumn("cum_tokens",
          sum(col("n_tokens")).over(win.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum_tokens") <= budget)
        .select(col("source"), col("doc_id"), col("quality"),
          col("n_tokens"), col("cum_tokens"))
        .orderBy(col("source"), col("cum_tokens"))
    },
    Some("""WITH sc AS (SELECT doc_id, source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' '))
          * (1.0 - CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ('the', 'a'))) AS DOUBLE)
            / len(string_split(text, ' '))) AS quality
      FROM documents),
    c AS (SELECT source, doc_id, quality, n_tokens,
        CAST(SUM(n_tokens) OVER (PARTITION BY source
          ORDER BY CAST(floor(quality * 1e9) AS BIGINT) * 8589934592 - doc_id
            DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_tokens
      FROM sc)
    SELECT source, doc_id, quality, n_tokens, cum_tokens FROM c
    WHERE cum_tokens <= 600 ORDER BY source, cum_tokens"""))

  // --- q134: OUTER EXPLODE — the generator-with-empties semantics every
  //     extraction pipeline hits: a document with ZERO matches must
  //     survive the explode as a null row (plain explode silently drops
  //     it, and a per-doc report that loses rows undercounts its
  //     denominators). 'dup' appears in ~6% of fixture docs, so both
  //     branches are exercised; the in-result `n_total_docs` over a
  //     window proves no document was lost. DuckDB has no outer unnest —
  //     the oracle spells the same semantics as CASE len=0 THEN [NULL].
  private val q134 = Q(
    "q134_explode_outer",
    "§2.10 UDTF: explode_outer keeps zero-match documents as null rows",
    (s, d) => {
      val hits = filter(split(col("text"), " "), x => x === "dup")
      Tables.documents(s, d)
        .select(col("doc_id"), explode_outer(hits).as("hit"))
        .orderBy(col("doc_id"), col("hit"))
    },
    Some("""SELECT doc_id,
      unnest(CASE WHEN len(m) = 0 THEN [NULL] ELSE m END) AS hit
    FROM (SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x = 'dup') AS m
      FROM documents)
    ORDER BY doc_id, hit"""))

  // --- q136: CONTEXT-WINDOW CHUNKING — split every document into
  //     overlapping token windows (win=64, stride=48), the prep step that
  //     turns variable-length documents into fixed-budget training
  //     sequences without losing boundary context. One generate+explode
  //     projection: starts = sequence(0, n−1, stride) — every start < n,
  //     so the tail window is short but never empty — and chunk =
  //     slice(tokens, start+1, win). No KEY shuffle: the corpus is
  //     scanned once and rows fan out partition-locally inside
  //     whole-stage codegen, so at 100 TB this is embarrassingly
  //     parallel; the ~win/stride duplication factor is the documented
  //     storage cost of overlap, paid in output size, not shuffle. (On a
  //     multi-split lake there is no Exchange AT ALL — docs()'s fan-out
  //     is conditional and collapses to the identity; only the one-file
  //     fixture pays its round-robin spread.)
  private val q136 = Q(
    "q136_doc_chunk",
    "✦ chunking: overlapping 64-token windows, stride 48, via explode",
    (s, d) => {
      val win = 64
      val stride = 48
      docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("start",
          explode(sequence(lit(0), col("n") - 1, lit(stride))))
        .select(col("doc_id"),
          (col("start") / stride).cast("long").as("chunk_id"),
          least(col("n") - col("start"), lit(win)).cast("long").as("n_tokens"),
          array_join(slice(col("toks"), col("start") + 1, lit(win)), " ")
            .as("chunk"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        len(string_split(text, ' ')) AS n FROM documents),
    s AS (SELECT doc_id, toks, n,
        unnest(generate_series(0, n - 1, 48)) AS start FROM t)
    SELECT doc_id, start // 48 AS chunk_id,
      LEAST(n - start, 64) AS n_tokens,
      array_to_string(toks[start + 1 : start + 64], ' ') AS chunk
    FROM s ORDER BY doc_id, chunk_id"""))

  // --- q140: PARAGRAPH-LEVEL EXACT DEDUP (C4/RefinedWeb shape) — drop
  //     every LATER occurrence of a paragraph repeated anywhere in the
  //     corpus, then reassemble each document from its surviving
  //     paragraphs ("paragraph" = aligned 8-word chunk, q103's idiom).
  //     Unlike q103 (df-threshold boilerplate), this is first-occurrence
  //     semantics: the canonical copy survives, all echoes die. Shape:
  //     the first occurrence per paragraph is a MIN over a composite
  //     BIGINT key (doc_id·2^20 + pos) — a partial-aggregatable hash
  //     aggregate (map-side combine), NOT a sort window over the
  //     paragraph partition, so a boilerplate paragraph repeated 10⁸
  //     times costs one combiner cell per task instead of one sorted
  //     partition; survivors join back on the paragraph and documents
  //     reassemble with one doc_id shuffle. The composite key doubles as
  //     the DuckDB twin (its MIN takes no STRUCT comparator).
  private val q140 = Q(
    "q140_paragraph_dedup",
    "✦ cleaning: corpus-wide exact paragraph dedup, keep first occurrence",
    (s, d) => {
      val ws = split(col("text"), " ")
      val paras = docs(s, d)
        .select(col("doc_id"), ws.as("ws"))
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(0), floor((size(col("ws")) + 7) / 8).cast("int") - 1),
            j => concat_ws(" ", slice(col("ws"), j * 8 + 1, lit(8))))))
        .withColumnRenamed("pos", "j").withColumnRenamed("col", "para")
        // LIMIT of the composite key (dsl.scala-style note): j must fit
        // the 2^20 field, i.e. <= 2^20 aligned 8-word paragraphs per doc
        // (~8.4M words); beyond that j bleeds into the doc_id field and
        // "first occurrence" silently mis-orders. doc_id must stay under
        // 2^43 for the product to fit a LONG. Production at bigger docs
        // widens the shift to 2^33 with the product in DECIMAL(38,0)
        // (both engines exact); the fixture's ~500-word docs sit 4 orders
        // of magnitude below the bound.
        .withColumn("k", col("doc_id") * lit(1048576L) + col("j"))
      val firsts = paras.groupBy(col("para"))
        .agg(min(col("k")).as("first_k"))
      paras.join(firsts, Seq("para"))
        .withColumn("keep", col("k") === col("first_k"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_paras"),
          count(when(!col("keep"), lit(1))).as("n_removed"),
          array_join(transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("j"), col("para"))))),
            x => x.getField("para")), " ").as("deduped"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents),
    ch AS (SELECT doc_id, ws,
        unnest(generate_series(0, (len(ws) + 7) // 8 - 1)) AS j FROM w),
    paras AS (SELECT doc_id, j,
        array_to_string(list_slice(ws, j*8 + 1, j*8 + 8), ' ') AS para,
        doc_id * 1048576 + j AS k FROM ch),
    firsts AS (SELECT para, MIN(k) AS first_k FROM paras GROUP BY para)
    SELECT doc_id, COUNT(*) AS n_paras,
      COUNT(CASE WHEN k <> first_k THEN 1 END) AS n_removed,
      COALESCE(string_agg(CASE WHEN k = first_k THEN para END,
        ' ' ORDER BY j), '') AS deduped
    FROM paras JOIN firsts USING (para)
    GROUP BY doc_id ORDER BY doc_id"""))

  // --- q154: EXACT SUBSTRING DEDUP (ExactSubstr / k-gram span family,
  //     the deduplicate-text-datasets shape) — find every maximal token
  //     span whose content is an echo of text seen EARLIER in the corpus,
  //     the train-set-memorization spans a suffix-array dedup would
  //     remove. Distributed approximation, no suffix array: (1) every
  //     overlapping K-token shingle (stride 1 — q136's chunker at full
  //     overlap) keyed by its composite first-occurrence key
  //     (doc_id·2^20 + pos, q140's idiom and its same 2^20/2^43 LIMITs);
  //     (2) the duplicate-shingle index is one hash aggregate
  //     MIN(k) GROUP BY shingle — partial-aggregatable, so a boilerplate
  //     shingle repeated 10^8 times costs one combiner cell per task,
  //     never a sorted partition; (3) join back and flag every
  //     occurrence that is NOT the canonical MIN — count-1 shingles have
  //     k = first_k and drop out for free, no separate count filter;
  //     (4) flagged start positions merge into MAXIMAL spans with a
  //     per-doc window: a new span opens when the gap to the previous
  //     flagged start exceeds K (intervals [p,p+K) and [q,q+K) overlap
  //     or touch exactly when q − p ≤ K), then one (doc_id, span_id) aggregate
  //     emits [start_tok, end_tok). Scale: no pair join anywhere —
  //     candidate volume is the duplicate-shingle index size; the only
  //     corpus-sized shuffles are the shingle aggregate + join-back, and
  //     the window is partitioned by doc_id (state bounded by doc
  //     length, not corpus). At 100 TB the shingle JOIN KEY would be
  //     xxhash64(shingle) — 8 bytes instead of ~K words, a collision
  //     costing one spurious span — kept as the raw string here because
  //     Spark and DuckDB share no string hash and the gate compares
  //     engines exactly.
  /** Flagged echo starts (doc_id, pos): every position whose K-token
    * shingle is a repeat of text seen EARLIER in the corpus (composite
    * first-occurrence key doc_id·2^20+pos — q140's idiom and its same
    * 2^20/2^43 LIMITs). The duplicate-shingle index is one
    * partial-aggregatable MIN(k) GROUP BY shingle; count-1 shingles have
    * k = first_k and drop out of the join-back for free. Shared by q154
    * (span readout) and q155 (span removal + reassembly). */
  private def echoStarts(corpus: DataFrame, K: Int): DataFrame = {
    val sh = corpus
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= K)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n") - K)).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        array_join(slice(col("toks"), col("pos") + 1, lit(K)), " ").as("sh"))
      .withColumn("k", col("doc_id") * lit(1048576L) + col("pos"))
    val firsts = sh.groupBy(col("sh")).agg(min(col("k")).as("first_k"))
    sh.join(firsts, Seq("sh"))
      .filter(col("k") =!= col("first_k"))
      .select(col("doc_id"), col("pos"))
  }

  /** DuckDB twin of [[echoStarts]]: CTEs t/s/g/f ending in d2 =
    * (doc_id, pos) of flagged starts. */
  private def echoStartsSql(k: Int): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        len(string_split(text, ' ')) AS n FROM documents),
    s AS (SELECT doc_id, toks,
        unnest(generate_series(0, n - $k, 1)) AS pos FROM t WHERE n >= $k),
    g AS (SELECT doc_id, pos, doc_id * 1048576 + pos AS k,
        array_to_string(toks[pos + 1 : pos + $k], ' ') AS sh FROM s),
    f AS (SELECT sh, MIN(k) AS first_k FROM g GROUP BY sh),
    d2 AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (sh)
      WHERE g.k <> f.first_k)"""

  private val q154 = Q(
    "q154_substring_dedup",
    "✦ exact substring dedup: duplicated K-gram index → maximal echo spans",
    (s, d) => {
      val K = 8
      val flagged = echoStarts(docs(s, d), K)
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      flagged
        .withColumn("brk",
          when(lag(col("pos"), 1).over(w).isNull ||
            col("pos") - lag(col("pos"), 1).over(w) > K, 1).otherwise(0))
        .withColumn("span_id",
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)) - 1)
        .groupBy(col("doc_id"), col("span_id"))
        .agg(min(col("pos")).as("start_tok"),
          (max(col("pos")) + K).as("end_tok"))
        .withColumn("n_toks", col("end_tok") - col("start_tok"))
        .orderBy(col("doc_id"), col("start_tok"))
    },
    Some(s"""WITH ${echoStartsSql(8)},
    m AS (SELECT doc_id, pos,
        CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
          OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        THEN 1 ELSE 0 END AS brk FROM d2),
    sp AS (SELECT doc_id, pos,
        CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1
          AS span_id FROM m)
    SELECT doc_id, span_id, MIN(pos) AS start_tok, MAX(pos) + 8 AS end_tok,
      MAX(pos) + 8 - MIN(pos) AS n_toks
    FROM sp GROUP BY doc_id, span_id ORDER BY doc_id, start_tok"""))

  // --- q155: EXACT SUBSTRING REMOVAL — q154 finds the echo spans; this is
  //     the pipeline step that actually APPLIES them: every token covered
  //     by some flagged K-shingle occurrence is cut and the survivors are
  //     rejoined into the cleaned corpus (the write-side of
  //     deduplicate-text-datasets — q154 is the report, q155 the edit).
  //     Coverage is computed from flagged STARTS directly (start p covers
  //     tokens [p, p+K)) rather than from q154's merged spans: the union
  //     of start intervals IS the union of the merged spans, and it joins
  //     to the token stream on (doc_id, pos) equality — no range join.
  //     Reassembly is q140's collect/sort/rejoin idiom, so docs that lose
  //     EVERY token still emit a row (cleaned = ''), and sub-K docs pass
  //     through untouched via the left join. Scale: the covered-position
  //     expansion is bounded by K × flagged-start volume (duplicated text
  //     only, not the corpus); the token explode is a partition-local
  //     generator inside codegen (q136's shape — no key shuffle to
  //     produce it); the only corpus-sized shuffles are the shingle MIN
  //     aggregate, the join-back, and the per-doc reassembly aggregate,
  //     whose state is bounded by doc length, never corpus size.
  private val q155 = Q(
    "q155_substring_remove",
    "✦ exact substring dedup: cut echo-covered tokens, reassemble cleaned docs",
    (s, d) => {
      val K = 8
      val corpus = docs(s, d)
      val cov = echoStarts(corpus, K)
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + K - 1)).as("tp"))
        .distinct()
        .withColumn("covered", lit(true))
      val tok = corpus
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("tp", "w")))
        .withColumn("tp", col("tp").cast("long"))
      tok.join(cov, Seq("doc_id", "tp"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          count(when(col("covered"), lit(1))).as("n_removed"),
          array_join(transform(
            array_sort(collect_list(when(col("covered").isNull,
              struct(col("tp"), col("w"))))),
            x => x.getField("w")), " ").as("cleaned"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${echoStartsSql(8)},
    cov AS (SELECT DISTINCT doc_id, pos + u AS tp FROM
      (SELECT doc_id, pos, unnest(generate_series(0, 7)) AS u FROM d2)),
    tk AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS tp, toks[i] AS w FROM
      (SELECT doc_id, toks, unnest(generate_series(1, n)) AS i FROM t)),
    j AS (SELECT tk.doc_id, tk.tp, tk.w, cov.tp AS ctp
      FROM tk LEFT JOIN cov ON cov.doc_id = tk.doc_id AND cov.tp = tk.tp)
    SELECT doc_id, COUNT(*) AS n_toks, COUNT(ctp) AS n_removed,
      COALESCE(string_agg(CASE WHEN ctp IS NULL THEN w END,
        ' ' ORDER BY tp), '') AS cleaned
    FROM j GROUP BY doc_id ORDER BY doc_id"""))

  // --- q141: TEMPERATURE-SCALED MIXTURE SAMPLING — the data-mixing
  //     math LLM pipelines actually run: per-source weights ∝ n^α
  //     (α = 0.5 here, i.e. temperature-flattened so small sources are
  //     up-weighted relative to their share), normalized across sources,
  //     converted to a per-source keep rate against a global document
  //     budget, then applied with q102's deterministic hash threshold
  //     (no rand(), shard-reproducible). Scale: two passes — a tiny
  //     per-source count aggregate whose α-normalizer is a SEQUENTIAL
  //     fold over the source-sorted array (the repo's cross-engine
  //     float rule: both engines fold left-to-right → bit-identical
  //     doubles), broadcast back over the corpus; the corpus itself is
  //     never shuffled (the final per-source count aggregate moves
  //     20 rows per task).
  private val q141 = Q(
    "q141_temperature_mix",
    "✦ mixing: temperature-scaled (n^0.5) source weights, hash-threshold keep",
    (s, d) => {
      val budget = 2000.0
      val counts = docs(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
        .withColumn("sq", sqrt(col("n")))
      val tot = counts.agg(
        aggregate(transform(
          sort_array(collect_list(struct(col("source"), col("sq")))),
          x => x.getField("sq")), lit(0.0), (a, x) => a + x).as("tot"))
      val rates = counts.crossJoin(broadcast(tot))
        .select(col("source"),
          least(lit(1.0), lit(budget) * (col("sq") / col("tot")) / col("n"))
            .as("rate"))
      docs(s, d).select(col("doc_id"), col("source"))
        .join(broadcast(rates), Seq("source"))
        .withColumn("keep",
          hashMod(col("doc_id"), 1000000L) < col("rate") * lit(1000000.0))
        .groupBy(col("source"), col("rate"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("keep"), lit(1))).as("n_kept"))
        .select(col("source"), col("n_docs"), col("rate"), col("n_kept"))
        .orderBy(col("source"))
    },
    Some("""WITH c AS (SELECT source, COUNT(*) AS n, SQRT(COUNT(*)) AS sq
      FROM documents GROUP BY source),
    t AS (SELECT list_sum(list(sq ORDER BY source)) AS tot FROM c),
    r AS (SELECT source, n,
        LEAST(1.0, 2000.0 * (sq / tot) / n) AS rate FROM c, t),
    k AS (SELECT d.source, r.rate,
        CASE WHEN (CAST(d.doc_id AS HUGEINT) * 2654435761) % 1000000 < r.rate * 1000000.0
          THEN 1 END AS kept
      FROM documents d JOIN r USING (source))
    SELECT source, COUNT(*) AS n_docs, rate, COUNT(kept) AS n_kept
    FROM k GROUP BY source, rate ORDER BY source"""))

  // --- q149: TRAIN/VAL/TEST SPLIT + LEAKAGE AUDIT — the split every
  //     training run needs, done the reproducible way (q102's hash
  //     threshold: 80/10/10 by dsl.hashMod, no rand(), shard-stable
  //     across engines/runs/retries), plus the audit every split should
  //     ship with: how many val/test documents are EXACT duplicates of a
  //     training document (content-hash leakage across the boundary —
  //     the q97 n-gram check's cheaper exact sibling, and the number a
  //     leaderboard reviewer asks for first). Every 10th doc re-enters
  //     under a shifted id so the fixture provably contains cross-split
  //     duplicates — shifted by 10007, NOT q46's 10000: the multiplicative
  //     hash is taken mod 100 and 10000 ≡ 0 (mod 100), so a +10000 copy
  //     would land in exactly its original's split and the audit would be
  //     vacuous (caught by inspecting the fixture output; 10007·61 ≢ 0
  //     mod 100 decorrelates the pair). Scale: split assignment is a
  //     pure projection; the audit is one semi-join of the val/test
  //     hashes against the distinct train hashes — train-side distinct
  //     first, so the join carries one row per unique training document,
  //     and the final readout is a 3-row aggregate. The corpus shuffles
  //     once, on the content hash.
  private val q149 = Q(
    "q149_split_leakage",
    "✦ split: deterministic 80/10/10 train/val/test + exact-dup leak audit",
    (s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = base.unionByName(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10007).as("doc_id"), col("text")))
      val t = corpus.select(col("doc_id"), sha2(col("text"), 256).as("h"),
        when(hashMod(col("doc_id"), 100) < 80, "train")
          .when(hashMod(col("doc_id"), 100) < 90, "val")
          .otherwise("test").as("split"))
      val trainH = t.filter(col("split") === "train").select(col("h")).distinct()
        .withColumn("in_train", lit(true))
      t.join(trainH, Seq("h"), "left")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("split") =!= "train" && col("in_train"), lit(1)))
            .as("n_leaked"))
        .orderBy(col("split"))
    },
    Some("""WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10007, text FROM documents WHERE doc_id % 10 = 0),
    t AS (SELECT doc_id, sha256(text) AS h,
        CASE WHEN (CAST(doc_id AS HUGEINT) * 2654435761) % 100 < 80 THEN 'train'
             WHEN (CAST(doc_id AS HUGEINT) * 2654435761) % 100 < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM corpus),
    th AS (SELECT DISTINCT h FROM t WHERE split = 'train')
    SELECT split, COUNT(*) AS n_docs,
      CAST(COUNT(CASE WHEN split <> 'train' AND t.h IN (SELECT h FROM th)
        THEN 1 END) AS BIGINT) AS n_leaked
    FROM t GROUP BY split ORDER BY split"""))

  // --- q161: UNIGRAM-LM LOG-PROB QUALITY SCORE — the perplexity-proxy
  //     filter (the cheap stand-in for a KenLM gate): train a unigram LM
  //     on the corpus itself (token → count / total), then score each
  //     document by its mean negative log-probability; gibberish and
  //     rare-token soup score high, stereotyped text scores low. Two
  //     passes over the token stream: (1) the vocab aggregate (shuffle
  //     bounded by vocabulary size, map-side combined; the scalar total
  //     is a broadcast 1-row frame), (2) a token→vocab equi-join keyed
  //     on the word (vocab-bounded shuffle — NOT broadcast: a web-scale
  //     vocab has billions of rare types) and a per-doc fold. Summation
  //     determinism: ln(cnt/total) is evaluated once per row from
  //     identical inputs on both engines, and the per-doc sum folds a
  //     POSITION-SORTED collected list sequentially (q141's idiom) —
  //     per-doc state bounded by doc length (q140/q155's accepted
  //     reassembly bound), addition order engine-identical. ln() is NOT
  //     bit-identical across engines (Java vs libm, 1 ulp), so the
  //     compared score is rounded to 9 decimals on both sides (q27's
  //     pattern) and the gate flag is computed from the rounded value.
  private val q161 = Q(
    "q161_unigram_logprob",
    "✦ quality: unigram-LM mean negative log-prob per doc (perplexity proxy)",
    (s, d) => {
      val tok = docs(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      val tot = tok.agg(count(lit(1)).as("tot"))
      val vocab = tok.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .select(col("word"),
          log(col("cnt").cast("double") / col("tot").cast("double")).as("logp"))
      tok.join(vocab, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          aggregate(
            transform(array_sort(collect_list(struct(col("pos"), col("logp")))),
              x => x.getField("logp")),
            lit(0.0), (a, x) => a + x).as("s"))
        .select(col("doc_id"), col("n_tokens"),
          round(-(col("s") / col("n_tokens").cast("double")), 9).as("avg_neg_logp"))
        .withColumn("flag_low_quality", col("avg_neg_logp") > lit(3.8))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
        len(string_split(text, ' ')) AS n FROM documents),
    tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS word
      FROM (SELECT doc_id, toks, unnest(generate_series(1, n)) AS i FROM t)),
    tot AS (SELECT COUNT(*) AS tot FROM tok),
    vocab AS (SELECT word,
        ln(CAST(COUNT(*) AS DOUBLE) / CAST((SELECT tot FROM tot) AS DOUBLE)) AS logp
      FROM tok GROUP BY word),
    sc AS (SELECT doc_id, COUNT(*) AS n_tokens,
        list_sum(list(logp ORDER BY pos)) AS s
      FROM tok JOIN vocab USING (word) GROUP BY doc_id)
    SELECT doc_id, n_tokens,
      ROUND(-(s / CAST(n_tokens AS DOUBLE)), 9) AS avg_neg_logp,
      ROUND(-(s / CAST(n_tokens AS DOUBLE)), 9) > 3.8 AS flag_low_quality
    FROM sc ORDER BY doc_id"""))

  // --- q162: ZIPF SLOPE OF THE VOCABULARY — fit ln(freq) = a + s·ln(rank)
  //     over the top-100 collection-frequency types by exact least
  //     squares; natural text sits near s ≈ −1, and a corpus whose slope
  //     drifts (template spam flattens it, boilerplate steepens it) fails
  //     the distributional sanity check. Shape: the vocab aggregate
  //     (corpus's only shuffle, vocab-bounded) feeds a top-k selection —
  //     Spark plans orderBy+limit as TakeOrderedAndProject, per-partition
  //     heaps + one k-row merge, never a global sort — and everything
  //     after is a ONE-ROW frame: ranks come from the index of the
  //     (cnt desc, word)-sorted collected list, and the four moment sums
  //     (Σx, Σy, Σxy, Σx²) are sequential folds over that list, so the
  //     double addition order is engine-identical (q141's idiom; a plain
  //     SUM would be partial-order dependent). Slope and intercept are
  //     single identically-shaped double expressions — but ln() is not
  //     bit-identical across engines (Java Math.log vs libm differed by
  //     1 ulp on this very fixture), so both are rounded to 9 decimals
  //     on both sides (q27's pattern).
  private val q162 = Q(
    "q162_zipf_slope",
    "✦ corpus stats: Zipf slope over top-100 vocab by exact log-log least squares",
    (s, d) => {
      val top = docs(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(100)
      // index i is 0-based → rank = i+1; sort key (-cnt, word) puts the
      // most frequent type first, ties broken lexicographically.
      val xs = transform(col("arr"), (_, i) => log((i + 1).cast("double")))
      val ys = transform(col("arr"),
        x => log(x.getField("cnt").cast("double")))
      def fsum(c: org.apache.spark.sql.Column) =
        aggregate(c, lit(0.0), (a, x) => a + x)
      top.agg(count(lit(1)).as("n_terms"),
          sort_array(collect_list(struct((-col("cnt")).as("nc"),
            col("word"), col("cnt")))).as("arr"))
        .select(col("n_terms"),
          fsum(xs).as("sx"), fsum(ys).as("sy"),
          fsum(zip_with(xs, ys, (a, b) => a * b)).as("sxy"),
          fsum(transform(xs, x => x * x)).as("sxx"))
        .withColumn("slope",
          (col("n_terms").cast("double") * col("sxy") - col("sx") * col("sy")) /
            (col("n_terms").cast("double") * col("sxx") - col("sx") * col("sx")))
        .withColumn("intercept",
          (col("sy") - col("slope") * col("sx")) / col("n_terms").cast("double"))
        .select(col("n_terms"), round(col("slope"), 9).as("slope"),
          round(col("intercept"), 9).as("intercept"))
    },
    Some("""WITH v AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    top AS (SELECT word, COUNT(*) AS cnt FROM v GROUP BY word
      ORDER BY cnt DESC, word LIMIT 100),
    l AS (SELECT COUNT(*) AS n_terms, list(cnt ORDER BY cnt DESC, word) AS cs
      FROM top),
    m AS (SELECT n_terms,
        list_sum(list_transform(cs, (x, i) -> ln(CAST(i AS DOUBLE)))) AS sx,
        list_sum(list_transform(cs, x -> ln(CAST(x AS DOUBLE)))) AS sy,
        list_sum(list_transform(cs, (x, i) ->
          ln(CAST(i AS DOUBLE)) * ln(CAST(x AS DOUBLE)))) AS sxy,
        list_sum(list_transform(cs, (x, i) ->
          ln(CAST(i AS DOUBLE)) * ln(CAST(i AS DOUBLE)))) AS sxx
      FROM l),
    r AS (SELECT n_terms,
        ((CAST(n_terms AS DOUBLE) * sxy - sx * sy) /
         (CAST(n_terms AS DOUBLE) * sxx - sx * sx)) AS slope, sx, sy
      FROM m)
    SELECT n_terms, ROUND(slope, 9) AS slope,
      ROUND((sy - slope * sx) / CAST(n_terms AS DOUBLE), 9) AS intercept
    FROM r"""))

  // --- q171: BIGRAM-LM LOG-PROB — the conditional upgrade of q161's
  //     unigram gate: score each doc by the mean negative log of
  //     p(w|prev) = (c(prev,w) + k) / (c(prev) + k·V), add-k smoothing
  //     (k = 0.5, V = vocab size), the cheap stand-in for a real LM
  //     perplexity filter that actually penalizes IMPLAUSIBLE ORDER, not
  //     just rare words (shuffled text fools q161, not this). Shape:
  //     bigrams come from lag() over a (doc, pos) window — the token
  //     stream shuffles ONCE on doc_id and the same sorted pass feeds
  //     both the bigram extraction and the per-doc fold; bigram + prefix
  //     counts are vocab²-bounded aggregates, joined back by key
  //     (shuffle, not broadcast — a web corpus's bigram table doesn't
  //     fit a broadcast). Determinism: counts and V are exact integers;
  //     p is one identically-parenthesized double expression (0.5 is
  //     binary-exact); ln carries the documented 1-ulp libm caveat so
  //     the per-doc sum folds position-sorted (q141) and the output
  //     truncates at fpTrunc(9) — O(1) magnitude, the q161-accepted
  //     risk class.
  private val q171 = Q(
    "q171_bigram_logprob",
    "✦ quality: bigram-LM (add-k smoothed) mean neg log-prob per doc",
    (s, d) => {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val big = docs(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .withColumn("prev", lag(col("word"), 1).over(w))
        .filter(col("prev").isNotNull)
      val vocab = big.agg(count_distinct(col("word")).as("v"))
      val bc = big.groupBy(col("prev"), col("word"))
        .agg(count(lit(1)).as("cb"))
      val pc = bc.groupBy(col("prev")).agg(sum(col("cb")).as("cp"))
      big.join(bc, Seq("prev", "word")).join(pc, Seq("prev"))
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"), col("pos"),
          log((col("cb").cast("double") + lit(0.5)) /
            (col("cp").cast("double") + lit(0.5) * col("v").cast("double")))
            .as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          aggregate(
            transform(array_sort(collect_list(struct(col("pos"), col("lp")))),
              x => x.getField("lp")),
            lit(0.0), (a, x) => a + x).as("s"))
        .select(col("doc_id"), col("n_bigrams"),
          fpTrunc(-(col("s") / col("n_bigrams").cast("double")), 9)
            .as("avg_neg_logp"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
        len(string_split(text, ' ')) AS n FROM documents),
    tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS word
      FROM (SELECT doc_id, toks, unnest(generate_series(1, n)) AS i FROM t)),
    big AS (SELECT doc_id, pos, word,
        LAG(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM tok QUALIFY prev IS NOT NULL),
    vocab AS (SELECT COUNT(DISTINCT word) AS v FROM big),
    bc AS (SELECT prev, word, COUNT(*) AS cb FROM big GROUP BY 1, 2),
    pc AS (SELECT prev, SUM(cb) AS cp FROM bc GROUP BY 1),
    sc AS (
      SELECT b.doc_id, COUNT(*) AS n_bigrams,
        list_sum(list(
          ln((CAST(bc.cb AS DOUBLE) + 0.5) /
            (CAST(pc.cp AS DOUBLE) + 0.5 * CAST((SELECT v FROM vocab)
              AS DOUBLE))) ORDER BY b.pos)) AS s
      FROM big b JOIN bc USING (prev, word) JOIN pc USING (prev)
      GROUP BY b.doc_id)
    SELECT doc_id, n_bigrams,
      FLOOR((-(s / CAST(n_bigrams AS DOUBLE))) * 1e9) / 1e9 AS avg_neg_logp
    FROM sc ORDER BY doc_id"""))

  // --- q173: FEATURE HASHING (the hashing trick) — text → fixed-width
  //     sparse features with no vocabulary pass: feature index is the
  //     word-hash mod D (D = 64) and the contribution is ±1 from the
  //     hash's next bit (signed hashing, Weinberger et al. 2009 — the
  //     sign makes colliding words cancel in expectation instead of
  //     inflating the bucket). One token pass → one (doc, fidx)
  //     aggregate; no vocab table, no broadcast, no second scan — the
  //     property that makes the trick THE vectorizer at corpus scale.
  //     The word hash is q54's portable md5-prefix integer, so both
  //     engines index identically; output is long-format sparse rows.
  private val q173 = Q(
    "q173_feature_hashing",
    "✦ vectorize: signed feature hashing into 64 buckets (long-format sparse)",
    (s, d) => {
      Tables.documents(s, d).filter(col("doc_id") < 30)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .withColumn("h32",
          conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long"))
        .withColumn("fidx", pmod(col("h32"), lit(64L)))
        .withColumn("sgn",
          when(pmod(expr("h32 div 64"), lit(2L)) === 0, lit(1L))
            .otherwise(lit(-1L)))
        .groupBy(col("doc_id"), col("fidx"))
        .agg(sum(col("sgn")).as("val"), count(lit(1)).as("n_terms"))
        .orderBy(col("doc_id"), col("fidx"))
    },
    Some("""WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents WHERE doc_id < 30),
    h AS (SELECT doc_id,
      CAST(list_sum(list_transform(generate_series(1, 8),
        k -> (strpos('0123456789abcdef', substr(md5(word), k, 1)) - 1)
             * CAST(power(16, 8 - k) AS BIGINT))) AS BIGINT) AS h32
      FROM w)
    SELECT doc_id, h32 % 64 AS fidx,
      CAST(SUM(CASE WHEN (h32 // 64) % 2 = 0 THEN 1 ELSE -1 END)
        AS BIGINT) AS val,
      COUNT(*) AS n_terms
    FROM h GROUP BY 1, 2 ORDER BY doc_id, fidx"""))

  // --- q183: PHRASE SEARCH VIA POSITIONAL INVERTED INDEX — exact
  //     multi-term phrase retrieval ("value table", adjacent, in
  //     order), the positional-postings complement to q166's BM25
  //     bag-of-words ranking. The distributed shape is the real one:
  //     tokenize → (doc, pos, term) positional postings, PRUNE to the
  //     phrase's terms immediately after the explode (the posting-list
  //     prune — the shuffle carries only the two terms' postings, not
  //     the corpus), then phrase adjacency is an EQUI-join on
  //     (doc, pos+1) — never a per-doc rescan. At index-serving scale
  //     the postings table is written once, bucketed by term, and
  //     every phrase query is a bucket-local join; the per-query plan
  //     here is identical minus the reuse. The ORACLE is deliberately a
  //     DIFFERENT algorithm — DuckDB scans each document's token list
  //     naively (list_filter over positions) — so the hash-match
  //     cross-checks the indexed join against a straight-line scan
  //     rather than mirroring it. Exact integers end to end.
  private val q183 = Q(
    "q183_phrase_search",
    "✦ retrieval: positional-index phrase search (posting prune + (doc,pos+1) equi-join)",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val t1 = toks.filter(col("tok") === "value")
        .select(col("doc_id"), col("pos").cast("long").as("p1"))
      val t2 = toks.filter(col("tok") === "table")
        .select(col("doc_id"), col("pos").cast("long").as("p2"))
      t1.join(t2, t1("doc_id") === t2("doc_id") && col("p2") === col("p1") + 1)
        .groupBy(t1("doc_id"))
        .agg(count(lit(1)).as("n_matches"), min(col("p1")).as("first_pos"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    m AS (
      SELECT doc_id,
        list_filter(generate_series(1, len(toks) - 1),
          i -> toks[i] = 'value' AND toks[i + 1] = 'table') AS hits
      FROM t)
    SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
      CAST(hits[1] - 1 AS BIGINT) AS first_pos
    FROM m WHERE len(hits) > 0 ORDER BY doc_id"""))

  // --- q210: INTER-SOURCE CORPUS SIMILARITY — cosine between sources'
  //     term-frequency distributions, the mixture-design audit ("are
  //     these two crawls near-duplicates of each other at the corpus
  //     level?"; feeds q176's mixture solver). The vector space is the
  //     GLOBAL top-500 terms (TakeOrderedAndProject with a (count desc,
  //     term) deterministic tiebreak — a fixed-width vocabulary, so the
  //     per-source vectors are bounded regardless of corpus size), the
  //     dot products come from a term equi-join on the pruned
  //     sources×terms frame (pair volume ≤ |sources|²·500 — the q188
  //     centroid idiom on text), and every sum is an exact integer
  //     count product; only the final sqrt/divide chain is float, under
  //     fpTrunc. One corpus-scale tokenize+groupBy; everything after is
  //     vocabulary-sized.
  private val q210 = Q(
    "q210_corpus_similarity",
    "✦ text: pairwise source-distribution cosine over the global top-500 term space",
    (s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      val top = tf.groupBy(col("term")).agg(sum(col("c")).as("tc"))
        .orderBy(col("tc").desc, col("term")).limit(500)
      val v = tf.join(broadcast(top.select(col("term"))), Seq("term"))
      val norms = v.groupBy(col("source"))
        .agg(sum(col("c") * col("c")).as("nn"))
      v.select(col("term"), col("source").as("sa"), col("c").as("ca"))
        .join(v.select(col("term"), col("source").as("sb"),
          col("c").as("cb")), Seq("term"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb"))
        .agg(sum(col("ca") * col("cb")).as("dot"))
        .join(broadcast(norms.select(col("source").as("sa"),
          col("nn").as("na"))), Seq("sa"))
        .join(broadcast(norms.select(col("source").as("sb"),
          col("nn").as("nb"))), Seq("sb"))
        .select(col("sa"), col("sb"), col("dot"),
          fpTrunc(col("dot").cast("double")
            / sqrt(col("na").cast("double") * col("nb").cast("double")), 9)
            .as("cosine"))
        .orderBy(col("sa"), col("sb"))
    },
    Some(s"""WITH tf AS (SELECT source, term, COUNT(*) AS c FROM
      (SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents) GROUP BY 1, 2),
    top AS (SELECT term FROM (
      SELECT term, CAST(SUM(c) AS BIGINT) AS tc FROM tf GROUP BY 1
      ORDER BY tc DESC, term LIMIT 500)),
    v AS (SELECT tf.source, tf.term, tf.c
      FROM tf JOIN top ON tf.term = top.term),
    n AS (SELECT source, CAST(SUM(c * c) AS BIGINT) AS nn
      FROM v GROUP BY 1),
    dt AS (SELECT a.source AS sa, b.source AS sb,
        CAST(SUM(a.c * b.c) AS BIGINT) AS dot
      FROM v a JOIN v b ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2)
    SELECT dt.sa AS sa, dt.sb AS sb, dt.dot AS dot,
      ${fpTruncSql(
        "CAST(dt.dot AS DOUBLE) / SQRT(CAST(x.nn AS DOUBLE) * CAST(y.nn AS DOUBLE))",
        9)} AS cosine
    FROM dt JOIN n x ON dt.sa = x.source JOIN n y ON dt.sb = y.source
    ORDER BY sa, sb"""))

  // --- q223: DATASET MANIFEST / DATA CARD — the one-row-per-source
  //     release artifact a training run pins: document count, char and
  //     token totals, language spread, and a CONTENT CHECKSUM (q219's
  //     order-free mergeable hash-sum over (doc_id, n_chars) — two
  //     manifests from independent systems diff by simple equality).
  //     One map-combined pass over the corpus; the tokenizer is the
  //     shared whitespace split (q53's convention, so manifest token
  //     counts reconcile with the curation pipeline's).
  private val q223 = Q(
    "q223_dataset_manifest",
    "✦ training data: per-source dataset card (docs, chars, tokens, langs, checksum)",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("source"), col("lang"), col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .withColumn("h", hashMod2L(
          pmod(col("doc_id"), lit(2147483647L)) * 1000003L
            + pmod(col("n_chars"), lit(1000003L)), lit(2147483648L)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("toks")).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("h")).as("checksum"))
        .orderBy(col("source"))
    },
    Some(s"""WITH t AS (
      SELECT source, lang, doc_id, n_chars,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        ${hashMod2LSql(
          "(doc_id % 2147483647) * 1000003 + (n_chars % 1000003)",
          "2147483648")} AS h
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      CAST(SUM(toks) AS BIGINT) AS total_tokens,
      CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      CAST(SUM(h) AS BIGINT) AS checksum
    FROM t GROUP BY source ORDER BY source"""))

  // --- q278: BPE MERGE TRAINING (Sennrich et al.) — the tokenizer-
  //     training inner loop every LLM data stack runs before anything
  //     else: start from characters (+ an explicit </w> end-of-word
  //     symbol), repeatedly count adjacent symbol pairs weighted by
  //     word frequency, merge the most frequent pair left-to-right
  //     non-overlapping, repeat. Output = the 3 learned merges with
  //     their weighted pair counts and the weighted corpus symbol
  //     total after each merge (the compression curve).
  //     THE scale move is the corpus→vocab collapse: the only
  //     corpus-sized work is ONE word-count pass (map-combined hash
  //     aggregate over 10^12 tokens); the training loop then runs on
  //     the distinct-word table (10^5-10^6 rows at web scale, 31
  //     here) — each round is a vocab-sized pair aggregate, a 1-row
  //     argmax broadcast back as COLUMNS (crossJoin(broadcast(top)) —
  //     no collect, no driver loop), and one codegen'd fold that
  //     applies the merge. The fold's greedy-left rule needs no
  //     "just merged" flag: after a merge the accumulator's last
  //     element is left||right, and left||right = left would need an
  //     empty right — impossible — so overlap ("aaa" under a+a)
  //     resolves correctly by construction.
  //     Determinism: pure strings and integer counts end-to-end; the
  //     argmax tie rule is (count DESC, left, right). The oracle
  //     certifies the fold with a DIFFERENT algorithm (positional
  //     run-parity: adjacent occurrences only chain when left = right,
  //     so greedy = even offsets within each occurrence run) — the
  //     q236 different-algorithm-as-oracle discipline.
  private val q278 = Q(
    "q278_bpe_merge_training",
    "✦ tokenizer: BPE pair-merge training — 3 rounds, vocab-sized loop, greedy fold apply",
    (s, d) => {
      // Greedy left-to-right non-overlapping merge of the (l, r) pair,
      // as one codegen'd fold over the symbol array.
      def mergeFold(l: org.apache.spark.sql.Column,
          r: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        aggregate(col("syms"), array().cast("array<string>"), (acc, x) =>
          when(size(acc) > 0
              && element_at(acc, -1) === l && x === r,
            concat(slice(acc, lit(1), size(acc) - 1), array(concat(l, r))))
            .otherwise(concat(acc, array(x))))
      // The ONE corpus-sized pass: token → word-frequency collapse.
      var vocab = Tables.fanOut(Tables.documents(s, d))
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .withColumn("syms",
          concat(
            transform(sequence(lit(1), length(col("word"))),
              i => col("word").substr(i, lit(1))),
            array(lit("</w>"))))
        .select(col("word"), col("freq"), col("syms"))
        .localCheckpoint(true)
      var outs = Seq.empty[org.apache.spark.sql.DataFrame]
      for (step <- 1 to 3) {
        val pc = vocab
          .select(col("freq"), explode(
            transform(sequence(lit(1), size(col("syms")) - 1), i =>
              struct(element_at(col("syms"), i).as("l"),
                element_at(col("syms"), i + 1).as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
        val top = pc.orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        // The winning pair rides along as COLUMNS (1-row broadcast),
        // so the loop never collects to the driver.
        val merged = vocab.crossJoin(broadcast(top))
          .withColumn("newsyms", mergeFold(col("l"), col("r")))
          .localCheckpoint(true)
        outs = outs :+ merged
          .groupBy(col("l"), col("r"), col("cnt"))
          .agg(sum(col("freq") * size(col("newsyms"))).as("symbols_after"))
          .select(lit(step.toLong).as("step"), col("l").as("merge_left"),
            col("r").as("merge_right"), col("cnt").as("pair_freq"),
            col("symbols_after"))
        vocab = merged
          .select(col("word"), col("freq"), col("newsyms").as("syms"))
      }
      outs.reduce(_.unionByName(_)).orderBy(col("step"))
    },
    Some {
      // One unrolled round: pair counts → argmax → occurrence runs →
      // greedy merge starts (odd offsets within a run — adjacent
      // occurrences only chain when l = r, so run parity IS the greedy
      // fold) → rebuilt symbol table. A different algorithm from the
      // Spark fold, certifying the same semantics (q236's discipline).
      def round(n: Int): String = {
        val (sN, p, t, o, m, s1) =
          (s"s$n", s"p$n", s"t$n", s"o$n", s"m$n", s"s${n + 1}")
        s"""$p AS (SELECT a.s AS l, b.s AS r,
          CAST(SUM(a.freq) AS BIGINT) AS cnt
        FROM $sN a JOIN $sN b ON a.word = b.word AND b.i = a.i + 1
        GROUP BY 1, 2),
      $t AS (SELECT l, r, cnt FROM $p ORDER BY cnt DESC, l, r LIMIT 1),
      $o AS (SELECT a.word, a.i
        FROM $sN a JOIN $sN b ON a.word = b.word AND b.i = a.i + 1, $t
        WHERE a.s = $t.l AND b.s = $t.r),
      $m AS (SELECT word, i FROM (
          SELECT word, i,
            ROW_NUMBER() OVER (PARTITION BY word, i - rn ORDER BY i) AS off
          FROM (SELECT word, i,
              ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS rn
            FROM $o))
        WHERE off % 2 = 1),
      $s1 AS MATERIALIZED (
        SELECT word, freq,
          CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS BIGINT)
            AS i, s
        FROM (
          SELECT x.word, x.freq, x.i,
            CASE WHEN ms.i IS NOT NULL
              THEN (SELECT l FROM $t) || (SELECT r FROM $t)
              ELSE x.s END AS s
          FROM $sN x
          LEFT JOIN $m ms ON ms.word = x.word AND ms.i = x.i
          LEFT JOIN $m mp ON mp.word = x.word AND mp.i = x.i - 1
          WHERE mp.i IS NULL)),
      r$n AS (SELECT CAST($n AS BIGINT) AS step, t.l AS merge_left,
          t.r AS merge_right, t.cnt AS pair_freq,
          (SELECT CAST(SUM(freq) AS BIGINT) FROM $s1) AS symbols_after
        FROM $t t)"""
      }
      s"""WITH w AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word
          FROM documents)
        WHERE word <> '' GROUP BY word),
      s1 AS MATERIALIZED (
        SELECT word, freq, CAST(i AS BIGINT) AS i,
          CASE WHEN i <= len(word) THEN substr(word, CAST(i AS INT), 1)
            ELSE '</w>' END AS s
        FROM (SELECT word, freq,
            unnest(generate_series(1, len(word) + 1)) AS i
          FROM w)),
      ${round(1)},
      ${round(2)},
      ${round(3)}
      SELECT step, merge_left, merge_right, pair_freq, symbols_after
      FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
        UNION ALL SELECT * FROM r3)
      ORDER BY step"""
    })

  // --- q279: BPE ENCODE at corpus scale — the APPLY side of q278:
  //     tokenize every document against a FIXED ranked merge table
  //     (the artifact a trained tokenizer ships). The scale pattern is
  //     VOCAB MEMOIZATION: subword-encode each DISTINCT word once
  //     (the merge table is compile-time literals, so the 5 ranked
  //     merges chain into one codegen'd projection stack over the
  //     distinct-word frame — zero shuffles, no loop), then the
  //     corpus only pays a broadcast join word → subword-count. At
  //     100 TB that's the difference between running the tokenizer on
  //     10^12 tokens and running it on 10^6 vocab entries — the
  //     standard trick every token-count audit uses (HF tokenizers'
  //     word cache, made distributed). Readout: per-source token
  //     economics — words, character-baseline symbols (len+1: chars +
  //     </w>), post-BPE subwords, and the compression ratio.
  //     Determinism: strings and integer counts end-to-end; one final
  //     fpTrunc'd double division for the ratio.
  private val q279 = Q(
    "q279_bpe_encode",
    "✦ tokenizer: BPE encode via vocab memoization — 5 ranked merges, per-source token economics",
    (s, d) => {
      // The shipped artifact: 5 merges in rank order (q278's learned
      // head extended; a production table is 10^4-10^5 rows and rides
      // the same chained-fold plan generated from its rows).
      val merges = Seq(("e", "</w>"), ("e", "r"), ("i", "n"),
        ("t", "i"), ("d", "</w>"))
      def fold(l: String, r: String) =
        aggregate(col("syms"), array().cast("array<string>"), (acc, x) =>
          when(size(acc) > 0
              && element_at(acc, -1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(lit(l + r))))
            .otherwise(concat(acc, array(x))))
      val toks = Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
      var enc = toks.select(col("word")).distinct()
        .withColumn("syms",
          concat(
            transform(sequence(lit(1), length(col("word"))),
              i => col("word").substr(i, lit(1))),
            array(lit("</w>"))))
      for ((l, r) <- merges) enc = enc.withColumn("syms", fold(l, r))
      val wtok = enc.select(col("word"),
        (length(col("word")) + 1).cast("long").as("n_base"),
        size(col("syms")).cast("long").as("n_sub"))
      toks.join(broadcast(wtok), Seq("word"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_base")).as("n_base_symbols"),
          sum(col("n_sub")).as("n_subwords"))
        .withColumn("compression",
          fpTrunc(col("n_subwords").cast("double")
            / col("n_base_symbols").cast("double"), 9))
        .orderBy(col("source"))
    },
    Some {
      // Each merge application is the q278 run-parity rewrite with the
      // pair fixed as literals.
      def app(n: Int, l: String, r: String): String = {
        val (sN, o, m, s1) = (s"e$n", s"o$n", s"m$n", s"e${n + 1}")
        s"""$o AS (SELECT a.word, a.i
        FROM $sN a JOIN $sN b ON a.word = b.word AND b.i = a.i + 1
        WHERE a.s = '$l' AND b.s = '$r'),
      $m AS (SELECT word, i FROM (
          SELECT word, i,
            ROW_NUMBER() OVER (PARTITION BY word, i - rn ORDER BY i) AS off
          FROM (SELECT word, i,
              ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS rn
            FROM $o))
        WHERE off % 2 = 1),
      $s1 AS MATERIALIZED (
        SELECT word,
          CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS BIGINT)
            AS i, s
        FROM (
          SELECT x.word, x.i,
            CASE WHEN ms.i IS NOT NULL THEN '$l' || '$r' ELSE x.s END AS s
          FROM $sN x
          LEFT JOIN $m ms ON ms.word = x.word AND ms.i = x.i
          LEFT JOIN $m mp ON mp.word = x.word AND mp.i = x.i - 1
          WHERE mp.i IS NULL))"""
      }
      s"""WITH toks AS (
        SELECT source, word FROM (
          SELECT source, unnest(string_split(text, ' ')) AS word
          FROM documents)
        WHERE word <> ''),
      vw AS (SELECT DISTINCT word FROM toks),
      e1 AS MATERIALIZED (
        SELECT word, CAST(i AS BIGINT) AS i,
          CASE WHEN i <= len(word) THEN substr(word, CAST(i AS INT), 1)
            ELSE '</w>' END AS s
        FROM (SELECT word,
            unnest(generate_series(1, len(word) + 1)) AS i
          FROM vw)),
      ${app(1, "e", "</w>")},
      ${app(2, "e", "r")},
      ${app(3, "i", "n")},
      ${app(4, "t", "i")},
      ${app(5, "d", "</w>")},
      wt AS (SELECT w.word, CAST(len(w.word) + 1 AS BIGINT) AS n_base,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM e6 WHERE e6.word = w.word)
            AS n_sub
        FROM vw w)
      SELECT t.source,
        CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(wt.n_base) AS BIGINT) AS n_base_symbols,
        CAST(SUM(wt.n_sub) AS BIGINT) AS n_subwords,
        ${fpTruncSql(
          "CAST(SUM(wt.n_sub) AS DOUBLE) / CAST(SUM(wt.n_base) AS DOUBLE)",
          9)} AS compression
      FROM toks t JOIN wt ON t.word = wt.word
      GROUP BY t.source ORDER BY t.source"""
    })

  // --- q280: SPAN-CORRUPTION MASKING AUDIT (T5/UL2 denoising) — the
  //     data transform behind every span-corruption objective: pick
  //     deterministic span starts (the no-rand() hashMod primitive —
  //     shard-reproducible, q152's contract), mask the 3-token window
  //     after each start, and report the per-source masking economics
  //     (docs, tokens, spans, masked tokens, realized mask rate) a
  //     pipeline uses to validate the objective's corruption budget
  //     before a run. Overlapping windows MERGE (T5 merges adjacent
  //     sentinel spans), which makes the semantics fully declarative —
  //     masked set = union of [p, p+2] intervals, span count = number
  //     of maximal covered runs (a covered position whose predecessor
  //     is uncovered starts a run) — no greedy sequential scan, no
  //     window function, just array HOFs inside one codegen'd
  //     projection. Zero shuffles before the final per-source rollup;
  //     candidate rate 1/20, expected realized mask rate ≈ 3/20 minus
  //     overlap (the audit's reason to exist).
  private val q280 = Q(
    "q280_span_corruption",
    "✦ training data: T5-style span-corruption audit — hash span starts, merged-window mask economics",
    (s, d) => {
      val base = Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), col("doc_id"),
          split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        // Span starts p ∈ [1, n−2] (the 3-token window stays inside the
        // doc); the n ≥ 3 guard is the house sequence() rule (q47).
        .withColumn("cand",
          when(col("n") >= 3,
            filter(sequence(lit(1L), col("n") - 2), p =>
              hashMod(col("doc_id") * lit(4096L) + p, 20L) === 0))
            .otherwise(array().cast("array<bigint>")))
        .withColumn("covered", array_distinct(flatten(
          transform(col("cand"), p => sequence(p, p + 2)))))
        .withColumn("n_masked", size(col("covered")).cast("long"))
        .withColumn("n_spans", size(filter(col("covered"),
          c => !array_contains(col("covered"), c - 1))).cast("long"))
      base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("n_tokens"),
          sum(col("n_spans")).as("n_spans"),
          sum(col("n_masked")).as("n_masked"))
        .withColumn("mask_rate",
          fpTrunc(col("n_masked").cast("double")
            / col("n_tokens").cast("double"), 9))
        .orderBy(col("source"))
    },
    Some(s"""WITH t AS (
      SELECT source, doc_id, string_split(text, ' ') AS toks
      FROM documents),
    b AS (SELECT source, doc_id, CAST(len(toks) AS BIGINT) AS n,
        CASE WHEN len(toks) >= 3 THEN
          list_filter(generate_series(1, len(toks) - 2),
            p -> ((doc_id * 4096 + p) * 2654435761) % 20 = 0)
        ELSE CAST([] AS BIGINT[]) END AS cand
      FROM t),
    c AS (SELECT source, n,
        list_distinct(flatten(list_transform(cand,
          p -> generate_series(p, p + 2)))) AS covered
      FROM b)
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n) AS BIGINT) AS n_tokens,
      CAST(SUM(len(list_filter(covered,
        x -> NOT list_contains(covered, x - 1)))) AS BIGINT) AS n_spans,
      CAST(SUM(len(covered)) AS BIGINT) AS n_masked,
      ${fpTruncSql(
        "CAST(SUM(len(covered)) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)", 9)}
        AS mask_rate
    FROM c GROUP BY source ORDER BY source"""))

  // --- q284: PREFERENCE-PAIR MINING (DPO/RLHF data construction) —
  //     build (chosen, rejected) training pairs per group: within each
  //     source, the highest- and lowest-quality document under a
  //     deterministic integer quality score (lexical diversity =
  //     distinct-token count — a projection-computable stand-in for a
  //     reward model's score; swap the expression, keep the plan),
  //     plus the score margin a pair-quality gate thresholds on.
  //     Scale shape: the per-group argmax/argmin is the house
  //     COMPOSITE-KEY MIN/MAX idiom (score·2²⁰ + doc_id packed into
  //     one BIGINT; max picks high score then high id, min the
  //     mirror) — ONE map-combined aggregate, NO rank window over the
  //     corpus-sized group (the no-corpus-global-window discipline;
  //     a row_number per source would sort whole corpus partitions).
  //     Integer end-to-end; ties broken by doc_id in the key itself.
  private val q284 = Q(
    "q284_preference_pairs",
    "✦ training data: DPO pair mining — per-source chosen/rejected via composite-key argmax",
    (s, d) => {
      val scored = Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), col("doc_id"),
          size(array_distinct(split(col("text"), " "))).cast("long")
            .as("score"))
        .withColumn("key", col("score") * lit(1048576L) + col("doc_id"))
      scored.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("key")).as("kmax"), min(col("key")).as("kmin"))
        .select(col("source"), col("n_docs"),
          pmod(col("kmax"), lit(1048576L)).as("chosen_doc"),
          floor(col("kmax") / lit(1048576L)).as("chosen_score"),
          pmod(col("kmin"), lit(1048576L)).as("rejected_doc"),
          floor(col("kmin") / lit(1048576L)).as("rejected_score"))
        .withColumn("margin", col("chosen_score") - col("rejected_score"))
        .orderBy(col("source"))
    },
    Some("""WITH sc AS (
      SELECT source, doc_id,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
          AS score
      FROM documents),
    k AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(MAX(score * 1048576 + doc_id) AS BIGINT) AS kmax,
        CAST(MIN(score * 1048576 + doc_id) AS BIGINT) AS kmin
      FROM sc GROUP BY source)
    SELECT source, n_docs,
      CAST(kmax % 1048576 AS BIGINT) AS chosen_doc,
      CAST(kmax // 1048576 AS BIGINT) AS chosen_score,
      CAST(kmin % 1048576 AS BIGINT) AS rejected_doc,
      CAST(kmin // 1048576 AS BIGINT) AS rejected_score,
      CAST(kmax // 1048576 - kmin // 1048576 AS BIGINT) AS margin
    FROM k ORDER BY source"""))

  // --- q285: STRATIFIED EVAL-SET QUOTAS via LARGEST REMAINDER — build
  //     an EXACTLY-k evaluation set whose composition mirrors the
  //     corpus: proportional allocation per source with the classic
  //     largest-remainder (Hamilton) apportionment, then a
  //     deterministic per-source draw. Hash-threshold sampling (q102)
  //     only hits k in expectation; eval sets need k EXACTLY and the
  //     strata quotas to be the integer apportionment of the shares.
  //     All apportionment arithmetic is INTEGER: base = (k·n_s) div N,
  //     remainder = (k·n_s) mod N (never a float quotient), leftover
  //     seats go to the largest remainders (tie: source name) via a
  //     rank on the #strata-row frame (block-totals exemption). The
  //     draw is the md5-rank idiom with a LITERAL rk ≤ k pre-filter so
  //     Catalyst rewrites the per-source rank into WindowGroupLimit
  //     (map-side cap: no task ever holds more than k rows of one
  //     source) before the per-row quota filter applies the exact cut.
  //     Output = the allocation ledger with the realized selection
  //     count per source (n_selected = quota — the op's contract).
  private val q285 = Q(
    "q285_quota_split",
    "✦ curation: exactly-k stratified eval split — largest-remainder quotas + capped md5 draw",
    (s, d) => {
      val k = 100L
      val base = Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), col("doc_id"))
      val counts = base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum(col("n_docs")).as("n_total"))
      val a0 = counts.crossJoin(broadcast(tot))
        .withColumn("base_quota",
          expr(s"($k * n_docs) div n_total"))
        .withColumn("rem", pmod(lit(k) * col("n_docs"), col("n_total")))
      val seats = a0.agg((lit(k) - sum(col("base_quota"))).as("seats"))
      val wR = Window.orderBy(col("rem").desc, col("source"))
      val alloc = a0.crossJoin(broadcast(seats))
        .withColumn("rr", row_number().over(wR).cast("long"))
        .withColumn("extra",
          when(col("rr") <= col("seats"), 1L).otherwise(0L))
        .withColumn("quota", col("base_quota") + col("extra"))
        .select(col("source"), col("n_docs"), col("base_quota"),
          col("rem"), col("extra"), col("quota"))
      val wS = Window.partitionBy(col("source"))
        .orderBy(col("h"), col("doc_id"))
      val selected = base
        .withColumn("h", md5(concat(lit("eval:"),
          col("doc_id").cast("string"))))
        .withColumn("rk", row_number().over(wS).cast("long"))
        .filter(col("rk") <= lit(k)) // literal cap → WindowGroupLimit
        .join(broadcast(alloc.select(col("source"), col("quota"))),
          Seq("source"))
        .filter(col("rk") <= col("quota"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_selected"))
      alloc.join(selected, Seq("source"), "left")
        .withColumn("n_selected", coalesce(col("n_selected"), lit(0L)))
        .orderBy(col("source"))
    },
    Some("""WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM c),
    a0 AS (SELECT source, n_docs,
        CAST((100 * n_docs) // n_total AS BIGINT) AS base_quota,
        CAST((100 * n_docs) % n_total AS BIGINT) AS rem
      FROM c, t),
    s AS (SELECT CAST(100 - SUM(base_quota) AS BIGINT) AS seats FROM a0),
    al AS (SELECT a0.*,
        CASE WHEN CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source)
          AS BIGINT) <= s.seats THEN 1 ELSE 0 END AS extra
      FROM a0, s),
    q AS (SELECT source, n_docs, base_quota, rem,
        CAST(extra AS BIGINT) AS extra,
        CAST(base_quota + extra AS BIGINT) AS quota
      FROM al),
    r AS (SELECT source, doc_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY md5('eval:' || doc_id), doc_id) AS BIGINT) AS rk
      FROM documents),
    sel AS (SELECT r.source, CAST(COUNT(*) AS BIGINT) AS n_selected
      FROM r JOIN q ON r.source = q.source
      WHERE r.rk <= q.quota GROUP BY 1)
    SELECT q.source, q.n_docs, q.base_quota, q.rem, q.extra, q.quota,
      CAST(COALESCE(sel.n_selected, 0) AS BIGINT) AS n_selected
    FROM q LEFT JOIN sel ON q.source = sel.source
    ORDER BY q.source"""))

  // --- q289: VOCABULARY RICHNESS / COVERAGE ESTIMATION — "how much of
  //     the corpus's lexical diversity have we actually seen?": the
  //     Chao1 lower bound on total species (here word-3-gram types, the
  //     q47 shingle unit WITH multiplicity — unigram types saturate on
  //     this fixture's ~45-word vocabulary, 3-grams don't), plus the
  //     Good–Turing unseen-mass estimate f1/N (the probability the NEXT
  //     shingle drawn is a new type — the signal that decides whether
  //     more crawling buys new text or re-reads the same), and the
  //     type–token ratio. Everything is frequency-of-frequency
  //     arithmetic: shingle→tf (the corpus-sized map-combined pass),
  //     tf→(V, N, f1, f2) (collapsed to one row), then
  //     chao1 = V + f1·(f1−1)/(2·(f2+1)) carried as the exact BIGINT
  //     numerator 2·(f2+1)·V + f1·(f1−1) over denominator 2·(f2+1);
  //     the three ratios are the only floating steps (fpTrunc).
  private val q289 = Q(
    "q289_vocab_richness",
    "✦ corpus stats: Chao1 richness bound, Good–Turing unseen mass, TTR over 3-gram types",
    (s, d) => {
      // Fused codegen'd 3-gram kernel (r18): duplicates kept (type
      // frequencies are the point here); the old size >= 3 guard is
      // subsumed by the kernel's empty-array-below-n contract.
      graft.functions.WordNgrams.register(s)
      val tf = docs(s, d)
        .select(explode(
          graft.functions.WordNgrams.wordNgrams(col("text"), 3))
          .as("shingle"))
        .groupBy(col("shingle")).agg(count(lit(1)).as("c"))
      tf.agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
        .select(col("n_tokens"), col("vocab"), col("f1"), col("f2"),
          ((col("f2") + 1) * 2 * col("vocab")
            + col("f1") * (col("f1") - 1)).as("chao1_num"),
          fpTrunc(((col("f2") + 1) * 2 * col("vocab")
            + col("f1") * (col("f1") - 1)).cast("double")
            / ((col("f2") + 1) * 2).cast("double"), 9).as("chao1"),
          fpTrunc(col("f1").cast("double")
            / col("n_tokens").cast("double"), 9).as("p_unseen"),
          fpTrunc(col("vocab").cast("double")
            / col("n_tokens").cast("double"), 9).as("ttr"))
    },
    Some(s"""WITH t AS (
      SELECT string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    sh AS (SELECT concat_ws(' ', w[i], w[i + 1], w[i + 2]) AS shingle
      FROM (SELECT w, unnest(generate_series(1, len(w) - 2)) AS i FROM t)),
    tf AS (SELECT COUNT(*) AS c FROM sh GROUP BY shingle),
    ff AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
        CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM tf)
    SELECT n_tokens, vocab, f1, f2,
      CAST((f2 + 1) * 2 * vocab + f1 * (f1 - 1) AS BIGINT) AS chao1_num,
      ${fpTruncSql(
        "CAST((f2 + 1) * 2 * vocab + f1 * (f1 - 1) AS DOUBLE)" +
          " / CAST((f2 + 1) * 2 AS DOUBLE)", 9)} AS chao1,
      ${fpTruncSql(
        "CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 9)} AS p_unseen,
      ${fpTruncSql(
        "CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 9)} AS ttr
    FROM ff"""))

  // --- q292: KNESER–NEY BIGRAM LM SCORING — the smoothing actually
  //     used by the KenLM-style perplexity filters in CCNet-class
  //     pipelines, upgrading q171's add-k: interpolated KN with
  //     absolute discount D = 3/4 backs off not to raw unigram
  //     frequency but to CONTINUATION probability ("how many distinct
  //     contexts does w complete?" — N1+(·w)/N1+(··)), the fix for
  //     high-frequency-but-context-bound words. With D = 3/4 the
  //     probability clears to one exact ratio:
  //       P(w|v) = [ (4·c(vw) − 3) · T + 3 · N1+(v·) · N1+(·w) ]
  //                / (4·c(v) · T),      T = N1+(··)
  //     (c(vw) ≥ 1 in a self-trained table, so the max(·,0) never
  //     binds). The two big cross products multiply as DOUBLES of
  //     exact integers — spelled identically on both engines, so the
  //     IEEE results match bit-for-bit while staying safe at corpora
  //     where c(v)·4·T would overflow BIGINT (the fpTrunc-doc
  //     magnitude discipline); all counts beneath them stay exact
  //     BIGINT. Shape: the corpus-sized passes are the bigram window
  //     (per-doc partition) and the type-table aggregate; the
  //     probability table is bigram-TYPE-sized, its three marginals
  //     collapse further, and scoring is one type-table join back plus
  //     q161's ordered per-doc fold.
  private val q292 = Q(
    "q292_kneser_ney_bigram",
    "✦ quality: interpolated Kneser–Ney bigram LM mean neg log-prob per doc",
    (s, d) => {
      // Bigrams straight from the fused kernel (r18): the old shape —
      // posexplode tokens, then a per-doc lag() window — paid one full
      // Exchange(doc_id) + Sort of the token stream just to pair
      // adjacent words; word_ngrams(text, 2) emits the identical
      // (prev, word) pairs in document order from the projection
      // itself, so the corpus pass is now shuffle-free (guide §2.4).
      // substring_index splits the 2-gram back on its single interior
      // space (words are space-free by construction of split(" "), so
      // both halves — including empty words from doubled spaces — come
      // back byte-identically). pos (the generator ordinal) carries the
      // same per-doc ORDER the old token pos did, which is all the
      // downstream ordered fold reads from it; docs with < 2 words
      // yield no rows, exactly like the old prev-IS-NULL filter.
      graft.functions.WordNgrams.register(s)
      val big = docs(s, d)
        .select(col("doc_id"),
          posexplode(graft.functions.WordNgrams.wordNgrams(col("text"), 2))
            .as(Seq("pos", "bg")))
        .select(col("doc_id"), col("pos"),
          substring_index(col("bg"), " ", 1).as("prev"),
          substring_index(col("bg"), " ", -1).as("word"))
        .persist()
      // big persist: the type table AND the score join both read it —
      // harness-owned cache (q47's rule).
      val bc = big.groupBy(col("prev"), col("word"))
        .agg(count(lit(1)).as("cvw"))
      val pc = bc.groupBy(col("prev"))
        .agg(sum(col("cvw")).as("cv"), count(lit(1)).as("n1v"))
      val wc = bc.groupBy(col("word")).agg(count(lit(1)).as("n1w"))
      val tot = bc.agg(count(lit(1)).as("t"))
      val p = bc.join(pc, Seq("prev")).join(wc, Seq("word"))
        .crossJoin(broadcast(tot))
        .select(col("prev"), col("word"),
          log(((col("cvw") * 4 - 3).cast("double") * col("t").cast("double")
            + (col("n1v") * 3).cast("double") * col("n1w").cast("double"))
            / ((col("cv") * 4).cast("double") * col("t").cast("double")))
            .as("lp"))
      big.join(p, Seq("prev", "word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          aggregate(
            transform(array_sort(collect_list(struct(col("pos"), col("lp")))),
              x => x.getField("lp")),
            lit(0.0), (a, x) => a + x).as("s"))
        .select(col("doc_id"), col("n_bigrams"),
          fpTrunc(-(col("s") / col("n_bigrams").cast("double")), 9)
            .as("avg_neg_logp_kn"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t0 AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
        len(string_split(text, ' ')) AS n FROM documents),
    tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS word
      FROM (SELECT doc_id, toks, unnest(generate_series(1, n)) AS i
        FROM t0)),
    big AS (SELECT doc_id, pos, word,
        LAG(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM tok QUALIFY prev IS NOT NULL),
    bc AS (SELECT prev, word, CAST(COUNT(*) AS BIGINT) AS cvw
      FROM big GROUP BY 1, 2),
    pc AS (SELECT prev, CAST(SUM(cvw) AS BIGINT) AS cv,
        CAST(COUNT(*) AS BIGINT) AS n1v FROM bc GROUP BY 1),
    wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n1w
      FROM bc GROUP BY 1),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM bc),
    p AS (SELECT prev, word,
        ln((CAST(cvw * 4 - 3 AS DOUBLE) * CAST((SELECT t FROM tt)
            AS DOUBLE)
          + CAST(n1v * 3 AS DOUBLE) * CAST(n1w AS DOUBLE))
          / (CAST(cv * 4 AS DOUBLE) * CAST((SELECT t FROM tt)
            AS DOUBLE))) AS lp
      FROM bc JOIN pc USING (prev) JOIN wc USING (word)),
    sc AS (SELECT b.doc_id, COUNT(*) AS n_bigrams,
        list_sum(list(p.lp ORDER BY b.pos)) AS s
      FROM big b JOIN p USING (prev, word)
      GROUP BY b.doc_id)
    SELECT doc_id, n_bigrams,
      FLOOR((-(s / CAST(n_bigrams AS DOUBLE))) * 1e9) / 1e9
        AS avg_neg_logp_kn
    FROM sc ORDER BY doc_id"""))

  // --- q293: HEAPS'-LAW VOCABULARY GROWTH — q289 asks "how much is
  //     unseen NOW?"; this fits HOW vocabulary grows with corpus size
  //     (V = k·N^β — the curve that decides whether the next 10× of
  //     crawl buys new types), over the same 3-gram type unit. NO
  //     global token index and NO corpus-wide window: the growth curve
  //     is sampled at 16 doc-prefix checkpoints (cp_i = ⌈D⌉·i/16 from
  //     one max(doc_id) broadcast), and both curve coordinates are
  //     range-join aggregates against that 16-row frame —
  //     N(cp) = Σ tokens of docs below cp (from the per-doc count
  //     frame), V(cp) = #types whose FIRST doc is below cp (from the
  //     min-doc-per-type frame; first occurrence = min, an aggregate,
  //     not a scan). The 16× row amplification of the range join is
  //     the explicit dial. The log-log OLS runs over the 16-row curve
  //     with q162's ordered-fold spelling (deterministic sum order).
  private val q293 = Q(
    "q293_heaps_law",
    "✦ corpus stats: Heaps'-law vocab-growth fit V=k·N^β over doc-prefix checkpoints",
    (s, d) => {
      // Fused codegen'd 3-gram kernel (r18): duplicates kept (token
      // counts feed N(cp)); old size >= 3 guard subsumed by the
      // kernel's empty-array-below-n contract.
      graft.functions.WordNgrams.register(s)
      val sh = docs(s, d)
        .select(col("doc_id"),
          explode(graft.functions.WordNgrams.wordNgrams(col("text"), 3))
            .as("shingle"))
        .persist()
      // sh persist: checkpoints + both curve legs re-read it —
      // harness-owned cache (q47's rule).
      val cps = sh.agg(max(col("doc_id")).as("maxd"))
        .select(explode(sequence(lit(1), lit(16))).as("i"), col("maxd"))
        .select(col("i").cast("long").as("i"),
          expr("((maxd + 1) * i) div 16").as("cp"))
      val perDoc = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
      val firstDoc = sh.groupBy(col("shingle"))
        .agg(min(col("doc_id")).as("fd"))
      val nCurve = perDoc.join(broadcast(cps), col("doc_id") < col("cp"))
        .groupBy(col("i"), col("cp")).agg(sum(col("nt")).as("n_tokens"))
      val vCurve = firstDoc.join(broadcast(cps), col("fd") < col("cp"))
        .groupBy(col("i")).agg(count(lit(1)).as("vocab"))
      val curve = nCurve.join(vCurve, Seq("i"))
      def fsum(c: org.apache.spark.sql.Column) =
        aggregate(c, lit(0.0), (a, x) => a + x)
      val xs = transform(col("arr"), x => log(x.getField("n_tokens").cast("double")))
      val ys = transform(col("arr"), x => log(x.getField("vocab").cast("double")))
      curve.agg(count(lit(1)).as("n_points"),
          max(col("n_tokens")).as("total_tokens"),
          max(col("vocab")).as("total_vocab"),
          array_sort(collect_list(struct(col("i"), col("n_tokens"),
            col("vocab")))).as("arr"))
        .select(col("n_points"), col("total_tokens"), col("total_vocab"),
          fsum(xs).as("sx"), fsum(ys).as("sy"),
          fsum(zip_with(xs, ys, (a, b) => a * b)).as("sxy"),
          fsum(transform(xs, x => x * x)).as("sxx"))
        .withColumn("beta",
          (col("n_points").cast("double") * col("sxy")
            - col("sx") * col("sy")) /
          (col("n_points").cast("double") * col("sxx")
            - col("sx") * col("sx")))
        .select(col("n_points"), col("total_tokens"), col("total_vocab"),
          round(col("beta"), 9).as("beta"),
          round((col("sy") - col("beta") * col("sx"))
            / col("n_points").cast("double"), 9).as("ln_k"))
    },
    Some("""WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    sh AS (SELECT doc_id, concat_ws(' ', w[i], w[i + 1], w[i + 2])
        AS shingle
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        FROM t)),
    cps AS (SELECT CAST(i AS BIGINT) AS i,
        ((SELECT MAX(doc_id) + 1 FROM sh) * i) // 16 AS cp
      FROM (SELECT unnest(generate_series(1, 16)) AS i)),
    pd AS (SELECT doc_id, COUNT(*) AS nt FROM sh GROUP BY 1),
    fd AS (SELECT shingle, MIN(doc_id) AS fd FROM sh GROUP BY 1),
    nc AS (SELECT i, CAST(SUM(nt) AS BIGINT) AS n_tokens
      FROM pd JOIN cps ON pd.doc_id < cps.cp GROUP BY i),
    vc AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS vocab
      FROM fd JOIN cps ON fd.fd < cps.cp GROUP BY i),
    curve AS (SELECT nc.i, n_tokens, vocab FROM nc JOIN vc USING (i)),
    l AS (SELECT COUNT(*) AS n_points,
        CAST(MAX(n_tokens) AS BIGINT) AS total_tokens,
        CAST(MAX(vocab) AS BIGINT) AS total_vocab,
        list(n_tokens ORDER BY i) AS ns, list(vocab ORDER BY i) AS vs
      FROM curve),
    m AS (SELECT n_points, total_tokens, total_vocab,
        list_sum(list_transform(ns, x -> ln(CAST(x AS DOUBLE)))) AS sx,
        list_sum(list_transform(vs, x -> ln(CAST(x AS DOUBLE)))) AS sy,
        list_sum(list_transform(generate_series(1, n_points), j ->
          ln(CAST(ns[j] AS DOUBLE)) * ln(CAST(vs[j] AS DOUBLE)))) AS sxy,
        list_sum(list_transform(ns, x ->
          ln(CAST(x AS DOUBLE)) * ln(CAST(x AS DOUBLE)))) AS sxx
      FROM l),
    r AS (SELECT n_points, total_tokens, total_vocab,
        ((CAST(n_points AS DOUBLE) * sxy - sx * sy) /
         (CAST(n_points AS DOUBLE) * sxx - sx * sx)) AS beta, sx, sy
      FROM m)
    SELECT n_points, total_tokens, total_vocab,
      ROUND(beta, 9) AS beta,
      ROUND((sy - beta * sx) / CAST(n_points AS DOUBLE), 9) AS ln_k
    FROM r"""))

  // --- q294: COHEN'S KAPPA RATER AGREEMENT — the inter-annotator
  //     metric for label pipelines ("is the cheap classifier actually
  //     agreeing with the gold labels beyond chance?"): rater A is
  //     q52's marker-word language rule (en_score > 0.05 → 'en'), rater
  //     B the stored lang binarized to the same {en, und} space. The
  //     whole metric reduces to the 2×2 confusion cells (a,b,c,d) from
  //     ONE conditional-sum corpus pass, then kappa's denominator-
  //     cleared integer form:
  //       κ = (n·(a+d) − [(a+b)(a+c) + (c+d)(b+d)])
  //           / (n² − [(a+b)(a+c) + (c+d)(b+d)])
  //     — every operand an exact BIGINT, one final fpTrunc division
  //     (q286's ARI discipline, binary-rater edition).
  private val q294 = Q(
    "q294_cohens_kappa",
    "✦ ML eval: Cohen's kappa of the langid rule vs gold labels (denominator-cleared integers)",
    (s, d) => {
      val w = split(col("text"), " ")
      val en = Seq("the", "a", "value", "fast")
      val cells = docs(s, d)
        .select(
          (size(filter(w, x => x.isin(en.map(lit(_)): _*))).cast("double")
            / size(w) > 0.05).as("pred_en"),
          (col("lang") === "en").as("gold_en"))
        .agg(
          sum(when(col("pred_en") && col("gold_en"), 1L).otherwise(0L))
            .as("a"),
          sum(when(col("pred_en") && !col("gold_en"), 1L).otherwise(0L))
            .as("b"),
          sum(when(!col("pred_en") && col("gold_en"), 1L).otherwise(0L))
            .as("c"),
          sum(when(!col("pred_en") && !col("gold_en"), 1L).otherwise(0L))
            .as("d"))
      cells
        .withColumn("n", col("a") + col("b") + col("c") + col("d"))
        .withColumn("pe_num",
          (col("a") + col("b")) * (col("a") + col("c"))
            + (col("c") + col("d")) * (col("b") + col("d")))
        .select(col("a"), col("b"), col("c"), col("d"), col("n"),
          graft.dsl.fpTrunc((col("a") + col("d")).cast("double")
            / col("n").cast("double"), 9).as("po"),
          graft.dsl.fpTrunc(col("pe_num").cast("double")
            / (col("n") * col("n")).cast("double"), 9).as("pe"),
          graft.dsl.fpTrunc(
            (col("n") * (col("a") + col("d")) - col("pe_num")).cast("double")
              / (col("n") * col("n") - col("pe_num")).cast("double"), 9)
            .as("kappa"))
    },
    Some(s"""WITH r AS (
      SELECT CAST(len(list_filter(string_split(text, ' '),
          x -> x IN ('the','a','value','fast'))) AS DOUBLE)
          / len(string_split(text, ' ')) > 0.05 AS pred_en,
        lang = 'en' AS gold_en
      FROM documents),
    cells AS (SELECT
        CAST(SUM(CASE WHEN pred_en AND gold_en THEN 1 ELSE 0 END)
          AS BIGINT) AS a,
        CAST(SUM(CASE WHEN pred_en AND NOT gold_en THEN 1 ELSE 0 END)
          AS BIGINT) AS b,
        CAST(SUM(CASE WHEN NOT pred_en AND gold_en THEN 1 ELSE 0 END)
          AS BIGINT) AS c,
        CAST(SUM(CASE WHEN NOT pred_en AND NOT gold_en THEN 1 ELSE 0 END)
          AS BIGINT) AS d
      FROM r),
    k AS (SELECT a, b, c, d, a + b + c + d AS n,
        (a + b) * (a + c) + (c + d) * (b + d) AS pe_num
      FROM cells)
    SELECT a, b, c, d, n,
      ${graft.dsl.fpTruncSql(
        "CAST(a + d AS DOUBLE) / CAST(n AS DOUBLE)", 9)} AS po,
      ${graft.dsl.fpTruncSql(
        "CAST(pe_num AS DOUBLE) / CAST(n * n AS DOUBLE)", 9)} AS pe,
      ${graft.dsl.fpTruncSql(
        "CAST(n * (a + d) - pe_num AS DOUBLE)" +
          " / CAST(n * n - pe_num AS DOUBLE)", 9)} AS kappa
    FROM k"""))

  // --- q298: MIXTURE-DIVERSITY AUDIT — the health check on a training
  //     mixture's SOURCE BALANCE by token mass (the q102/q141/q176
  //     samplers change this; something must measure it): Shannon
  //     entropy of the token-share distribution, the Herfindahl
  //     concentration index, the inverse-Simpson EFFECTIVE source
  //     count N²/Σcnt² (the "how many sources does this mixture
  //     really have?" number — chosen over exp(entropy) because it is
  //     an EXACT rational of BIGINTs, no cross-engine exp), and the
  //     top-source share. Shape: one corpus pass to per-source token
  //     masses (~tens of rows), then the entropy fold runs over the
  //     source-sorted collected array (q162's deterministic-order
  //     spelling); HHI/Simpson/top are exact integer moments of the
  //     same collapsed frame. All ratios fpTrunc at readout.
  private lazy val q298 = Q(
    "q298_mixture_diversity",
    "✦ mixture audit: token-share entropy, HHI, inverse-Simpson effective sources, top share",
    (s, d) => {
      val masses = docs(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("cnt"))
      def fsum(c: org.apache.spark.sql.Column) =
        aggregate(c, lit(0.0), (a, x) => a + x)
      masses.agg(count(lit(1)).as("n_sources"),
          sum(col("cnt")).as("n_tokens"),
          sum(col("cnt") * col("cnt")).as("hhi_num"),
          max(col("cnt")).as("top_cnt"),
          array_sort(collect_list(struct(col("source"), col("cnt"))))
            .as("arr"))
        .select(col("n_sources"), col("n_tokens"),
          fpTrunc(-fsum(transform(col("arr"), x =>
            (x.getField("cnt").cast("double")
              / col("n_tokens").cast("double"))
              * log(x.getField("cnt").cast("double")
                / col("n_tokens").cast("double")))), 9).as("entropy"),
          fpTrunc(col("hhi_num").cast("double")
            / (col("n_tokens") * col("n_tokens")).cast("double"), 9)
            .as("hhi"),
          fpTrunc((col("n_tokens") * col("n_tokens")).cast("double")
            / col("hhi_num").cast("double"), 9).as("eff_sources"),
          fpTrunc(col("top_cnt").cast("double")
            / col("n_tokens").cast("double"), 9).as("top_share"))
    },
    Some(s"""WITH m AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
          AS cnt
      FROM documents GROUP BY 1),
    l AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
        CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        CAST(SUM(cnt * cnt) AS BIGINT) AS hhi_num,
        CAST(MAX(cnt) AS BIGINT) AS top_cnt,
        list(cnt ORDER BY source) AS cs
      FROM m)
    SELECT n_sources, n_tokens,
      ${fpTruncSql(
        "-list_sum(list_transform(cs, x ->" +
          " (CAST(x AS DOUBLE) / CAST(n_tokens AS DOUBLE))" +
          " * ln(CAST(x AS DOUBLE) / CAST(n_tokens AS DOUBLE))))",
        9)} AS entropy,
      ${fpTruncSql(
        "CAST(hhi_num AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE)",
        9)} AS hhi,
      ${fpTruncSql(
        "CAST(n_tokens * n_tokens AS DOUBLE) / CAST(hhi_num AS DOUBLE)",
        9)} AS eff_sources,
      ${fpTruncSql(
        "CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE)",
        9)} AS top_share
    FROM l"""))

  // --- q299: IMPORTANCE REWEIGHTING + EFFECTIVE SAMPLE SIZE — the
  //     density-ratio correction for "train on the reference corpus,
  //     target the current one": per-cell (lang) weights
  //     w = (b·n_ref)/(a·n_cur) between the doc_id-parity snapshot
  //     halves (q290's split), each an exact rational evaluated as ONE
  //     identically-spelled double, plus Kish's effective sample size
  //     ESS = (Σ a·w)²/(Σ a·w²) of the reweighted reference half — the
  //     number that says how much data the reweighting actually left
  //     you. Shape: one corpus pass to the ~5-cell (lang, a, b) frame;
  //     the ESS fold runs over the lang-sorted collected array (q162's
  //     deterministic-order spelling); the global ESS ratio rides every
  //     cell row via a broadcast cross join.
  private val q299 = Q(
    "q299_importance_reweight",
    "✦ mixture audit: per-cell density-ratio weights ref→cur + Kish effective sample size",
    (s, d) => {
      val cells = docs(s, d)
        .groupBy(col("lang"))
        .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("a"),
          sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("b"))
      val tot = cells.agg(sum(col("a")).as("n_ref"),
        sum(col("b")).as("n_cur"))
      val withW = cells.crossJoin(broadcast(tot))
        .withColumn("w", (col("b").cast("double") * col("n_ref"))
          / (col("a") * col("n_cur")).cast("double"))
      def fsum(c: org.apache.spark.sql.Column) =
        aggregate(c, lit(0.0), (acc, x) => acc + x)
      val ess = withW.agg(
          array_sort(collect_list(struct(col("lang"), col("a"), col("w"))))
            .as("arr"),
          max(col("n_ref")).as("nr"))
        .select((fsum(transform(col("arr"),
            x => x.getField("a").cast("double") * x.getField("w")))
          * fsum(transform(col("arr"),
            x => x.getField("a").cast("double") * x.getField("w")))
          / fsum(transform(col("arr"),
            x => x.getField("a").cast("double") * x.getField("w")
              * x.getField("w")))).as("ess"), col("nr"))
        .select(fpTrunc(col("ess"), 6).as("ess"),
          fpTrunc(col("ess") / col("nr").cast("double"), 9)
            .as("ess_ratio"))
      withW.crossJoin(broadcast(ess))
        .select(col("lang"), col("a").as("n_ref_cell"),
          col("b").as("n_cur_cell"),
          fpTrunc(col("w"), 9).as("weight"),
          col("ess"), col("ess_ratio"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH cells AS (
      SELECT lang,
        CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS a,
        CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS b
      FROM documents GROUP BY 1),
    tot AS (SELECT CAST(SUM(a) AS BIGINT) AS n_ref,
        CAST(SUM(b) AS BIGINT) AS n_cur FROM cells),
    ww AS (SELECT lang, a, b,
        (CAST(b AS DOUBLE) * (SELECT n_ref FROM tot))
          / CAST(a * (SELECT n_cur FROM tot) AS DOUBLE) AS w
      FROM cells),
    l AS (SELECT list(CAST(a AS DOUBLE) ORDER BY lang) AS aw,
        list(w ORDER BY lang) AS ws,
        (SELECT n_ref FROM tot) AS nr
      FROM ww),
    e0 AS (SELECT
        list_sum(list_transform(generate_series(1, len(aw)),
          j -> aw[j] * ws[j]))
        * list_sum(list_transform(generate_series(1, len(aw)),
          j -> aw[j] * ws[j]))
        / list_sum(list_transform(generate_series(1, len(aw)),
          j -> aw[j] * ws[j] * ws[j])) AS ess, nr
      FROM l),
    e AS (SELECT ${fpTruncSql("ess", 6)} AS ess,
        ${fpTruncSql("ess / CAST(nr AS DOUBLE)", 9)} AS ess_ratio
      FROM e0)
    SELECT lang, a AS n_ref_cell, b AS n_cur_cell,
      ${fpTruncSql("w", 9)} AS weight, ess, ess_ratio
    FROM ww, e ORDER BY lang"""))

  // --- q303: DOMAIN KL SIGNATURE — "which sources are lexically
  //     DISTINCTIVE?": per-source KL divergence from the corpus
  //     unigram distribution over a FIXED top-64 signature vocabulary
  //     (fixed feature set = bounded fold, the design choice that
  //     keeps the per-source reduction exact and deterministic at any
  //     corpus size — a full-vocab KL would need an unbounded float
  //     sum). Add-1 smoothing over the ACTUAL signature size V (the
  //     fixture vocabulary undershoots 64; a hard-coded 64 would
  //     subnormalize both sides and break Gibbs' KL ≥ 0) makes every
  //     probability a strictly positive exact rational of BIGINTs; each source's 64
  //     p·ln(p/q) terms fold in word-sorted order (q162's discipline).
  //     Shape: one corpus token pass → top-64 table (broadcast) → one
  //     (source, word) aggregate over the probe join → ~n_sources·64
  //     collapsed rows → per-source fold. The readout ranks sources by
  //     divergence — the mixture-curation signal ("src7 is not like
  //     the others") that q298's balance audit cannot see.
  private val q303 = Q(
    "q303_domain_kl_signature",
    "✦ mixture audit: per-source KL divergence from the corpus over a fixed top-64 vocab",
    (s, d) => {
      val tok = docs(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .persist()
      // tok persist: the top-64 table and the probe join both read it —
      // harness-owned cache (q47's rule).
      val top = tok.groupBy(col("word")).agg(count(lit(1)).as("cq"))
        .orderBy(col("cq").desc, col("word")).limit(64)
      val qtot = top.agg(sum(col("cq")).as("cq_tot"),
        count(lit(1)).as("v"))
      val sc = tok.join(broadcast(top.select(col("word"))), Seq("word"))
        .groupBy(col("source"), col("word"))
        .agg(count(lit(1)).as("cp"))
      // Dense (source × signature-word) grid so absent words carry
      // their smoothed mass: re-join the top table with per-source
      // totals, left-joining observed counts.
      val stot = sc.groupBy(col("source")).agg(sum(col("cp")).as("cp_tot"))
      val grid = stot.crossJoin(broadcast(top))
        .join(sc, Seq("source", "word"), "left")
        .withColumn("cp", coalesce(col("cp"), lit(0L)))
        .crossJoin(broadcast(qtot))
      def fsum(c: org.apache.spark.sql.Column) =
        aggregate(c, lit(0.0), (acc, x) => acc + x)
      val terms = grid.select(col("source"), col("word"),
        ((col("cp") + 1).cast("double")
          / (col("cp_tot") + col("v")).cast("double")).as("p"),
        ((col("cq") + 1).cast("double")
          / (col("cq_tot") + col("v")).cast("double")).as("q"))
      terms.groupBy(col("source"))
        .agg(array_sort(collect_list(struct(col("word"), col("p"),
          col("q")))).as("arr"))
        .select(col("source"),
          fpTrunc(fsum(transform(col("arr"),
            x => x.getField("p")
              * log(x.getField("p") / x.getField("q")))), 9)
            .as("kl_nats"))
        .orderBy(col("kl_nats").desc, col("source"))
    },
    Some(s"""WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents),
    top AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cq
      FROM tok GROUP BY 1 ORDER BY cq DESC, word LIMIT 64),
    qt AS (SELECT CAST(SUM(cq) AS BIGINT) AS cq_tot,
        CAST(COUNT(*) AS BIGINT) AS v FROM top),
    sc AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cp
      FROM tok JOIN top USING (word) GROUP BY 1, 2),
    st AS (SELECT source, CAST(SUM(cp) AS BIGINT) AS cp_tot
      FROM sc GROUP BY 1),
    grid AS (SELECT st.source, top.word, top.cq, st.cp_tot,
        COALESCE(sc.cp, 0) AS cp, (SELECT cq_tot FROM qt) AS cq_tot,
        (SELECT v FROM qt) AS v
      FROM st CROSS JOIN top
      LEFT JOIN sc ON sc.source = st.source AND sc.word = top.word),
    terms AS (SELECT source, word,
        CAST(cp + 1 AS DOUBLE) / CAST(cp_tot + v AS DOUBLE) AS p,
        CAST(cq + 1 AS DOUBLE) / CAST(cq_tot + v AS DOUBLE) AS q
      FROM grid),
    kl AS (SELECT source,
        list_sum(list_transform(
          list(struct_pack(p := p, q := q) ORDER BY word),
          x -> x.p * ln(x.p / x.q))) AS kl0
      FROM terms GROUP BY 1)
    SELECT source, ${fpTruncSql("kl0", 9)} AS kl_nats
    FROM kl ORDER BY kl_nats DESC, source"""))

  // --- q306: GATE-ATTRITION MATRIX — quality pipelines stack gates
  //     (q51's heuristics, q113's quantile cut, q111's Gopher rules);
  //     this answers "WHICH gate kills WHICH source" — the matrix that
  //     tells you a gate is silently deleting a domain before the
  //     mixture solver ever sees it. Three deterministic q51-family
  //     gates (length ≥ 200 chars, stopword ratio cleared to the
  //     integer comparison 100·n_stop ≥ 2·n_words, lexical diversity
  //     5·n_distinct ≥ 2·n_words — all BIGINT, no float thresholds),
  //     evaluated as conditional sums in ONE corpus pass → per-source
  //     pass counts per gate, survivors of the full stack, and the
  //     attrition share. Zero joins, zero windows — the 100 TB shape
  //     for a composition audit.
  private val q306 = Q(
    "q306_gate_attrition",
    "✦ quality ops: gate×source attrition matrix — which gate kills which source",
    (s, d) => {
      val w = split(col("text"), " ")
      val stop = Seq("the", "a")
      val flags = docs(s, d).select(col("source"),
          length(col("text")).cast("long").as("n_chars"),
          size(w).cast("long").as("n_words"),
          size(array_distinct(w)).cast("long").as("n_distinct"),
          size(filter(w, x => x.isin(stop.map(lit(_)): _*))).cast("long")
            .as("n_stop"))
        .select(col("source"),
          (col("n_chars") >= 200L).as("g_len"),
          (col("n_stop") * 100 >= col("n_words") * 2).as("g_stop"),
          (col("n_distinct") * 5 >= col("n_words") * 2).as("g_div"))
      flags.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("g_len"), 1L).otherwise(0L)).as("pass_len"),
          sum(when(col("g_stop"), 1L).otherwise(0L)).as("pass_stop"),
          sum(when(col("g_div"), 1L).otherwise(0L)).as("pass_div"),
          sum(when(col("g_len") && col("g_stop") && col("g_div"), 1L)
            .otherwise(0L)).as("pass_all"))
        .select(col("source"), col("n_docs"), col("pass_len"),
          col("pass_stop"), col("pass_div"), col("pass_all"),
          fpTrunc((col("n_docs") - col("pass_all")).cast("double")
            / col("n_docs").cast("double"), 9).as("attrition"))
        .orderBy(col("source"))
    },
    Some(s"""WITH f AS (
      SELECT source,
        len(text) >= 200 AS g_len,
        len(list_filter(string_split(text, ' '),
          x -> x IN ('the', 'a'))) * 100
          >= len(string_split(text, ' ')) * 2 AS g_stop,
        len(list_distinct(string_split(text, ' '))) * 5
          >= len(string_split(text, ' ')) * 2 AS g_div
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN g_len THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
      CAST(SUM(CASE WHEN g_stop THEN 1 ELSE 0 END) AS BIGINT)
        AS pass_stop,
      CAST(SUM(CASE WHEN g_div THEN 1 ELSE 0 END) AS BIGINT) AS pass_div,
      CAST(SUM(CASE WHEN g_len AND g_stop AND g_div THEN 1 ELSE 0 END)
        AS BIGINT) AS pass_all,
      ${fpTruncSql(
        "CAST(COUNT(*) - SUM(CASE WHEN g_len AND g_stop AND g_div" +
          " THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)",
        9)} AS attrition
    FROM f GROUP BY source ORDER BY source"""))


  // --- q325: CROSS-LANGUAGE VOCABULARY OVERLAP — the contamination
  //     sanity check for language labels: if two langs' TOP-50
  //     vocabularies overlap heavily, either the langid is mislabeling
  //     or the corpus is code-switched — both poison per-lang mixture
  //     weights (q141). Per-lang top-50 by collection frequency (rank
  //     window over the collapsed lang×word count frame, ties broken
  //     lexicographically), then the pairwise Jaccard matrix via ONE
  //     self-join on word over the ≤ 50·#langs signature frame —
  //     bounded work after the single corpus token pass, exact
  //     integers until the fpTrunc ratio.
  private lazy val q325 = Q(
    "q325_lang_vocab_overlap",
    "✦ corpus audit: pairwise Jaccard of per-lang top-50 vocabularies",
    (s, d) => {
      val counts = docs(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("word"))
      val top = counts.withColumn("r", row_number().over(w))
        .filter(col("r") <= 50).select(col("lang"), col("word"))
        .persist()
      // top persist: both self-join sides + sizes — harness-owned.
      val sz = top.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val inter = top.select(col("lang").as("lang_a"), col("word"))
        .join(top.select(col("lang").as("lang_b"), col("word")),
          Seq("word"))
        .filter(col("lang_a") < col("lang_b"))
        .groupBy(col("lang_a"), col("lang_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sz.select(col("lang").as("lang_a"),
          col("n").as("na"))), Seq("lang_a"))
        .join(broadcast(sz.select(col("lang").as("lang_b"),
          col("n").as("nb"))), Seq("lang_b"))
        .select(col("lang_a"), col("lang_b"), col("inter"),
          (col("na") + col("nb") - col("inter")).as("uni"),
          fpTrunc(col("inter").cast("double")
            / (col("na") + col("nb") - col("inter")).cast("double"), 9)
            .as("jacc"))
        .orderBy(col("lang_a"), col("lang_b"))
    },
    Some(s"""WITH counts AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS word
        FROM documents)
      GROUP BY 1, 2),
    top AS (SELECT lang, word FROM (
      SELECT lang, word,
        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, word)
          AS r
      FROM counts) WHERE r <= 50),
    sz AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM top GROUP BY 1),
    inter AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
        CAST(COUNT(*) AS BIGINT) AS inter
      FROM top a JOIN top b USING (word)
      WHERE a.lang < b.lang GROUP BY 1, 2)
    SELECT lang_a, lang_b, inter,
      CAST(sa.n + sb.n - inter AS BIGINT) AS uni,
      ${fpTruncSql(
        "CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)",
        9)} AS jacc
    FROM inter
    JOIN sz sa ON inter.lang_a = sa.lang
    JOIN sz sb ON inter.lang_b = sb.lang
    ORDER BY lang_a, lang_b"""))

  // --- q318: DATASET CARD — the one-row datasheet a corpus release
  //     ships with (Datasheets-for-Datasets style): sizes, language/
  //     source breadth, the dominant language and its share, token
  //     mass, and the exact p50/p90 length quantiles. Nothing here is
  //     new machinery — the point is the COMPOSITION: every field
  //     rides the same one corpus pass + collapsed-frame readouts
  //     (length quantiles via the q296 distinct-value order statistic,
  //     top-lang via max on a composite count·K+idx key over the
  //     5-row lang frame), so the whole card costs one scan at 100 TB.
  private lazy val q318 = Q(
    "q318_dataset_card",
    "✦ governance: one-row dataset card — sizes, breadth, top-lang share, exact length quantiles",
    (s, d) => {
      val base = docs(s, d).select(col("source"), col("lang"),
        col("n_chars"), size(split(col("text"), " ")).cast("long")
          .as("n_words"))
      val main = base.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_words")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars_total"))
      val langTop = base.groupBy(col("lang")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("lang")).limit(1)
        .select(col("lang").as("top_lang"), col("c").as("top_lang_docs"))
      val g = base.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
      val wCum = Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = g.withColumn("cum", sum(col("c")).over(wCum))
        .crossJoin(broadcast(main.select(col("n_docs"))))
      def qtile(p: Int) = cum
        .filter(col("cum") * 100 >= col("n_docs") * p)
        .agg(min(col("n_chars")).as(s"p${p}_chars"))
      main.crossJoin(broadcast(langTop))
        .crossJoin(broadcast(qtile(50))).crossJoin(broadcast(qtile(90)))
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("n_tokens"), col("n_chars_total"),
          col("top_lang"),
          fpTrunc(col("top_lang_docs").cast("double")
            / col("n_docs").cast("double"), 9).as("top_lang_share"),
          fpTrunc(col("n_tokens").cast("double")
            / col("n_docs").cast("double"), 9).as("tokens_per_doc"),
          col("p50_chars"), col("p90_chars"))
    },
    Some(s"""WITH base AS (
      SELECT source, lang, n_chars,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      FROM documents),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        CAST(SUM(n_words) AS BIGINT) AS n_tokens,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
      FROM base),
    lt AS (SELECT lang AS top_lang, CAST(c AS BIGINT) AS top_lang_docs
      FROM (SELECT lang, COUNT(*) AS c FROM base GROUP BY 1
        ORDER BY c DESC, lang LIMIT 1)),
    g AS (SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY 1),
    cum AS (SELECT n_chars,
        SUM(c) OVER (ORDER BY n_chars
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        (SELECT n_docs FROM m) AS n_docs
      FROM g)
    SELECT n_docs, n_sources, n_langs, n_tokens, n_chars_total,
      top_lang,
      ${fpTruncSql(
        "CAST(top_lang_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)",
        9)} AS top_lang_share,
      ${fpTruncSql(
        "CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)",
        9)} AS tokens_per_doc,
      (SELECT CAST(MIN(n_chars) AS BIGINT) FROM cum
        WHERE cum * 100 >= n_docs * 50) AS p50_chars,
      (SELECT CAST(MIN(n_chars) AS BIGINT) FROM cum
        WHERE cum * 100 >= n_docs * 90) AS p90_chars
    FROM m, lt"""))

  // --- q316: CHARACTER-BIGRAM ENTROPY (compressibility proxy) — the
  //     cheap stand-in for "gzip ratio" quality filters: boilerplate
  //     and template spam have LOW byte-level entropy, natural prose
  //     sits near the language's ceiling. Per-source Shannon entropy
  //     of the character-bigram distribution, plus the normalized
  //     form H/ln(V_observed) ∈ (0, 1]. The bigram alphabet is
  //     BOUNDED (≤ alphabet², here ≤ 27² over [a-z ]), which is what
  //     makes the per-source entropy fold exact-order-deterministic
  //     at ANY corpus size — the fold runs over ≤729 bigram-sorted
  //     cells, never corpus rows (contrast q303's same trick with the
  //     top-64 cap). One HOF bigram explode → (source, bigram)
  //     map-combined aggregate is the only corpus-sized work.
  private lazy val q316 = Q(
    "q316_char_entropy",
    "✦ quality: per-source char-bigram entropy + normalized compressibility proxy",
    (s, d) => {
      val bg = docs(s, d)
        .select(col("source"),
          explode(transform(sequence(lit(1), length(col("text")) - 1),
            i => col("text").substr(i, lit(2)))).as("bg"))
        .groupBy(col("source"), col("bg")).agg(count(lit(1)).as("c"))
      def fsum(c: org.apache.spark.sql.Column) =
        aggregate(c, lit(0.0), (acc, x) => acc + x)
      bg.groupBy(col("source"))
        .agg(sum(col("c")).as("n_bigrams"),
          count(lit(1)).as("n_distinct"),
          array_sort(collect_list(struct(col("bg"), col("c")))).as("arr"))
        .select(col("source"), col("n_bigrams"), col("n_distinct"),
          fpTrunc(-fsum(transform(col("arr"), x =>
            (x.getField("c").cast("double")
              / col("n_bigrams").cast("double"))
              * log(x.getField("c").cast("double")
                / col("n_bigrams").cast("double")))), 9)
            .as("entropy_nats"),
          fpTrunc(-fsum(transform(col("arr"), x =>
            (x.getField("c").cast("double")
              / col("n_bigrams").cast("double"))
              * log(x.getField("c").cast("double")
                / col("n_bigrams").cast("double"))))
            / log(col("n_distinct").cast("double")), 9)
            .as("normalized_entropy"))
        .orderBy(col("source"))
    },
    Some(s"""WITH bg AS (
      SELECT source, substring(text, i, 2) AS bg
      FROM documents,
        LATERAL (SELECT unnest(generate_series(1, len(text) - 1)) AS i)),
    g AS (SELECT source, bg, CAST(COUNT(*) AS BIGINT) AS c
      FROM bg GROUP BY 1, 2),
    l AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        CAST(COUNT(*) AS BIGINT) AS n_distinct,
        list(c ORDER BY bg) AS cs
      FROM g GROUP BY 1),
    e AS (SELECT source, n_bigrams, n_distinct,
        -list_sum(list_transform(cs, x ->
          (CAST(x AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
          * ln(CAST(x AS DOUBLE) / CAST(n_bigrams AS DOUBLE)))) AS h
      FROM l)
    SELECT source, n_bigrams, n_distinct,
      ${fpTruncSql("h", 9)} AS entropy_nats,
      ${fpTruncSql("h / ln(CAST(n_distinct AS DOUBLE))", 9)}
        AS normalized_entropy
    FROM e ORDER BY source"""))

  def defs: Seq[Q] =
    Seq(q51, q52, q53, q54, q91, q94, q97, q101, q102, q103, q110, q111, q113,
      q114, q116, q134, q136, q140, q141, q149, q154, q155, q157, q161, q162,
      q171, q173, q183, q210, q223, q278, q279, q280, q284, q285, q289, q292,
      q293, q294, q298, q299, q303, q306, q316, q318, q325)
}
