package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Determinism helpers for DuckDB-oracle parity (SURVEY.md §5.3).
  *
  * `SUM(double)` is addition-order dependent and Spark's partial/final
  * aggregation order never matches DuckDB's, so every money/measure sum is
  * computed in decimal: the double→decimal cast is deterministic (the
  * fixture doubles carry ≤2 true decimal digits; products of two/three such
  * values carry ≤4/6, below the scale used here), decimal addition is
  * exact, and the final decimal→double cast is deterministic. Means are
  * `decimal_sum / count` evaluated in IEEE double — identical inputs,
  * identical single operation, identical result in both engines. Variance /
  * covariance are reconstructed from exact decimal moment sums the same
  * way. No `round()` of an order-dependent double ever reaches a compared
  * column.
  *
  * At scale this costs one extra cast per row inside the partial aggregate —
  * still whole-stage-codegen'd, still a two-phase hash aggregate; the
  * shuffle carries decimal(28,6) instead of double.
  *
  * LIMIT of the rule: the final decimal→double cast is only bit-identical
  * across engines while the sum's SCALED integer fits 2^53 (~9e9 at scale
  * 6). Beyond that the cast itself rounds, and Spark (BigDecimal,
  * correctly rounded once) vs DuckDB (int128→double, then scale divide —
  * two roundings) can differ by 1 ulp. Squared-measure sums (price²)
  * cross that line at sf0.1 already. Compared outputs built from such
  * sums must be rounded to fixed decimals on BOTH engines (q27) or the
  * sum kept scale-0 where the casts agree (q131's integer-cents moments);
  * plain money sums (≤6 fractional digits, ≤~1e9 magnitude) stay exact.
  */
object dsl {
  val Money: DecimalType = DecimalType(18, 6)
  /** Wider type for row-level products (price*discount*tax ~ 1e10) summed
    * over many rows. */
  val Wide: DecimalType = DecimalType(30, 6)

  /** Exact, engine-independent sum of a ≤6-decimal-digit double column. */
  def dsum(c: Column): Column = sum(c.cast(Money)).cast(DoubleType)
  def dsumWide(c: Column): Column = sum(c.cast(Wide)).cast(DoubleType)
  /** Deterministic mean: exact decimal sum, one double division. */
  def dmean(c: Column): Column = dsum(c) / count(lit(1))
  /** Deterministic sample variance from exact moment sums. */
  def dvar(c: Column): Column = {
    val n = count(lit(1)).cast(DoubleType)
    val sx = dsum(c)
    val sxx = dsumWide(c * c)
    (sxx - sx * sx / n) / (n - lit(1.0))
  }
  def dstddev(c: Column): Column = sqrt(dvar(c))
  /** Deterministic sample covariance from exact moment sums. */
  def dcov(x: Column, y: Column): Column = {
    val n = count(lit(1)).cast(DoubleType)
    (dsumWide(x * y) - dsum(x) * dsum(y) / n) / (n - lit(1.0))
  }

  /** Sum of an array of doubles as a sequential left fold from 0.0 in
    * element order, the order DuckDB's `list_sum` folds, so the two
    * engines agree bit for bit (a `sum` aggregate's partial sums would
    * not). */
  def fsum(c: Column): Column = aggregate(c, lit(0.0), (acc, x) => acc + x)

  /** Deterministic multiplicative hash `id·2654435761 mod m` (Knuth's
    * constant), the engine's no-rand() sampling/assignment primitive
    * (q102/q131/q141). The product runs in DECIMAL(38,0): a LONG multiply
    * overflows for id ≳ 3.5e9 — Spark under ANSI errors at
    * billion-document ids while DuckDB silently widens to HUGEINT, a
    * scale-dependent engine divergence (the q131 overflow class). Decimal
    * keeps it exact for any BIGINT id; the residue always fits a long. */
  def hashMod(id: Column, m: Long): Column =
    pmod(id.cast(DecimalType(38, 0)) * lit(2654435761L), lit(m)).cast(LongType)

  /** hashMod with a PER-ROW modulus and a second mixing round (the IVF
    * per-cell sub-split). One multiply is not enough when the modulus is
    * small: `id·c mod 2^k` only reads `id mod 2^k` (c is odd), so a hot
    * set whose ids share a residue class — every 4th doc id, say — lands
    * in ONE sub-cell and the split is vacuous (the q149 mod-coprimality
    * trap in per-row form). Folding through a Mersenne prime first
    * (`mod 2^31−1`) spreads any input residue class across the full
    * range; the second multiply then distributes it over ANY modulus.
    * All arithmetic is exact in DECIMAL(38,0) / HUGEINT on the two
    * engines — see hashMod2Sql for the DuckDB twin.
    *
    * PRECONDITION: `id` must be non-negative. Spark's pmod is always
    * non-negative while the DuckDB twin uses sign-preserving `%`, so the
    * two diverge for negative ids (safe for every current caller —
    * vec_id/doc_id are ≥ 0; a signed-id caller must wrap the twin in the
    * `((x % m) + m) % m` idiom q146 uses for floor semantics). */
  def hashMod2(id: Column, m: Column): Column =
    pmod(pmod(id.cast(DecimalType(38, 0)) * lit(2654435761L), lit(2147483647L))
      * lit(2654435761L), m.cast(DecimalType(38, 0))).cast(LongType)

  /** DuckDB twin of hashMod2 (HUGEINT keeps the double multiply exact). */
  def hashMod2Sql(id: String, m: String): String =
    s"(((CAST($id AS HUGEINT) * 2654435761) % 2147483647) * 2654435761 % ($m))"

  /** hashMod2 in PURE LONG arithmetic — bit-identical buckets, ~10× the
    * throughput of the DECIMAL(38,0) path (BigDecimal multiplies cost
    * ~µs/row; the r10 bench caught q205's 2.4M-row hash pass at 10.6 s).
    * Safe because the first multiply is PRE-REDUCED mod the Mersenne
    * prime: (id mod p)·c ≡ id·c (mod p), and the largest intermediate is
    * (p−1)·2654435761 ≈ 5.7e18 < 2^63 — no overflow for ANY non-negative
    * long id (the decimal path's reason to exist was id·c overflowing;
    * the pre-reduction removes it). Same non-negative-id precondition as
    * hashMod2. Use this for hot per-row hashing; keep hashMod2 where a
    * column already carries DECIMAL ids. */
  def hashMod2L(id: Column, m: Column): Column =
    pmod(pmod(pmod(id, lit(2147483647L)) * lit(2654435761L),
      lit(2147483647L)) * lit(2654435761L), m)

  /** DuckDB twin of hashMod2L (pure BIGINT; same pre-reduced chain). */
  def hashMod2LSql(id: String, m: String): String =
    s"((((($id) % 2147483647) * 2654435761) % 2147483647) * 2654435761 % ($m))"

  // ---- DuckDB cosine twins (single source of truth; used by the
  // Vectors / Scale / Dedup oracle builders — one drifting copy of this
  // fold would silently break a hash match). Same sequential
  // left-to-right double fold as graft.functions.CosineSimilarity and
  // the Spark HOF form: bit-identical across engines. ----
  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  def norm2Sql(a: String): String =
    s"list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (SQRT(${norm2Sql(a)}) * SQRT(${norm2Sql(b)})))"

  /** FLOOR(x·10^k)/10^k fixed-point presentation of a cross-engine-
    * identical double. Use this INSTEAD of round(x, k) whenever the
    * value's magnitude is large or many rows are emitted: ROUND of
    * identical doubles can still split across engines — DuckDB's ROUND
    * is multiply-based while Spark's is exact-decimal HALF_UP, so a
    * value near a half-boundary (width ≈ ulp(x·10^k), i.e. ~12% of
    * values at x ≈ 10⁶, k = 9!) rounds differently — whereas floor of
    * the SAME double after the SAME IEEE multiply is engine-identical
    * by construction (the r9 sf0.1 sweep caught both classes live:
    * q167 rank at 16k rows, q168 intercept at 10⁶ magnitude).
    *
    * Magnitude bound: Spark's floor(Column) returns LongType, so
    * |x|·10^k must stay below 2^63 (≈9.2e18) — at k=9 that caps |x| at
    * ~9.2e9 — else Spark saturates at Long.MaxValue while the DuckDB
    * twin's FLOOR stays DOUBLE, a cross-engine divergence. All current
    * call sites present ratios/shares/stats orders of magnitude below
    * the bound; assert it before adding a large-magnitude call site. */
  def fpTrunc(c: Column, digits: Int): Column = {
    val m = math.pow(10, digits)
    floor(c * lit(m)).cast(DoubleType) / lit(m)
  }

  /** DuckDB twin of fpTrunc (1eK literals are DOUBLE in both engines). */
  def fpTruncSql(e: String, digits: Int): String =
    s"FLOOR(($e) * 1e$digits) / 1e$digits"

  // ---- DuckDB-side twins (string builders for oracle SQL) ----
  def dsumSql(e: String): String = s"CAST(SUM(CAST(($e) AS DECIMAL(18,6))) AS DOUBLE)"
  def dsumWideSql(e: String): String = s"CAST(SUM(CAST(($e) AS DECIMAL(30,6))) AS DOUBLE)"
  def dmeanSql(e: String): String = s"(${dsumSql(e)} / COUNT(*))"
  def dvarSql(e: String): String =
    s"((${dsumWideSql(s"($e)*($e)")} - ${dsumSql(e)} * ${dsumSql(e)} / CAST(COUNT(*) AS DOUBLE)) / (CAST(COUNT(*) AS DOUBLE) - 1.0))"
  def dstddevSql(e: String): String = s"SQRT(${dvarSql(e)})"
  def dcovSql(x: String, y: String): String =
    s"((${dsumWideSql(s"($x)*($y)")} - ${dsumSql(x)} * ${dsumSql(y)} / CAST(COUNT(*) AS DOUBLE)) / (CAST(COUNT(*) AS DOUBLE) - 1.0))"
}
