package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared column builders.
  *
  * Oracle-parity policy (see SURVEY.md §7): every double that reaches query
  * output is either (a) computed row-wise from identical inputs — bit-equal
  * across engines — or (b) an aggregate routed through exact DECIMAL
  * arithmetic via [[decSum]]. Transcendentals get rounded to 6 dp.
  */
object Fns {

  /** Exact money-sum: cast each row to DECIMAL(18,4) (row-wise, so both
    * engines round the same binary double), sum exactly, return double.
    * Avoids float summation-order nondeterminism entirely — which matters
    * on a 1000-executor cluster even more than for the oracle compare.
    */
  def decSum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** Exact sum of squares, the second moment beside [[decSum]]: each
    * row's square cast to DECIMAL(30,8), summed exactly, returned as
    * double. */
  def decSumSq(c: Column): Column =
    sum((c * c).cast("decimal(30,8)")).cast("double")

  /** Sample variance from `n` and the exact moments `s1`/`s2`.
    * try_divide: the column evaluates for every row, and for n = 1 the
    * n − 1 = 0 divisor THROWS under ANSI; NULL there matches DuckDB's
    * x/0 and is masked by [[sampleSd]]'s n > 1 guard anyway. */
  def sampleVar(n: Column, s1: Column, s2: Column): Column =
    try_divide(s2 - s1 * s1 / n, n - 1)

  /** Sample standard deviation of a [[sampleVar]] column: NULL for
    * n <= 1 (a CASE without ELSE; add `.otherwise` for another value),
    * the variance clamped at 0 before sqrt. A constant group's
    * decimal-exact sums cast to double can leave a fractionally negative
    * variance, where Spark's sqrt is NaN but DuckDB's RAISES; the clamp
    * is bit-identical whenever the variance is >= 0. */
  def sampleSd(n: Column, svar: Column): Column =
    when(n > 1, sqrt(when(svar < 0, lit(0d)).otherwise(svar)))

  /** Constant-0 partition key for windows over frames bounded BY
    * CONSTRUCTION (post-limit top-k, nBins histograms, date spines): it
    * gives WindowExec a partition spec so the "No Partition Defined"
    * warning marks only REAL unbounded windows. It must be NON-foldable:
    * Spark 4's EliminateWindowPartitions optimizer rule strips foldable
    * partition expressions, so a bare partitionBy(lit(0)) is optimized
    * back to a partitionless window and still warns. Anchoring the
    * constant on a column of the frame keeps the spec through
    * optimization; pmod(hash(x), 1) evaluates to 0 for every row (hash
    * never returns NULL), so the window semantics are untouched. */
  def onePart(anchor: Column): Column = pmod(hash(anchor), lit(1))

  /** NULL placeholder inside hashed key strings — dbt_utils'
    * generate_surrogate_key device: concat_ws SKIPS a NULL argument
    * (losing its position, so (x, NULL) and (NULL, x) would collide),
    * and the oracle fragments' `||` concat NULL-propagates; coalescing
    * each column to a fixed placeholder keeps every position occupied.
    * No driver table has NULLs in hashed columns today (quality rules
    * filter them), so this changes nothing observable — an oracle
    * fragment hashing a genuinely nullable column must COALESCE to the
    * same placeholder. */
  private val HashNull = "_graft_null_"

  /** Surrogate key as in dbt_utils.generate_surrogate_key: md5 of the
    * '||'-joined string forms of the business keys, NULLs coalesced to
    * the positional placeholder.
    * Ref: /root/reference/macros/scd_type2_macro.sql:28 */
  def surrogateKey(cols: Column*): Column =
    md5(concat_ws("||", cols.map(c => coalesce(c.cast("string"), lit(HashNull))): _*))

  /** Row-content hash for change detection (CDC). Doubles must be
    * pre-formatted with [[fmt2]]/[[fmt4]] by the caller for cross-engine
    * stable string forms; NULLs keep their position via the placeholder.
    * Ref: scd_type2_macro.sql change_hash. */
  def rowHash(cols: Column*): Column =
    md5(concat_ws("|", cols.map(c => coalesce(c.cast("string"), lit(HashNull))): _*))

  /** printf-style fixed-point formatting — identical in JVM and DuckDB for
    * the same binary double (both round the exact binary value).
    * NULL-PROPAGATING: Java's Formatter prints the string "null" for a
    * null %f argument while DuckDB's printf NULL-propagates — without the
    * guard, a NULL measure inside [[rowHash]] would hash as 'null'
    * (bypassing the positional placeholder) on the Spark side only.
    * With it, a NULL reaches rowHash as NULL and coalesces to the
    * placeholder; an oracle fragment hashing a nullable formatted
    * measure must COALESCE(printf(...), '_graft_null_') to match. */
  def fmt2(c: Column): Column =
    when(c.isNotNull, format_string("%.2f", c))
  def fmt4(c: Column): Column =
    when(c.isNotNull, format_string("%.4f", c))

  /** Cross-engine-stable rounding: floor(x*10^k + 0.5)/10^k uses only IEEE
    * mul/add/floor/div, so identical inputs give bit-identical outputs in
    * any engine — unlike round(), whose half-way handling differs between
    * Spark (decimal HALF_UP) and C-family engines. */
  def r2(c: Column): Column = floor(c * 100d + 0.5d) / 100d
  def r4(c: Column): Column = floor(c * 10000d + 0.5d) / 10000d
  def r6(c: Column): Column = floor(c * 1000000d + 0.5d) / 1000000d

  /** Oracle-side twin of [[r2]]/[[r4]]/[[r6]] for SQL strings. */
  def sqlR(expr: String, k: Int): String = {
    val p = math.pow(10, k).toLong
    s"FLOOR(($expr) * $p + 0.5) / $p"
  }

  /** Unix epoch seconds (floor) of a timestamp — the tz/precision-safe way
    * to emit event timestamps. */
  def epochS(c: Column): Column = unix_timestamp(c)

  /** Hex digit `pos` (1-based) of md5(id) as an int 0..15 — THE
    * deterministic noise/fold/gate source shared by the monitoring and
    * model-evaluation twins (the engine's replay-safe substitute for
    * `random_state` / `np.random`). Single definition so the marts and
    * their DuckDB oracle fragments can never drift apart. */
  def hexDigit(idCol: String, pos: Int): Column =
    expr(s"instr('0123456789abcdef', substr(md5(cast($idCol as string)), $pos, 1)) - 1")

  /** Normalized document text: lowercase, collapse whitespace, trim. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))
}
