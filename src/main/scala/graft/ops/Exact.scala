package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-exact display rounding.
  *
  * `round(q, k)` where `q` is a quotient of exact integers or round-6
  * decimals is a documented defect class (BENCH_DELTA risk register): the
  * quotient can terminate exactly ON a half-way decimal at digit k+1, and
  * Spark (HALF_UP on the shortest decimal representation of the double)
  * and DuckDB (scaled-double rounding) resolve that tie differently —
  * `text_bigram_lm` hit it at both 6 and 9 digits in round 12.
  *
  * The retirement: `round6(x) := floor(x*1e6 + 0.5)/1e6`. Every step is a
  * plain IEEE-754 double op (multiply, add, floor, divide) executed
  * identically by both engines on the same input double, so the result is
  * bit-identical by construction — there is no decimal-string re-parse and
  * no tie-break convention to disagree on. The oracle SQL uses the literal
  * form `floor(CAST((x) AS DOUBLE)*1000000 + 0.5)/1000000`.
  *
  * Semantics vs `round(x, 6)`: identical everywhere except exact half-way
  * doubles, where this rounds toward +Inf while HALF_UP rounds away from
  * zero (differs only for negative ties) — and on those the engine and
  * oracle now agree with EACH OTHER, which is the property the correctness
  * gate checks.
  *
  * The floor is the DOUBLE-typed
  * [[graft.catalyst.HashExpressions.FloorDouble]] (`Math.floor`), NOT
  * Spark's LongType `floor` (ADVICE r13): the long form made NaN → 0.0
  * and saturated ±Inf and |x·1e6| > ~9.2e18 at Long.Min/MaxValue while
  * DuckDB's double floor propagates all three — reintroducing at the
  * domain edges the exact divergence class this helper retires. With the
  * double floor the helper is TOTAL: every step (multiply, add,
  * `Math.floor`, divide) is the same correctly-rounded IEEE-754 op DuckDB
  * executes, so NaN → NaN, ±Inf → ±Inf, and above 2^53/1e6 (where the
  * 6-digit grid is finer than double spacing and the +0.5/floor walk the
  * same representable values) the engines still agree bit-for-bit — e.g.
  * `mixture_epochs`' token-valued columns stay exact at the 100 TB design
  * point where targets exceed 9.2e12. On the registry's historical domain
  * (|x·1e6 + 0.5| < 2^53) long-floor and double-floor were equal, so no
  * result changed (SqlFunctionsSpec pins both the edge behavior and the
  * on-grid equivalence).
  */
object Exact {
  private def floorD(c: Column): Column =
    graft.catalyst.HashExpressions.floorDouble(c)

  /** floor(x*1e6 + 0.5)/1e6 — 6-digit half-up rounding, bit-identical
    * between Spark and DuckDB on the same input double (ALL doubles,
    * non-finite and huge included). */
  def round6(c: Column): Column =
    floorD(c.cast("double") * lit(1e6) + lit(0.5)) / lit(1e6)

  /** floor(x*1e9 + 0.5)/1e9 — the 9-digit sibling. */
  def round9(c: Column): Column =
    floorD(c.cast("double") * lit(1e9) + lit(0.5)) / lit(1e9)

  /** Oracle-SQL text form of [[round6]] — the DUCKDB-side twin. DuckDB's
    * `floor` on a double is the total double floor, so there the text
    * form equals [[round6]] on ALL doubles. When SPARK parses this text
    * it lowers to Spark's LongType `floor`, which retains the BOUNDED
    * domain the Column form retired (NaN → 0, ±Inf and |x·1e6| > 2^63
    * saturate at Long.Min/MaxValue) — for a Spark-parsed expression with
    * the Column form's totality use [[sqlRound6Spark]] instead
    * (ADVICE r14). On the registry's domain (every oracle value is
    * finite with |x·1e6| ≪ 2^63) the two parses agree bit-for-bit,
    * which is why this one string can serve as the shared oracle text. */
  private[graft] def sqlRound6(e: String): String =
    s"floor(CAST(($e) AS DOUBLE)*1000000 + 0.5)/1000000"

  /** Oracle-SQL text form of [[round9]] — same bounded-domain note as
    * [[sqlRound6]] when Spark parses it. */
  private[graft] def sqlRound9(e: String): String =
    s"floor(CAST(($e) AS DOUBLE)*1000000000 + 0.5)/1000000000"

  /** SPARK-SQL text form of [[round6]] that keeps the Column form's
    * totality: floors through the SQL-registered
    * `graft_floor_double` (double → double `Math.floor`), so NaN/±Inf/
    * huge inputs behave exactly like [[round6]]. NOT valid DuckDB —
    * use [[sqlRound6]] for oracle text. */
  private[graft] def sqlRound6Spark(e: String): String =
    s"graft_floor_double(CAST(($e) AS DOUBLE)*1000000 + 0.5)/1000000"

  /** The 9-digit sibling of [[sqlRound6Spark]]. */
  private[graft] def sqlRound9Spark(e: String): String =
    s"graft_floor_double(CAST(($e) AS DOUBLE)*1000000000 + 0.5)/1000000000"
}
