package graft.functions

/** Sign-split integer division — the ONE spelling of the cross-engine
  * division contract used throughout the exact-integer query catalog.
  *
  * The problem it closes: Spark/Java `/` and SQL `DIV` TRUNCATE toward
  * zero, DuckDB `//` FLOORS toward −∞. The two agree on non-negative
  * operands and differ by exactly 1 whenever the quotient is negative
  * and inexact (−7/2 = −3 truncated, −4 floored). Every fixed-point
  * pipeline here therefore divides the MAGNITUDE (both operands
  * non-negative, where truncate == floor) and re-applies the dividend's
  * sign — a spelling both engines reproduce bit-for-bit:
  *
  *   sdl(v, d) = sign(v) * (|v| / d)        (d > 0)
  *
  * Scala-side replays (driver-held fixpoints like q296's power
  * iteration) use [[sdl]]; Spark SQL uses [[sdlSql]], which expands to
  * the CASE WHEN spelling with `DIV` — the DuckDB twin's `//` on the same
  * CASE produces identical values because the inner operands are
  * non-negative.
  *
  * Property-spec'd in IntegerMathSpec: for all (v, d>0),
  * sdl(v,d) == -sdl(-v,d), sdl matches BigInt reference, and the SQL
  * spelling evaluates to sdl under Spark.
  */
object IntegerMath {

  /** Divide magnitude, re-apply the dividend's sign. d must be > 0. */
  def sdl(v: Long, d: Long): Long =
    if (v >= 0) v / d else -((-v) / d)

  /** BigInt twin for driver arithmetic that must not wrap (the q296
    * rule: intermediates past ~1e19 run in BigInt, narrowed only after
    * an explicit Int64-range assert).
    */
  def sdl(v: BigInt, d: BigInt): BigInt =
    if (v.signum >= 0) v / d else -((-v) / d)

  /** Spark SQL spelling of the same contract (`DIV`), for expressions
    * run by Spark only. DuckDB 1.0 rejects `DIV` with a parser error, so
    * a DuckDB oracle spells the same CASE with `//`, which on the
    * non-negative inner operands equals `DIV`.
    */
  def sdlSql(v: String, d: String): String =
    s"CASE WHEN ($v) >= 0 THEN ($v) DIV ($d) ELSE -((-($v)) DIV ($d)) END"
}
