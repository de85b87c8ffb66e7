package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{Rz6, Shims}

/** The 6-decimal-place rounding law of the cross-engine determinism
  * contract: half-AWAY-from-zero on the scaled binary value,
  * `sign(x)·floor(|x|·1e6 + 0.5)/1e6` — DuckDB `round(x, 6)`'s
  * operational behavior on doubles, re-validated any time by
  * `tools/round6_check.py` (180k boundary-structured values across five
  * classes, 0 mismatches; values MUST travel to DuckDB bit-exactly —
  * parquet, or in-engine computation — because a 17-digit SQL literal
  * parses through a lossy DECIMAL(17,16) and fakes divergence). Spark's
  * own `round` instead rounds the SHORTEST DECIMAL STRING of the double
  * (Scala `BigDecimal(double)`), which disagrees with DuckDB exactly on
  * products of 6dp decimals whose double sits on the other side of the
  * half boundary from their shortest string (measured instance:
  * 4.875·0.052972 = 0.2582385, double a hair below — Spark round says
  * 0.258239, DuckDB and this law say 0.258238) — ~1 row in 10⁴ at
  * sf0.1, caught by the twin gate (see the discovery notes on
  * `TextAnalysis.trainQualityLr`). Every operator that rounds PRODUCTS
  * or QUOTIENTS of 6dp values must therefore use this law, not `round`.
  *
  * Valid for |x| < 2⁵³/1e6 ≈ 9·10⁹ — far above any score, weight, or
  * coordinate in the engine. Summation corollary: a sum whose TERMS are
  * all outputs of this law is a true 1e-6 multiple, maximally far from
  * rounding boundaries, so double-order noise (≲ n·ulp) can never flip
  * the final snap — the foundation of every reproducible aggregate in
  * the contract. */
object Round6 {
  /** The law as one expression node ([[org.apache.spark.sql.graft.Rz6]]):
    * the argument is evaluated once, however deeply rz6 nests. */
  def rz6(c: Column): Column = Shims.column(Rz6(Shims.expression(c)))

  /** [[rz6]]'s per-row kernel and its driver-side twin:
    * `signum(x)·floor(|x|·1e6 + 0.5)/1e6` with the floor taken to a long,
    * as Spark's `floor` on a double returns — bit-identical to the Column
    * formula `signum(c) * floor(abs(c) * 1e6 + 0.5) / 1e6` on every
    * double, NaN and ±Inf included (the long saturates, so rz6(+Inf) is
    * 2⁶³/1e6). `math.rint` would be HALF_EVEN and fork the replay. */
  def rz6d(x: Double): Double =
    (math.signum(x) * math.floor(math.abs(x) * 1e6 + 0.5).toLong.toDouble) / 1e6
}
