package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Restores parquet filter pushdown through the loader's timestamp
  * normalization (Tables.scala canonical-schema note).
  *
  * `Tables.events` rewrites a physical timestamp[us] `ts` to the engine's
  * canonical int64 ns as `unix_micros(cast(ts as timestamp)) * 1000`. A
  * time-range predicate over the NORMALIZED column — e.g. snapshot_merge's
  * `ts < 1704844800000000000L` — then compares a derived expression, which
  * Catalyst pushes through the Project but cannot translate into a parquet
  * data filter: at 100 TB that is the difference between pruning row
  * groups by min/max stats and scanning the full fact table.
  *
  * Both steps of the normalization are strictly monotone bijections on the
  * int64 domain, so every comparison against a literal inverts EXACTLY:
  *
  *   - `u * k cmp L` (k > 0 literal)  →  `u cmp'  floor/ceil-div(L, k)`
  *     (integer floor/ceil chosen per operator; exact for all signs, the
  *     pre-1970 rows included — see the per-op derivations inline);
  *   - `unix_micros(cast(c as timestamp)) cmp M`  →  `c cmp M-as-timestamp`
  *     (cast TIMESTAMP_NTZ→TIMESTAMP is a bijection under a fixed zone;
  *     guarded on the session zone being UTC, which every session in this
  *     repo pins — both timestamp literal kinds store epoch micros, so the
  *     literal converts by reinterpretation).
  *
  * The result is a plain `column cmp literal` predicate on the RAW scan
  * column, which the DataSource strategy translates to a pushed parquet
  * filter (PlanAuditSpec pins this for snapshot_merge). Equality is left
  * alone on purpose: `u*k = L` with k∤L folds to false-but-null-preserving
  * forms that are not worth the subtlety for a range-pushdown rule.
  *
  * Injected by [[graft.functions.GraftExtensions]] via
  * `injectOptimizerRule`: it runs before physical planning, which is when
  * PushedFilters are extracted, so it restores the scan-level pruning.
  */
object TsComparisonPushdown extends Rule[LogicalPlan] {

  private def utc: Boolean = SQLConf.get.sessionLocalTimeZone == "UTC"

  // floorDiv + remainder form: exact for the WHOLE long domain including
  // l = Long.MinValue (the `floorDiv(l - 1, k) + 1` spelling wraps there,
  // inverting the bound — ADVICE r6).
  private def ceilDiv(l: Long, k: Long): Long =
    Math.floorDiv(l, k) + (if (l % k == 0) 0 else 1)

  /** The rule fires ONLY on the loader's own ts-normalization shape —
    * `unix_micros(cast(col))` under zero or more positive-literal
    * multiplies. An unguarded `long_expr * k cmp lit` rewrite would replace
    * legacy-mode wrapped-overflow comparison semantics with exact-quotient
    * semantics on arbitrary user arithmetic registered under the same
    * extensions (ADVICE r6); unix_micros of a real parquet timestamp is
    * bounded far from Long overflow under the loader's k = 1000, so the
    * inversion is exact precisely on the shape we created. */
  private def isTsNormShape(e: Expression): Boolean = e match {
    case UnixMicros(c) => c.dataType == TimestampType
    case Multiply(u, Literal(k: Long, LongType), _) if k > 0 => isTsNormShape(u)
    case Multiply(Literal(k: Long, LongType), u, _) if k > 0 => isTsNormShape(u)
    case _ => false
  }

  /** cmp ops as (strict, flipped) so one helper serves all four. */
  private sealed trait Op
  private case object Lt extends Op
  private case object Le extends Op
  private case object Gt extends Op
  private case object Ge extends Op

  private def build(op: Op, l: Expression, r: Expression): Expression = op match {
    case Lt => LessThan(l, r)
    case Le => LessThanOrEqual(l, r)
    case Gt => GreaterThan(l, r)
    case Ge => GreaterThanOrEqual(l, r)
  }

  private def flip(op: Op): Op = op match {
    case Lt => Gt; case Le => Ge; case Gt => Lt; case Ge => Le
  }

  /** One inversion step on (expr cmp lit). Returns None when no step
    * applies; the caller loops so `u*1000 < L` strips the multiply first
    * and the micros-cast next within one rule application. */
  private def step(e: Expression, lit: Long, op: Op): Option[(Expression, Long, Op, Boolean)] = e match {
    // u * k cmp L  (k > 0): exact integer inversion per operator.
    //   u*k <  L ⟺ u <  ceilDiv(L, k)   (u < L/k, next integer up bounds strictly)
    //   u*k <= L ⟺ u <= floorDiv(L, k)
    //   u*k >  L ⟺ u >  floorDiv(L, k)
    //   u*k >= L ⟺ u >= ceilDiv(L, k)
    case Multiply(u, Literal(k: Long, LongType), _) if k > 0 && isTsNormShape(u) =>
      val l2 = op match {
        case Lt => ceilDiv(lit, k)
        case Le => Math.floorDiv(lit, k)
        case Gt => Math.floorDiv(lit, k)
        case Ge => ceilDiv(lit, k)
      }
      Some((u, l2, op, false))
    case Multiply(Literal(k: Long, LongType), u, _) if k > 0 && isTsNormShape(u) =>
      step(Multiply(u, Literal(k, LongType), EvalMode.LEGACY), lit, op)
        .map { case (u2, l2, o2, _) => (u2, l2, o2, false) }
    // unix_micros(c) cmp M with c already TIMESTAMP: literal reinterprets.
    case UnixMicros(c) if c.dataType == TimestampType => Some((c, lit, op, true))
    case _ => None
  }

  /** Peel a cast-to-TIMESTAMP off the column side once the comparison is
    * down to timestamp-vs-literal. cast(ntz as timestamp) under a fixed
    * UTC zone maps micros 1:1, so the literal value carries over. */
  private def peelCast(e: Expression): Option[Expression] = e match {
    case Cast(c, TimestampType, _, _) if c.dataType == TimestampType => Some(c)
    case Cast(c, TimestampType, _, _) if c.dataType == TimestampNTZType && utc => Some(c)
    case _ => None
  }

  private def rewrite(side: Expression, lit: Long, op: Op): Option[Expression] = {
    var e = side; var l = lit; var o = op
    var progressed = false
    var done = false
    while (!done) {
      step(e, l, o) match {
        case Some((e2, l2, o2, isMicros)) =>
          progressed = true; e = e2; l = l2; o = o2
          if (isMicros) {
            // Comparison is now micros-vs-long on a TimestampType expr:
            // convert the literal to a timestamp and stop numeric peeling.
            var col: Expression = e
            while (peelCast(col).isDefined) col = peelCast(col).get
            return Some(build(o, col, Literal(l, col.dataType)))
          }
        case None => done = true
      }
    }
    if (progressed) Some(build(o, e, Literal(l, LongType))) else None
  }

  private def asOp(b: BinaryComparison): Option[Op] = b match {
    case _: LessThan => Some(Lt)
    case _: LessThanOrEqual => Some(Le)
    case _: GreaterThan => Some(Gt)
    case _: GreaterThanOrEqual => Some(Ge)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case b: BinaryComparison if asOp(b).isDefined =>
      val op = asOp(b).get
      (b.left, b.right) match {
        case (side, Literal(l: Long, LongType)) =>
          rewrite(side, l, op).getOrElse(b)
        case (Literal(l: Long, LongType), side) =>
          rewrite(side, l, flip(op)).getOrElse(b)
        case _ => b
      }
  }
}
