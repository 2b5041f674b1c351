package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Optimizer rule restoring parquet predicate pushdown through the
  * `TableRegistry.normalizeTs` boundary.
  *
  * normalizeTs presents a timestamp parquet column to the engine as
  * `unix_micros(cast(ts as timestamp)) * 1000` (the epoch-nanos contract).
  * A comparison of that derived expression against a literal cannot reach
  * the parquet scan — the scan sees only `IsNotNull(ts)` and every
  * row group is read, which at 100 TB forfeits row-group/page pruning on
  * the one column event tables are always filtered by. The arithmetic is
  * exactly invertible over longs, so this rule rewrites
  *
  *   unix_micros(…ts…) * 1000  ⋈  C      (C literal nanos)
  *     ⇒  ts ⋈ Literal(C', <ts's own type>)    (C' micros)
  *
  * with the ceil/floor division that makes each inequality exact on the
  * integer lattice (e.g. `u·1000 ≥ C ⟺ u ≥ ⌈C/1000⌉`). Equality rewrites
  * only when C is 1000-divisible — a non-divisible equality is NOT
  * replaced by `false` because that would turn a NULL result into FALSE
  * in non-filter contexts.
  *
  * Matched input shapes (both orientations, five comparison ops):
  *  - `UnixMicros(Cast(ntz, TimestampType, tz))` — valid ONLY when the
  *    Cast's OWN embedded time zone is UTC: the zone is baked in at
  *    analysis time, so checking the session zone at optimization time
  *    would mis-rewrite a plan analyzed under another zone (e.g. one
  *    memoized by TableRegistry.table before a zone change). Every graft
  *    entry point pins UTC, so in practice the rule always fires.
  *  - `UnixMicros(ts: TimestampType)` — the shape left after
  *    SimplifyCasts removes a no-op cast (e.g. if a generator vintage
  *    ships isAdjustedToUTC=true micros). unix_micros of a TIMESTAMP is
  *    instant-based and zone-independent, so no guard is needed.
  *
  * Null semantics are preserved: a NULL `ts` yields NULL before and
  * after. Overflow caveat: for |ts| beyond ±year-2262 the ORIGINAL
  * `·1000` multiply overflows (throws under ANSI) while the rewritten
  * bare comparison evaluates cleanly — normalizeTs's contract is that
  * such instants are unrepresentable in epoch nanos to begin with.
  * Under NON-ANSI mode specifically, the original multiply WRAPS instead
  * of throwing, and a wrapped value can land off the 1000-lattice — so
  * e.g. `EqualNullSafe` with a non-divisible literal could evaluate true
  * pre-rewrite but constant-false post-rewrite. This silent divergence
  * exists only outside the documented ±year-2262 contract; inside it the
  * rewrite is exact under both ANSI modes.
  */
object EpochNanosPushdownRule extends Rule[LogicalPlan] {

  private def utcZone(tz: Option[String]): Boolean =
    tz.exists(z => java.time.ZoneId.of(z).normalized() == java.time.ZoneOffset.UTC)

  /** Matches `unix_micros(…) * 1000` over a column whose stored value IS
    * the micros unix_micros returns; yields that column (NTZ or TS typed). */
  private object NanosOfTs {
    private def micros(e: Expression): Option[Expression] = e match {
      case UnixMicros(Cast(a, TimestampType, tz, _))
          if a.dataType == TimestampNTZType && utcZone(tz) => Some(a)
      case UnixMicros(a) if a.dataType == TimestampType => Some(a)
      case _ => None
    }
    def unapply(e: Expression): Option[Expression] = e match {
      case Multiply(inner, Literal(1000L, LongType), _) => micros(inner)
      case Multiply(Literal(1000L, LongType), inner, _) => micros(inner)
      case _ => None
    }
  }

  // exact integer bounds. floorDiv is total; ceilDiv is partial within 1000
  // of Long.MaxValue (epoch-ns there is year ~292 billion — refuse and leave
  // the plan alone rather than wrap)
  private def floorDiv1000(c: Long): Long = Math.floorDiv(c, 1000L)
  private def ceilDiv1000(c: Long): Option[Long] =
    if (c > Long.MaxValue - 999L) None
    else Some(Math.floorDiv(c + 999L, 1000L))

  /** Literal carrying micros in the COLUMN's own type (NTZ and TS both
    * store Long micros internally). */
  private def tsLit(us: Long, a: Expression): Literal = Literal(us, a.dataType)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Early bail: almost no plan contains unix_micros — one cheap existence
    // traversal beats running the full transform machinery (per-node
    // partial-function dispatch + origin tracking) over every expression
    // tree of every query. Combined with pre-CBO injection (once per plan,
    // not per fixed-point iteration) this prices the rule at ~a tree walk
    // for the common case. (r7→r8: the always-on rule was a measurable
    // slice of a broad ~10% bench drift.)
    if (!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[UnixMicros]))))
      return plan
    var introducedFalse = false
    val rewritten = plan.transformAllExpressions {
      // attr-on-left orientations
      case GreaterThanOrEqual(NanosOfTs(a), Literal(c: Long, LongType)) if ceilDiv1000(c).isDefined =>
        GreaterThanOrEqual(a, tsLit(ceilDiv1000(c).get, a))
      case GreaterThan(NanosOfTs(a), Literal(c: Long, LongType)) =>
        GreaterThan(a, tsLit(floorDiv1000(c), a))
      case LessThanOrEqual(NanosOfTs(a), Literal(c: Long, LongType)) =>
        LessThanOrEqual(a, tsLit(floorDiv1000(c), a))
      case LessThan(NanosOfTs(a), Literal(c: Long, LongType)) if ceilDiv1000(c).isDefined =>
        LessThan(a, tsLit(ceilDiv1000(c).get, a))
      case EqualTo(NanosOfTs(a), Literal(c: Long, LongType)) if c % 1000L == 0L =>
        EqualTo(a, tsLit(c / 1000L, a))
      // literal-on-left orientations (mirror: C ⋈ u·1000 ⟺ u·1000 ⋈⁻¹ C)
      case GreaterThanOrEqual(Literal(c: Long, LongType), NanosOfTs(a)) =>
        LessThanOrEqual(a, tsLit(floorDiv1000(c), a))
      case GreaterThan(Literal(c: Long, LongType), NanosOfTs(a)) if ceilDiv1000(c).isDefined =>
        LessThan(a, tsLit(ceilDiv1000(c).get, a))
      case LessThanOrEqual(Literal(c: Long, LongType), NanosOfTs(a)) if ceilDiv1000(c).isDefined =>
        GreaterThanOrEqual(a, tsLit(ceilDiv1000(c).get, a))
      case LessThan(Literal(c: Long, LongType), NanosOfTs(a)) =>
        GreaterThan(a, tsLit(floorDiv1000(c), a))
      case EqualTo(Literal(c: Long, LongType), NanosOfTs(a)) if c % 1000L == 0L =>
        EqualTo(a, tsLit(c / 1000L, a))
      // null-safe equality: unlike EqualTo, a non-divisible literal CAN be
      // folded — <=> never returns NULL, and no nanos value off the
      // 1000-lattice is reachable, so the result is constant false
      case EqualNullSafe(NanosOfTs(a), Literal(c: Long, LongType)) =>
        if (c % 1000L == 0L) EqualNullSafe(a, tsLit(c / 1000L, a))
        else { introducedFalse = true; Literal.FalseLiteral }
      case EqualNullSafe(Literal(c: Long, LongType), NanosOfTs(a)) =>
        if (c % 1000L == 0L) EqualNullSafe(a, tsLit(c / 1000L, a))
        else { introducedFalse = true; Literal.FalseLiteral }
      // IN over literal nanos: off-lattice values can never match and are
      // dropped; at least one must survive (`a IN (…)` with a NULL input
      // yields NULL only while the list is non-empty, so an empty rewrite
      // would flip NULL→FALSE in projection contexts)
      case In(NanosOfTs(a), list)
          if list.nonEmpty && list.forall {
            case Literal(_: Long, LongType) => true; case _ => false
          } && list.exists { case Literal(c: Long, LongType) => c % 1000L == 0L } =>
        In(a, list.collect {
          case Literal(c: Long, LongType) if c % 1000L == 0L => tsLit(c / 1000L, a)
        })
    }
    // At pre-CBO, PruneFilters has already run, so a FalseLiteral this rule
    // just introduced would survive as FilterExec(false) over a full scan
    // (r8 review finding). Collapse it here, exactly as PruneFilters would
    // have: Filter(false) over a non-streaming child → empty relation.
    if (!introducedFalse) rewritten
    else rewritten.transform {
      case Filter(Literal(false, org.apache.spark.sql.types.BooleanType), child)
          if !child.isStreaming =>
        LocalRelation(child.output, data = Seq.empty, isStreaming = false)
    }
  }
}
