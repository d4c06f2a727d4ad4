package graft.prune

import graft.catalog.{ChunkMeta, ColumnStats}

/** Literal values a predicate can carry — mirrors the reference's PredicateValue
  * (src/metadata/predicates.rs:10-27): String / Int64 / Float64 / Boolean / Null.
  */
sealed trait PValue
object PValue {
  final case class S(v: String) extends PValue
  final case class I(v: Long) extends PValue
  final case class F(v: Double) extends PValue
  final case class B(v: Boolean) extends PValue
  case object Null extends PValue
}

/** Column predicate ADT — mirrors ColumnPredicate (reference
  * src/metadata/predicates.rs:10-51). Used for zone-map chunk pruning ahead of the
  * Parquet scan; Catalyst then re-prunes row groups from Parquet footers (the same
  * two-tier scheme as the reference: metadata prune then Parquet prune).
  */
sealed trait ColumnPredicate {
  import ColumnPredicate._

  /** Conservative zone-map evaluation: keep the chunk iff it MIGHT match — port of
    * evaluate_against_stats (reference src/metadata/predicates.rs:53-212).
    * NotEq / NotIn / Not always keep; missing stats keep.
    */
  def evaluateAgainstStats(stats: Map[String, ColumnStats]): Boolean = this match {
    case And(l, r) => l.evaluateAgainstStats(stats) && r.evaluateAgainstStats(stats)
    case Or(l, r) => l.evaluateAgainstStats(stats) || r.evaluateAgainstStats(stats)
    case Not(_) => true // conservative: cannot prune on negation with only min/max
    case NotEq(_, _) => true
    case NotIn(_, _) => true
    case Eq(col, v) => withRange(stats, col, v) { (min, max, x) => min <= x && x <= max }
    case Lt(col, v) => withRange(stats, col, v) { (min, _, x) => min < x }
    case LtEq(col, v) => withRange(stats, col, v) { (min, _, x) => min <= x }
    case Gt(col, v) => withRange(stats, col, v) { (_, max, x) => max > x }
    case GtEq(col, v) => withRange(stats, col, v) { (_, max, x) => max >= x }
    case In(col, vs) => vs.isEmpty || vs.exists(v => Eq(col, v).evaluateAgainstStats(stats))
    case Between(col, lo, hi) =>
      // interval overlap: [min,max] ∩ [lo,hi] ≠ ∅
      GtEq(col, lo).evaluateAgainstStats(stats) && LtEq(col, hi).evaluateAgainstStats(stats)
    case IsNull(col) => stats.get(col).forall(_.hasNulls || stats.get(col).isEmpty) ||
      stats.get(col).exists(_.hasNulls) || !stats.contains(col)
    case IsNotNull(_) => true
  }

  /** Keep-or-prune for a whole chunk. */
  def keepChunk(chunk: ChunkMeta): Boolean = evaluateAgainstStats(chunk.columnStats)
}

object ColumnPredicate {
  final case class Eq(col: String, v: PValue) extends ColumnPredicate
  final case class NotEq(col: String, v: PValue) extends ColumnPredicate
  final case class Lt(col: String, v: PValue) extends ColumnPredicate
  final case class LtEq(col: String, v: PValue) extends ColumnPredicate
  final case class Gt(col: String, v: PValue) extends ColumnPredicate
  final case class GtEq(col: String, v: PValue) extends ColumnPredicate
  final case class In(col: String, vs: Seq[PValue]) extends ColumnPredicate
  final case class NotIn(col: String, vs: Seq[PValue]) extends ColumnPredicate
  final case class Between(col: String, lo: PValue, hi: PValue) extends ColumnPredicate
  final case class And(l: ColumnPredicate, r: ColumnPredicate) extends ColumnPredicate
  final case class Or(l: ColumnPredicate, r: ColumnPredicate) extends ColumnPredicate
  final case class Not(p: ColumnPredicate) extends ColumnPredicate
  final case class IsNull(col: String) extends ColumnPredicate
  final case class IsNotNull(col: String) extends ColumnPredicate

  /** Compare a literal against a column's [min,max] when types line up; keep (true)
    * when stats are missing or the comparison is cross-typed — same conservatism as
    * the reference (predicates.rs:139-212: "missing stats ⇒ keep").
    */
  private def withRange(stats: Map[String, ColumnStats], col: String, v: PValue)
                       (cmp: (Double, Double, Double) => Boolean): Boolean =
    stats.get(col) match {
      case None => true
      case Some(s) =>
        (v, s) match {
          case (PValue.S(x), ColumnStats(Some(min), Some(max), _, _, _, _, _)) =>
            cmpString(min, max, x)(cmp)
          case (PValue.I(x), ColumnStats(_, _, Some(min), Some(max), _, _, _)) =>
            cmp(min.toDouble, max.toDouble, x.toDouble)
          case (PValue.F(x), ColumnStats(_, _, _, _, Some(min), Some(max), _)) =>
            cmp(min, max, x)
          case (PValue.I(x), ColumnStats(_, _, _, _, Some(min), Some(max), _)) =>
            cmp(min, max, x.toDouble)
          case (PValue.F(x), ColumnStats(_, _, Some(min), Some(max), _, _, _)) =>
            cmp(min.toDouble, max.toDouble, x)
          case _ => true
        }
    }

  /** String ranges use lexicographic comparison mapped onto the same 3-way shape. */
  private def cmpString(min: String, max: String, x: String)
                       (cmp: (Double, Double, Double) => Boolean): Boolean = {
    // Encode the 3-way comparisons as synthetic doubles preserving order relative to x.
    def rel(a: String): Double = math.signum(a.compareTo(x)).toDouble
    cmp(rel(min), rel(max), 0.0)
  }
}

/** Inclusive ns time range. */
final case class TimeRange(startNs: Long, endNs: Long)

object PredicateExtraction {

  import org.apache.spark.sql.catalyst.{expressions => cx}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}

  val DefaultWindowNs: Long = 3600L * 1000000000L

  /** The conjuncts that bound each `metrics` leaf ([[graft.plans.MetricsScan]])
    * of an OPTIMIZED plan, subqueries and CTE definitions included: one entry
    * per scan, each Filter conjunct above a scan that reads only that scan's
    * columns. The Spark-side equivalent of the reference's walk of the resolved plan
    * (src/query/engine.rs:368-487): Catalyst's pushdown has already moved
    * each scan's own conditions (qualified columns, join and CTE bodies,
    * folded now() and literal arithmetic) onto it, and a condition it cannot
    * push (above a Window, a Limit, a non-deterministic Project) still
    * names the scan's columns by their ids, so it bounds that scan and no
    * other. A plan with no scan left (`SELECT 1`, a Filter folded to false)
    * reads as one unfiltered scan, like a statement with no bound.
    */
  def scanConjuncts(plan: LogicalPlan): Seq[Seq[cx.Expression]] = {
    def walk(p: LogicalPlan, above: Seq[cx.Expression]): Seq[Seq[cx.Expression]] =
      p.subqueries.flatMap(walk(_, Nil)) ++ (p match {
        case leaf: graft.plans.MetricsScan =>
          Seq(above.filter(_.references.subsetOf(leaf.outputSet)))
        case Filter(cond, child) => walk(child, above ++ splitConjuncts(cond))
        case other => other.children.flatMap(walk(_, above))
      })
    Some(walk(plan, Nil)).filter(_.nonEmpty).getOrElse(Seq(Nil))
  }

  /** True iff the range [[extract]] finds moves with `nowNs`: some scan
    * bounds no time and references none, so it reads the default last-1-hour
    * window ending at `nowNs` (engine.rs:378-385).
    */
  def readsDefaultWindow(scans: Seq[Seq[cx.Expression]]): Boolean =
    scans.exists(scanOf(_)._1.isEmpty)

  /** (timeRange, columnPredicates) of a statement from its [[scanConjuncts]]:
    * time predicates on `timestamp`/`timestamp_ns`/`time`/`ts` contribute
    * bounds (ns-normalized); everything else becomes ColumnPredicates. Each
    * scan is extracted on its own, identical scans once, and the statement
    * selects the union of their chunk sets: one scan gives its own (range,
    * preds); several give their hull and one `Or` of each scan's
    * `Between(timestamp_ns, lo, hi)` AND its predicates.
    */
  def extract(scans: Seq[Seq[cx.Expression]], nowNs: Long): (TimeRange, Seq[ColumnPredicate]) = {
    import ColumnPredicate._
    val found = scans.map(scanOf).map { case (range, preds) =>
      (range.getOrElse(TimeRange(nowNs - DefaultWindowNs, nowNs)), preds)
    }.distinct
    if (found.size == 1) found.head
    else (TimeRange(found.map(_._1.startNs).min, found.map(_._1.endNs).max),
      Seq(found.map { case (r, preds) =>
        (Between("timestamp_ns", PValue.I(r.startNs), PValue.I(r.endNs)) +: preds).reduce(And)
      }.reduce(Or)))
  }

  /** One scan's time range (None: the default window) and column predicates.
    * An `IsNotNull` on a column another conjunct of the scan reads is the
    * optimizer's inference from that conjunct, and is skipped: it is neither
    * a bound nor a time reference.
    */
  private def scanOf(conjuncts: Seq[cx.Expression]): (Option[TimeRange], Seq[ColumnPredicate]) = {
    var lo: Option[Long] = None
    var hi: Option[Long] = None
    // A time-column reference we could NOT convert to a bound (opaque function,
    // OR branch without bounds, …). When set and no bounds were found, the
    // default last-1-hour window would silently drop matching rows — fall back
    // to the full range instead (the reference widens bounds through Or the
    // same way, engine.rs:456-459).
    var unconvertedTimeRef = false
    val preds = Seq.newBuilder[ColumnPredicate]

    def bumpLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
    def bumpHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))

    val compared = cx.AttributeSet(conjuncts.filterNot(_.isInstanceOf[cx.IsNotNull]).flatMap(_.references))
    conjuncts.filterNot {
      case n: cx.IsNotNull => n.references.subsetOf(compared)
      case _ => false
    }.foreach { c =>
      val (blo, bhi) = boundsOf(c)
      blo.foreach(bumpLo)
      bhi.foreach(bumpHi)
      if (blo.isEmpty && bhi.isEmpty && referencesTime(c)) unconvertedTimeRef = true
      if (timeBound(c).isEmpty) toPredicate(c).foreach(preds += _)
    }
    val range = (lo, hi) match {
      case (None, None) =>
        if (unconvertedTimeRef) Some(TimeRange(Long.MinValue, Long.MaxValue)) else None
      case (l, h) => Some(TimeRange(l.getOrElse(Long.MinValue), h.getOrElse(Long.MaxValue)))
    }
    (range, preds.result())
  }

  /** Time bounds implied by an arbitrary boolean expression: AND intersects
    * (tightest), OR unions (loosest — an OR branch with no bound on a side makes
    * the whole OR unbounded on that side). This is how `ts >= X OR host = 'a'`
    * correctly yields NO lower bound, and `(w1) OR (w2)` yields the union window.
    */
  private def boundsOf(e: cx.Expression): (Option[Long], Option[Long]) = e match {
    case cx.And(l, r) =>
      val (llo, lhi) = boundsOf(l); val (rlo, rhi) = boundsOf(r)
      (pickOpt(llo, rlo)(math.max), pickOpt(lhi, rhi)(math.min))
    case cx.Or(l, r) =>
      val (llo, lhi) = boundsOf(l); val (rlo, rhi) = boundsOf(r)
      (for { a <- llo; b <- rlo } yield math.min(a, b),
       for { a <- lhi; b <- rhi } yield math.max(a, b))
    case other => timeBound(other) match {
      case Some((isLower, isUpper, ns)) =>
        (if (isLower) Some(ns) else None, if (isUpper) Some(ns) else None)
      case None => (None, None)
    }
  }

  private def pickOpt(a: Option[Long], b: Option[Long])(f: (Long, Long) => Long): Option[Long] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(f(x, y))
      case _ => a.orElse(b)
    }

  private def referencesTime(e: cx.Expression): Boolean =
    e.references.exists(a => timeCols.contains(a.name.toLowerCase))

  private def splitConjuncts(e: cx.Expression): Seq[cx.Expression] = e match {
    case cx.And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private val timeCols = Set("timestamp", "timestamp_ns", "time", "ts")

  private def colName(e: cx.Expression): Option[String] = e match {
    case a: cx.AttributeReference => Some(a.name.toLowerCase)
    case cx.Cast(child, _, _, _) => colName(child)
    case _ => None
  }

  /** Normalize a time literal to ns: heuristically detect s / ms / µs / ns magnitude
    * like the reference (engine.rs:430-470), plus native timestamp literals (µs).
    * Applied ONLY to the non-ns time columns (`timestamp`/`time`/`ts`) — literals
    * compared against `timestamp_ns` are raw ns, matching the reference's Int64
    * pass-through (engine.rs:483); rescaling a legitimately small raw-ns epoch
    * would prune every chunk.
    */
  def normalizeToNs(v: Long): Long =
    if (v < 100000000000L) scaled(v, 1000000000L) // seconds (pre-5138 CE)
    else if (v < 100000000000000L) scaled(v, 1000000L) // milliseconds
    else if (v < 100000000000000000L) scaled(v, 1000L) // microseconds
    else v // nanoseconds

  /** `v * unit`, saturated at Long.MinValue / Long.MaxValue: a bound past
    * 2262-04-11 (or before 1677-09-21) is beyond every chunk's ns range, not
    * an overflowed value on the other side of it.
    */
  private def scaled(v: Long, unit: Long): Long =
    if (v > Long.MaxValue / unit) Long.MaxValue
    else if (v < Long.MinValue / unit) Long.MinValue
    else v * unit

  private def literalNs(e: cx.Expression, rawNsCol: Boolean): Option[Long] = e match {
    case cx.Literal(v: Long, t) => t match {
      case org.apache.spark.sql.types.TimestampType => Some(scaled(v, 1000L)) // µs → ns
      case _ => Some(if (rawNsCol) v else normalizeToNs(v))
    }
    case cx.Literal(v: Int, _) => Some(if (rawNsCol) v.toLong else normalizeToNs(v.toLong))
    case cx.Cast(child, _, _, _) => literalNs(child, rawNsCol)
    case _ => None
  }

  /** Returns (contributesLowerBound, contributesUpperBound, ns). Strict bounds are
    * tightened by 1 ns (exact at the engine's resolution) so `ts < H` does not keep
    * the chunk that starts exactly at H.
    */
  private def timeBound(e: cx.Expression): Option[(Boolean, Boolean, Long)] = {
    def ns(c: cx.Expression, l: cx.Expression): Option[Long] =
      literalNs(l, rawNsCol = colName(c).contains("timestamp_ns"))
    e match {
      case cx.GreaterThan(c, l) if isTime(c) => ns(c, l).map(v => (true, false, v + 1))
      case cx.GreaterThanOrEqual(c, l) if isTime(c) => ns(c, l).map(v => (true, false, v))
      case cx.LessThan(c, l) if isTime(c) => ns(c, l).map(v => (false, true, v - 1))
      case cx.LessThanOrEqual(c, l) if isTime(c) => ns(c, l).map(v => (false, true, v))
      case cx.EqualTo(c, l) if isTime(c) => ns(c, l).map(v => (true, true, v))
      // reversed literal-op-column forms
      case cx.GreaterThan(l, c) if isTime(c) => ns(c, l).map(v => (false, true, v - 1))
      case cx.GreaterThanOrEqual(l, c) if isTime(c) => ns(c, l).map(v => (false, true, v))
      case cx.LessThan(l, c) if isTime(c) => ns(c, l).map(v => (true, false, v + 1))
      case cx.LessThanOrEqual(l, c) if isTime(c) => ns(c, l).map(v => (true, false, v))
      case _ => None
    }
  }

  private def isTime(e: cx.Expression): Boolean = colName(e).exists(timeCols.contains)

  private def litValue(e: cx.Expression): Option[PValue] = e match {
    case cx.Literal(null, _) => Some(PValue.Null)
    case cx.Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => Some(PValue.S(v.toString))
    case cx.Literal(v: String, _) => Some(PValue.S(v))
    case cx.Literal(v: Long, _) => Some(PValue.I(v))
    case cx.Literal(v: Int, _) => Some(PValue.I(v.toLong))
    case cx.Literal(v: Short, _) => Some(PValue.I(v.toLong))
    case cx.Literal(v: Double, _) => Some(PValue.F(v))
    case cx.Literal(v: Float, _) => Some(PValue.F(v.toDouble))
    case cx.Literal(v: Boolean, _) => Some(PValue.B(v))
    case cx.Literal(v: java.math.BigDecimal, _) => Some(PValue.F(v.doubleValue))
    case cx.Literal(v: org.apache.spark.sql.types.Decimal, _) => Some(PValue.F(v.toDouble))
    case cx.Cast(child, _, _, _) => litValue(child)
    case _ => None
  }

  /** Convert a Catalyst boolean expression to a ColumnPredicate where possible;
    * timestamp predicates are excluded (handled by time-range extraction), and
    * unconvertible expressions yield None (⇒ no pruning contribution — safe).
    */
  def toPredicate(e: cx.Expression): Option[ColumnPredicate] = {
    import ColumnPredicate._
    def cp(c: cx.Expression, l: cx.Expression)(f: (String, PValue) => ColumnPredicate) =
      for { n <- colName(c); if !timeCols.contains(n); v <- litValue(l) } yield f(n, v)
    e match {
      case cx.EqualTo(c, l) => cp(c, l)(Eq).orElse(cp(l, c)(Eq))
      case cx.Not(cx.EqualTo(c, l)) => cp(c, l)(NotEq).orElse(cp(l, c)(NotEq))
      case cx.LessThan(c, l) => cp(c, l)(Lt).orElse(cp(l, c)(Gt))
      case cx.LessThanOrEqual(c, l) => cp(c, l)(LtEq).orElse(cp(l, c)(GtEq))
      case cx.GreaterThan(c, l) => cp(c, l)(Gt).orElse(cp(l, c)(Lt))
      case cx.GreaterThanOrEqual(c, l) => cp(c, l)(GtEq).orElse(cp(l, c)(LtEq))
      case cx.In(c, list) =>
        for {
          n <- colName(c); if !timeCols.contains(n)
          vs = list.flatMap(litValue); if vs.length == list.length
        } yield In(n, vs)
      // the optimizer's form of an IN list longer than
      // spark.sql.optimizer.inSetConversionThreshold (10 values)
      case cx.InSet(c, set) => toPredicate(cx.In(c, set.toSeq.map(cx.Literal(_, c.dataType))))
      case cx.Not(cx.In(c, list)) =>
        for {
          n <- colName(c); if !timeCols.contains(n)
          vs = list.flatMap(litValue); if vs.length == list.length
        } yield NotIn(n, vs)
      case cx.And(l, r) =>
        (toPredicate(l), toPredicate(r)) match {
          case (Some(a), Some(b)) => Some(And(a, b))
          case (a, b) => a.orElse(b) // partial conjunction still safely prunes
        }
      case cx.Or(l, r) =>
        // OR needs BOTH sides convertible to stay conservative
        for { a <- toPredicate(l); b <- toPredicate(r) } yield Or(a, b)
      case cx.Not(inner) => toPredicate(inner).map(Not)
      case cx.IsNull(c) => colName(c).filterNot(timeCols.contains).map(IsNull)
      case cx.IsNotNull(c) => colName(c).filterNot(timeCols.contains).map(IsNotNull)
      case _ => None
    }
  }
}
