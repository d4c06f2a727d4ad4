package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{col, expr => sqlExpr, max => fMax, min => fMin, round => fRound, sum => fSum}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}
import graft.catalog.RollupMeta
import graft.schema.MetricSchema

/** Resolution-based rollup routing — the engine-side completion of the
  * reference's configured-but-unimplemented `downsample_after_days`
  * (src/compactor/mod.rs:70-91), and the dashboard-zoom-out path of every
  * production metrics store (Thanos/M3-style): a bucketed aggregate whose
  * step is a whole multiple of a registered rollup's resolution, whose time
  * bounds are bucket-aligned and inside the rollup's coverage, and whose
  * grouping/filter columns the rollup retains, is answered by re-bucketing
  * the (resolution/avg-interval times smaller) rollup table — EXACTLY,
  * because every stored component is associative (sum/min/max/count merge;
  * avg derives last as Σsum/Σvalue_count).
  *
  * The match runs on the ANALYZED plan of the user's SQL over the engine's
  * `metrics` relation, so routing is transparent: same SQL text answers from raw
  * chunks when no rollup qualifies. Anything the matcher does not fully
  * understand routes to raw — the rewrite is never allowed to be lossy.
  *
  * Supported plan surface (the transpiler's and the SQL dialect's bucketed
  * aggregates): [Sort] → Aggregate → [Filter] → metrics relation, where
  *  - group keys: `(timestamp_ns div S) * S`, metric_name, rollup labels;
  *  - aggregates: avg/min/max/sum/count over value_f64, count(*) — optionally
  *    wrapped in round(_, d);
  *  - filters: conjuncts over timestamp_ns (literal bounds, bucket-aligned)
  *    and over metric_name / rollup label columns (any deterministic pred).
  */
object RollupRouting {

  /** Try every registered rollup, coarsest resolution first (fewest rows read).
    *
    * `registeredChunkPaths` is the engine's OWN metrics relation identity: the
    * rewrite fires only when the plan's leaf scans exactly those files.
    * Without the check, any user SQL over an unrelated table that happens to
    * carry the metrics column names (a staging import, another tenant's view)
    * would silently be answered from THIS warehouse's rollup.
    */
  def route(spark: SparkSession, rollups: Seq[RollupMeta],
            analyzed: LogicalPlan,
            registeredChunkPaths: Seq[String]): Option[DataFrame] = {
    val candidates = rollups.sortBy(-_.resolutionSeconds)
    val expected = registeredChunkPaths.map(normalizePath).toSet
    candidates.view.flatMap(r => routeOne(spark, r, analyzed, expected)).headOption
  }

  private def normalizePath(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  // ---- plan matching -------------------------------------------------------

  private val tsCol = MetricSchema.TimestampNsCol
  private val valueCol = MetricSchema.ValueF64

  /** What a SELECT-list item maps to over the rollup table. */
  private sealed trait Out
  private case class GroupBucket(stepNs: Long) extends Out
  // date_trunc form: same bucket arithmetic, TimestampType output
  private case class GroupBucketTs(stepNs: Long) extends Out
  private case class GroupCol(name: String) extends Out
  private case class Agg(kind: String, roundScale: Option[Int]) extends Out

  private def bucketStepOf(o: Out): Option[Long] = o match {
    case GroupBucket(s) => Some(s)
    case GroupBucketTs(s) => Some(s)
    case _ => None
  }

  private def routeOne(spark: SparkSession, rollup: RollupMeta,
                       analyzed: LogicalPlan,
                       expectedPaths: Set[String]): Option[DataFrame] = {
    val resNs = rollup.resolutionSeconds * 1000000000L

    // [Sort] on top (re-applied after the rewrite, by output-column name)
    val (sortOrders, core) = analyzed match {
      case Sort(orders, true, child, _) => (orders, child)
      case p => (Nil, p)
    }
    val agg = core match {
      case a: Aggregate => a
      case _ => return None
    }
    // [Filter] → metrics leaf (through view/alias wrappers)
    val (conjuncts, leafOk) = stripToRelation(agg.child, expectedPaths)
    if (!leafOk) return None

    val groupable = Set(MetricSchema.MetricNameCol) ++ rollup.labelCols

    // -- classify grouping keys (div-mul ns bucket OR date_trunc form)
    var stepNs: Option[Long] = None
    val groupOk = agg.groupingExpressions.forall {
      case a: AttributeReference if groupable(a.name) => true
      case e => bucketStep(e).orElse(truncStep(e)) match {
        case Some(s) if stepNs.forall(_ == s) => stepNs = Some(s); true
        case _ => false
      }
    }
    if (!groupOk) return None
    if (stepNs.exists(s => s <= 0 || s % resNs != 0)) return None

    // -- classify the SELECT list
    val outs: Seq[(String, Out)] = agg.aggregateExpressions.map {
      case al @ Alias(child, name) => name -> classifyOut(child, groupable)
      case a: AttributeReference if groupable(a.name) => a.name -> Some(GroupCol(a.name))
      case a: AttributeReference => a.name -> None
      case _ => "" -> None
    }.map { case (n, o) => o match {
      case Some(out) => n -> out
      case None => return None
    }}
    // bucket keys in the SELECT must agree with the GROUP BY step
    if (outs.exists { case (_, o) => bucketStepOf(o).exists(s => !stepNs.contains(s)) })
      return None

    // -- classify filters: aligned time bounds + rollup-column predicates
    var lower: Option[Long] = None // inclusive ns
    var upper: Option[Long] = None // exclusive ns
    // every conjunct must individually qualify (else the whole match aborts);
    // time conjuncts (on timestamp_ns OR the µs timestamp column) are fully
    // absorbed into [lower, upper) and reapplied as one time_bucket range;
    // label conjuncts transplant verbatim
    val labelConjuncts = Seq.newBuilder[Expression]
    conjuncts.foreach { c =>
      val refs = c.references.map(_.name).toSet
      if (refs == Set(tsCol)) {
        timeBound(c, resNs) match {
          case Some((lo, hi)) =>
            lo.foreach(l => lower = Some(lower.fold(l)(math.max(_, l))))
            hi.foreach(h => upper = Some(upper.fold(h)(math.min(_, h))))
          case None => return None // unaligned / unsupported time predicate
        }
      } else if (refs == Set(tsMicrosCol)) {
        timeBoundMicros(c, resNs) match {
          case Some((lo, hi)) =>
            lo.foreach(l => lower = Some(lower.fold(l)(math.max(_, l))))
            hi.foreach(h => upper = Some(upper.fold(h)(math.min(_, h))))
          case None => return None
        }
      } else if (refs.nonEmpty && refs.subsetOf(groupable) && c.deterministic) {
        labelConjuncts += c // label/metric predicate — transfers verbatim
      } else return None
    }
    // coverage: the query's time window must sit inside the rollup's
    (lower, upper) match {
      case (Some(lo), Some(hi))
        if lo >= rollup.minBucketNs && hi <= rollup.maxCoveredNsExclusive => ()
      case _ => return None // unbounded or outside coverage → raw
    }

    // ---- build the equivalent query over the rollup table ------------------
    val ru = spark.read.parquet(rollup.path)
    // time predicates were absorbed into [lower, upper) — reapply as ONE
    // time_bucket range (exact per the alignment proofs in timeBound /
    // timeBoundMicros); label/metric predicates transfer verbatim by name
    val timeFiltered = ru.filter(
      col("time_bucket") >= lower.get && col("time_bucket") < upper.get)
    val filtered0 = labelConjuncts.result().foldLeft(timeFiltered) { (d, c) =>
      d.filter(org.apache.spark.sql.GraftBridge.column(transplant(c)))
    }
    // the re-bucketed key is materialized as a named column up front so the
    // final projection can reference it after the aggregate
    val filtered = stepNs.fold(filtered0)(s =>
      filtered0.withColumn("__rebucket", sqlExpr(s"(time_bucket div $s) * $s")))
    val groupCols: Seq[Column] = agg.groupingExpressions.map {
      case a: AttributeReference => col(a.name)
      case _ => col("__rebucket")
    }
    val aggCols: Seq[Column] = outs.collect { case (name, Agg(kind, scale)) =>
      val base = kind match {
        case "sum" => fSum("sum_value")
        case "min" => fMin("min_value")
        case "max" => fMax("max_value")
        case "count_star" => fSum("sample_count")
        case "count_value" => fSum("value_count")
        case "avg" => fSum("sum_value") / fSum("value_count")
      }
      scale.fold(base)(d => fRound(base, d)).as(name)
    }
    if (aggCols.isEmpty) return None // pure-distinct shape: not a rollup query
    val grouped = filtered.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)
    // project to the original SELECT order/names
    val projected = grouped.select(outs.map {
      case (name, GroupBucket(_)) => col("__rebucket").cast(LongType).as(name)
      // ns bucket → µs → TimestampType: exact, resNs is a multiple of 1000
      case (name, GroupBucketTs(_)) =>
        sqlExpr("timestamp_micros(__rebucket div 1000)").as(name)
      case (name, GroupCol(c)) => col(c).as(name)
      case (name, _: Agg) => col(name)
    }: _*)
    // re-apply the outer ORDER BY through the output-name mapping
    val nameById = agg.aggregateExpressions.map(ne => ne.exprId -> ne.name).toMap
    val sorted =
      if (sortOrders.isEmpty) projected
      else {
        val cols = sortOrders.map { so =>
          so.child match {
            case a: AttributeReference =>
              val c = col(nameById.getOrElse(a.exprId, return None))
              if (so.direction == Ascending) c.asc else c.desc
            case _ => return None
          }
        }
        projected.orderBy(cols: _*)
      }
    Some(sorted)
  }

  /** Descend through view/alias wrappers, collecting Filter conjuncts; true
    * iff the leaf IS the engine's `metrics` scan — a file relation over
    * exactly the engine's pruned chunk paths. A file
    * relation over anything else (a user's own parquet table with the same
    * column names) must NOT be rewritten. The only accepted non-file leaf is
    * the engine's empty-warehouse placeholder, and only when the engine has
    * no registered paths at all.
    */
  private def stripToRelation(plan: LogicalPlan,
                              expectedPaths: Set[String]): (Seq[Expression], Boolean) =
    plan match {
      case Filter(cond, child) =>
        val (cs, ok) = stripToRelation(child, expectedPaths)
        (splitConjuncts(cond) ++ cs, ok)
      case SubqueryAlias(_, child) => stripToRelation(child, expectedPaths)
      case v: View => stripToRelation(v.child, expectedPaths)
      // the engine's one-task scan of a small chunk set (QueryEngine.relationOf)
      case Repartition(1, false, child) => stripToRelation(child, expectedPaths)
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val roots = fs.location.rootPaths.map(p => p.toUri.getPath).toSet
            (Nil, roots.nonEmpty && roots == expectedPaths)
          case _ => (Nil, false)
        }
      // No other leaf qualifies — a LocalRelation/LogicalRDD with metrics-
      // shaped columns could be a USER's table (and with an empty pruned
      // path set, routing could only restate an empty answer anyway).
      case _ => (Nil, false)
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def longLit(e: Expression): Option[Long] = e match {
    case _ if e.foldable && (e.dataType == LongType || e.dataType == IntegerType) =>
      e.eval(null) match {
        case l: java.lang.Long => Some(l)
        case i: java.lang.Integer => Some(i.toLong)
        case _ => None
      }
    case _ => None
  }

  /** The named attribute, optionally under NO-OP casts only. Unwrapping an
    * arbitrary Cast would be unsound: `CAST(timestamp AS DATE)` (a day-floor)
    * re-cast to timestamp, or a lossy long→double on an ns column, would
    * match as the plain column and route to wrong buckets/bounds. A cast
    * whose target type equals its child's type cannot change the value.
    */
  private def attrNamed(e: Expression, name: String): Boolean = e match {
    case a: AttributeReference => a.name == name
    case c: Cast if c.dataType == c.child.dataType => attrNamed(c.child, name)
    case _ => false
  }

  private val tsMicrosCol = MetricSchema.TimestampCol

  /** True when the zone truncates exactly like UTC at every instant (fixed
    * zero offset — UTC, GMT, Etc/UTC). Required for hour/day date_trunc
    * routing: a non-zero or DST-shifting offset moves hour/day boundaries
    * off the rollup's UTC-epoch-aligned buckets (e.g. +05:45, half-hour DST).
    */
  private def utcEquivalent(zone: java.time.ZoneId): Boolean = {
    val rules = zone.getRules
    rules.isFixedOffset &&
      rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
  }

  /** True when every offset the zone uses from epoch 0 onward is a whole
    * number of minutes — then minute truncation coincides with UTC minute
    * truncation regardless of the zone (all post-1972 IANA offsets qualify;
    * the check guards the pre-1972 second-precision LMT corner).
    */
  private def wholeMinuteOffsets(zone: java.time.ZoneId): Boolean = {
    import scala.jdk.CollectionConverters._
    val rules = zone.getRules
    def whole(off: java.time.ZoneOffset) = off.getTotalSeconds % 60 == 0
    whole(rules.getOffset(java.time.Instant.EPOCH)) &&
      rules.getTransitions.asScala
        .filter(!_.getInstant.isBefore(java.time.Instant.EPOCH))
        .forall(t => whole(t.getOffsetAfter)) &&
      rules.getTransitionRules.asScala.forall(r =>
        whole(r.getOffsetAfter) && whole(r.getStandardOffset))
  }

  /** `date_trunc('minute'|'hour'|'day', timestamp)` — the reference's own
    * acceptance idiom (README.md:208, scripts/telemetry/query-pack/
    * postrun.sql:1) — is bucket alignment with S ∈ {60, 3600, 86400} s on the
    * µs `timestamp` column (an exact ns-div-1000 of timestamp_ns at ingest),
    * PROVIDED the session timezone's truncation boundaries coincide with
    * UTC-epoch multiples (see utcEquivalent / wholeMinuteOffsets). Returns
    * the step in ns, or None when the shape or the zone disqualifies.
    */
  private def truncStep(e: Expression): Option[Long] = e match {
    case t: TruncTimestamp if attrNamed(t.timestamp, tsMicrosCol) =>
      val unit = t.format match {
        case Literal(s, StringType) if s != null => Some(s.toString.toLowerCase)
        case _ => None
      }
      val stepSec = unit.flatMap {
        case "second" => Some(1L)
        case "minute" => Some(60L)
        case "hour" => Some(3600L)
        case "day" | "dd" => Some(86400L)
        case _ => None // week/month/...: not fixed-width buckets
      }
      // the plan is analyzed, so ResolveTimeZone has pinned timeZoneId;
      // a missing one means "not the shape we proved" → refuse
      stepSec.flatMap { s =>
        t.timeZoneId.flatMap { tz =>
          val zone = java.time.ZoneId.of(tz)
          val zoneOk =
            if (s <= 1L) true // second truncation is zone-independent
            else if (s <= 60L) wholeMinuteOffsets(zone)
            else utcEquivalent(zone)
          if (zoneOk) Some(s * 1000000000L) else None
        }
      }
    case _ => None
  }

  /** Aligned literal bound on the µs `timestamp` column → ns bounds.
    * Ingest pins `timestamp` = floor(timestamp_ns / 1000) µs, so with L in µs
    * aligned to the resolution (L·1000 % resNs == 0):
    *   ts >= L  ⇔ ns >= L·1000        — exact bucket bound
    *   ts <  L  ⇔ ns <  L·1000        — exact bucket bound
    *   ts >  L  ⇔ ns >= (L+1)·1000    — aligned only if (L+1)·1000 is (never
    *   ts <= L  ⇔ ns <  (L+1)·1000      for res ≥ 1 s) → rejected
    */
  private def timeBoundMicros(c: Expression, resNs: Long): Option[(Option[Long], Option[Long])] = {
    def micros(e: Expression): Option[Long] = e match {
      case _ if e.foldable && e.dataType == TimestampType =>
        e.eval(null) match {
          // reject magnitudes where (v+1)*1000 could overflow (beyond ~year
          // 2262): a wrapped product can pass aligned() and silently route to
          // an empty rollup slice instead of falling back to raw
          case l: java.lang.Long if math.abs(l.longValue) < Long.MaxValue / 1000L - 1L =>
            Some(l)
          case _ => None
        }
      case _ => None
    }
    def aligned(us: Long): Boolean = (us * 1000L) % resNs == 0
    c match {
      case GreaterThanOrEqual(l, r) if attrNamed(l, tsMicrosCol) =>
        micros(r).filter(aligned).map(v => (Some(v * 1000L), None))
      case LessThan(l, r) if attrNamed(l, tsMicrosCol) =>
        micros(r).filter(aligned).map(v => (None, Some(v * 1000L)))
      case GreaterThan(l, r) if attrNamed(l, tsMicrosCol) =>
        micros(r).filter(v => aligned(v + 1)).map(v => (Some((v + 1) * 1000L), None))
      case LessThanOrEqual(l, r) if attrNamed(l, tsMicrosCol) =>
        micros(r).filter(v => aligned(v + 1)).map(v => (None, Some((v + 1) * 1000L)))
      // literal-first spellings
      case LessThanOrEqual(l, r) if attrNamed(r, tsMicrosCol) =>
        micros(l).filter(aligned).map(v => (Some(v * 1000L), None))
      case GreaterThan(l, r) if attrNamed(r, tsMicrosCol) =>
        micros(l).filter(aligned).map(v => (None, Some(v * 1000L)))
      case LessThan(l, r) if attrNamed(r, tsMicrosCol) =>
        micros(l).filter(v => aligned(v + 1)).map(v => (Some((v + 1) * 1000L), None))
      case GreaterThanOrEqual(l, r) if attrNamed(r, tsMicrosCol) =>
        micros(l).filter(v => aligned(v + 1)).map(v => (None, Some((v + 1) * 1000L)))
      // closed-closed BETWEEN (see timeBound): lower at a bucket start, upper
      // at a bucket end − 1 µs — the Grafana range shape
      case b: Between if attrNamed(b.input, tsMicrosCol) =>
        (micros(b.lower), micros(b.upper)) match {
          case (Some(lo), Some(hi))
            if lo <= hi && aligned(lo) && aligned(hi + 1) =>
            Some((Some(lo * 1000L), Some((hi + 1) * 1000L)))
          case _ => None
        }
      case _ => None
    }
  }

  /** `(timestamp_ns div S) * S` (matched through evalMode variants by class). */
  private def bucketStep(e: Expression): Option[Long] = e match {
    case m: Multiply => (m.left, m.right) match {
      case (d: IntegralDivide, r) =>
        for {
          s2 <- longLit(r)
          s1 <- longLit(d.right)
          if s1 == s2 && attrNamed(d.left, tsCol)
        } yield s1
      case _ => None
    }
    case _ => None
  }

  /** One SELECT item → its rollup mapping; None = not routable. */
  private def classifyOut(e: Expression, groupable: Set[String]): Option[Out] =
    e match {
      case a: AttributeReference if groupable(a.name) => Some(GroupCol(a.name))
      case _ if bucketStep(e).isDefined => Some(GroupBucket(bucketStep(e).get))
      case _ if truncStep(e).isDefined => Some(GroupBucketTs(truncStep(e).get))
      case r: Round =>
        longLit(r.scale).flatMap(d => classifyOut(r.child, groupable).collect {
          case Agg(kind, None) => Agg(kind, Some(d.toInt))
        })
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case f: Average if attrNamed(f.child, valueCol) => Some(Agg("avg", None))
          case f: Sum if attrNamed(f.child, valueCol) => Some(Agg("sum", None))
          case f: Min if attrNamed(f.child, valueCol) => Some(Agg("min", None))
          case f: Max if attrNamed(f.child, valueCol) => Some(Agg("max", None))
          case f: Count => f.children match {
            case Seq(Literal(_, _)) => Some(Agg("count_star", None))
            case Seq(c) if attrNamed(c, valueCol) => Some(Agg("count_value", None))
            case _ => None
          }
          case _ => None
        }
      case _ => None
    }

  /** Aligned literal time bound → (inclusive lower, exclusive upper) in ns.
    * Buckets start at multiples of resNs and cover [b, b+resNs), so a bound
    * transfers verbatim from timestamp_ns to time_bucket exactly when:
    *   ts >= L (L aligned)      — bucket set {b >= L}
    *   ts >  L ((L+1) aligned)  — {b > L} = {b >= L+1}
    *   ts <  L (L aligned)      — {b < L}
    *   ts <= L ((L+1) aligned)  — {b <= L} (b+resNs <= L+1 ⇔ b <= L for multiples)
    */
  private def timeBound(c: Expression, resNs: Long): Option[(Option[Long], Option[Long])] = {
    def aligned(v: Long): Boolean = v % resNs == 0
    c match {
      case GreaterThanOrEqual(l, r) if attrNamed(l, tsCol) =>
        longLit(r).filter(aligned).map(v => (Some(v), None))
      case GreaterThan(l, r) if attrNamed(l, tsCol) =>
        longLit(r).filter(v => aligned(v + 1)).map(v => (Some(v + 1), None))
      case LessThan(l, r) if attrNamed(l, tsCol) =>
        longLit(r).filter(aligned).map(v => (None, Some(v)))
      case LessThanOrEqual(l, r) if attrNamed(l, tsCol) =>
        longLit(r).filter(v => aligned(v + 1)).map(v => (None, Some(v + 1)))
      // literal-first spellings
      case LessThanOrEqual(l, r) if attrNamed(r, tsCol) =>
        longLit(l).filter(aligned).map(v => (Some(v), None))
      case LessThan(l, r) if attrNamed(r, tsCol) =>
        longLit(l).filter(v => aligned(v + 1)).map(v => (Some(v + 1), None))
      case GreaterThan(l, r) if attrNamed(r, tsCol) =>
        longLit(l).filter(aligned).map(v => (None, Some(v)))
      case GreaterThanOrEqual(l, r) if attrNamed(r, tsCol) =>
        longLit(l).filter(v => aligned(v + 1)).map(v => (None, Some(v + 1)))
      // closed-closed BETWEEN survives analysis as a RuntimeReplaceable node
      // (the >=/<= split happens in the optimizer, after this matcher runs):
      // exact iff the lower edge is a bucket start and the upper edge is a
      // bucket end − 1 ns
      case b: Between if attrNamed(b.input, tsCol) =>
        (longLit(b.lower), longLit(b.upper)) match {
          case (Some(lo), Some(hi))
            if hi < Long.MaxValue && lo <= hi && aligned(lo) && aligned(hi + 1) =>
            Some((Some(lo), Some(hi + 1)))
          case _ => None
        }
      case _ => None
    }
  }

  /** Rebind a raw-table predicate onto the rollup table: timestamp_ns becomes
    * time_bucket (exact per timeBound's alignment proof); metric/label
    * attributes keep their names and resolve against the rollup at analysis.
    */
  private def transplant(e: Expression): Expression = e.transform {
    case a: AttributeReference =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
        Seq(if (a.name == tsCol) "time_bucket" else a.name))
  }
}
