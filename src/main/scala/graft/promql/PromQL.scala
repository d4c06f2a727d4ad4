package graft.promql

import scala.util.matching.Regex

/** Parsed PromQL — mirrors ParsedPromQL (reference
  * src/api/query/prometheus_api.rs:689-703).
  */
final case class ParsedPromQL(
    metricName: String,
    labelMatchers: Seq[LabelMatcher],
    aggregation: Option[String],
    groupBy: Seq[String],
    rangeSeconds: Option[Long],
    function: Option[String],
    /** EXTENSION: the k / q of two-arg topk/bottomk/quantile. The reference's
      * regex parser has no two-arg form (prometheus_api.rs:744-826 would fold
      * `topk(5, m)` into a garbage metric name); we parse it properly and apply
      * a real LIMIT k / percentile.
      */
    param: Option[Double] = None,
    /** EXTENSION: `offset <dur>` — evaluate the selector that far in the
      * past (real-Prometheus feature the reference's regex grammar lacks;
      * the first thing a Grafana "same time yesterday" panel uses). The
      * transpilers shift the SCANNED window back by the offset and map
      * result timestamps/buckets forward, so results line up at evaluation
      * time exactly as Prometheus reports them.
      */
    offsetSeconds: Option[Long] = None)

/** One `label op "value"` matcher; op ∈ {=, !=, =~, !~}. */
final case class LabelMatcher(label: String, op: String, value: String)

/** Regex-based PromQL parser + SQL transpiler — a faithful port of the reference's
  * (~700 LoC) prometheus_api.rs transpiler, with the single dialect change
  * `regexp_match(c,'re') IS NOT NULL` → `c RLIKE 're'` (both unanchored, so the
  * semantics line up — SURVEY.md §2.6).
  *
  * Intentionally ported quirks:
  *  - regex matchers are UNANCHORED (unlike real Prometheus) — prometheus_api.rs:727;
  *  - topk/bottomk parse but degrade to plain ORDER BY value (no k-limit) —
  *    prometheus_api.rs:899-929;
  *  - rate/irate ≈ (MAX-MIN)/range and increase/delta ≈ MAX-MIN per bucket — no
  *    counter-reset handling, no extrapolation — prometheus_api.rs:964-1013;
  *  - unknown aggregation falls back to AVG.
  */
object PromQL {

  /** COALESCE across the 3 value columns (PROM_VALUE_EXPR, prometheus_api.rs:26-27). */
  val ValueExpr =
    "COALESCE(value_f64, CAST(value_i64 AS DOUBLE), CAST(value_u64 AS DOUBLE))"

  private val aggRe: Regex =
    """^\s*(sum|avg|count|min|max|stddev|stdvar|topk|bottomk)\s*(?:by\s*\(([^)]*)\)\s*)?\((.+)\)\s*$""".r
  // EXTENSION: two-arg topk/bottomk/quantile — must match before aggRe, whose
  // greedy inner group would swallow "5, expr" whole.
  private val paramAggRe: Regex =
    """^\s*(topk|bottomk|quantile)\s*(?:by\s*\(([^)]*)\)\s*)?\(\s*([0-9]+(?:\.[0-9]+)?)\s*,\s*(.+)\)\s*$""".r
  private val paramAggByAfterRe: Regex =
    """^\s*(topk|bottomk|quantile)\s*\(\s*([0-9]+(?:\.[0-9]+)?)\s*,\s*(.+)\)\s*by\s*\(([^)]*)\)\s*$""".r
  private val aggByAfterRe: Regex =
    """^\s*(sum|avg|count|min|max|stddev|stdvar|topk|bottomk)\s*\((.+)\)\s*by\s*\(([^)]*)\)\s*$""".r
  // *_over_time is an EXTENSION: the reference's regex lists only the 6
  // rate-family functions (prometheus_api.rs:782-805); the query pack it ships
  // for external monitoring uses max_over_time, so the engine accepts the
  // whole family (per-bucket MIN/MAX/AVG/SUM/COUNT).
  private val rangeFnRe: Regex =
    ("""^\s*(rate|increase|irate|delta|idelta|deriv""" +
      """|min_over_time|max_over_time|avg_over_time|sum_over_time|count_over_time)""" +
      """\s*\(\s*(.+?)\s*\[\s*(\d+)(ms|s|m|h|d|w)\s*\]""" +
      """\s*(?:offset\s+(\d+)(ms|s|m|h|d|w)\s*)?\)\s*$""").r
  private val selectorRe: Regex =
    """^\s*([a-zA-Z_:][a-zA-Z0-9_:]*)\s*(?:\{([^}]*)\})?\s*(?:offset\s+(\d+)(ms|s|m|h|d|w)\s*)?$""".r
  private val matcherRe: Regex =
    """([a-zA-Z_][a-zA-Z0-9_]*)\s*(=~|!~|!=|=)\s*"((?:[^"\\]|\\.)*)"""".r

  /** Parse agg → range-fn → selector, recursing through the aggregation's inner
    * expression (reference parse_promql, prometheus_api.rs:744-826). Fallback: the
    * whole string is the metric name.
    */
  def parse(q: String): ParsedPromQL = q match {
    case paramAggByAfterRe(agg, num, inner, by) =>
      parse(inner).copy(
        aggregation = Some(agg),
        groupBy = by.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        param = Some(num.toDouble))
    case paramAggRe(agg, by, num, inner) =>
      val innerParsed = parse(inner)
      innerParsed.copy(
        aggregation = Some(agg),
        groupBy = Option(by).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil),
        param = Some(num.toDouble))
    case aggRe(agg, by, inner) =>
      val innerParsed = parse(inner)
      innerParsed.copy(
        aggregation = Some(agg),
        groupBy = Option(by).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil))
    case aggByAfterRe(agg, inner, by) =>
      val innerParsed = parse(inner)
      innerParsed.copy(
        aggregation = Some(agg),
        groupBy = by.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    case rangeFnRe(fn, inner, n, unit, offN, offU) =>
      val innerParsed = parse(inner)
      innerParsed.copy(function = Some(fn), rangeSeconds = Some(toSeconds(n.toLong, unit)),
        offsetSeconds = Option(offN).map(x => toSeconds(x.toLong, offU))
          .orElse(innerParsed.offsetSeconds))
    case selectorRe(name, matchers, offN, offU) =>
      ParsedPromQL(name, parseMatchers(Option(matchers).getOrElse("")), None, Nil, None, None,
        offsetSeconds = Option(offN).map(x => toSeconds(x.toLong, offU)))
    case other => ParsedPromQL(other.trim, Nil, None, Nil, None, None)
  }

  private def toSeconds(n: Long, unit: String): Long = unit match {
    case "ms" => math.max(1L, n / 1000)
    case "s" => n
    case "m" => n * 60
    case "h" => n * 3600
    case "d" => n * 86400
    case "w" => n * 604800
    case _ => n
  }

  def parseMatchers(s: String): Seq[LabelMatcher] =
    matcherRe.findAllMatchIn(s).map { m =>
      LabelMatcher(m.group(1), m.group(2), m.group(3).replace("\\\"", "\""))
    }.toSeq

  /** matcher → SQL condition (reference prometheus_api.rs:705-741,829-853);
    * single quotes escaped; `=~`/`!~` → RLIKE / NOT RLIKE (unanchored, same as
    * the reference's unanchored regexp_match).
    */
  def matcherToSql(m: LabelMatcher): String = {
    // Escape the IDENTIFIER too, not just the value: a backtick inside a parsed
    // label name would otherwise break out of the identifier quoting (same
    // injection class as the value escaping below). `__name__` addresses the
    // metric-name column (reference prometheus_api.rs label mapping).
    val name = if (m.label == "__name__") "metric_name" else m.label
    val col = s"`${name.replace("`", "``")}`"
    // Escape backslashes BEFORE quote-doubling: Spark SQL string literals eat
    // `\d` → `d` (so `=~"\d+"` would silently match "d+"), and a value ending
    // in `\` would escape the closing quote — an injection surface.
    val v = m.value.replace("\\", "\\\\").replace("'", "''")
    m.op match {
      case "=" => s"$col = '$v'"
      case "!=" => s"$col != '$v'"
      case "=~" => s"$col RLIKE '$v'"
      // reference `!~` is `regexp_match(col,'re') IS NULL` which is TRUE for NULL
      // label values — a bare NOT RLIKE would drop them (3-valued logic), so keep
      // the NULL-keeping behavior explicitly
      case "!~" => s"($col IS NULL OR NOT ($col RLIKE '$v'))"
      case _ => "1=1"
    }
  }

  /** Aggregation match over `arg` (instant path, prometheus_api.rs:899-907;
    * the series-agg outer level): includes STDDEV; stdvar/topk/bottomk are
    * PARSED but fall through to AVG — topk/bottomk thus degrade to a plain
    * ORDER BY value DESC with no k-limit.
    */
  private def aggSql(agg: String, arg: String): String = agg match {
    case "sum" => s"SUM($arg)"
    case "avg" => s"AVG($arg)"
    case "count" => "COUNT(*)"
    case "min" => s"MIN($arg)"
    case "max" => s"MAX($arg)"
    case "stddev" => s"STDDEV($arg)"
    case _ => s"AVG($arg)"
  }

  /** Range-path aggregation match (prometheus_api.rs:1018-1026): NO stddev — it
    * falls to AVG here, unlike the instant path. Ported quirk.
    */
  private def rangeAggSql(agg: String): String =
    if (agg == "stddev") s"AVG($ValueExpr)" else aggSql(agg, ValueExpr)

  /** Label columns = matcher labels ∪ group_by, first-seen order (reference
    * discover_label_columns, prometheus_api.rs:856-874).
    */
  def discoverLabelColumns(p: ParsedPromQL): Seq[String] =
    (p.labelMatchers.map(_.label) ++ p.groupBy).distinct

  /** Range-function per-bucket expression (reference prometheus_api.rs:964-1013):
    * rate|irate → (MAX-MIN)/range; increase|delta → MAX-MIN; anything else
    * (incl. idelta/deriv) → AVG, exactly like the reference's `_` arm.
    */
  private def rangeFnSql(fn: String, rangeSecs: Long): String = fn match {
    case "rate" | "irate" =>
      s"(MAX($ValueExpr) - MIN($ValueExpr)) / ($rangeSecs)"
    case "increase" | "delta" =>
      s"MAX($ValueExpr) - MIN($ValueExpr)"
    // EXTENSION family — per-bucket aggregates over the window's samples
    case "min_over_time" => s"MIN($ValueExpr)"
    case "max_over_time" => s"MAX($ValueExpr)"
    case "sum_over_time" => s"SUM($ValueExpr)"
    case "count_over_time" => "COUNT(*)"
    case _ => s"AVG($ValueExpr)" // avg_over_time + reference's `_` arm
  }

  private def whereClause(p: ParsedPromQL, extra: Seq[String]): String = {
    val conds = Seq(s"metric_name = '${p.metricName.replace("'", "''")}'") ++
      p.labelMatchers.map(matcherToSql) ++ extra
    conds.mkString(" AND ")
  }

  /** A range query's (bucket expression, WHERE clause). offset (extension):
    * scan [start-off, end-off] and bucket on ts+off, so each bucket lands at
    * its evaluation-time position (Prometheus reporting); offset 0 emits the
    * pre-offset SQL byte for byte.
    */
  private def window(p: ParsedPromQL, startNs: Long, endNs: Long,
                     stepSeconds: Long): (String, String) = {
    val stepNs = stepSeconds * 1000000000L
    val offNs = p.offsetSeconds.getOrElse(0L) * 1000000000L
    val shiftedTs = if (offNs == 0L) "timestamp_ns" else s"(timestamp_ns + $offNs)"
    (s"($shiftedTs DIV $stepNs) * $stepNs", whereClause(p,
      Seq(s"timestamp_ns >= ${startNs - offNs}", s"timestamp_ns <= ${endNs - offNs}")))
  }

  /** Instant query → SQL (reference prometheus_api.rs:877-935). `timeNs` bounds the
    * lookback (`timestamp <= t`); no aggregation ⇒ latest sample per series shape
    * (ORDER BY timestamp DESC LIMIT 1-per-query, as the reference does globally).
    */
  def transpileInstant(q: String, timeNs: Option[Long] = None): String = {
    val p = parse(q)
    // offset (extension): look back `off` earlier, report at evaluation time.
    // Aggregated shapes add the offset back onto the representative timestamp;
    // the raw-selector shape returns the sample's own (shifted) timestamp —
    // documented, since `SELECT *` cannot rewrite a projected column.
    val offNs = p.offsetSeconds.getOrElse(0L) * 1000000000L
    val timeCond = timeNs.map(t => s"timestamp_ns <= ${t - offNs}").toSeq
    // the forward timestamp mapping only applies when an evaluation time
    // anchored the backward shift — with no timeNs the scan is unshifted, so
    // shifting the reported timestamp would fabricate a time later than any
    // scanned sample (offset on the instant path needs `time`; the HTTP
    // layer always passes it)
    val tsExpr = if (offNs == 0L || timeNs.isEmpty) "MAX(timestamp_ns)"
                 else s"MAX(timestamp_ns) + $offNs"
    p.aggregation match {
      // EXTENSION: two-arg topk/bottomk get a real k-limit, ordered, LIMIT k.
      // Series representative: topk = MAX(value), bottomk = MIN(value) — a MAX
      // representative ordered ASC would pick the k series whose MAXIMUM is
      // smallest, inverting bottomk's intent for wide-range series.
      // Two-arg quantile becomes an exact PERCENTILE.
      case Some(agg @ ("topk" | "bottomk")) if p.param.isDefined =>
        val k = p.param.get.toLong max 0L
        val (rep, dir) = if (agg == "topk") ("MAX", "DESC") else ("MIN", "ASC")
        val groupCols = ("metric_name" +: p.groupBy.map(g => s"`$g`")).mkString(", ")
        // the group columns break value ties DETERMINISTICALLY: without them a
        // tie at the k boundary makes the kept series engine-dependent
        // (PromQL itself leaves topk ties unspecified; we pin them)
        s"""SELECT $groupCols, $rep($ValueExpr) AS value, $tsExpr AS timestamp_ns
           |FROM metrics WHERE ${whereClause(p, timeCond)}
           |GROUP BY $groupCols ORDER BY value $dir, $groupCols LIMIT $k""".stripMargin.replace("\n", " ")
      case Some("quantile") if p.param.isDefined =>
        val groupCols = ("metric_name" +: p.groupBy.map(g => s"`$g`")).mkString(", ")
        s"""SELECT $groupCols, PERCENTILE($ValueExpr, ${p.param.get}) AS value,
           |$tsExpr AS timestamp_ns
           |FROM metrics WHERE ${whereClause(p, timeCond)}
           |GROUP BY $groupCols ORDER BY value DESC""".stripMargin.replace("\n", " ")
      case Some(agg) =>
        val groupCols = ("metric_name" +: p.groupBy.map(g => s"`$g`")).mkString(", ")
        s"""SELECT $groupCols, ${aggSql(agg, ValueExpr)} AS value, $tsExpr AS timestamp_ns
           |FROM metrics WHERE ${whereClause(p, timeCond)}
           |GROUP BY $groupCols ORDER BY value DESC""".stripMargin.replace("\n", " ")
      case None =>
        s"""SELECT * FROM metrics WHERE ${whereClause(p, timeCond)}
           |ORDER BY timestamp_ns DESC LIMIT 1""".stripMargin.replace("\n", " ")
    }
  }

  /** Range query → SQL with integer-division time bucketing
    * `(timestamp_ns / step) * step AS time_bucket` (reference
    * prometheus_api.rs:938-1087). stepSeconds buckets; ns bounds inclusive.
    *
    * Two EXTENSION shapes come first: `histogram_quantile`
    * ([[transpileHistogramQuantile]]) and, when `q` has a top-level operator,
    * the binary expression ([[transpileRangeBinaryChained]]). When neither
    * applies or its interpretation fails (unparseable operand, sides with
    * different labels and no on(...), scalar∘scalar, …) `q` gets the
    * reference's whole-string treatment below, so the transpiler stays total.
    */
  def transpileRange(q: String, startNs: Long, endNs: Long, stepSeconds: Long): String =
    scala.util.Try(transpileHistogramQuantile(q, startNs, endNs, stepSeconds)).toOption.flatten
      .orElse(if (topLevelOps(q).isEmpty) None else scala.util.Try(
        transpileRangeBinaryChained(q, startNs, endNs, stepSeconds)).toOption)
      .getOrElse {
        val p = parse(q)
        val (bucket, where) = window(p, startNs, endNs, stepSeconds)
        val valueExpr = (p.function, p.aggregation) match {
          case (Some(fn), _) => rangeFnSql(fn, p.rangeSeconds.getOrElse(stepSeconds))
          case (None, Some(agg)) => rangeAggSql(agg)
          case (None, None) => s"AVG($ValueExpr)" // default per-bucket AVG
        }
        val groupCols = ("metric_name" +: rangeLabelCols(p).map(g => s"`$g`")).mkString(", ")
        s"""SELECT $bucket AS time_bucket, $groupCols, $valueExpr AS value
           |FROM metrics WHERE $where
           |GROUP BY time_bucket, $groupCols
           |ORDER BY time_bucket""".stripMargin.replace("\n", " ")
      }

  /** The label columns a range query's rows carry (prometheus_api.rs:938-1087):
    * range FUNCTIONS and the no-agg default group by discover_label_columns
    * (matcher labels ∪ by-labels); AGGREGATIONS group by the by-labels only.
    * A binary expression matches its operands on the same set.
    */
  private def rangeLabelCols(p: ParsedPromQL): Seq[String] = p.aggregation match {
    case Some(_) if p.function.isEmpty => p.groupBy
    case _ => discoverLabelColumns(p)
  }

  // ---- EXTENSION: binary expressions over range vectors ---------------------

  private[graft] sealed trait VecNode
  private[graft] final case class VecLeaf(expr: String) extends VecNode
  private[graft] final case class ScalarLeaf(value: String) extends VecNode
  private[graft] final case class VecBin(l: VecNode, op: String,
      on: Option[Seq[String]], r: VecNode, bool: Boolean = false) extends VecNode

  private val CmpOps = Set("==", "!=", ">", "<", ">=", "<=")

  /** Every top-level (depth-0, outside quotes) binary operator position in
    * `q`, arithmetic (`+ - * /`) and comparison (`== != > < >= <=`). A '-'
    * whose left side is blank (string start or directly after another
    * operator) is a SIGN, not an operator. Two-char operators are recorded
    * once at their start index. Label-matcher `=`/`!~`/`=~` forms never
    * reach depth 0 (they live inside `{...}`), so a depth-0 `=`/`!` is only
    * an operator when it forms `==`/`!=`.
    */
  private def topLevelOps(q: String): Seq[(Int, String)] = {
    val ops = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    var depth = 0; var inQ = false; var i = 0
    var operandStart = 0
    def peekEq(at: Int): Boolean = at + 1 < q.length && q.charAt(at + 1) == '='
    while (i < q.length) {
      val c = q.charAt(i)
      if (inQ) { if (c == '"' && (i == 0 || q.charAt(i - 1) != '\\')) inQ = false }
      else c match {
        case '"' => inQ = true
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case '+' | '*' | '/' if depth == 0 =>
          ops += ((i, c.toString)); operandStart = i + 1
        case '-' if depth == 0 && q.substring(operandStart, i).trim.nonEmpty =>
          ops += ((i, "-")); operandStart = i + 1
        case '>' | '<' if depth == 0 =>
          val op = if (peekEq(i)) { val o = s"$c="; i += 1; o } else c.toString
          ops += ((i - (op.length - 1), op)); operandStart = i + 1
        case '=' | '!' if depth == 0 && peekEq(i) =>
          ops += ((i, s"$c=")); i += 1; operandStart = i + 1
        case _ => ()
      }
      i += 1
    }
    ops.toSeq
  }

  private val onModRe = """^on\s*\(([^)]*)\)\s*(.+)$""".r
  private val boolModRe = """^bool\b\s*(.+)$""".r

  /** Precedence-aware parse of a binary expression: `*`/`/` bind tighter
    * than `+`/`-`, which bind tighter than the comparison tier
    * (`== != > < >= <=`), all left-associative (the Prometheus table, minus
    * the ^/set tiers its grammar also carries). Left associativity falls out
    * of splitting at the RIGHTMOST operator of the LOWEST present
    * precedence. Numeric literals become [[ScalarLeaf]]s. An operator may be
    * followed by an `on(...)` matching modifier; a comparison may carry the
    * `bool` modifier first, in Prometheus's `op bool on(...)` order.
    */
  private[graft] def parseVecTree(q: String): VecNode = {
    val s = q.trim
    val ops = topLevelOps(s)
    if (ops.isEmpty) {
      if (s.matches("[0-9]+(\\.[0-9]+)?")) ScalarLeaf(s) else VecLeaf(s)
    } else {
      val cmps = ops.filter(o => CmpOps(o._2))
      val addSub = ops.filter(o => o._2 == "+" || o._2 == "-")
      val (pos, op) =
        if (cmps.nonEmpty) cmps.last
        else if (addSub.nonEmpty) addSub.last
        else ops.last
      val l = s.substring(0, pos)
      val afterOp = s.substring(pos + op.length).trim
      val (bool, rRaw) = afterOp match {
        case boolModRe(rest) if CmpOps(op) => (true, rest.trim)
        case _ => (false, afterOp)
      }
      val (on, rhs) = rRaw match {
        case onModRe(labels, rest) =>
          (Some(labels.split(",").map(_.trim).filter(_.nonEmpty).toSeq), rest.trim)
        case _ => (None, rRaw)
      }
      require(l.trim.nonEmpty && rhs.nonEmpty, s"dangling operator in: $q")
      VecBin(parseVecTree(l), op, on, parseVecTree(rhs), bool)
    }
  }

  /** EXTENSION — binary expressions over range vectors, a real-Prometheus
    * feature the reference's regex grammar lacks: the Grafana ratio panel
    * (`sum by (host) (click) / sum by (host) (view)`), chains with scalars
    * (`… * 100`) and comparisons (`… > 0.5`, `… >= bool 1`). The expression
    * parses into a precedence tree ([[parseVecTree]]) and transpiles bottom
    * up. Each vector leaf is a [[transpileRange]] subquery, so offsets,
    * range functions and aggregations nest freely; a leaf text that occurs
    * more than once becomes one `__leafN` CTE and is scanned once.
    * vector∘vector is an INNER join on (time_bucket, matching labels) —
    * Prometheus drop-if-unmatched; the matching labels are the sides' shared
    * label set (which must agree) or `on(...)`. vector∘scalar applies the
    * scalar to the value column, with no join. Divergences (documented):
    * `metric_name` is dropped as Prometheus drops `__name__` on arithmetic;
    * ÷0 yields NULL (deterministic in every engine) where Prometheus yields
    * ±Inf. scalar∘scalar is refused.
    */
  private def transpileRangeBinaryChained(q: String, startNs: Long, endNs: Long,
                                          stepSeconds: Long): String = {
    val root = parseVecTree(q)
    require(root.isInstanceOf[VecBin], s"not a binary expression: $q")
    def leaves(n: VecNode): Seq[String] = n match {
      case VecLeaf(e) => Seq(e)
      case VecBin(l, _, _, r, _) => leaves(l) ++ leaves(r)
      case _ => Nil
    }
    val all = leaves(root)
    val repeated = all.distinct.filter(e => all.count(_ == e) > 1)
    // (SQL producing (time_bucket, labels..., value), its label columns)
    def node(n: VecNode): (String, Seq[String]) = n match {
      case ScalarLeaf(v) => throw new IllegalArgumentException(s"scalar-only expression: $v")
      case VecLeaf(e) =>
        val p = parse(e)
        require(isValidIdentifier(p.metricName),
          s"binary operand must be a vector expression: $e")
        val i = repeated.indexOf(e)
        (if (i < 0) transpileRange(e, startNs, endNs, stepSeconds) else s"SELECT * FROM __leaf$i",
          rangeLabelCols(p))
      case VecBin(l, op, on, r, bool) =>
        def scalarWith(vec: VecNode): (String, Seq[String]) = {
          require(on.isEmpty, "on(...) is meaningless with a scalar operand")
          val (sql, labels) = node(vec)
          (s"($sql) l", labels)
        }
        val ((from, labels), a, b) = (l, r) match {
          case (_: ScalarLeaf, _: ScalarLeaf) =>
            throw new IllegalArgumentException("scalar-scalar expression")
          case (ScalarLeaf(v), vec) => (scalarWith(vec), v, "l.value")
          case (vec, ScalarLeaf(v)) => (scalarWith(vec), "l.value", v)
          case _ =>
            val (lSql, lLabels) = node(l)
            val (rSql, rLabels) = node(r)
            val labels = on.getOrElse {
              require(lLabels == rLabels,
                s"sides carry different labels (${lLabels.mkString(",")} vs " +
                  s"${rLabels.mkString(",")}); use on(...)")
              lLabels
            }
            labels.foreach(m => require(
              isValidIdentifier(m) && lLabels.contains(m) && rLabels.contains(m),
              s"on($m) is not a label both sides carry"))
            val joinCond = ("l.time_bucket = r.time_bucket" +:
              labels.map(m => s"l.`$m` = r.`$m`")).mkString(" AND ")
            ((s"($lSql) l JOIN ($rSql) r ON $joinCond", labels), "l.value", "r.value")
        }
        (binarySql(op, bool, from, labels, a, b), labels)
    }
    val (sql, labels) = node(root)
    val ctes = repeated.zipWithIndex.map { case (e, i) =>
      s"__leaf$i AS (${transpileRange(e, startNs, endNs, stepSeconds)})"
    }
    val withClause = if (ctes.isEmpty) "" else ctes.mkString("WITH ", ", ", " ")
    val orderCols = ("time_bucket" +: labels.map(m => s"`$m`")).mkString(", ")
    s"$withClause$sql ORDER BY $orderCols"
  }

  /** One binary node over `from`, whose vector side is named `l`, with
    * operands `a op b`. Arithmetic sets the value (÷ guarded by NULLIF); a
    * comparison keeps the `l` sample where it holds (filter semantics), or
    * with `bool` keeps every sample as 0/1.
    */
  private def binarySql(op: String, bool: Boolean, from: String, labels: Seq[String],
                        a: String, b: String): String = {
    val outCols = ("l.time_bucket" +: labels.map(m => s"l.`$m`")).mkString(", ")
    val expr = op match {
      case "==" => s"$a = $b"
      case "!=" => s"$a <> $b"
      case "/" => s"$a / NULLIF($b, 0)"
      case o => s"$a $o $b"
    }
    if (!CmpOps(op)) s"SELECT $outCols, $expr AS value FROM $from"
    else if (bool) s"SELECT $outCols, CAST(CASE WHEN $expr THEN 1 ELSE 0 END AS DOUBLE) AS value FROM $from"
    else s"SELECT $outCols, l.value AS value FROM $from WHERE $expr"
  }

  // ---- r11 EXTENSION: histogram_quantile ------------------------------------

  private val histQuantRe: Regex =
    """^\s*histogram_quantile\s*\(\s*([0-9]+(?:\.[0-9]+)?)\s*,\s*(.+)\)\s*$""".r

  /** EXTENSION (r11) — `histogram_quantile(φ, <inner>)` over classic
    * `le`-bucketed cumulative series (the reference stores histograms
    * collapsed to `sum`, so this whole surface is a flagged extension; real
    * Prometheus semantics): the inner expression MUST group by `le` (plus
    * any other labels); per (time_bucket, other labels) the quantile is the
    * Prometheus linear interpolation inside the lowest bucket whose
    * cumulative count reaches φ·total — `prevLe + (le−prevLe)·(rank−prevCnt)
    * /(cnt−prevCnt)`, with bucket start 0 below the lowest bucket and the
    * highest FINITE le returned when φ·total lands in the +Inf bucket.
    * `total` is the +Inf bucket's value — NOT max over the group — so a
    * malformed (non-cumulative) bucket set cannot manufacture a quantile
    * from a mid-range bucket (r11 ADVICE).
    * Divergences (documented): an empty/zero-total group yields NULL (not
    * NaN); a group WITHOUT a +Inf bucket yields no row (Prometheus: NaN) —
    * total is NULL there, so every rank comparison is NULL and the group
    * drops out; `metric_name` is dropped exactly as Prometheus drops
    * `__name__` on function application. Returns None when the shape
    * doesn't match (totality: caller falls through).
    */
  def transpileHistogramQuantile(q: String, startNs: Long, endNs: Long,
                                 stepSeconds: Long): Option[String] = q match {
    case histQuantRe(phiS, inner) =>
      val phi = phiS.toDouble
      require(phi >= 0.0 && phi <= 1.0, s"quantile out of [0,1]: $phi")
      val p = parse(inner)
      require(p.aggregation.isDefined && p.groupBy.contains("le"),
        s"histogram_quantile needs an inner aggregation grouped by le: $inner")
      val innerSql = transpileRange(inner, startNs, endNs, stepSeconds)
      val others = p.groupBy.filterNot(_ == "le").map(l => s"`$l`")
      val grp = ("time_bucket" +: others).mkString(", ")
      val outCols = if (others.isEmpty) "time_bucket" else grp
      // le sort key: '+Inf' → IEEE infinity (both Spark and DuckDB accept
      // CAST('Infinity' AS DOUBLE)); everything numeric otherwise
      val sql =
        s"""SELECT $outCols, value FROM (
           |  SELECT $grp,
           |    CASE WHEN led = CAST('Infinity' AS DOUBLE) THEN max_fin
           |         ELSE COALESCE(prev_le, 0) + (led - COALESCE(prev_le, 0))
           |           * (rank - COALESCE(prev_v, 0))
           |           / NULLIF(cnt - COALESCE(prev_v, 0), 0) END AS value,
           |    ROW_NUMBER() OVER (PARTITION BY $grp ORDER BY led) AS pick
           |  FROM (
           |    SELECT $grp, led, value AS cnt, prev_le, prev_v, max_fin,
           |      $phi * total AS rank
           |    FROM (
           |      SELECT $grp, led, value,
           |        LAG(led) OVER (PARTITION BY $grp ORDER BY led) AS prev_le,
           |        LAG(value) OVER (PARTITION BY $grp ORDER BY led) AS prev_v,
           |        MAX(CASE WHEN led = CAST('Infinity' AS DOUBLE) THEN value END)
           |          OVER (PARTITION BY $grp) AS total,
           |        MAX(CASE WHEN led < CAST('Infinity' AS DOUBLE) THEN led END)
           |          OVER (PARTITION BY $grp) AS max_fin
           |      FROM (
           |        SELECT *, CASE WHEN `le` = '+Inf' THEN CAST('Infinity' AS DOUBLE)
           |                       ELSE CAST(`le` AS DOUBLE) END AS led
           |        FROM ($innerSql)
           |      )
           |    )
           |    WHERE value >= $phi * total
           |  )
           |) WHERE pick = 1
           |ORDER BY $outCols""".stripMargin.replace("\n", " ")
      Some(sql)
    case _ => None
  }

  /** EXTENSION — true Prometheus two-level semantics for `agg(rangefn(m[w]))`
    * (the dominant Grafana idiom, e.g. `sum(rate(x[5m]))`): the reference's
    * transpiler — and our faithful [[transpileRange]] — silently drops the
    * outer aggregation when a range function is present. Here the inner query
    * computes the range function PER SERIES per bucket (series = matcher
    * labels ∪ by-labels ∪ `seriesLabels`, the engine-known label columns), and
    * the outer aggregates across series by (bucket, by-labels) — real
    * sum-of-rates, not rate-of-mixed-series.
    */
  def transpileRangeSeriesAgg(q: String, startNs: Long, endNs: Long,
                              stepSeconds: Long,
                              seriesLabels: Seq[String]): String = {
    val p = parse(q)
    require(p.aggregation.isDefined && p.function.isDefined,
      s"expected agg(rangefn(selector[w])), got: $q")
    val (bucket, where) = window(p, startNs, endNs, stepSeconds)
    val q1 = (s: String) => s"`${s.replace("`", "``")}`"
    val seriesCols = (discoverLabelColumns(p) ++ seriesLabels).distinct
    val innerGroup = ("metric_name" +: seriesCols.map(q1)).mkString(", ")
    val outerGroup = ("metric_name" +: p.groupBy.map(q1)).mkString(", ")
    val fnExpr = rangeFnSql(p.function.get, p.rangeSeconds.getOrElse(stepSeconds))
    s"""SELECT time_bucket, $outerGroup, ${aggSql(p.aggregation.get, "value")} AS value FROM (
       |SELECT $bucket AS time_bucket, $innerGroup, $fnExpr AS value
       |FROM metrics WHERE $where
       |GROUP BY time_bucket, $innerGroup)
       |GROUP BY time_bucket, $outerGroup
       |ORDER BY time_bucket""".stripMargin.replace("\n", " ")
  }

  /** `/api/v1/label/{name}/values` → SQL (reference prometheus_api.rs:380-500):
    * SELECT DISTINCT with matcher/time WHERE; `__name__` maps to metric_name.
    * Identifier validation mirrors the reference's anti-injection check
    * (prometheus_api.rs:1240-1255).
    */
  def labelValuesSql(label: String, matchers: Seq[LabelMatcher] = Nil): String = {
    require(isValidIdentifier(label), s"invalid label identifier: $label")
    val col = if (label == "__name__") "metric_name" else label
    val where =
      if (matchers.isEmpty) "" else " WHERE " + matchers.map(matcherToSql).mkString(" AND ")
    s"SELECT DISTINCT `$col` AS value FROM metrics$where ORDER BY value"
  }

  def isValidIdentifier(s: String): Boolean =
    s == "__name__" || s.matches("[a-zA-Z_][a-zA-Z0-9_]*")
}
