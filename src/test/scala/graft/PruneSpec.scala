package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.catalog.{ChunkMeta, ColumnStats}
import graft.prune.ColumnPredicate._
import graft.prune.{PValue, PredicateExtraction}

/** Zone-map pruning truth table — ported from the reference's predicate tests
  * (src/metadata/predicates.rs:214-358, FIXTURES.md F5) plus a scalacheck soundness
  * property: pruning must NEVER drop a chunk whose [min,max] could contain a match.
  */
class PruneSpec extends AnyFunSuite {

  private val stats = Map("v" -> ColumnStats.ofLong(100, 200))
  private def i(x: Long) = PValue.I(x)

  test("Eq keep/prune per the reference truth table") {
    assert(Eq("v", i(150)).evaluateAgainstStats(stats)) // in range → keep
    assert(!Eq("v", i(50)).evaluateAgainstStats(stats)) // below → prune
    assert(!Eq("v", i(300)).evaluateAgainstStats(stats)) // above → prune
    assert(Eq("v", i(100)).evaluateAgainstStats(stats)) // boundary → keep
    assert(Eq("v", i(200)).evaluateAgainstStats(stats))
  }

  test("Lt / Gt boundaries") {
    assert(!Lt("v", i(50)).evaluateAgainstStats(stats)) // min >= v → prune
    assert(!Lt("v", i(100)).evaluateAgainstStats(stats)) // min == v, strict → prune
    assert(Lt("v", i(150)).evaluateAgainstStats(stats))
    assert(!Gt("v", i(300)).evaluateAgainstStats(stats)) // max <= v → prune
    assert(!Gt("v", i(200)).evaluateAgainstStats(stats))
    assert(Gt("v", i(150)).evaluateAgainstStats(stats))
    assert(GtEq("v", i(200)).evaluateAgainstStats(stats))
    assert(LtEq("v", i(100)).evaluateAgainstStats(stats))
  }

  test("Between overlap semantics") {
    assert(Between("v", i(150), i(250)).evaluateAgainstStats(stats)) // overlap → keep
    assert(!Between("v", i(10), i(50)).evaluateAgainstStats(stats)) // below → prune
    assert(!Between("v", i(300), i(400)).evaluateAgainstStats(stats)) // above → prune
    assert(Between("v", i(50), i(100)).evaluateAgainstStats(stats)) // touches min
  }

  test("In keeps iff any element in range; NotEq/NotIn/Not always keep") {
    assert(In("v", Seq(i(10), i(150))).evaluateAgainstStats(stats))
    assert(!In("v", Seq(i(10), i(300))).evaluateAgainstStats(stats))
    assert(NotEq("v", i(150)).evaluateAgainstStats(stats))
    assert(NotEq("v", i(999)).evaluateAgainstStats(stats))
    assert(NotIn("v", Seq(i(100), i(200))).evaluateAgainstStats(stats))
    assert(Not(Eq("v", i(150))).evaluateAgainstStats(stats))
  }

  test("And/Or compose; missing stats keep") {
    assert(And(Eq("v", i(150)), Gt("v", i(120))).evaluateAgainstStats(stats))
    assert(!And(Eq("v", i(150)), Eq("v", i(300))).evaluateAgainstStats(stats))
    assert(Or(Eq("v", i(300)), Eq("v", i(150))).evaluateAgainstStats(stats))
    assert(!Or(Eq("v", i(300)), Eq("v", i(50))).evaluateAgainstStats(stats))
    assert(Eq("other_col", i(0)).evaluateAgainstStats(stats)) // no stats → keep
  }

  test("string stats compare lexicographically") {
    val s = Map("m" -> ColumnStats.ofString("cpu_usage", "mem_usage"))
    assert(Eq("m", PValue.S("disk_io")).evaluateAgainstStats(s))
    assert(!Eq("m", PValue.S("aaa")).evaluateAgainstStats(s))
    assert(!Eq("m", PValue.S("zzz")).evaluateAgainstStats(s))
    assert(Gt("m", PValue.S("cpu_usage")).evaluateAgainstStats(s))
    assert(!Gt("m", PValue.S("mem_usage")).evaluateAgainstStats(s))
  }

  test("scalacheck: pruning is sound (never drops a chunk containing a match)") {
    val gen = for {
      min <- Gen.chooseNum(-1000L, 1000L)
      span <- Gen.chooseNum(0L, 500L)
      off <- Gen.chooseNum(0L, 500L)
    } yield (min, min + span, min + (off % (span + 1)))
    val prop = Prop.forAll(gen) { case (min, max, inside) =>
      val st = Map("v" -> ColumnStats.ofLong(min, max))
      // a value `inside` exists in the chunk → these predicates must keep it
      Eq("v", i(inside)).evaluateAgainstStats(st) &&
        In("v", Seq(i(-99999), i(inside))).evaluateAgainstStats(st) &&
        Between("v", i(inside), i(inside)).evaluateAgainstStats(st) &&
        GtEq("v", i(inside)).evaluateAgainstStats(st) &&
        LtEq("v", i(inside)).evaluateAgainstStats(st)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("time literal ns normalization: s/ms/us/ns magnitudes") {
    assert(PredicateExtraction.normalizeToNs(1704067200L) == 1704067200000000000L)
    assert(PredicateExtraction.normalizeToNs(1704067200000L) == 1704067200000000000L)
    assert(PredicateExtraction.normalizeToNs(1704067200000000L) == 1704067200000000000L)
    assert(PredicateExtraction.normalizeToNs(1704067200000000000L) == 1704067200000000000L)
  }

  /** Extraction over one scan whose Filter holds the single conjunct `e`. */
  private def extractOne(e: org.apache.spark.sql.catalyst.expressions.Expression, nowNs: Long) =
    PredicateExtraction.extract(Seq(Seq(e)), nowNs)

  test("OR-nested time bounds: union of branch windows; unbounded branch disables bound") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.expressions.{Literal, Or, And, GreaterThanOrEqual, LessThan, EqualTo}
    val ts = Symbol("timestamp_ns").long
    val host = Symbol("host").string
    val a = 1704067200000000000L
    val b = a + 3600L * 1000000000L
    val c = a + 7200L * 1000000000L
    val d = a + 10800L * 1000000000L
    val now = d + 10 * 3600L * 1000000000L

    // union of two windows → [a, d)
    val twoWindows = Or(
      And(GreaterThanOrEqual(ts, Literal(a)), LessThan(ts, Literal(b))),
      And(GreaterThanOrEqual(ts, Literal(c)), LessThan(ts, Literal(d))))
    val (r1, _) = extractOne(twoWindows, now)
    assert(r1.startNs == a && r1.endNs == d - 1)

    // ts bound OR non-time predicate → NO time bound may be assumed: the row with
    // host='x' can live at ANY time. Must NOT fall back to the default 1h window.
    val mixed = Or(GreaterThanOrEqual(ts, Literal(a)), EqualTo(host, Literal("x")))
    val (r2, _) = extractOne(mixed, now)
    assert(r2.startNs == Long.MinValue && r2.endNs == Long.MaxValue)

    // AND of an OR-window with a plain upper bound still intersects
    val mixedAnd = And(twoWindows, LessThan(ts, Literal(c)))
    val (r3, _) = extractOne(mixedAnd, now)
    assert(r3.startNs == a && r3.endNs == c - 1)
  }

  test("IsNotNull: alone on the time column a time reference (full range); beside a " +
    "comparison on its column, the optimizer's inference (skipped)") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, GreaterThanOrEqual, IsNotNull, Literal}
    val ts = Symbol("timestamp_ns").long
    val host = Symbol("host").string
    val a = 1704067200000000000L
    val now = a + 10 * 3600L * 1000000000L
    val alone = PredicateExtraction.extract(Seq(Seq(IsNotNull(ts))), now)
    assert(alone == (graft.prune.TimeRange(Long.MinValue, Long.MaxValue), Nil))
    val inferred = PredicateExtraction.extract(Seq(Seq(IsNotNull(ts), GreaterThanOrEqual(ts, Literal(a)),
      IsNotNull(host), EqualTo(host, Literal("x")))), now)
    assert(inferred == (graft.prune.TimeRange(a, Long.MaxValue), Seq(Eq("host", PValue.S("x")))))
  }

  test("timestamp_ns literals are raw ns (no magnitude rescale); timestamp keeps heuristic") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.expressions.{Literal, GreaterThanOrEqual}
    val now = 1704067200000000000L
    // a legitimately small raw-ns epoch against timestamp_ns must NOT be ×1e9
    val tsNs = Symbol("timestamp_ns").long
    val (r, _) = extractOne(GreaterThanOrEqual(tsNs, Literal(1000000000L)), now)
    assert(r.startNs == 1000000000L)
    // the µs `timestamp` column keeps the s/ms/µs magnitude heuristic
    val tsUs = Symbol("timestamp").long
    val (r2, _) = extractOne(GreaterThanOrEqual(tsUs, Literal(1704067200L)), now)
    assert(r2.startNs == 1704067200000000000L)
  }

  // A literal whose ns value is past Long.MaxValue (2262-04-11) saturates: one
  // case per arm of the magnitude heuristic, each 634 years after 1970.
  Seq("seconds" -> 20000000000L, "milliseconds" -> 20000000000000L,
      "microseconds" -> 20000000000000000L).foreach { case (arm, v) =>
    test(s"a time literal in $arm past 2262 saturates instead of overflowing") {
      import org.apache.spark.sql.catalyst.dsl.expressions._
      import org.apache.spark.sql.catalyst.expressions.{And, GreaterThanOrEqual, LessThan, Literal}
      val ts = Symbol("timestamp").long
      val now = 1704067200000000000L
      val (r, _) = extractOne(
        And(GreaterThanOrEqual(ts, Literal(1704067200L)), LessThan(ts, Literal(v))), now)
      assert(r == graft.prune.TimeRange(1704067200000000000L, Long.MaxValue - 1))
      if (arm == "seconds") assert(PredicateExtraction.normalizeToNs(-v) == Long.MinValue)
    }
  }

  test("a TIMESTAMP literal past 2262 saturates: the bounded query reads its chunk") {
    import graft.ingest.{ChunkWriter, Converters, MetricPoint}
    val spark = SparkTestBase.spark
    val cat = new graft.catalog.ChunkCatalog(
      graft.util.ShmDirs.tempDir("graft_prune_sat_"), cacheTtlMs = 0L)
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, (0 until 6).map(i =>
      MetricPoint(1704067200000000000L + i * 60000000000L, "cpu", i.toDouble))))
    val q = "SELECT COUNT(*) FROM metrics WHERE timestamp >= TIMESTAMP '2023-01-01 00:00:00' " +
      "AND timestamp < TIMESTAMP '3000-01-01 00:00:00'"
    assert(new graft.engine.QueryEngine(spark, cat).sqlRows(q)(0).getLong(0) == 6L)
  }

  test("chunk keep via ChunkMeta") {
    val chunk = ChunkMeta("p", 0, 0, 0, 0, columnStats =
      Map("host" -> ColumnStats.ofString("server-01", "server-10", hasNulls = true)))
    assert(Eq("host", PValue.S("server-05")).keepChunk(chunk))
    assert(!Eq("host", PValue.S("server-99")).keepChunk(chunk))
    assert(IsNull("host").keepChunk(chunk))
  }
}
