package graft.functions

import org.apache.spark.sql.{GraftBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** `SparkSessionExtensions` entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so they compose in `spark.sql(...)`
  * text exactly like built-ins — the idiomatic way a Spark-native library
  * surfaces its operators to SQL users (enable via
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`).
  *
  * Registered (names mirror the Column API in [[HashExpressions]]):
  *  - `graft_minhash_sig(shingles, numHashes)`
  *  - `graft_word_shingles(text, k)`
  *  - `graft_simhash64(tokens)`
  *  - `graft_hyperplane_sig(vec, numPlanes, seed)`
  *  - `graft_cosine_sim(a, b)`
  *  - `graft_simhash_md5(tokens)`
  *  - `graft_nfc(text)`
  *
  * Integer parameters must be literals (they configure the expression, they
  * are not per-row inputs — same contract as built-ins like `round`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  /** Install the same functions into an ALREADY-built session (spark-shell,
    * notebooks, test harnesses — anywhere the builder has long run).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    registrations.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), inf, builder)
    }

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[HashExpressions.type].getName, null, name, usage, "")

  private[functions] val registrations: Seq[(String, ExpressionInfo, FunctionBuilder)] = Seq(
    ("graft_minhash_sig",
      info("graft_minhash_sig",
        "graft_minhash_sig(shingles, numHashes) - MinHash signature of a string array."),
      (args: Seq[Expression]) => {
        arity("graft_minhash_sig", args, 2)
        HashExpressions.MinHashSig(args.head,
          intLit(args(1), "graft_minhash_sig", "numHashes"))
      }),
    ("graft_word_shingles",
      info("graft_word_shingles",
        "graft_word_shingles(text, k) - normalized word k-shingles of text."),
      (args: Seq[Expression]) => {
        arity("graft_word_shingles", args, 2)
        val k = intLit(args(1), "graft_word_shingles", "k")
        GraftBridge.convertedExpression(
          HashExpressions.word_shingles(GraftBridge.column(args.head), k))
      }),
    ("graft_simhash64",
      info("graft_simhash64",
        "graft_simhash64(tokens) - 64-bit SimHash of a string array."),
      (args: Seq[Expression]) => {
        arity("graft_simhash64", args, 1)
        HashExpressions.SimHash64(args.head)
      }),
    ("graft_hyperplane_sig",
      info("graft_hyperplane_sig",
        "graft_hyperplane_sig(vec, numPlanes, seed) - signed-hyperplane LSH signature."),
      (args: Seq[Expression]) => {
        arity("graft_hyperplane_sig", args, 3)
        HashExpressions.HyperplaneSig(args.head,
          intLit(args(1), "graft_hyperplane_sig", "numPlanes"),
          intLit(args(2), "graft_hyperplane_sig", "seed"))
      }),
    ("graft_cosine_sim",
      info("graft_cosine_sim",
        "graft_cosine_sim(a, b) - cosine similarity of two numeric arrays."),
      (args: Seq[Expression]) => {
        arity("graft_cosine_sim", args, 2)
        HashExpressions.CosineSim(args.head, args(1))
      }),
    ("graft_simhash_md5",
      info("graft_simhash_md5",
        "graft_simhash_md5(tokens) - portable 60-bit md5 SimHash of a string array" +
          " (oracle-reproducible: token hash = first 15 md5 hex chars)."),
      (args: Seq[Expression]) => {
        arity("graft_simhash_md5", args, 1)
        HashExpressions.SimHashMd5(args.head)
      }),
    ("graft_nfc",
      info("graft_nfc",
        "graft_nfc(text) - Unicode NFC normalization (composed form)."),
      (args: Seq[Expression]) => {
        arity("graft_nfc", args, 1)
        graft.sources.DocumentSources.NfcNormalize(args.head)
      }),
    ("graft_zorder64",
      info("graft_zorder64",
        "graft_zorder64(c1, ..., ck) - 64-bit Z-order (Morton) clustering key of" +
          " 1..8 string/long/int/double columns; ORDER BY it to co-locate rows" +
          " close in every dimension."),
      (args: Seq[Expression]) => {
        require(args.nonEmpty && args.size <= 8,
          s"graft_zorder64 expects 1..8 arguments, got ${args.size}")
        ZOrderExpressions.ZOrder64(args,
          args.map(_ => ZOrderExpressions.Default))
      }))
}
