package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass native forms of the hot-path text predicates.
  *
  * Why custom: `TextFunctions.gopherFlags` composes ~15 separate regex /
  * split / replace passes per row (each allocating intermediate strings or
  * token arrays), and `TextFunctions.tokenCount` materializes the full token
  * array just to take its size. Fine per-document; at corpus scale the
  * pipeline query spends most of its runtime re-walking the same text
  * (measured: the Gopher `keep` evaluation alone was 5.8 s over 50 k salted
  * docs — ~70 % of it regex engine time). These expressions compute the
  * SAME results in code-point walks with zero allocation.
  *
  * Exactness contract (spec-enforced by equivalence properties in
  * TextDedupSimSpec against the compositional forms, which the DuckDB
  * oracles mirror):
  *  - whitespace is `TextFunctions.Whitespace`, RE2's `\s` = { \t \n \f
  *    \r SPACE } — U+000B is a symbol, as in DuckDB; alpha is `[A-Za-z]`,
  *    digit `[0-9]` (unicode letters land in the `[^A-Za-z0-9\s]` symbol
  *    class, exactly as the regex does);
  *  - token count replicates `size(TextFunctions.words(text))` INCLUDING its
  *    quirks: `trim` strips 0x20 only, a leading non-space whitespace run
  *    yields a phantom empty piece, and Spark's limit=-1 split keeps the
  *    trailing empty piece — i.e. pieces = (maximal ws runs) + 1, 0 for the
  *    empty trimmed string;
  *  - mean token length and its [3,10] bounds use the identical IEEE double
  *    sequence (div, ×1e6, +0.5, floor);
  *  - stopword hits replicate the padded non-overlapping ` word ` scan of
  *    `size(split(concat(" ", lowerCase(text), " "), " w ")) − 1` via an
  *    indexOf/advance loop over the text lowercased by
  *    [[LowerCodePoints.compute]], the fold `TextFunctions.lowerCase` runs.
  */
object TextNativeExpressions {

  private val WsBits: Long =
    graft.text.TextFunctions.Whitespace.foldLeft(0L)((bits, c) => bits | 1L << c)
  @inline private def isWs(cp: Int): Boolean = cp <= ' ' && (WsBits >>> cp & 1L) != 0
  @inline private def isAlpha(cp: Int): Boolean =
    (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')
  @inline private def isDigit(cp: Int): Boolean = cp >= '0' && cp <= '9'

  /** size(TextFunctions.words(text)) with the empty-string guard — one
    * counting walk, no token array.
    */
  private[functions] def tokenCountOf(raw: String): Int = {
    var from = 0
    var to = raw.length
    while (from < to && raw.charAt(from) == ' ') from += 1
    while (to > from && raw.charAt(to - 1) == ' ') to -= 1
    if (from == to) return 0
    var pieces = 1
    var inRun = false
    var i = from
    while (i < to) {
      val cp = raw.codePointAt(i)
      if (isWs(cp)) {
        if (!inRun) { pieces += 1; inRun = true }
      } else inRun = false
      i += Character.charCount(cp)
    }
    pieces
  }

  case class TokenCount(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(input: Any): Any =
      tokenCountOf(input.asInstanceOf[UTF8String].toString)
    override protected def withNewChildInternal(c: Expression): TokenCount =
      copy(child = c)
  }

  /** The Gopher-rule `keep` conjunction (Rae et al. 2021 subset — see
    * TextFunctions.gopherFlags) as one boolean pass: the token count walk,
    * then one code-point walk for the class counts; the stopword rule
    * short-circuits after 2 hits and runs only if the cheap rules all passed.
    */
  case class GopherKeep(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(input: Any): Any = {
      val u = input.asInstanceOf[UTF8String]
      val raw = u.toString
      val nTok = tokenCountOf(raw).toLong
      if (nTok < 50 || nTok > 100000) return false
      // code-point length + class counts over the RAW text
      var len = 0; var alpha = 0; var punct = 0; var nonWs = 0
      var i = 0
      while (i < raw.length) {
        val cp = raw.codePointAt(i)
        len += 1
        if (!isWs(cp)) {
          nonWs += 1
          if (isAlpha(cp)) alpha += 1
          else if (!isDigit(cp)) punct += 1
        }
        i += Character.charCount(cp)
      }
      val meanTokLen =
        math.floor(nonWs.toDouble / nTok.toDouble * 1000000.0 + 0.5) / 1000000.0
      if (meanTokLen < 3.0 || meanTokLen > 10.0) return false
      if (len > 0 && punct.toDouble / len.toDouble > 0.1) return false
      if (len == 0 || alpha.toDouble / len.toDouble < 0.6) return false
      // stopword rule last: >= 2 non-overlapping padded ` word ` hits
      val padded = " " + LowerCodePoints.compute(u).toString + " "
      var hits = 0
      val words = graft.text.TextFunctions.EnglishStopwords
      var w = 0
      while (w < words.length && hits < 2) {
        val needle = " " + words(w) + " "
        var idx = padded.indexOf(needle)
        while (idx >= 0 && hits < 2) {
          hits += 1
          idx = padded.indexOf(needle, idx + needle.length)
        }
        w += 1
      }
      hits >= 2
    }
    override protected def withNewChildInternal(c: Expression): GopherKeep =
      copy(child = c)
  }

  /** TextFunctions.langId as one pass (r12): the compositional form runs one
    * regex `split` per marker word — 20 full passes over the text, each
    * materializing a substring array just to take its size. This computes
    * the identical per-language padded non-overlapping ` word ` counts with
    * the GopherKeep indexOf/advance loop (one lowercase, zero arrays), then
    * applies the identical argmax: earliest language attaining the overall
    * max (the fold's strictly-greater-beats-earlier), 'und' when max <= 0.
    * Equivalence to the compositional form is spec-enforced
    * (TextDedupSimSpec) and the query stays oracle-gated.
    */
  case class LangIdNative(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    @transient private lazy val markers =
      graft.text.TextFunctions.LangMarkers.map { case (lang, ws) =>
        (lang, ws.map(w => " " + w + " ").toArray)
      }.toArray
    override def nullSafeEval(input: Any): Any = {
      val padded = " " + LowerCodePoints.compute(input.asInstanceOf[UTF8String]).toString + " "
      var bestLang: String = null
      var bestScore = Int.MinValue
      var m = 0
      while (m < markers.length) {
        val (lang, needles) = markers(m)
        var score = 0
        var w = 0
        while (w < needles.length) {
          val needle = needles(w)
          var idx = padded.indexOf(needle)
          while (idx >= 0) {
            score += 1
            idx = padded.indexOf(needle, idx + needle.length)
          }
          w += 1
        }
        if (score > bestScore) { bestScore = score; bestLang = lang }
        m += 1
      }
      UTF8String.fromString(if (bestScore <= 0) "und" else bestLang)
    }
    override protected def withNewChildInternal(c: Expression): LangIdNative =
      copy(child = c)
  }

  /** `lower` one code point at a time, by `Character.toLowerCase(int)` —
    * the simple case mapping DuckDB's `lower` applies. Spark's `lower`
    * applies the full, context-sensitive mapping: a word-final Σ becomes ς
    * (DuckDB: σ) and İ becomes two chars, i + U+0307 (DuckDB: i). All-ASCII
    * text takes UTF8String's byte-wise path.
    */
  case class LowerCodePoints(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any = LowerCodePoints.compute(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val ref = ctx.addReferenceObj("lowerCodePoints", LowerCodePoints,
          LowerCodePoints.getClass.getName)
        s"${ev.value} = $ref.compute($c);"
      })
    override protected def withNewChildInternal(c: Expression): LowerCodePoints =
      copy(child = c)
  }

  /** The case fold every native text expression shares. */
  object LowerCodePoints {
    def compute(u: UTF8String): UTF8String =
      if (u.isFullAscii) u.toLowerCaseAscii
      else {
        val s = u.toString
        val b = new java.lang.StringBuilder(s.length)
        s.codePoints().forEach(cp => b.appendCodePoint(Character.toLowerCase(cp)))
        UTF8String.fromString(b.toString)
      }
  }

  /** A tokenizer's per-document pass over a `tokens(text)` array: its
    * non-empty words, each split into `pieces`, give one
    * `(n_tokens, <textField>)` row — or none when the document has no
    * non-empty word (a NULL or whitespace-only text), as the oracles' joins
    * against the word vocabulary yield none.
    */
  sealed trait WordPieces extends UnaryExpression with Generator with CodegenFallback {
    protected def textField: String
    protected def pieces(word: String): Seq[String]
    override def elementSchema: StructType = new StructType()
      .add("n_tokens", LongType, nullable = false)
      .add(textField, StringType, nullable = false)
    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val words = child.eval(input).asInstanceOf[ArrayData]
      val toks = if (words == null) Array.empty[String]
        else words.toArray[UTF8String](StringType).filter(_.numBytes > 0)
          .flatMap(w => pieces(w.toString))
      if (toks.isEmpty) Nil
      else Seq(InternalRow(toks.length.toLong, UTF8String.fromString(toks.mkString(" "))))
    }
  }

  /** TextFunctions.bpeEncode's pass: a word's code points merged with
    * TextFunctions.applyMerges under the learned `merges`.
    */
  case class BpeEncode(child: Expression, merges: Seq[(String, String)]) extends WordPieces {
    override protected def textField: String = "bpe_text"
    override protected def pieces(word: String): Seq[String] =
      graft.text.TextFunctions.applyMerges(graft.text.TextFunctions.bpeSymbols(word), merges).toSeq
    override protected def withNewChildInternal(c: Expression): BpeEncode =
      copy(child = c)
  }

  /** TextFunctions.unigramEncode's pass: a word's TextFunctions.viterbi
    * segmentation under the broadcast piece `scores`; a word longer than
    * `maxWordLen` code points never trained and is one piece.
    */
  case class UnigramEncode(child: Expression, scores: Broadcast[Map[String, Long]],
                           maxPieceLen: Int, maxWordLen: Int) extends WordPieces {
    override protected def textField: String = "uni_text"
    override protected def pieces(word: String): Seq[String] =
      if (word.codePointCount(0, word.length) > maxWordLen) Seq(word)
      else graft.text.TextFunctions.viterbi(word, scores.value, maxPieceLen)
    override protected def withNewChildInternal(c: Expression): UnigramEncode =
      copy(child = c)
  }

  private def ex(c: Column): Expression = GraftBridge.expression(c)
  def token_count(text: Column): Column = GraftBridge.column(TokenCount(ex(text)))
  def gopher_keep(text: Column): Column = GraftBridge.column(GopherKeep(ex(text)))
  def lang_id(text: Column): Column = GraftBridge.column(LangIdNative(ex(text)))
  def lower_code_points(text: Column): Column = GraftBridge.column(LowerCodePoints(ex(text)))
  def bpe_encode(words: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(BpeEncode(ex(words), merges))
  def unigram_encode(words: Column, scores: Broadcast[Map[String, Long]],
                     maxPieceLen: Int, maxWordLen: Int): Column =
    GraftBridge.column(UnigramEncode(ex(words), scores, maxPieceLen, maxWordLen))
}
