package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst kernels for the TEXT-STATISTICS map paths (language id,
 * quality features, tokenizer counts, repetition signals, span hashing) —
 * the optimization-round companion of [[SketchImpl]]. The originals were
 * built from Spark higher-order functions (`aggregate`, `transform`,
 * `zip_with`, `filter`), which are evaluated INTERPRETED — per document
 * they allocate an accumulator struct per token and never enter
 * whole-stage codegen, so at sf5 the language-id pass alone spent ~9 s of
 * pure expression interpretation (bench r16 baseline). Each kernel here
 * is one compiled pass over the string with the exact semantics of the
 * expression it replaces:
 *
 * - tokenization parity: `lower()` = `UTF8String.toLowerCase` (the same
 *   call Spark's `Lower` makes under the default UTF8_BINARY collation,
 *   and the one [[SketchImpl.tokens]] already uses, oracle-proven);
 *   regex classes are reproduced from the Java `Pattern` definitions the
 *   originals compiled: `\s` = the six ASCII space chars (no UNICODE
 *   flag), `\p{L}` = `Character.isLetter`, `\p{N}` = the three Unicode
 *   number categories. Code-point iteration everywhere, so supplementary
 *   chars split runs exactly like the regex engine.
 * - arithmetic parity: kernels return COUNTS (ints/longs); every
 *   double division / rounding stays in the surrounding Catalyst
 *   expressions, so emitted values are bit-identical to the HOF forms
 *   (differential-tested in TextKernelsParitySuite over the corpus plus
 *   adversarial unicode).
 */
object TextStatsImpl {
  // --- shared char classes (Java regex parity) -------------------------
  @inline private def isWsAscii(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
  @inline private def isAlnumAscii(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
  @inline private def isUnicodeNumber(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }

  /** `size(filter(split(text, "\\s+"), t -> t <> ''))` — the whitespace
    * token count ([[graft.operators.TextAnalysis.tokenCountWs]]): number
    * of maximal runs of non-`\s` chars. Java's `\s` (no UNICODE flag) is
    * exactly the six ASCII space chars, so the scan is a char loop. */
  def wsTokenCount(text: UTF8String): Int = {
    val s = text.toString
    var n = 0
    var i = 0
    var inTok = false
    while (i < s.length) {
      val ws = isWsAscii(s.charAt(i))
      if (!ws && !inTok) { n += 1; inTok = true }
      else if (ws) inTok = false
      i += 1
    }
    n
  }

  /** `filter(split(text, "\\s+"), t -> t <> '')` — the whitespace token
    * ARRAY (maximal runs of non-`\s` chars, original casing): one scan,
    * no empty-part intermediates, no interpreted filter lambda. */
  def wsTokens(text: UTF8String): ArrayData = {
    val s = text.toString
    val out = new java.util.ArrayList[Any]()
    var i = 0
    while (i < s.length) {
      if (!isWsAscii(s.charAt(i))) {
        val start = i
        while (i < s.length && !isWsAscii(s.charAt(i))) i += 1
        out.add(UTF8String.fromString(s.substring(start, i)))
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** `filter(split(lower(text), "[^a-z0-9]+"), t -> t <> '')` — the
    * pipeline-wide lowercase-alnum token ARRAY, as one compiled scan
    * (array form of [[SketchImpl.tokens]]). */
  def alnumTokens(text: UTF8String): ArrayData = {
    val t = SketchImpl.tokens(text)
    val out = new Array[Any](t.length)
    var i = 0
    while (i < t.length) { out(i) = UTF8String.fromString(t(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** `size(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]'))`
    * — the BPE-ish pre-tokenizer count: letter runs + number runs +
    * single other-non-space chars. The three alternatives are disjoint
    * char classes, so a left-to-right greedy scan is exactly the regex's
    * match sequence. */
  def bpeishTokenCount(text: UTF8String): Int = {
    val s = text.toString
    var n = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isLetter(cp)) {
        n += 1
        while (i < s.length && Character.isLetter(s.codePointAt(i)))
          i += Character.charCount(s.codePointAt(i))
      } else if (isUnicodeNumber(cp)) {
        n += 1
        while (i < s.length && !Character.isLetter(s.codePointAt(i)) &&
          isUnicodeNumber(s.codePointAt(i)))
          i += Character.charCount(s.codePointAt(i))
      } else {
        // single char; \s here is the ASCII-only regex class, and a
        // supplementary code point is never one of the six ASCII spaces
        if (!(cp <= 0x7F && isWsAscii(cp.toChar))) n += 1
        i += Character.charCount(cp)
      }
    }
    n
  }

  // --- language id ------------------------------------------------------
  // marker → language bitmask (en=1, fr=2, de=4, es=8); "la" is in BOTH
  // the fr and es lists, exactly like the original per-language isin()
  private val langMask: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    def add(words: Seq[String], bit: Int): Unit = words.foreach { w =>
      val prev = m.get(w)
      m.put(w, if (prev == null) bit else prev | bit)
    }
    add(Seq("the", "and", "of", "to", "is"), 1)
    add(Seq("le", "la", "et", "les", "des"), 2)
    add(Seq("der", "die", "und", "das", "ist"), 4)
    add(Seq("el", "la", "los", "las", "es"), 8)
    m
  }
  private val langNames: Array[UTF8String] =
    Array("en", "fr", "de", "es", "und").map(UTF8String.fromString)

  /** [[graft.operators.TextAnalysis.languageId]]: tokens = maximal
    * `\p{L}` runs of the lowercased text; per-language marker-hit counts;
    * argmax with fixed (en, fr, de, es) order; "und" when no marker hits.
    * Markers are ≤ 3 ASCII chars, so only short all-ASCII runs are ever
    * looked up — long runs advance without allocating. */
  def langId(text: UTF8String): UTF8String = {
    val s = text.toLowerCase.toString
    val counts = new Array[Int](4)
    var i = 0
    while (i < s.length) {
      var cp = s.codePointAt(i)
      if (Character.isLetter(cp)) {
        val start = i
        var ascii = true
        while (i < s.length && { cp = s.codePointAt(i); Character.isLetter(cp) }) {
          if (cp > 0x7F) ascii = false
          i += Character.charCount(cp)
        }
        if (ascii && i - start <= 3) {
          val mask = langMask.get(s.substring(start, i))
          if (mask != null) {
            val m = mask.intValue
            if ((m & 1) != 0) counts(0) += 1
            if ((m & 2) != 0) counts(1) += 1
            if ((m & 4) != 0) counts(2) += 1
            if ((m & 8) != 0) counts(3) += 1
          }
        }
      } else i += Character.charCount(cp)
    }
    var best = 0
    var bi = -1
    var l = 0
    while (l < 4) {
      if (counts(l) > best) { best = counts(l); bi = l }
      l += 1
    }
    if (best <= 0) langNames(4) else langNames(bi)
  }

  // --- quality stats ----------------------------------------------------
  private val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    graft.operators.TextAnalysis.enStop.foreach(s.add)
    s
  }

  /** The (n, len, stop) accumulator of
    * [[graft.operators.TextAnalysis.qualityFeatures]]: over maximal
    * `[a-z0-9]` runs of the lowercased text — token count, total token
    * chars, stopword hits. Tokens are pure ASCII by construction, so
    * char count = code-point count and the stopword probe only allocates
    * for runs ≤ 4 chars (the longest stopword). */
  def qualityStats(text: UTF8String): InternalRow = {
    val s = text.toLowerCase.toString
    var n = 0
    var lenSum = 0L
    var stop = 0
    var i = 0
    while (i < s.length) {
      if (isAlnumAscii(s.charAt(i))) {
        val start = i
        while (i < s.length && isAlnumAscii(s.charAt(i))) i += 1
        n += 1
        lenSum += (i - start)
        if (i - start <= 4 && stopSet.contains(s.substring(start, i))) stop += 1
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, lenSum, stop))
  }

  /** Total/distinct counts of 1/2/3-grams over the `[a-z0-9]` tokens of
    * the lowercased text — the counting core of
    * [[graft.operators.TextAnalysis.repetitionSignals]] (the `1 - d/n`
    * fractions stay in Catalyst so rounding is bit-identical). Gram
    * strings join by single spaces like the original `concat_ws`. */
  def repetitionCounts(text: UTF8String): InternalRow = {
    val t = SketchImpl.tokens(text)
    val n = t.length
    val d1 = new java.util.HashSet[String]()
    var i = 0
    while (i < n) { d1.add(t(i)); i += 1 }
    val d2 = new java.util.HashSet[String]()
    val d3 = new java.util.HashSet[String]()
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < n - 1) {
      sb.setLength(0)
      sb.append(t(i)).append(' ').append(t(i + 1))
      d2.add(sb.toString)
      if (i < n - 2) {
        sb.append(' ').append(t(i + 2))
        d3.add(sb.toString)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      n, d1.size, math.max(n - 1, 0), d2.size, math.max(n - 2, 0), d3.size))
  }

  /** Stride-1 span hashes over a PRE-SPLIT token array — the posting
    * generator of [[graft.operators.TextAnalysis.spanDedup]]: for every
    * position p in [0, n−L], the 60-bit md5 prefix of the L tokens
    * joined by spaces (identical value to
    * `conv(substring(md5(array_join(slice(toks, p+1, L), ' ')), 1, 15),
    * 16, 10)` — [[SketchImpl.md5hash60]] is that arithmetic on the raw
    * digest bytes). One reused digest + builder instead of a per-position
    * interpreted slice → array_join → md5-hex → substring → conv chain.
    * Empty array below L tokens. */
  def spanHashes(toks: ArrayData, L: Int): ArrayData = {
    val n = toks.numElements()
    if (n < L) return new GenericArrayData(Array.empty[Any])
    val words = new Array[String](n)
    var i = 0
    while (i < n) { words(i) = toks.getUTF8String(i).toString; i += 1 }
    val out = new Array[Any](n - L + 1)
    val sb = new java.lang.StringBuilder
    var p = 0
    while (p <= n - L) {
      sb.setLength(0)
      var j = 0
      while (j < L) {
        if (j > 0) sb.append(' ')
        sb.append(words(p + j))
        j += 1
      }
      out(p) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](p, SketchImpl.md5hash60(sb.toString)))
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** wsTokenCount(text) → int. */
case class WsTokenCountExpr(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.graftbridge.ExpectsStringInput {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    TextStatsImpl.wsTokenCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsImpl.wsTokenCount($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** wsTokens(text) → array<string> (whitespace tokens, original casing). */
case class WsTokensExpr(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.graftbridge.ExpectsStringInput {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextStatsImpl.wsTokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsImpl.wsTokens($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** alnumTokens(text) → array<string> (lowercase alnum tokens). */
case class AlnumTokensExpr(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.graftbridge.ExpectsStringInput {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextStatsImpl.alnumTokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsImpl.alnumTokens($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** bpeishTokenCount(text) → int. */
case class BpeishTokenCountExpr(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.graftbridge.ExpectsStringInput {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    TextStatsImpl.bpeishTokenCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsImpl.bpeishTokenCount($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** langId(text) → string (en|fr|de|es|und). */
case class LangIdExpr(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.graftbridge.ExpectsStringInput {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    TextStatsImpl.langId(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsImpl.langId($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** qualityStats(text) → struct<n:int, len:bigint, stop:int> — the
  * accumulator the quality-features projection reads fields from. */
case class QualityStatsExpr(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.graftbridge.ExpectsStringInput {
  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("len", LongType, nullable = false),
    StructField("stop", IntegerType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    TextStatsImpl.qualityStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsImpl.qualityStats($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** repetitionCounts(text) → struct<n1,d1,n2,d2,n3,d3: int> — total and
  * distinct 1/2/3-gram counts. */
case class RepetitionCountsExpr(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.graftbridge.ExpectsStringInput {
  override def dataType: DataType = StructType(Seq(
    StructField("n1", IntegerType, nullable = false),
    StructField("d1", IntegerType, nullable = false),
    StructField("n2", IntegerType, nullable = false),
    StructField("d2", IntegerType, nullable = false),
    StructField("n3", IntegerType, nullable = false),
    StructField("d3", IntegerType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    TextStatsImpl.repetitionCounts(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsImpl.repetitionCounts($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** spanHashes(tokenArray, L) → array<struct<p:int, k:long>>. */
case class SpanHashesExpr(child: Expression, spanTokens: Int)
    extends UnaryExpression with org.apache.spark.sql.graftbridge.ExpectsStringArrayInput {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("p", IntegerType, nullable = false),
    StructField("k", LongType, nullable = false))), containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextStatsImpl.spanHashes(input.asInstanceOf[ArrayData], spanTokens)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextStatsImpl.spanHashes($c, $spanTokens)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column wrappers of the text kernels. Their inputs are typed strictly
  * (`ExpectsInputTypes`): a text kernel takes a string column and
  * [[spanHashes]] an array of strings, and any other type fails analysis
  * with a type error. Unlike the `split`/`lower`/`size` chains these
  * kernels replaced, nothing is cast to string implicitly, on purpose: a
  * numeric or binary column fed to a tokenizer is a caller's mistake,
  * and casting it would tokenize its rendering. Cast explicitly where
  * that is wanted. */
object TextStatsFunctions {
  def wsTokenCount(text: Column): Column =
    Bridge.column(WsTokenCountExpr(Bridge.expression(text)))
  def wsTokens(text: Column): Column =
    Bridge.column(WsTokensExpr(Bridge.expression(text)))
  def alnumTokens(text: Column): Column =
    Bridge.column(AlnumTokensExpr(Bridge.expression(text)))
  def bpeishTokenCount(text: Column): Column =
    Bridge.column(BpeishTokenCountExpr(Bridge.expression(text)))
  def langId(text: Column): Column =
    Bridge.column(LangIdExpr(Bridge.expression(text)))
  def qualityStats(text: Column): Column =
    Bridge.column(QualityStatsExpr(Bridge.expression(text)))
  def repetitionCounts(text: Column): Column =
    Bridge.column(RepetitionCountsExpr(Bridge.expression(text)))
  def spanHashes(toks: Column, spanTokens: Int): Column =
    Bridge.column(SpanHashesExpr(Bridge.expression(toks), spanTokens))
}
