package graft.functions

import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the dedup sketch kernels (shingling,
 * MinHash, SimHash). Spark's higher-order functions (transform /
 * aggregate / zip_with) are evaluated INTERPRETED — they never enter
 * whole-stage codegen — so a 60-bit vote loop nested per token per row
 * costs ~100× what the same loop costs as compiled Java. These
 * expressions run the kernels as tight primitive loops (eval and
 * doGenCode both dispatch to the static impls in [[SketchImpl]]), the
 * same altitude as [[VectorExpressions]].
 *
 * Semantics are engine-portable by construction so a SQL oracle can
 * recompute them: tokenization = lowercase split on /[^a-z0-9]+/,
 * SimHash token hash = first 60 bits of md5 hex, MinHash lane hash =
 * xxhash64(lane, shingle) (seed 42, identical to the SQL `xxhash64`
 * builtin — MinHash output is verified via exact Jaccard, not by hash).
 */
object SketchImpl {
  private val token = Pattern.compile("[^a-z0-9]+")
  private val md5tl = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** lowercase alnum tokens, Spark `lower`+`split` semantics. */
  def tokens(text: UTF8String): Array[String] = {
    val parts = token.split(text.toLowerCase.toString)
    var n = 0
    var i = 0
    while (i < parts.length) { if (!parts(i).isEmpty) n += 1; i += 1 }
    if (n == parts.length) parts
    else {
      val out = new Array[String](n)
      var j = 0; i = 0
      while (i < parts.length) {
        if (!parts(i).isEmpty) { out(j) = parts(i); j += 1 }
        i += 1
      }
      out
    }
  }

  /** distinct (first-seen order) w-token shingles joined by single spaces;
    * empty array when fewer than w tokens. */
  def shingles(text: UTF8String, w: Int): ArrayData = {
    val t = tokens(text)
    if (t.length < w) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= t.length - w) {
      sb.setLength(0)
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(t(i + j)); j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** xxhash64(lane, shingle) with Spark's literal-int-then-string fold
    * (seed 42) — bit-identical to the SQL builtin. */
  private def laneHash(lane: Int, s: UTF8String): Long = {
    val h = XXH64.hashInt(lane, 42L)
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, h)
  }

  /** k-lane MinHash signature over a shingle array; null-free long array.
    * Lane loop outside, shingle loop inside — one UTF8String fetch per
    * (lane, shingle), no per-lane array allocation. */
  def minhashSig(shingleArr: ArrayData, k: Int): ArrayData = {
    val n = shingleArr.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = shingleArr.getUTF8String(i)
      var lane = 0
      while (lane < k) {
        val h = laneHash(lane, s)
        if (h < sig(lane)) sig(lane) = h
        lane += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Fused tokens → w-shingles → md5hash60: distinct 60-bit shingle
    * hashes in first-seen order, never materializing the string array.
    * The hashed form of [[shingles]] for pipelines whose downstream only
    * needs shingle EQUALITY (minhash banding, exact-Jaccard verification,
    * posting joins): the barrier payload per doc drops from ~w·6 bytes
    * per shingle to 8, with the usual 2^-61-per-vocab-pair collision
    * contract. */
  def shingleHashes(text: UTF8String, w: Int): ArrayData = {
    val t = tokens(text)
    if (t.length < w) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= t.length - w) {
      sb.setLength(0)
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(t(i + j)); j += 1
      }
      seen.add(md5hash60(sb.toString))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(out)
  }

  /** k-lane MinHash signature over PRE-HASHED shingles: lane hash =
    * xxhash64(shingleHash, seed = xxhash64(lane, 42)) — one long mix per
    * (lane, shingle) instead of re-hashing the shingle STRING per lane.
    * Lane semantics differ from [[minhashSig]] (a different random
    * family), which is free: MinHash output is verified by exact Jaccard,
    * never by lane value. */
  def minhashSigFromHashes(hashArr: ArrayData, k: Int): ArrayData = {
    val n = hashArr.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var lane = 0
    while (lane < k) {
      val seed = XXH64.hashInt(lane, 42L)
      var i = 0
      while (i < n) {
        val h = XXH64.hashLong(hashArr.getLong(i), seed)
        if (h < sig(lane)) sig(lane) = h
        i += 1
      }
      lane += 1
    }
    new GenericArrayData(sig)
  }

  /** Fused tokenize → per-document term counts: one hash-map pass over
    * the token stream, emitting (token, occurrences) structs in
    * first-seen order. THE kernel for corpus-model scoring
    * ([[graft.operators.CorpusStats]]): the same computation as
    * `array_sort` + run-length HOFs, but those evaluate INTERPRETED and
    * Catalyst's projection collapse inlines each intermediate array into
    * the downstream lambdas — the sort re-ran per element (measured
    * catastrophically super-linear per document at sf5); this is one
    * compiled O(n) pass. */
  def termCounts(text: UTF8String): ArrayData = {
    val t = tokens(text)
    val m = new java.util.LinkedHashMap[String, java.lang.Long]()
    var i = 0
    while (i < t.length) {
      val prev = m.get(t(i))
      m.put(t(i), if (prev == null) 1L else prev + 1L)
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(e.getKey), e.getValue)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** BPE encode of one word (symbols start as chars + `</w>`): repeatedly
    * merge the LOWEST-RANK adjacent pair present in the table, all its
    * occurrences left to right — the standard greedy BPE encode; returns
    * the resulting symbol count. */
  private[functions] def bpeEncodeCount(word: String, table: BpeTable): Int =
    bpeEncodeSyms(word, table).size

  /** The greedy merge loop itself, returning the final symbol sequence
    * (shared by the count and the id-encode kernels). */
  private[functions] def bpeEncodeSyms(word: String, table: BpeTable)
      : java.util.ArrayList[String] = {
    var syms = new java.util.ArrayList[String](word.length + 1)
    var i = 0
    while (i < word.length) { syms.add(String.valueOf(word.charAt(i))); i += 1 }
    syms.add("</w>")
    var done = false
    while (!done && syms.size > 1) {
      var best = Integer.MAX_VALUE
      var j = 0
      while (j < syms.size - 1) {
        val r = table.ranks.get(syms.get(j) + " " + syms.get(j + 1))
        if (r != null && r < best) best = r
        j += 1
      }
      if (best == Integer.MAX_VALUE) done = true
      else {
        val next = new java.util.ArrayList[String](syms.size)
        var k = 0
        while (k < syms.size) {
          if (k < syms.size - 1 && {
            val r = table.ranks.get(syms.get(k) + " " + syms.get(k + 1))
            r != null && r.intValue == best
          }) { next.add(syms.get(k) + syms.get(k + 1)); k += 2 }
          else { next.add(syms.get(k)); k += 1 }
        }
        syms = next
      }
    }
    syms
  }

  // word-encode memos, per thread, keyed by (table.uid, word) — uid is a
  // process-unique monotonic id, NOT an identity hash (identity hashes
  // can collide between live tables or recycle after GC, which would let
  // a stale entry from a DIFFERENT merge table answer — ADVICE r9)
  private val bpeMemo = ThreadLocal.withInitial[java.util.HashMap[(Long, String), Int]](
    () => new java.util.HashMap[(Long, String), Int]())
  private val bpeIdMemo =
    ThreadLocal.withInitial[java.util.HashMap[(Long, String), Array[Int]]](
      () => new java.util.HashMap[(Long, String), Array[Int]]())

  /** Token count of a text under a learned BPE merge table: tokenize
    * (the pipeline-wide lowercase-alnum rule), encode each word with
    * [[bpeEncodeCount]], sum. Word encodes memoize per thread (natural
    * text repeats words heavily); the memo is capped and keyed by the
    * table's process-unique uid so two tables never cross-pollute. */
  def bpeTokenCount(text: UTF8String, table: BpeTable): Long = {
    val t = tokens(text)
    val memo = bpeMemo.get()
    if (memo.size > 65536) memo.clear()
    val tid = table.uid
    var total = 0L
    var i = 0
    while (i < t.length) {
      val key = (tid, t(i))
      var c = 0
      if (memo.containsKey(key)) c = memo.get(key)
      else { c = bpeEncodeCount(t(i), table); memo.put(key, c) }
      total += c
      i += 1
    }
    total
  }

  /** Token-ID encode of a text under a learned BPE table — the stage a
    * dataloader export actually needs (a count alone cannot feed a
    * training shard): tokenize, greedy-merge each word, map every final
    * symbol through the table's deterministic vocab. Unknown symbols
    * (impossible under the pipeline tokenizer, whose output alphabet is
    * exactly `[a-z0-9]`) map to id 0 = `<unk>`. Per-thread capped memo
    * of word → id-array, keyed like [[bpeTokenCount]]'s. */
  def bpeEncodeIds(text: UTF8String, table: BpeTable): ArrayData = {
    val t = tokens(text)
    val memo = bpeIdMemo.get()
    if (memo.size > 65536) memo.clear()
    val tid = table.uid
    val parts = new Array[Array[Int]](t.length)
    var n = 0
    var i = 0
    while (i < t.length) {
      val key = (tid, t(i))
      var ids = memo.get(key)
      if (ids == null) {
        val syms = bpeEncodeSyms(t(i), table)
        ids = new Array[Int](syms.size)
        var j = 0
        while (j < ids.length) {
          val v = table.vocab.get(syms.get(j))
          ids(j) = if (v == null) 0 else v.intValue
          j += 1
        }
        memo.put(key, ids)
      }
      parts(i) = ids
      n += ids.length
      i += 1
    }
    val out = new Array[Any](n)
    var k = 0
    i = 0
    while (i < parts.length) {
      val p = parts(i)
      var j = 0
      while (j < p.length) { out(k) = p(j); k += 1; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** first 60 bits of md5(token) as a non-negative long — matches
    * `('0x' || substr(md5(t),1,15))::BIGINT` in the SQL oracle. */
  def md5hash60(t: String): Long = {
    val d = md5tl.get()
    d.reset()
    val b = d.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // hex chars 1..15 = bytes 0..6 plus the high nibble of byte 7
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (b(i) & 0xFFL); i += 1 }
    (v << 4) | ((b(7) & 0xF0L) >>> 4)
  }

  /** 60-bit SimHash over the byte w-gram stream of a BINARY payload —
    * the perceptual signature of the media-dedup path. Position-
    * independent by construction (each w-byte window votes, nothing is
    * keyed to absolute offsets), so trims, appends, and localized edits
    * move only the few grams they touch and the signature's Hamming
    * distance stays small — unlike any fixed-grid chunk hash, whose
    * every bucket boundary shifts when the length changes. Gram hash =
    * first 60 bits of md5 over the raw bytes (engine-portable: equals
    * `('0x' || substr(md5(s),1,15))::BIGINT` of the same byte string in
    * SQL). Payloads shorter than w → signature 0. */
  def byteGramSimhash60(payload: Array[Byte], w: Int): Long = {
    val n = payload.length
    if (n < w) return 0L
    val votes = new Array[Int](60)
    val d = md5tl.get()
    var p = 0
    while (p <= n - w) {
      d.reset()
      d.update(payload, p, w)
      val b = d.digest()
      var h = 0L
      var i = 0
      while (i < 7) { h = (h << 8) | (b(i) & 0xFFL); i += 1 }
      h = (h << 4) | ((b(7) & 0xF0L) >>> 4)
      var bit = 0
      while (bit < 60) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      p += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < 60) {
      if (votes(bit) > 0) sig |= (1L << bit)
      bit += 1
    }
    sig
  }

  /** 60-bit SimHash: per bit, strict majority vote (ties → 0) over the
    * token multiset's md5-derived hashes. */
  def simhash60(text: UTF8String): Long = {
    val t = tokens(text)
    val votes = new Array[Int](60)
    var i = 0
    while (i < t.length) {
      val h = md5hash60(t(i))
      var bit = 0
      while (bit < 60) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < 60) {
      if (votes(bit) > 0) sig |= (1L << bit)
      bit += 1
    }
    sig
  }
}

/** shingles(text, w) → array<string> (distinct, first-seen order). */
case class ShinglesExpr(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    SketchImpl.shingles(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.shingles($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** minhashSig(shingleArray, k) → array<long> of lane minima. */
case class MinHashSigExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    SketchImpl.minhashSig(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.minhashSig($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** shingleHashes(text, w) → array<long> (distinct 60-bit md5 prefixes,
  * first-seen order). */
case class ShingleHashesExpr(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    SketchImpl.shingleHashes(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.shingleHashes($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** minhashSigLongs(hashArray, k) → array<long> of lane minima over
  * pre-hashed shingles. */
case class MinHashSigLongsExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    SketchImpl.minhashSigFromHashes(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.minhashSigFromHashes($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeTable {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  private[functions] def nextUid(): Long = ids.incrementAndGet()
  /** The fixed base alphabet of the pipeline tokenizer (`[a-z0-9]`) plus
    * the end-of-word marker — id 0 is reserved for `<unk>`. */
  val baseSymbols: IndexedSeq[String] =
    (('0' to '9') ++ ('a' to 'z')).map(_.toString) :+ "</w>"
}

/** A learned BPE merge table as a plan-time reference object (the same
  * altitude as the PQ codebooks): pair "l r" → merge rank, plus the
  * DETERMINISTIC vocab the id-encode path maps through — id 0 `<unk>`,
  * ids 1..37 the base alphabet in listed order, then one id per merge
  * OUTPUT in rank order (first-writer wins when two merges produce the
  * same string, e.g. a+bc and ab+c). `vocabSize` is the next free id —
  * the conventional pad-token slot. Built once on the driver from the
  * ordered merge list, shipped to executors inside the expression. */
final class BpeTable(mergesInOrder: Seq[(String, String)]) extends Serializable {
  val ranks = new java.util.HashMap[String, Integer]()
  val vocab = new java.util.HashMap[String, Integer]()
  vocab.put("<unk>", 0)
  BpeTable.baseSymbols.zipWithIndex.foreach { case (s, i) =>
    vocab.put(s, i + 1)
  }
  mergesInOrder.zipWithIndex.foreach { case ((l, r), i) =>
    ranks.put(l + " " + r, i)
    vocab.putIfAbsent(l + r, vocab.size)
  }
  val vocabSize: Int = vocab.size
  /** id → symbol (inverse vocab; the FIRST writer of a duplicate merge
    * output owns the string). Decoding a token-id stream = concatenating
    * these and splitting on `</w>` — the round-trip CorpusStatsSuite
    * pins: decode(encode(text)) recovers the tokenized words exactly. */
  val symbols: Array[String] = {
    val out = new Array[String](vocabSize)
    vocab.forEach((s, i) => if (out(i) == null) out(i) = s)
    out
  }
  /** process-unique memo key; `@transient lazy` so every deserialized
    * executor-side copy draws a fresh uid from ITS process's counter. */
  @transient lazy val uid: Long = BpeTable.nextUid()
  override def toString: String =
    s"BpeTable(${ranks.size} merges, vocab $vocabSize)"
}

/** bpeTokenCount(text) → long under a learned merge table. */
case class BpeTokenCountExpr(child: Expression, table: BpeTable)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SketchImpl.bpeTokenCount(input.asInstanceOf[UTF8String], table)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTable", table, "graft.functions.BpeTable")
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.bpeTokenCount($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** bpeEncodeIds(text) → array<int> token ids under a learned merge table. */
case class BpeEncodeIdsExpr(child: Expression, table: BpeTable)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    SketchImpl.bpeEncodeIds(input.asInstanceOf[UTF8String], table)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTable", table, "graft.functions.BpeTable")
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.bpeEncodeIds($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** termCounts(text) → array<struct<tok:string, c:long>> (first-seen order). */
case class TermCountsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tok", StringType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  override def nullSafeEval(input: Any): Any =
    SketchImpl.termCounts(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.termCounts($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** byteGramSimhash60(payload, w) → long — perceptual media signature. */
case class ByteGramSimHash60Expr(child: Expression, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SketchImpl.byteGramSimhash60(input.asInstanceOf[Array[Byte]], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.byteGramSimhash60($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** simhash60(text) → long. */
case class SimHash60Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SketchImpl.simhash60(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.simhash60($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SketchFunctions {
  def shingles(text: Column, w: Int): Column =
    Bridge.column(ShinglesExpr(Bridge.expression(text), w))
  def shingleHashes(text: Column, w: Int): Column =
    Bridge.column(ShingleHashesExpr(Bridge.expression(text), w))
  def minhashSig(shingleArr: Column, k: Int): Column =
    Bridge.column(MinHashSigExpr(Bridge.expression(shingleArr), k))
  def minhashSigLongs(hashArr: Column, k: Int): Column =
    Bridge.column(MinHashSigLongsExpr(Bridge.expression(hashArr), k))
  def simhash60(text: Column): Column =
    Bridge.column(SimHash60Expr(Bridge.expression(text)))
  def byteGramSimhash60(payload: Column, w: Int): Column =
    Bridge.column(ByteGramSimHash60Expr(Bridge.expression(payload), w))
  def termCounts(text: Column): Column =
    Bridge.column(TermCountsExpr(Bridge.expression(text)))
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeTokenCountExpr(Bridge.expression(text), new BpeTable(merges)))
  def bpeEncodeIds(text: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncodeIdsExpr(Bridge.expression(text), new BpeTable(merges)))
}
