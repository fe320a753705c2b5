package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document text-sketch expressions. The array/lambda formulations
  * (transform + slice per shingle, explode + 64 aggregate columns per
  * signature) evaluate interpreted Catalyst lambdas per ELEMENT and force
  * a groupBy shuffle per doc; these expressions do one eval per DOCUMENT
  * with a tight Scala loop and make every sketch a narrow projection —
  * at 100 TB the signature pass needs no shuffle at all.
  *
  * Eval-only (CodegenFallback): a single virtual call per row is already
  * off the per-element hot path; the loops inside are plain JVM code.
  *
  * Hash: md5-derived — a string's 16 digest bytes split into two
  * big-endian 64-bit halves (h1, h2); component p of a signature is the
  * Kirsch–Mitzenmacher combination (h1 + p·h2) masked to 63 bits
  * (Kirsch & Mitzenmacher, ESA 2006 — two hashes simulate k independent
  * ones with no loss for sketching). Deterministic across runs AND
  * across engines: DuckDB reproduces h1/h2 from the md5 hex string
  * (`CAST(concat('0x', substr(md5(s),1,16)) AS UBIGINT)`) and the
  * combination in HUGEINT-mod-2^63 arithmetic, so the whole
  * MinHash/SimHash family is hash-green against a SQL oracle instead of
  * rows-only. The 63-bit mask makes signed-long comparison = unsigned
  * (BIGINT-safe on both engines) at the cost of one sketch bit.
  */
object TextHash {
  final val NumHashes = 64

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** (bytes 0-7, bytes 8-15) of md5(s), big-endian signed longs — the
    * same two values DuckDB reads from hex chars [1,16] and [17,32].
    */
  def md5Pair(s: String): (Long, Long) = {
    val d = md.get().digest(s.getBytes("UTF-8"))
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < 8) {
      h1 = (h1 << 8) | (d(i) & 0xffL)
      h2 = (h2 << 8) | (d(i + 8) & 0xffL)
      i += 1
    }
    (h1, h2)
  }

  /** md5 bytes 0-7 as one big-endian signed long (SimHash token hash). */
  def md5Long(s: String): Long = {
    val d = md.get().digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Component p: (h1 + p·h2) mod 2^63. Java's wrapping arithmetic keeps
    * the low 64 bits; the mask keeps the low 63 = what DuckDB computes
    * exactly as (h1 + p·h2) % 9223372036854775808 in HUGEINT.
    */
  def component(h1: Long, h2: Long, p: Int): Long =
    (h1 + p * h2) & Long.MaxValue

  /** `md5Pair` over a byte range — the window expressions hash shingles
    * straight from the document's UTF-8 bytes, no String round-trip.
    */
  def md5PairBytes(bytes: Array[Byte], off: Int, len: Int): (Long, Long) = {
    val digest = md.get()
    digest.update(bytes, off, len)
    val d = digest.digest()
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < 8) {
      h1 = (h1 << 8) | (d(i) & 0xffL)
      h2 = (h2 << 8) | (d(i + 8) & 0xffL)
      i += 1
    }
    (h1, h2)
  }

  def tokenize(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+").filter(_.nonEmpty)
}

/** The shared n-token-window machinery (one copy — ShingleArray, SpanArray,
  * MinHashSig, BBitMinHashSig and SuffixWindows all build on it).
  *
  * Tokens are the split-on-single-space segments (empties kept), exactly
  * `text.split(" ", -1)`. Because consecutive tokens are separated by
  * exactly ONE space, every n-token window joined with ' ' is a CONTIGUOUS
  * byte range of the input — so window strings are zero-copy UTF8String
  * views over one shared byte array: no char decode, no StringBuilder, no
  * re-encode. 0x20 never occurs inside a UTF-8 multibyte sequence, so the
  * byte scan reproduces the String split exactly.
  */
private[functions] object TokenWindows {
  /** Token-start byte offsets plus one sentinel: starts(i) is where token
    * i begins; token i ends at starts(i+1) - 1 (the separator), the last
    * token at len. numTokens = returned length - 1.
    */
  def tokenStarts(bytes: Array[Byte], len: Int): Array[Int] = {
    var spaces = 0
    var i = 0
    while (i < len) { if (bytes(i) == ' '.toByte) spaces += 1; i += 1 }
    val starts = new Array[Int](spaces + 2)
    starts(0) = 0
    var t = 1
    i = 0
    while (i < len) {
      if (bytes(i) == ' '.toByte) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(t) = len + 1 // sentinel: end-of-token rule stays uniform
    starts
  }

  /** The window [first, first+n) of tokens as a zero-copy UTF8String view:
    * bytes [starts(first), starts(first+n) - 1).
    */
  @inline def window(bytes: Array[Byte], starts: Array[Int],
      first: Int, n: Int): UTF8String = {
    val off = starts(first)
    UTF8String.fromBytes(bytes, off, starts(first + n) - 1 - off)
  }
}

/** Distinct word n-gram shingles of a text column → array<string>.
  * First-seen order kept (LinkedHashSet), matching the original
  * String-building implementation; elements are zero-copy byte views
  * (TokenWindows) — UTF8String hash/equality is over the same UTF-8
  * bytes the old java.lang.String dedup compared.
  */
case class ShingleArray(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val starts = TokenWindows.tokenStarts(bytes, bytes.length)
    val numTokens = starts.length - 1
    if (numTokens < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= numTokens - n) {
      seen.add(TokenWindows.window(bytes, starts, i, n))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleArray =
    copy(child = newChild)
}

/** Position-level n-token windows of a text column, stride 1,
  * MULTIPLICITY KEPT (unlike `ShingleArray`'s distinct set) →
  * array<string>. Replaces the
  * `transform(sequence(0, size(w)-n), i -> array_join(slice(w, i+1, n)))`
  * formulation, which evaluates an interpreted Catalyst lambda plus a
  * slice allocation per POSITION — this is one eval per document with a
  * tight loop. Same output: split on single spaces keeping empties,
  * windows joined with ' ', docs shorter than n tokens → empty array.
  */
case class SpanArray(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val starts = TokenWindows.tokenStarts(bytes, bytes.length)
    val numTokens = starts.length - 1
    if (numTokens < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](numTokens - n + 1)
    var i = 0
    while (i <= numTokens - n) {
      out(i) = TokenWindows.window(bytes, starts, i, n)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SpanArray =
    copy(child = newChild)
}

/** All capped suffixes of a text column, as token arrays: position p
  * (0-based here; callers posexplode and add 1) maps to the tokens
  * [p, min(p + maxLen, numTokens)). Replaces the
  * `transform(sequence(1, size(w)), p -> slice(w, p, maxLen))`
  * formulation — an interpreted Catalyst lambda plus a slice allocation
  * per POSITION — with one eval per document. Token UTF8Strings are
  * zero-copy views allocated once and SHARED across all suffix arrays.
  * Same output (SuffixSpec / the d25 oracle pin it): split on single
  * spaces keeping empties, every position emitted, suffixes capped at
  * maxLen tokens.
  */
case class SuffixWindows(child: Expression, maxLen: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    ArrayType(ArrayType(StringType, containsNull = false), containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val starts = TokenWindows.tokenStarts(bytes, bytes.length)
    val numTokens = starts.length - 1
    val toks = new Array[UTF8String](numTokens)
    var i = 0
    while (i < numTokens) {
      toks(i) = TokenWindows.window(bytes, starts, i, 1)
      i += 1
    }
    val out = new Array[Any](numTokens)
    i = 0
    while (i < numTokens) {
      val len = math.min(maxLen, numTokens - i)
      val suf = new Array[Any](len)
      var j = 0
      while (j < len) { suf(j) = toks(i + j); j += 1 }
      out(i) = new GenericArrayData(suf)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SuffixWindows =
    copy(child = newChild)
}

/** Join a doc's tokens with ' ', skipping the (1-based) positions listed
  * in `positions` — the scrub-rebuild kernel. A null/absent positions
  * array keeps every token (the no-covered-positions row of the left
  * join that feeds it); out-of-range positions are ignored (the old
  * anti-join semantics). One eval per doc replaces the
  * token-grained anti-join + collect_list + array_sort + interpreted
  * field-extract transform pipeline.
  */
case class ExcludePositionsJoin(words: Expression, positions: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def left: Expression = words
  override def right: Expression = positions
  override def dataType: DataType = StringType
  override def nullable: Boolean = words.nullable

  // eval reads the tokens with getUTF8String and the positions with
  // getLong, so any other element type must fail at analysis, not at eval
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (words.dataType, positions.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"exclude_positions_join needs array<string> tokens and array<bigint> positions, " +
          s"got ${words.dataType.catalogString} and ${positions.dataType.catalogString}")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val w = words.eval(input)
    if (w == null) return null
    val arr = w.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val cov = positions.eval(input)
    if (cov == null) {
      // keep everything — plain ' '-join
      val all = new Array[UTF8String](n)
      var i = 0
      while (i < n) { all(i) = arr.getUTF8String(i); i += 1 }
      return UTF8String.concatWs(UTF8String.fromString(" "), all: _*)
    }
    val covArr = cov.asInstanceOf[ArrayData]
    val excl = new Array[Boolean](n)
    var i = 0
    val nc = covArr.numElements()
    while (i < nc) {
      if (!covArr.isNullAt(i)) {
        val p = covArr.getLong(i)
        if (p >= 1L && p <= n.toLong) excl((p - 1L).toInt) = true
      }
      i += 1
    }
    var kept = 0
    i = 0
    while (i < n) { if (!excl(i)) kept += 1; i += 1 }
    val out = new Array[UTF8String](kept)
    var k = 0
    i = 0
    while (i < n) {
      if (!excl(i)) { out(k) = arr.getUTF8String(i); k += 1 }
      i += 1
    }
    UTF8String.concatWs(UTF8String.fromString(" "), out: _*)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExcludePositionsJoin =
    copy(words = newLeft, positions = newRight)
}

/** 64-component MinHash signature over distinct word n-gram shingles →
  * array<long>. One narrow eval per doc — no explode, no shuffle.
  */
case class MinHashSig(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    import TextHash._
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val starts = TokenWindows.tokenStarts(bytes, bytes.length)
    val numTokens = starts.length - 1
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    if (numTokens >= n) {
      val seen = new java.util.HashSet[UTF8String]()
      var i = 0
      while (i <= numTokens - n) {
        val s = TokenWindows.window(bytes, starts, i, n)
        if (seen.add(s)) {
          val off = starts(i)
          val (h1, h2) = md5PairBytes(bytes, off, starts(i + n) - 1 - off)
          var p = 0
          while (p < NumHashes) {
            val v = component(h1, h2, p)
            if (v < mins(p)) mins(p) = v
            p += 1
          }
        }
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** 64-bit SimHash over the token multiset of normalized text → long. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any = {
    import TextHash._
    val toks = tokenize(input.asInstanceOf[UTF8String].toString)
    val counts = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = md5Long(toks(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** b-bit MinHash (b=8): bottom byte of each of the 64 component hashes,
  * packed 8 per long → array<long> of 8 (64 bytes per doc instead of 512).
  * At 100 TB the signature table shrinks 8×, and the agreement estimate
  * stays unbiased after collision correction:
  * Ĵ = (agree/64 − 1/256) / (1 − 1/256). Li & König, "b-Bit Minwise
  * Hashing" (WWW 2010).
  */
case class BBitMinHashSig(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    import TextHash._
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val starts = TokenWindows.tokenStarts(bytes, bytes.length)
    val numTokens = starts.length - 1
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    if (numTokens >= n) {
      val seen = new java.util.HashSet[UTF8String]()
      var i = 0
      while (i <= numTokens - n) {
        val s = TokenWindows.window(bytes, starts, i, n)
        if (seen.add(s)) {
          val off = starts(i)
          val (h1, h2) = md5PairBytes(bytes, off, starts(i + n) - 1 - off)
          var p = 0
          while (p < NumHashes) {
            val v = component(h1, h2, p)
            if (v < mins(p)) mins(p) = v
            p += 1
          }
        }
        i += 1
      }
    }
    val packed = new Array[Long](NumHashes / 8)
    var p = 0
    while (p < NumHashes) {
      packed(p / 8) |= (mins(p) & 0xffL) << ((p % 8) * 8)
      p += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(packed)
  }

  override protected def withNewChildInternal(newChild: Expression): BBitMinHashSig =
    copy(child = newChild)
}

/** Count of agreeing BYTES between two packed b-bit signatures. */
case class BBitAgree(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var agree = 0
    var i = 0
    while (i < n) {
      val xor = x.getLong(i) ^ y.getLong(i)
      var k = 0
      while (k < 8) {
        if (((xor >>> (k * 8)) & 0xffL) == 0L) agree += 1
        k += 1
      }
      i += 1
    }
    agree
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BBitAgree =
    copy(left = newLeft, right = newRight)
}

object TextSketches {
  def shingleArray(text: Column, n: Int): Column =
    Bridge.column(ShingleArray(Bridge.expression(text), n))
  def spanArray(text: Column, n: Int): Column =
    Bridge.column(SpanArray(Bridge.expression(text), n))
  def suffixWindows(text: Column, maxLen: Int): Column =
    Bridge.column(SuffixWindows(Bridge.expression(text), maxLen))
  def excludePositionsJoin(words: Column, positions: Column): Column =
    Bridge.column(ExcludePositionsJoin(
      Bridge.expression(words), Bridge.expression(positions)))
  def minhashSig(text: Column, n: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(text), n))
  def simhash64(text: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(text)))
  def bbitMinhashSig(text: Column, n: Int): Column =
    Bridge.column(BBitMinHashSig(Bridge.expression(text), n))
  def bbitAgree(a: Column, b: Column): Column =
    Bridge.column(BBitAgree(Bridge.expression(a), Bridge.expression(b)))
}
