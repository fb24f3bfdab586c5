package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot per-element kernels.
  *
  * Spark's higher-order functions (`transform`/`aggregate`/`zip_with`) are
  * INTERPRETED — every element evaluation walks an expression tree with
  * boxing. For kernels that touch every vector component or every token
  * (distance, SimHash votes, sliding-window hashing) that interpretive
  * overhead dominates the arithmetic by an order of magnitude. Each
  * kernel here evaluates its children once per row and runs the inner
  * loop as compiled Scala over the unsafe array/string representations.
  *
  * The kernels are `CodegenFallback` expressions, not generated code: a
  * whole-stage-codegen stage cannot hold them, so an operator that
  * evaluates one (the serving plan's `Filter` and `Project` over the
  * distance) runs outside any `*(n)` codegen stage and calls the
  * kernel's `eval` once per row. That per-row dispatch is negligible
  * next to a loop over thousands of elements.
  *
  * CONTRACT: each expression is bit-identical to the HOF formulation it
  * replaces (same double-precision operation sequence, same null
  * semantics), so the DuckDB oracle SQL — which mirrors those HOF
  * formulas — is unchanged. The HOF originals remain documented alongside.
  *
  * [[BoundValue]] is the one non-kernel expression: the run-time value
  * slot of a prepared serving plan ([[graft.operators.Knn.search]]).
  */
object NativeExprs {

  /** `Column` view of an expression (Spark 4 `classic` converter). */
  private def asCol(e: Expression): Column = ColumnBridge.column(e)
  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  /** Per-thread MD5 instances. Expression instances are usually
    * deserialized per task, but the same instance CAN be evaluated from
    * several threads (plan reuse without re-serialization, driver-side
    * constant folding) — a single shared mutable MessageDigest would then
    * interleave `update` calls and silently corrupt hashes. A ThreadLocal
    * keeps the per-row cost at one hash-map probe without making the
    * expression Nondeterministic (which `Stateful` would, disabling
    * pushdown/folding). */
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def sqEuclidean(a: Column, b: Column): Column = asCol(SqEuclideanExpr(ex(a), ex(b)))
  def cosineDistance(a: Column, b: Column): Column = asCol(CosineDistanceExpr(ex(a), ex(b)))
  def dot(a: Column, b: Column): Column = asCol(DotExpr(ex(a), ex(b)))
  def simhash60(tokens: Column): Column = asCol(SimHash60Expr(ex(tokens)))
  def md5MinWindow(text: Column, window: Int): Column =
    asCol(Md5MinWindowExpr(ex(text), window))

  /** A value bound into a prepared plan at run time: the query vector
    * and the probed cluster ids of a warm single-vector query
    * ([[graft.operators.Knn.search]]). `value` is in Catalyst's internal
    * form; `slot` tells the values of one plan apart.
    *
    * It is not foldable, so the optimizer keeps it in the plan as a
    * leaf instead of folding it into its parent, and it is always
    * nullable, so no rule specializes the plan to one value's
    * nullness. Generated code reads the value through a reference
    * object (`ctx.addReferenceObj`), never as an inlined constant: two
    * plans that differ only in their bound values generate the same
    * source, and a newly bound value compiles no new class. A plan is
    * bound by copying it with each slot's new `BoundValue`, so a bound
    * plan is immutable. */
  case class BoundValue(slot: Int, dataType: DataType, value: Any) extends LeafExpression {
    override def nullable: Boolean = true
    override def foldable: Boolean = false
    override def eval(input: InternalRow): Any = value
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
      ev.copy(code = code"""
        boolean ${ev.isNull} = $ref == null;
        ${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull} ?
          ${CodeGenerator.defaultValue(dataType)} : $ref;""")
    }
    override def toString: String = s"bound#$slot"
  }

  /** Lowercased whitespace tokenization — compiled twin of
    * `split(translate(trim(text), 'A'..'Z', 'a'..'z'), "\\s+")` (ASCII-only
    * case fold — see [[graft.operators.TextOps.asciiLower]] for why full
    * Unicode lowering is NOT portable cross-engine) with Spark's exact
    * semantics:
    * `trim` strips SPACES only (not tabs/newlines), `split` uses limit -1
    * (a leading whitespace run yields a leading "" element, a trailing
    * run a trailing "" element, and "" tokenizes to [""]). Whitespace =
    * the Java regex `\s` class. Byte-level scan is safe in UTF-8: all
    * continuation/multibyte bytes have the high bit set. */
  case class WhitespaceTokensExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = child.nullable
    private def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
    override def eval(input: InternalRow): Any = {
      val t = child.eval(input).asInstanceOf[UTF8String]
      if (t == null) return null
      // ASCII-only case fold (see TextOps.asciiLower for the convention).
      // getBytes may alias the underlying buffer, so copy before mapping;
      // multibyte UTF-8 units are negative bytes and fall outside [A-Z].
      val raw = t.trim().getBytes
      val bytes = java.util.Arrays.copyOf(raw, raw.length)
      var k = 0
      while (k < bytes.length) {
        val b = bytes(k)
        if (b >= 'A' && b <= 'Z') bytes(k) = (b + 32).toByte
        k += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
      val n = bytes.length
      var start = 0
      var i = 0
      while (i < n) {
        if (isWs(bytes(i))) {
          out += UTF8String.fromBytes(bytes, start, i - start)
          i += 1
          while (i < n && isWs(bytes(i))) i += 1
          start = i
        } else i += 1
      }
      out += UTF8String.fromBytes(bytes, start, n - start)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray[Any])
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def whitespaceTokens(text: Column): Column = asCol(WhitespaceTokensExpr(ex(text)))

  /** Text → binary, one byte per CHARACTER: byte i = codepoint i mod 256.
    * The synthetic-media payload projection ([[graft.operators.Multimodal
    * .syntheticMedia]]): identical to the raw UTF-8 bytes on ASCII text,
    * but — unlike a UTF-8 byte stream — addressable per character in
    * portable SQL (`ord(substr(text, i, 1)) % 256`), which is what keeps
    * the media oracles expressible cross-engine on multibyte text. */
  case class CodepointBytesExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val t = child.eval(input).asInstanceOf[UTF8String]
      if (t == null) return null
      val s = t.toString
      val out = new Array[Byte](s.codePointCount(0, s.length))
      var i = 0
      var k = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        out(k) = (cp & 0xff).toByte
        k += 1
        i += Character.charCount(cp)
      }
      out
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def codepointBytes(text: Column): Column = asCol(CodepointBytesExpr(ex(text)))

  /** NFC canonical normalization (Unicode UAX #15). Both java.text
    * .Normalizer (this side) and utf8proc (the DuckDB oracle's
    * `nfc_normalize`) implement the same standard algorithm, and NFC is
    * stabilized for assigned codepoints — so unlike case folding (see
    * [[graft.operators.TextOps.asciiLower]]) canonical composition IS
    * portable cross-engine. The fast path matters at scale: real corpora
    * are overwhelmingly already-NFC (all ASCII is), and `isNormalized`'s
    * quick-check scan returns the input UTF8String untouched — no
    * decode, no allocation — so the kernel is ~a byte scan except on the
    * rare decomposed document. */
  case class NfcNormalizeExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val t = child.eval(input).asInstanceOf[UTF8String]
      if (t == null) return null
      val s = t.toString
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) t
      else UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def nfcNormalize(text: Column): Column = asCol(NfcNormalizeExpr(ex(text)))

  /** Word n-gram shingles (multiset) — compiled twin of
    * `transform(sequence(0, size(t)-n), i -> concat_ws(" ", t[i+1..i+n]))`
    * guarded to an empty array for size < n. */
  case class ShinglesExpr(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val arr = child.eval(input).asInstanceOf[ArrayData]
      if (arr == null) return null
      val m = arr.numElements()
      if (m < n)
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
      val out = new Array[Any](m - n + 1)
      var i = 0
      while (i <= m - n) {
        var len = n - 1 // separators
        var j = 0
        while (j < n) { len += arr.getUTF8String(i + j).numBytes(); j += 1 }
        val buf = new Array[Byte](len)
        var pos = 0
        j = 0
        while (j < n) {
          if (j > 0) { buf(pos) = ' '; pos += 1 }
          val tok = arr.getUTF8String(i + j)
          tok.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
          pos += tok.numBytes()
          j += 1
        }
        out(i) = UTF8String.fromBytes(buf)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def shingles(tokens: Column, n: Int): Column = asCol(ShinglesExpr(ex(tokens), n))

  /** Numeric array element reader resolved once per (expression, type). */
  private def reader(dt: DataType): (ArrayData, Int) => Double = dt match {
    case ArrayType(FloatType, _)  => (a, i) => a.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => (a, i) => a.getDouble(i)
    case ArrayType(IntegerType, _) => (a, i) => a.getInt(i).toDouble
    case ArrayType(LongType, _)   => (a, i) => a.getLong(i).toDouble
    case other => throw new IllegalArgumentException(s"unsupported vector type: $other")
  }

  /** Shared shape for the pairwise vector kernels: null on null/ragged
    * inputs OR any null ELEMENT — exactly what the zip_with formulation
    * yields (length mismatch pads a null element, and a null element
    * nulls its term and thus the whole sum), so downstream
    * `!isnan(distance)` guards behave identically even for arrays built
    * on the SQL surface with explicit NULL elements. The element null
    * check is hoisted out of the arithmetic loop: parquet-backed vectors
    * declare `containsNull = false`, so it short-circuits to one branch
    * per row. */
  abstract class VectorKernel extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    @transient protected lazy val readL: (ArrayData, Int) => Double = reader(left.dataType)
    @transient protected lazy val readR: (ArrayData, Int) => Double = reader(right.dataType)
    @transient private lazy val mayHaveNullElems: Boolean = Seq(left, right).exists {
      _.dataType match {
        case ArrayType(_, containsNull) => containsNull
        case _ => true
      }
    }
    protected def kernel(a: ArrayData, b: ArrayData, n: Int): Double
    override def eval(input: InternalRow): Any = {
      val a = left.eval(input).asInstanceOf[ArrayData]
      val b = right.eval(input).asInstanceOf[ArrayData]
      if (a == null || b == null || a.numElements() != b.numElements()) return null
      val n = a.numElements()
      if (mayHaveNullElems) {
        var i = 0
        while (i < n) {
          if (a.isNullAt(i) || b.isNullAt(i)) return null
          i += 1
        }
      }
      kernel(a, b, n)
    }
  }

  /** Squared L2 (reference `src/types/metric.rs:29`): the compiled twin of
    * `aggregate(zip_with(a, b, (x,y) -> (xd-yd)*(xd-yd)), 0.0, +)`. */
  case class SqEuclideanExpr(left: Expression, right: Expression) extends VectorKernel {
    override protected def kernel(a: ArrayData, b: ArrayData, n: Int): Double = {
      var s = 0.0; var i = 0
      while (i < n) { val d = readL(a, i) - readR(b, i); s += d * d; i += 1 }
      s
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Dot product — compiled twin of
    * `aggregate(zip_with(a, b, (x,y) -> xd*yd), 0.0, +)`. */
  case class DotExpr(left: Expression, right: Expression) extends VectorKernel {
    override protected def kernel(a: ArrayData, b: ArrayData, n: Int): Double = {
      var s = 0.0; var i = 0
      while (i < n) { s += readL(a, i) * readR(b, i); i += 1 }
      s
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Cosine distance 1 − dot/(‖a‖‖b‖) (reference `src/types/metric.rs:30-31`).
    * One pass accumulating the three sums; each sum sees the same
    * left-to-right addition sequence as its standalone HOF aggregate, so
    * the result is bit-identical. */
  case class CosineDistanceExpr(left: Expression, right: Expression) extends VectorKernel {
    override protected def kernel(a: ArrayData, b: ArrayData, n: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = readL(a, i); val y = readR(b, i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** 60-bit SimHash over a token array — compiled twin of the
    * md5→conv(15 hex)→±1-vote-per-bit aggregate in [[graft.operators.Dedup]].
    * Bit source: the top 60 bits of the digest's first 8 bytes, exactly
    * `conv(substring(md5(tok), 1, 15), 16, 10)`. */
  case class SimHash60Expr(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val arr = child.eval(input).asInstanceOf[ArrayData]
      if (arr == null) return null
      val digest = md5Local.get()
      val votes = new Array[Int](60)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val md = digest.digest(arr.getUTF8String(i).getBytes)
        var v = 0L
        var j = 0
        while (j < 8) { v = (v << 8) | (md(j) & 0xffL); j += 1 }
        v = v >>> 4 // first 15 hex chars = top 60 bits of the first 8 bytes
        var b = 0
        while (b < 60) {
          if (((v >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        i += 1
      }
      var sim = 0L
      var b = 0
      while (b < 60) { if (votes(b) > 0) sim |= 1L << b; b += 1 }
      sim
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** MinHash signature over a shingle array — compiled twin of the
    * Kirsch-Mitzenmacher construction in [[graft.operators.Dedup]]: per
    * shingle, ONE md5 yields two independent 56-bit integers
    * (`conv(substring(hex,1,14),16,10)` = digest bytes 0..6 big-endian;
    * `conv(substring(hex,17,14),16,10)` = bytes 8..14), and permutation
    * `i`'s signature element is `min(h1 + i·h2)` over all shingles.
    * Empty input yields Long.MaxValue elements, like the HOF fold from an
    * `array_repeat(maxLong)` seed. */
  case class MinhashSigExpr(child: Expression, perms: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val arr = child.eval(input).asInstanceOf[ArrayData]
      if (arr == null) return null
      val digest = md5Local.get()
      val mins = Array.fill(perms)(Long.MaxValue)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val md = digest.digest(arr.getUTF8String(i).getBytes)
        var h1 = 0L; var h2 = 0L
        var j = 0
        while (j < 7) {
          h1 = (h1 << 8) | (md(j) & 0xffL)
          h2 = (h2 << 8) | (md(j + 8) & 0xffL)
          j += 1
        }
        var p = 0
        while (p < perms) {
          val v = h1 + p * h2
          if (v < mins(p)) mins(p) = v
          p += 1
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def minhashSig(shingles: Column, perms: Int): Column =
    asCol(MinhashSigExpr(ex(shingles), perms))

  /** Fused MinHash pass: `struct(sig, shh)` where `sig` is exactly
    * [[MinhashSigExpr]]'s signature and `shh` exactly
    * [[ShingleHashesExpr]]'s per-shingle 56-bit identities — both derive
    * from the same per-shingle md5, so one digest per shingle serves
    * signature AND verification (round 2 re-tokenized and re-hashed every
    * LSH candidate doc to rebuild `shh`). */
  case class MinhashSigHashesExpr(child: Expression, perms: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("shh", ArrayType(LongType, containsNull = false), nullable = false)))
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val arr = child.eval(input).asInstanceOf[ArrayData]
      if (arr == null) return null
      val digest = md5Local.get()
      val n = arr.numElements()
      val mins = Array.fill(perms)(Long.MaxValue)
      val shh = new Array[Long](n)
      var i = 0
      while (i < n) {
        val md = digest.digest(arr.getUTF8String(i).getBytes)
        var h1 = 0L; var h2 = 0L
        var j = 0
        while (j < 7) {
          h1 = (h1 << 8) | (md(j) & 0xffL)
          h2 = (h2 << 8) | (md(j + 8) & 0xffL)
          j += 1
        }
        shh(i) = h1
        var p = 0
        while (p < perms) {
          val v = h1 + p * h2
          if (v < mins(p)) mins(p) = v
          p += 1
        }
        i += 1
      }
      InternalRow(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(mins),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(shh))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def minhashSigHashes(shingles: Column, perms: Int): Column =
    asCol(MinhashSigHashesExpr(ex(shingles), perms))

  /** Per-shingle 56-bit identities (order and duplicates preserved) —
    * compiled twin of `transform(sh, s ->
    * conv(substring(md5(s),1,14),16,10))`. See
    * [[graft.operators.TextOps.shingleHashes]]. */
  case class ShingleHashesExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val arr = child.eval(input).asInstanceOf[ArrayData]
      if (arr == null) return null
      val digest = md5Local.get()
      val n = arr.numElements()
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        val md = digest.digest(arr.getUTF8String(i).getBytes)
        var h1 = 0L
        var j = 0
        while (j < 7) { h1 = (h1 << 8) | (md(j) & 0xffL); j += 1 }
        out(i) = h1
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def shingleHashes(shingles: Column): Column = asCol(ShingleHashesExpr(ex(shingles)))

  /** Fused per-token statistics over a token array — one compiled pass
    * replacing three interpreted HOF traversals:
    *   - `votes`: per-language stopword hit counts, aligned with
    *     `langWords` order — twin of the `aggregate`+`zip_with` vote fold
    *     over the stopword→increment-vector map;
    *   - `stop_hits`: tokens present in ANY language's list — twin of
    *     `size(filter(t, tok -> array_contains(allStop, tok)))`;
    *   - `len_sum`: Σ `length(tok)` in CODE POINTS (Spark `length`
    *     semantics) — twin of the `aggregate` length sum (long-exact, so
    *     any summation order equals the double fold).
    * One hash lookup per token; the language inventories are constructor
    * data, so the expression stays deterministic and foldable. */
  case class TokenStatsExpr(child: Expression, langWords: Seq[Seq[String]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("votes", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("stop_hits", LongType, nullable = false),
      StructField("len_sum", LongType, nullable = false)))
    override def nullable: Boolean = child.nullable
    @transient private lazy val voteMap: java.util.HashMap[UTF8String, Array[Int]] = {
      val m = new java.util.HashMap[UTF8String, Array[Int]]()
      val words = langWords.flatten.distinct
      words.foreach { w =>
        m.put(UTF8String.fromString(w),
          langWords.map(ws => if (ws.contains(w)) 1 else 0).toArray)
      }
      m
    }
    override def eval(input: InternalRow): Any = {
      val arr = child.eval(input).asInstanceOf[ArrayData]
      if (arr == null) return null
      val votes = new Array[Int](langWords.size)
      var stopHits = 0L
      var lenSum = 0L
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val tok = arr.getUTF8String(i)
        lenSum += tok.numChars()
        val v = voteMap.get(tok)
        if (v != null) {
          stopHits += 1L
          var j = 0
          while (j < v.length) { votes(j) += v(j); j += 1 }
        }
        i += 1
      }
      InternalRow(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(votes),
        stopHits, lenSum)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def tokenStats(tokens: Column, langWords: Seq[Seq[String]]): Column =
    asCol(TokenStatsExpr(ex(tokens), langWords))

  /** Winnowing fingerprint: lexicographic minimum of `md5(substr(text, i,
    * window))` over every window start (`i = 1 .. max(len-window+1, 1)`) —
    * compiled twin of the `transform(sequence(...), i -> md5(substr))` +
    * `array_min` formulation. Hex strings order like the digest bytes
    * (hex encoding is monotone in the unsigned byte value), so the min is
    * tracked on raw digests and encoded once. Windows are measured in
    * CODE POINTS — the unit Spark's `substr`/`length` and DuckDB's
    * `substr`/`length` both count — so texts with supplementary-plane
    * characters (emoji) fingerprint identically to the HOF twin (a
    * UTF-16-unit window would split surrogate pairs and diverge). */
  /** One-pass intra-document repetition fractions over a token array
    * (see [[graft.operators.TextOps.repetitionStats]] for semantics and
    * the declarative twin the spec pins): top-token count via one
    * hash-map pass (no sort), duplicate 2-/3-gram occurrence fractions
    * via exact string-identity sets (token tuples joined on a space are
    * unambiguous — whitespace-split tokens cannot contain the
    * separator), so the result equals `array_distinct` over the gram
    * strings with NO hash-collision caveat. All divisions use the same
    * double ops as the HOF twin. */
  case class RepetitionStatsExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("top_token_frac", DoubleType, nullable = false),
      StructField("dup_2gram_frac", DoubleType, nullable = false),
      StructField("dup_3gram_frac", DoubleType, nullable = false)))
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val arr = child.eval(input).asInstanceOf[ArrayData]
      if (arr == null) return null
      val n = arr.numElements()
      // stay on UTF8String (byte-wise equals/hash — no char decoding);
      // grams via concatWs, still exact string identity
      val toks = new Array[UTF8String](n)
      val counts = new java.util.HashMap[UTF8String, Array[Int]](Math.max(16, n * 2))
      var best = 0
      var i = 0
      while (i < n) {
        val t = arr.getUTF8String(i)
        toks(i) = t
        var c = counts.get(t)
        if (c == null) { c = new Array[Int](1); counts.put(t, c) }
        c(0) += 1
        if (c(0) > best) best = c(0)
        i += 1
      }
      val sep = UTF8String.fromString(" ")
      def dupFrac(g: Int): Double = {
        val m = n - g + 1
        if (m <= 0) return 0.0
        val seen = new java.util.HashSet[UTF8String](Math.max(16, m * 2))
        var dups = 0
        var j = 0
        while (j < m) {
          val gram =
            if (g == 2) UTF8String.concatWs(sep, toks(j), toks(j + 1))
            else UTF8String.concatWs(sep, toks(j), toks(j + 1), toks(j + 2))
          if (!seen.add(gram)) dups += 1
          j += 1
        }
        dups.toDouble / m
      }
      InternalRow(
        if (n > 0) best.toDouble / n else 0.0,
        dupFrac(2), dupFrac(3))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def repetitionStats(tokens: Column): Column = asCol(RepetitionStatsExpr(ex(tokens)))

  /** Fused PQ encode — compiled twin of
    * `HofTwins.pqCodesHof`'s (in the tests)
    * `transform(books, (book, sub) -> aggregate(book, ...argmin...))`:
    * per subspace, the code of the squared-L2-nearest codebook entry
    * (ties → smaller code; NaN distances never win). The HOF runs an
    * interpreted expression tree per (row × book entry × component) —
    * the per-row work of a PQ code scan, exactly the overhead class
    * this file exists to kill — while this expression does one compiled
    * m×|book|×dsub loop per row.
    *
    * Null semantics mirror the HOF exactly: null `books` → null; a null
    * book element → null code element; a null/short vector, null cvec,
    * null array elements, or a cvec whose length differs from the book's
    * first entry all make that entry's distance null, which the fold
    * skips — so a fully-unmatchable subspace keeps the init code −1.
    * Precondition (pqPack output, asserted nowhere else): within a book
    * every cvec has the first entry's length and codes are non-null.
    * Bit-identity with the HOF is fuzz-pinned in NativeExprsSpec. */
  case class PqCodesExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
    override def nullable: Boolean = true
    @transient private lazy val readV: (ArrayData, Int) => Double = reader(left.dataType)
    @transient private lazy val entrySchema: StructType = right.dataType match {
      case ArrayType(ArrayType(st: StructType, _), _) => st
      case other => throw new IllegalArgumentException(s"unsupported books type: $other")
    }
    @transient private lazy val codeIdx: Int = entrySchema.fieldIndex("code")
    @transient private lazy val cvecIdx: Int = entrySchema.fieldIndex("cvec")
    @transient private lazy val readC: (ArrayData, Int) => Double =
      reader(entrySchema(cvecIdx).dataType)
    @transient private lazy val vMayNull: Boolean = left.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    }
    @transient private lazy val cMayNull: Boolean = entrySchema(cvecIdx).dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    }
    override def eval(input: InternalRow): Any = {
      val books = right.eval(input).asInstanceOf[ArrayData]
      if (books == null) return null
      val v = left.eval(input).asInstanceOf[ArrayData]
      val vlen = if (v == null) -1 else v.numElements()
      val nf = entrySchema.size
      val m = books.numElements()
      val out = new Array[Any](m)
      var sub = 0
      while (sub < m) {
        out(sub) = if (books.isNullAt(sub)) null else {
          val book = books.getArray(sub)
          val bn = book.numElements()
          var bestCode = -1
          var bestD = Double.MaxValue
          if (bn > 0 && !book.isNullAt(0)) {
            val first = book.getStruct(0, nf)
            val dsub = if (first.isNullAt(cvecIdx)) -1
              else first.getArray(cvecIdx).numElements()
            val start = sub * dsub
            // the HOF's slice(v, start+1, dsub) only yields a length-dsub
            // subvector when the vector has that many elements left; a
            // shorter slice length-mismatches every (well-formed) cvec
            if (dsub >= 0 && v != null && start >= 0 && start + dsub <= vlen) {
              var svOk = true
              if (vMayNull) {
                var i = 0
                while (i < dsub && svOk) {
                  if (v.isNullAt(start + i)) svOk = false
                  i += 1
                }
              }
              if (svOk) {
                var e = 0
                while (e < bn) {
                  if (!book.isNullAt(e)) {
                    val ent = book.getStruct(e, nf)
                    if (!ent.isNullAt(codeIdx) && !ent.isNullAt(cvecIdx)) {
                      val cv = ent.getArray(cvecIdx)
                      if (cv.numElements() == dsub) {
                        var ok = true
                        if (cMayNull) {
                          var i = 0
                          while (i < dsub && ok) {
                            if (cv.isNullAt(i)) ok = false
                            i += 1
                          }
                        }
                        if (ok) {
                          var s = 0.0
                          var i = 0
                          while (i < dsub) {
                            val d = readV(v, start + i) - readC(cv, i)
                            s += d * d
                            i += 1
                          }
                          val code = ent.getInt(codeIdx)
                          if (!s.isNaN &&
                              (s < bestD || (s == bestD && code < bestCode))) {
                            bestD = s
                            bestCode = code
                          }
                        }
                      }
                    }
                  }
                  e += 1
                }
              }
            }
          }
          bestCode
        }
        sub += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def pqCodes(v: Column, books: Column): Column = asCol(PqCodesExpr(ex(v), ex(books)))

  /** Character n-gram windows over a string, in CODE POINTS — compiled
    * twin of `transform(sequence(1, length(t) - (n-1)), i -> substr(t,
    * i, n))` guarded to an empty array for `length < n` (the naive
    * `sequence(1, 0)` would DESCEND and emit junk — the guard is part of
    * the twin's contract). One pass to index code-point byte offsets,
    * then each window is a byte slice — O(len), not the O(len²) of
    * repeated `substringSQL` scans. Matches Spark `length`/`substr`
    * semantics (and DuckDB `substr`) on supplementary-plane text. */
  case class CharNgramsExpr(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    require(n >= 1, s"n must be >= 1, got $n")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val t = child.eval(input).asInstanceOf[UTF8String]
      if (t == null) return null
      val bytes = t.getBytes
      val len = bytes.length
      // code-point start offsets (UTF-8 continuation bytes are 10xxxxxx)
      val starts = new Array[Int](t.numChars() + 1)
      var cp = 0
      var i = 0
      while (i < len) {
        if ((bytes(i) & 0xc0) != 0x80) { starts(cp) = i; cp += 1 }
        i += 1
      }
      starts(cp) = len
      if (cp < n)
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
      val out = new Array[Any](cp - n + 1)
      var w = 0
      while (w <= cp - n) {
        out(w) = UTF8String.fromBytes(bytes, starts(w), starts(w + n) - starts(w))
        w += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def charNgrams(text: Column, n: Int): Column = asCol(CharNgramsExpr(ex(text), n))

  /** Fused char-trigram LM scoring — one compiled pass per document
    * replacing the explode → broadcast-join → partial-avg plan (which
    * routes |corpus chars| rows through a join even though the model is
    * tiny). The model rides the expression as constructor data (bounded
    * by charset³ — the same driver-side-bounded-collect class as the
    * LSH plane set); unknown trigrams score `floorLogp`. Returns
    * `struct(n_trigrams, lm_score)`; null when the text is null OR has
    * no trigrams (callers filter, mirroring the explode formulation
    * where such docs simply produce no rows). Summation is per-doc
    * trigram order — equal to the join+avg plan up to float regrouping
    * (1e-12 relative, spec-pinned; the r4'd oracle is unaffected). */
  case class CharLmScoreExpr(
      child: Expression,
      entries: Seq[(String, Double)],
      floorLogp: Double)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n_trigrams", LongType, nullable = false),
      StructField("lm_score", DoubleType, nullable = false)))
    override def nullable: Boolean = true
    @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Double] = {
      val m = new java.util.HashMap[UTF8String, java.lang.Double](
        Math.max(16, entries.size * 2))
      entries.foreach { case (t, lp) => m.put(UTF8String.fromString(t), lp) }
      m
    }
    override def eval(input: InternalRow): Any = {
      val t = child.eval(input).asInstanceOf[UTF8String]
      if (t == null) return null
      val bytes = t.getBytes
      val len = bytes.length
      val starts = new Array[Int](t.numChars() + 1)
      var cp = 0
      var i = 0
      while (i < len) {
        if ((bytes(i) & 0xc0) != 0x80) { starts(cp) = i; cp += 1 }
        i += 1
      }
      starts(cp) = len
      if (cp < 3) return null
      var sum = 0.0
      var w = 0
      while (w <= cp - 3) {
        val tri = UTF8String.fromBytes(bytes, starts(w), starts(w + 3) - starts(w))
        val lp = table.get(tri)
        sum += (if (lp == null) floorLogp else lp.doubleValue())
        w += 1
      }
      InternalRow((cp - 2).toLong, sum / (cp - 2))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def charLmScore(text: Column, entries: Seq[(String, Double)], floorLogp: Double): Column =
    asCol(CharLmScoreExpr(ex(text), entries, floorLogp))

  case class Md5MinWindowExpr(child: Expression, window: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val t = child.eval(input).asInstanceOf[UTF8String]
      if (t == null) return null
      val digest = md5Local.get()
      val s = t.toString
      // char offset of each code-point boundary: cpOff(i) = UTF-16 index
      // of code point i; cpOff(cpLen) = s.length
      val cpLen = s.codePointCount(0, s.length)
      val cpOff = new Array[Int](cpLen + 1)
      var ci = 0
      var off = 0
      while (ci < cpLen) {
        cpOff(ci) = off
        off = s.offsetByCodePoints(off, 1)
        ci += 1
      }
      cpOff(cpLen) = s.length
      val starts = math.max(cpLen - (window - 1), 1)
      var min: Array[Byte] = null
      var i = 0
      while (i < starts) {
        val end = math.min(i + window, cpLen)
        val md = digest.digest(s.substring(cpOff(i), cpOff(end)).getBytes("UTF-8"))
        if (min == null || unsignedLess(md, min)) min = md
        i += 1
      }
      UTF8String.fromString(hex(min))
    }
    private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      while (i < a.length) {
        val ai = a(i) & 0xff; val bi = b(i) & 0xff
        if (ai != bi) return ai < bi
        i += 1
      }
      false
    }
    private def hex(md: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(32)
      var i = 0
      while (i < md.length) {
        sb.append(Character.forDigit((md(i) >> 4) & 0xf, 16))
        sb.append(Character.forDigit(md(i) & 0xf, 16))
        i += 1
      }
      sb.toString
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** BPE merge application over one pre-tokenized word: split the token
    * into code-point symbols, then apply each `(left, right) → leftright`
    * merge IN RANK ORDER, iterating the literal leftmost-first
    * non-overlapping replace `" a b " → " ab "` on the space-delimited
    * symbol string until fixpoint before advancing to the next rank.
    * Returns the final segmentation as a single space-joined string
    * (`"thththe" → "th th the"`).
    *
    * The per-rank replace-to-fixpoint is exactly the Sennrich et al. 2016
    * training-time apply (merge ALL occurrences of the pair, leftmost
    * first, re-scanning after each pass so chains like `t h t h` fully
    * collapse); it equals rank-priority application when the merge list
    * is self-consistent (each merge's operands are single characters or
    * products of strictly earlier merges). The same iteration is
    * expressible engine-independently — the DuckDB oracle runs it as a
    * recursive CTE over the identical `replace` primitive, which is why
    * the delimiter contract (single ASCII space; symbols are `\s+`-free
    * by construction) is part of the expression's spec.
    *
    * The merge list rides the expression as constructor data (the
    * literal-model rule: same class as the LSH plane set and the char-LM
    * table — bounded, broadcast with the plan, never a driver loop).
    * Cost is O(len · merges) per DISTINCT vocab token — callers apply
    * this over the tf-weighted vocabulary, never per token instance. */
  case class BpeApplyExpr(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression with CodegenFallback {
    require(merges.nonEmpty, "merge list must be non-empty")
    @transient private lazy val pats: Array[(String, String)] =
      merges.iterator.map { case (a, b) => (" " + a + " " + b + " ", " " + a + b + " ") }.toArray
    override def dataType: DataType = StringType
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val t = child.eval(input).asInstanceOf[UTF8String]
      if (t == null) return null
      val tok = t.toString
      if (tok.isEmpty) return UTF8String.EMPTY_UTF8
      val sb = new java.lang.StringBuilder(tok.length * 2 + 2)
      sb.append(' ')
      var i = 0
      while (i < tok.length) {
        val cp = tok.codePointAt(i)
        sb.appendCodePoint(cp).append(' ')
        i += Character.charCount(cp)
      }
      var s = sb.toString
      var r = 0
      while (r < pats.length) {
        val (pat, rep) = pats(r)
        var prev = s
        var next = s.replace(pat, rep)
        while (next != prev) { prev = next; next = next.replace(pat, rep) }
        s = next
        r += 1
      }
      UTF8String.fromString(s.substring(1, s.length - 1))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def bpeApply(token: Column, merges: Seq[(String, String)]): Column =
    asCol(BpeApplyExpr(ex(token), merges))

  /** Householder reflection `v − (2·(w·v)/(w·w))·w` with a PINNED
    * INTEGER direction vector — the cheapest orthogonal transform (the
    * OPQ-lite pre-rotation for product quantization). Keeping `w`
    * integer makes `w·w` an exact double, so the whole computation is
    * plain IEEE double arithmetic with one deterministic left-fold dot
    * product — restatable verbatim in the oracle's `list_reduce` /
    * `list_transform` (same multiply-then-accumulate order, no fma).
    * Null input, or a vector whose length differs from `w`'s, returns
    * null (fail-closed — dimensions are a schema constant in practice).
    * Returns `array<double>`; callers cast to float when feeding the
    * float-typed PQ machinery, and both engines round identically. */
  case class HouseholderExpr(child: Expression, w: Seq[Double])
      extends UnaryExpression with CodegenFallback {
    require(w.nonEmpty, "direction vector must be non-empty")
    @transient private lazy val warr: Array[Double] = w.toArray
    @transient private lazy val ww: Double = {
      var s = 0.0; var i = 0
      while (i < warr.length) { s += warr(i) * warr(i); i += 1 }
      s
    }
    @transient private lazy val readV: (ArrayData, Int) => Double = reader(child.dataType)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val v = child.eval(input).asInstanceOf[ArrayData]
      if (v == null || v.numElements() != warr.length) return null
      val n = warr.length
      var dot = 0.0
      var i = 0
      while (i < n) { dot += readV(v, i) * warr(i); i += 1 }
      val c = 2.0 * dot / ww
      val out = new Array[Any](n)
      i = 0
      while (i < n) { out(i) = readV(v, i) - c * warr(i); i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def householder(v: Column, w: Seq[Double]): Column = asCol(HouseholderExpr(ex(v), w))

  /** Sign-bit pack to `ceil(d/64)` longs — the fused twin of
    * `HofTwins.binaryCodesHof` (in the tests), which walks an
    * interpreted 64-step fold per word per row; this kernel is one
    * branchy scan per row. Semantics replicated from the HOF exactly:
    * bit set iff the component compares `> 0.0` under SPARK SQL
    * ordering — so NaN (greater than everything in Spark's total
    * order) SETS its bit, and a null element (condition → null) leaves
    * its bit clear; null vector → null; empty vector → empty array.
    * Bit-identity with the HOF is fuzz-pinned in NativeExprsSpec. */
  case class BinaryCodesExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    @transient private lazy val readV: (ArrayData, Int) => Double = reader(child.dataType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val v = child.eval(input).asInstanceOf[ArrayData]
      if (v == null) return null
      val d = v.numElements()
      val nw = (d + 63) >>> 6
      val words = new Array[Long](nw)
      var i = 0
      while (i < d) {
        if (!v.isNullAt(i)) {
          val x = readV(v, i)
          // Spark SQL comparison semantics: NaN > 0.0 is TRUE
          if (x > 0.0 || java.lang.Double.isNaN(x))
            words(i >>> 6) |= (1L << (i & 63))
        }
        i += 1
      }
      val out = new Array[Any](nw)
      i = 0
      while (i < nw) { out(i) = words(i); i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def binaryCodes(v: Column): Column = asCol(BinaryCodesExpr(ex(v)))

  /** Code-point ranges for [[ScriptMixExpr]], declared as DATA so the
    * DuckDB oracle derives its CASE arms from the SAME Scala values
    * (the literal-model rule). Ranges are disjoint; classification
    * tries them in [[ScriptOrder]]. Deliberately range-based (not
    * regex script classes): Java counts `\\p{...}` matches in UTF-16
    * units while DuckDB counts characters, so only explicit code-point
    * arithmetic is engine-identical for supplementary-plane input. */
  val ScriptRanges: Map[String, Seq[(Int, Int)]] = Map(
    "latin" -> Seq((0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x24F)),
    "cyrillic" -> Seq((0x400, 0x4FF)),
    "cjk" -> Seq((0x3040, 0x30FF), (0x4E00, 0x9FFF), (0xAC00, 0xD7AF)),
    "digit" -> Seq((0x30, 0x39)),
    "space" -> Seq((0x20, 0x20), (0x9, 0x9), (0xA, 0xA), (0xD, 0xD)))

  /** Category evaluation order (first match wins; ranges disjoint). */
  val ScriptOrder: Seq[String] = Seq("latin", "cyrillic", "cjk", "digit", "space")

  /** Unicode-SCRIPT mix per document in one code-point scan:
    * `struct(n_cp, latin, cyrillic, cjk, digit, space, other)` — the
    * mixed-script/wrong-script curation signal (CJK inside a claimed-en
    * doc, Cyrillic homoglyph spam). All exact integer counts over CODE
    * POINTS (a surrogate pair counts once, matching DuckDB's
    * character semantics); null text → null; empty → zeros. */
  case class ScriptMixExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    @transient private lazy val cats: Array[Array[Int]] =
      ScriptOrder.map(c => ScriptRanges(c).flatMap(r => Seq(r._1, r._2)).toArray).toArray
    override def dataType: DataType = StructType(
      ("n_cp" +: ScriptOrder :+ "other")
        .map(n => StructField(n, LongType, nullable = false)))
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val t = child.eval(input).asInstanceOf[UTF8String]
      if (t == null) return null
      val s = t.toString
      val counts = new Array[Long](cats.length)
      var nCp = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        i += Character.charCount(cp)
        nCp += 1L
        var c = 0
        var done = false
        while (c < cats.length && !done) {
          val rs = cats(c)
          var r = 0
          while (r < rs.length && !done) {
            if (cp >= rs(r) && cp <= rs(r + 1)) { counts(c) += 1L; done = true }
            r += 2
          }
          c += 1
        }
      }
      val out = new Array[Any](cats.length + 2)
      out(0) = nCp
      var c = 0
      var classified = 0L
      while (c < cats.length) {
        out(c + 1) = counts(c); classified += counts(c); c += 1
      }
      out(cats.length + 1) = nCp - classified
      InternalRow.fromSeq(out.toIndexedSeq)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def scriptMix(text: Column): Column = asCol(ScriptMixExpr(ex(text)))

  /** Per-document character-distribution stats in ONE map-only pass:
    * `struct(n_cp, n_distinct, sum_sq, max_n)` where `n_cp` counts code
    * points, `sum_sq = Σ n_c²` and `max_n = max n_c` over per-character
    * counts. Everything is exact INTEGER arithmetic — summation order
    * cannot matter — so the derived Simpson collision index `Σ n_c²/N²`
    * and dominance ratio `max_n/N` are bit-identical across engines
    * without forced-order folds (this is why the quality signal is the
    * Simpson index and not Shannon entropy: entropy needs per-engine
    * libm logs, whose last ulp is not portable). Null text → null;
    * empty text → (0, 0, 0, 0), callers guard the division. */
  case class CharDiversityExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n_cp", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("sum_sq", LongType, nullable = false),
      StructField("max_n", LongType, nullable = false)))
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val t = child.eval(input).asInstanceOf[UTF8String]
      if (t == null) return null
      val s = t.toString
      val counts = new java.util.HashMap[Integer, Long]()
      var n = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        counts.merge(cp, 1L, (a, b) => a + b)
        n += 1
        i += Character.charCount(cp)
      }
      var sumSq = 0L
      var maxN = 0L
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next()
        sumSq += c * c
        if (c > maxN) maxN = c
      }
      InternalRow(n, counts.size.toLong, sumSq, maxN)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def charDiversity(text: Column): Column = asCol(CharDiversityExpr(ex(text)))

  /** Fused per-token Gopher counters — compiled twin of the four HOF
    * passes over a lowercased token array (`HofTwins.gopherFlagsHof`,
    * in the tests):
    * `struct(n_words, len_sum, n_alpha, stop_hits)` where `len_sum`
    * sums code-point lengths (Spark `length` semantics), `n_alpha`
    * counts tokens containing at least one ASCII `[a-z]` (the regex
    * class's exact meaning on lowercased text; byte scan is safe in
    * UTF-8 — continuation bytes have the high bit set), and
    * `stop_hits` counts DISTINCT stop words present (the
    * `array_intersect` semantics). Null array → null; a null token
    * element contributes length 0 and no flags (matching the HOF
    * twin's null-skipping aggregate/filter behavior is NOT needed —
    * parquet string arrays declare containsNull=false; the guard keeps
    * eval total). */
  case class GopherTokenStatsExpr(child: Expression, stopwords: Seq[String])
      extends UnaryExpression with CodegenFallback {
    // the distinct-stopword tracker is a 64-bit mask; entry 64 would
    // alias entry 0 (1L << 64 wraps) and silently undercount stop_hits
    require(stopwords.size <= 64,
      s"at most 64 stopwords supported, got ${stopwords.size}")
    override def dataType: DataType = StructType(Seq(
      StructField("n_words", LongType, nullable = false),
      StructField("len_sum", LongType, nullable = false),
      StructField("n_alpha", LongType, nullable = false),
      StructField("stop_hits", LongType, nullable = false)))
    override def nullable: Boolean = child.nullable
    @transient private lazy val stopU: Array[UTF8String] =
      stopwords.map(UTF8String.fromString).toArray
    override def eval(input: InternalRow): Any = {
      val arr = child.eval(input).asInstanceOf[ArrayData]
      if (arr == null) return null
      val n = arr.numElements()
      var lenSum = 0L
      var nAlpha = 0L
      var stopMask = 0L
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val t = arr.getUTF8String(i)
          lenSum += t.numChars()
          val bytes = t.getBytes
          var hasAlpha = false
          var j = 0
          while (j < bytes.length && !hasAlpha) {
            val b = bytes(j)
            if (b >= 'a' && b <= 'z') hasAlpha = true
            j += 1
          }
          if (hasAlpha) nAlpha += 1
          var w = 0
          while (w < stopU.length) {
            if ((stopMask & (1L << w)) == 0 && t.equals(stopU(w)))
              stopMask |= 1L << w
            w += 1
          }
        }
        i += 1
      }
      InternalRow(n.toLong, lenSum, nAlpha,
        java.lang.Long.bitCount(stopMask).toLong)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def gopherTokenStats(tokens: Column, stopwords: Seq[String]): Column =
    asCol(GopherTokenStatsExpr(ex(tokens), stopwords))

  /** Fused per-line Gopher counters over the RAW text — compiled twin
    * of `split(text, "\n")` + two HOF filters:
    * `struct(n_lines, n_bullet, n_ellend)`. Split keeps trailing empty
    * lines (Spark split limit −1); `ltrim`/`rtrim` strip SPACES only
    * (Spark/DuckDB default); a bullet line starts with `-`, `*`, or
    * `•` (U+2022); an ellipsis line ends with `...` or `…` (U+2026).
    * Byte-level scan is safe: `\n`, space, and the ASCII markers never
    * occur inside UTF-8 multibyte sequences, and both multibyte
    * markers are matched by their full byte sequences. */
  case class GopherLineStatsExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n_lines", LongType, nullable = false),
      StructField("n_bullet", LongType, nullable = false),
      StructField("n_ellend", LongType, nullable = false)))
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val t = child.eval(input).asInstanceOf[UTF8String]
      if (t == null) return null
      val b = t.getBytes
      var nLines = 0L
      var nBullet = 0L
      var nEll = 0L
      var start = 0
      var i = 0
      def processLine(s: Int, e: Int): Unit = { // [s, e) one line
        nLines += 1
        var ls = s
        while (ls < e && b(ls) == ' ') ls += 1
        if (ls < e) {
          val c = b(ls)
          if (c == '-' || c == '*') nBullet += 1
          else if (e - ls >= 3 && (c & 0xFF) == 0xE2 &&
            (b(ls + 1) & 0xFF) == 0x80 && (b(ls + 2) & 0xFF) == 0xA2)
            nBullet += 1 // U+2022 bullet
        }
        var re = e
        while (re > s && b(re - 1) == ' ') re -= 1
        if (re - s >= 3) {
          if (b(re - 1) == '.' && b(re - 2) == '.' && b(re - 3) == '.') nEll += 1
          else if ((b(re - 3) & 0xFF) == 0xE2 && (b(re - 2) & 0xFF) == 0x80 &&
            (b(re - 1) & 0xFF) == 0xA6)
            nEll += 1 // U+2026 ellipsis
        }
      }
      while (i < b.length) {
        if (b(i) == '\n') { processLine(start, i); start = i + 1 }
        i += 1
      }
      processLine(start, b.length)
      InternalRow(nLines, nBullet, nEll)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def gopherLineStats(text: Column): Column = asCol(GopherLineStatsExpr(ex(text)))

  /** Greedy maximal-marginal-relevance selection (Carbonell & Goldstein
    * 1998, restated for distance space) over a BOUNDED candidate array
    * `array<struct<dq, id, embedding>>`:
    *
    *   pick argmin over remaining c of
    *     `mmr(c) = lam·dq(c) − (1−lam)·min_{s∈selected} ‖c − s‖²`
    *   (ties → smaller id; the first pick has no diversity term).
    *
    * Returns `array<struct<rank, id, mmr>>` of min(k, n) selections.
    *
    * Engine-portability contract (what makes the unrolled SQL oracle
    * hash-exact): `lam` and `oneMinusLam` are BOTH caller-supplied
    * literals (never derived here — `1.0 − 0.3` is not the double
    * `0.7`); pairwise distances run the same sequential left fold as
    * [[SqEuclideanExpr]]; the running `min` is order-insensitive; and
    * every comparison is between doubles produced by identical op
    * sequences, so even exact ties resolve identically. Candidates with
    * NaN `dq` are skipped; a NaN pairwise distance never enters the min
    * (both impossible for parquet float vectors, kept total anyway).
    *
    * Cost: O(k·n·dim) per GROUP on an n-bounded shortlist — the caller
    * contract is n ≤ a few hundred (the rerank funnel), never a corpus. */
  case class MmrSelectExpr(child: Expression, lam: Double, oneMinusLam: Double, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("rank", IntegerType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("mmr", DoubleType, nullable = false))), containsNull = false)
    override def nullable: Boolean = true
    @transient private lazy val entrySchema: StructType = child.dataType match {
      case ArrayType(st: StructType, _) => st
      case other => throw new IllegalArgumentException(s"unsupported candidates type: $other")
    }
    @transient private lazy val dqIdx: Int = entrySchema.fieldIndex("dq")
    @transient private lazy val idIdx: Int = entrySchema.fieldIndex("id")
    @transient private lazy val embIdx: Int = entrySchema.fieldIndex("embedding")
    @transient private lazy val readE: (ArrayData, Int) => Double =
      reader(entrySchema(embIdx).dataType)
    override def eval(input: InternalRow): Any = {
      val cands = child.eval(input).asInstanceOf[ArrayData]
      if (cands == null) return null
      val nf = entrySchema.size
      val n = cands.numElements()
      val ids = new Array[Long](n)
      val dqs = new Array[Double](n)
      val embs = new Array[ArrayData](n)
      var m = 0
      var i = 0
      var dim = -1 // adopted from the first accepted candidate
      while (i < n) {
        if (!cands.isNullAt(i)) {
          val e = cands.getStruct(i, nf)
          if (!e.isNullAt(dqIdx) && !e.isNullAt(idIdx) && !e.isNullAt(embIdx)) {
            val dq = e.getDouble(dqIdx)
            val emb = e.getArray(embIdx)
            // dimension-mismatched candidates are dropped at intake: a
            // NaN pairwise distance would leave their minD at +Infinity,
            // making them either the forced #2 pick (-Infinity score) or
            // unpickable (NaN at lam=1) — both wrong, and inconsistent
            if (!dq.isNaN && (dim < 0 || emb.numElements() == dim)) {
              if (dim < 0) dim = emb.numElements()
              ids(m) = e.getLong(idIdx)
              dqs(m) = dq
              embs(m) = emb
              m += 1
            }
          }
        }
        i += 1
      }
      def pairDist(a: ArrayData, b: ArrayData): Double = {
        val la = a.numElements(); val lb = b.numElements()
        if (la != lb) return Double.NaN
        var s = 0.0; var j = 0
        while (j < la) { val d = readE(a, j) - readE(b, j); s += d * d; j += 1 }
        s
      }
      val taken = new Array[Boolean](m)
      // min pairwise distance to the selected set, maintained incrementally
      val minD = Array.fill(m)(Double.PositiveInfinity)
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      val kk = math.min(k, m)
      var r = 0
      while (r < kk) {
        var best = -1
        var bestScore = 0.0
        var c = 0
        while (c < m) {
          if (!taken(c)) {
            val score =
              if (r == 0) lam * dqs(c)
              else lam * dqs(c) - oneMinusLam * minD(c)
            if (best < 0 || score < bestScore ||
                (score == bestScore && ids(c) < ids(best))) {
              best = c
              bestScore = score
            }
          }
          c += 1
        }
        taken(best) = true
        out += InternalRow(r + 1, ids(best), bestScore)
        var c2 = 0
        while (c2 < m) {
          if (!taken(c2)) {
            val d = pairDist(embs(c2), embs(best))
            if (!d.isNaN && d < minD(c2)) minD(c2) = d
          }
          c2 += 1
        }
        r += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def mmrSelect(cands: Column, lam: Double, oneMinusLam: Double, k: Int): Column =
    asCol(MmrSelectExpr(ex(cands), lam, oneMinusLam, k))

  /** Capped Levenshtein distance over UTF-8 BYTES: `min(ed(a, b), cap+1)`.
    *
    * Byte semantics, NOT codepoints: the DuckDB oracle's `levenshtein`
    * counts byte edits (probed: `levenshtein('café','cafe') = 2`,
    * astral = 4), while Spark's built-in `levenshtein` counts
    * codepoints — using the built-in would silently diverge on any
    * multibyte name. The oracle twin is `least(levenshtein(a, b), cap+1)`.
    *
    * The band is the scale story: the verify stage of a fuzzy join calls
    * this once per CANDIDATE pair, so the kernel must not pay the full
    * O(m·n) DP when only distances ≤ cap matter. Cells farther than `cap`
    * from the diagonal can never reach a value ≤ cap, so the DP visits an
    * O((2·cap+1)·min(m,n)) band (Ukkonen), exits early when an entire row
    * of the band exceeds the cap, and rejects on a length-difference
    * check before allocating anything. */
  private[graft] def editDistanceCapped(x: Array[Byte], y: Array[Byte], cap: Int): Int = {
    val inf = cap + 1
    // ed is symmetric; banding over the shorter side's rows keeps the
    // row count (and the early-exit granularity) minimal.
    val (s, t) = if (x.length <= y.length) (x, y) else (y, x)
    val m = s.length
    val n = t.length
    if (n - m > cap) return inf
    if (m == 0) return math.min(n, inf)
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    var j = 0
    while (j <= n) {
      prev(j) = if (j <= cap) j else inf
      j += 1
    }
    var i = 1
    while (i <= m) {
      val lo = math.max(1, i - cap)
      val hi = math.min(n, i + cap)
      // D[i][lo-1]: the column-0 base when the band touches it, else a
      // left sentinel (outside the band ⇒ provably > cap).
      cur(lo - 1) = if (lo == 1) math.min(i, inf) else inf
      var rowMin = cur(lo - 1)
      j = lo
      while (j <= hi) {
        val sub = prev(j - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1)
        val del = prev(j) + 1
        val ins = cur(j - 1) + 1
        var v = if (sub < del) sub else del
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      // right sentinel: the next row's `prev(j)` / `prev(j-1)` reads may
      // touch one cell past this row's band; it is outside ⇒ > cap.
      if (hi < n) cur(hi + 1) = inf
      if (rowMin >= inf) return inf
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    math.min(prev(n), inf)
  }

  /** `min(byte-levenshtein(left, right), cap+1)` — see
    * [[editDistanceCapped]]. NULL-propagating. */
  case class ByteEditDistanceExpr(left: Expression, right: Expression, cap: Int)
      extends BinaryExpression with CodegenFallback {
    require(cap >= 0, s"cap must be non-negative, got $cap")
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = left.nullable || right.nullable
    override def eval(input: InternalRow): Any = {
      val a = left.eval(input).asInstanceOf[UTF8String]
      if (a == null) return null
      val b = right.eval(input).asInstanceOf[UTF8String]
      if (b == null) return null
      editDistanceCapped(a.getBytes, b.getBytes, cap)
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def byteEditDistance(a: Column, b: Column, cap: Int): Column =
    asCol(ByteEditDistanceExpr(ex(a), ex(b), cap))

  /** SymSpell deletion neighborhood: every DISTINCT string reachable by
    * deleting at most `maxDel` CODEPOINTS from the first `prefixLen`
    * codepoints of the input (the input's own prefix is the 0-deletion
    * member), returned sorted ascending (deterministic, order-irrelevant
    * to the join that consumes it as exploded keys).
    *
    * Deletions are by codepoint so every key is valid UTF-8 (a byte-level
    * deletion inside a multibyte character would manufacture invalid
    * strings). Completeness for the byte-distance verify still holds: a
    * byte edit script of cost ≤ k between two VALID UTF-8 strings touches
    * ≤ k codepoints on each side (each touched codepoint absorbs ≥ 1 byte
    * op), and deleting exactly the touched codepoints from both sides
    * leaves the identical untouched remainder — so the two radius-k
    * codepoint-deletion neighborhoods intersect.
    *
    * `prefixLen` is the standard SymSpell prefix optimization: key count
    * is O(prefixLen^maxDel), independent of string length. For strings
    * longer than `prefixLen` the prefix block is a heuristic (an edit
    * landing in the suffix shifts nothing; edits straddling the boundary
    * can in principle escape) — callers needing exactness bound the
    * string length to ≤ prefixLen in the query contract instead. */
  case class DeletionVariantsExpr(child: Expression, maxDel: Int, prefixLen: Int)
      extends UnaryExpression with CodegenFallback {
    require(maxDel >= 0 && maxDel <= 3, s"maxDel must be in [0, 3], got $maxDel")
    require(prefixLen >= 1, s"prefixLen must be positive, got $prefixLen")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = {
      val t = child.eval(input).asInstanceOf[UTF8String]
      if (t == null) return null
      val s = t.toString
      val full = s.codePoints().toArray
      val cps = if (full.length <= prefixLen) full else full.take(prefixLen)
      val out = new java.util.TreeSet[String]()
      def rec(current: Array[Int], d: Int): Unit = {
        out.add(new String(current, 0, current.length))
        if (d == 0 || current.length == 0) return
        var i = 0
        while (i < current.length) {
          val nxt = new Array[Int](current.length - 1)
          System.arraycopy(current, 0, nxt, 0, i)
          System.arraycopy(current, i + 1, nxt, i, current.length - i - 1)
          rec(nxt, d - 1)
          i += 1
        }
      }
      rec(cps, maxDel)
      val arr = new Array[Any](out.size)
      val it = out.iterator()
      var k = 0
      while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def deletionVariants(text: Column, maxDel: Int, prefixLen: Int): Column =
    asCol(DeletionVariantsExpr(ex(text), maxDel, prefixLen))
}
