package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-hashing hot path.
  *
  * The dedup/similarity pipeline originally composed Spark's
  * higher-order array functions (transform/aggregate). Those are
  * CodegenFallback AND interpreted per element; worse, CollapseProject
  * inlines an upstream expression into every element-level reference,
  * turning O(tokens) work into O(tokens × refs) (measured: 66 s vs
  * ~1 s at sf0.1 for shingle hashing — and a repartition is NOT a
  * barrier, the optimizer folds projections straight through it).
  * These expressions run the same arithmetic as tight compiled loops:
  * one virtual call per ROW instead of per element.
  *
  * Semantics are bit-identical to the DuckDB oracle SQL in
  * [[graft.text.TextFunctions]] / [[graft.dedup.Dedup]]:
  *   normalize  = regexp_replace(lower(s), '[^a-z0-9 ]', '', 'g')
  *   tokens     = string_split_regex(trim(n), '\s+')
  *   tokenHash  = fold (h*131 + code) % 1e9+7 over chars (empty → [0])
  *   shingle    = fold (acc*131 + th[i+j]) % 1e9+7 over k-window
  *   minhash_i  = min over shingles of (A_i*h + B_i) % 2147483647
  *   simhash    = bit j set iff Σ tokens (±1 on vote_j) > 0, where
  *                vote_j = (A_j·(h%P) + B_j) % P & 1 (dead-bit-free)
  */
object HashConstants {
  val M: Long = 1000000007L
  val P: Long = 2147483647L
  def hashA(i: Int): Long = 1103515245L + 997L * i
  def hashB(i: Int): Long = 12345L + 7919L * i
}

/** Codegen support shared by the graft kernels: instead of
  * CodegenFallback (which breaks whole-stage codegen for the whole
  * containing stage and routes rows through InternalRow conversion),
  * emit a direct call to this expression's compiled `compute` kernel —
  * the stage stays fused, the kernel loop stays compiled Scala. */
trait KernelCodegen { self: UnaryExpression =>
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  def compute(input: Any): Any
  override protected def nullSafeEval(input: Any): Any = compute(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("graftKernel", this, classOf[KernelCodegen].getName)
      val res = ctx.freshName("graftRes")
      val javaT = CodeGenerator.javaType(dataType)
      // janino rejects a direct Object→primitive cast; go through the
      // boxed type and unbox. Reference types cast directly.
      val assign =
        if (CodeGenerator.isPrimitiveType(dataType))
          s"${ev.value} = ((${CodeGenerator.boxedType(dataType)}) $res).${javaT}Value();"
        else
          s"${ev.value} = ($javaT) $res;"
      if (nullable)
        s"""Object $res = $ref.compute($c);
           |if ($res == null) { ${ev.isNull} = true; } else { $assign }""".stripMargin
      else
        s"""Object $res = $ref.compute($c);
           |$assign""".stripMargin
    })
}

/** Binary-expression variant of [[KernelCodegen]]: the compiled
  * `compute2` kernel is called directly from generated code, keeping
  * the containing stage in whole-stage codegen. `compute2` may return
  * null (e.g. mismatched array lengths) even for non-null inputs, so
  * implementors should declare `nullable = true` in that case. */
trait KernelCodegen2 { self: BinaryExpression =>
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  def compute2(a: Any, b: Any): Any
  override protected def nullSafeEval(a: Any, b: Any): Any = compute2(a, b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c1, c2) => {
      val ref = ctx.addReferenceObj("graftKernel2", this, classOf[KernelCodegen2].getName)
      val res = ctx.freshName("graftRes")
      val javaT = CodeGenerator.javaType(dataType)
      val assign =
        if (CodeGenerator.isPrimitiveType(dataType))
          s"${ev.value} = ((${CodeGenerator.boxedType(dataType)}) $res).${javaT}Value();"
        else
          s"${ev.value} = ($javaT) $res;"
      if (nullable)
        s"""Object $res = $ref.compute2($c1, $c2);
           |if ($res == null) { ${ev.isNull} = true; } else { $assign }""".stripMargin
      else
        s"""Object $res = $ref.compute2($c1, $c2);
           |$assign""".stripMargin
    })
}

/** text → array<long> of per-token polynomial hashes of the normalized
  * text (single pass, no intermediate strings). */
case class TokenPolyHashes(child: Expression)
    extends UnaryExpression with KernelCodegen {
  import HashConstants.M
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def compute(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
      .toLowerCase(java.util.Locale.ROOT)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var h = 0L
    var inTok = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        h = (h * 131 + c.toInt) % M
        inTok = true
      } else if (c == ' ') {
        if (inTok) { out += h; h = 0L; inTok = false }
      } // any other char: dropped by normalize (tokens glue together)
      i += 1
    }
    if (inTok) out += h
    if (out.isEmpty) out += 0L // split of empty text yields [''] → hash 0
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): TokenPolyHashes = copy(c)
}

/** array<long> token hashes → array<long> k-shingle hashes. */
case class ShinglePolyHashes(child: Expression, k: Int)
    extends UnaryExpression with KernelCodegen {
  import HashConstants.M
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def compute(input: Any): Any = {
    val th = input.asInstanceOf[ArrayData].toLongArray()
    val n = th.length - (k - 1)
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var acc = 0L
      var j = 0
      while (j < k) { acc = (acc * 131 + th(i + j)) % M; j += 1 }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): ShinglePolyHashes = copy(c)
}

/** array<long> shingle hashes → array<long> MinHash signature. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with KernelCodegen {
  import HashConstants._
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def compute(input: Any): Any = {
    val sh = input.asInstanceOf[ArrayData].toLongArray()
    if (sh.isEmpty) return null // matches array_min over empty
    val out = Array.fill(numHashes)(Long.MaxValue)
    var s = 0
    while (s < sh.length) {
      val h = sh(s)
      var i = 0
      while (i < numHashes) {
        val v = (hashA(i) * h + hashB(i)) % P
        if (v < out(i)) out(i) = v
        i += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(c)
}

/** array<long> token hashes → long SimHash (bits-wide). */
case class SimHash(child: Expression, bits: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType
  // per-bit affine projections (same LCG families as MinHash): bit j's
  // vote is the LOW bit of (A_j·(h mod P) + B_j) mod P, not bit j of
  // the raw hash — token hashes are < M < 2^30, so raw bits ≥ 30 are
  // constant and a wide signature would silently carry dead bits
  // (every doc agreeing on them = a degenerate all-docs chunk bucket)
  @transient private lazy val as: Array[Long] =
    Array.tabulate(bits)(HashConstants.hashA)
  @transient private lazy val bs: Array[Long] =
    Array.tabulate(bits)(HashConstants.hashB)
  override def compute(input: Any): Any = {
    val th = input.asInstanceOf[ArrayData].toLongArray()
    val counts = new Array[Int](bits)
    val p = HashConstants.P
    var t = 0
    while (t < th.length) {
      val h = th(t) % p
      var j = 0
      while (j < bits) {
        if (((as(j) * h + bs(j)) % p & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      t += 1
    }
    var sim = 0L
    var j = 0
    while (j < bits) { if (counts(j) > 0) sim |= (1L << j); j += 1 }
    java.lang.Long.valueOf(sim)
  }
  override protected def withNewChildInternal(c: Expression): SimHash = copy(c)
}

/** array<float> embedding → long LSH bucket id: sign bits of `planes`
  * deterministic pseudo-random hyperplane projections. Same arithmetic
  * as the DuckDB rendering in [[graft.ann.Ann.bucketSql]]: coefficient
  * c(p,d) from an LCG on p*dim+d, sequential double accumulation.
  * `offset` shifts the PLANE INDEX fed to the LCG (not the bit
  * position), yielding an INDEPENDENT hash table per offset — the
  * classic multi-table LSH construction. */
case class HyperplaneBucket(child: Expression, planes: Int, dim: Int,
    offset: Int = 0)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType
  override def compute(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toFloatArray()
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      var d = 0
      while (d < dim) {
        val c = ((1103515245L * ((p + offset) * dim + d) + 12345L) % 2147483647L) / 2147483647.0 - 0.5
        s += c * v(d).toDouble
        d += 1
      }
      if (s > 0) bucket |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(bucket)
  }
  override protected def withNewChildInternal(c: Expression): HyperplaneBucket = copy(c)
}

/** array<string> tokens → long count of tokens contained in a fixed
  * set (stopword/marker scoring) — replaces the interpreted
  * size(filter(toks, t -> t IN (...))) lambda in the text hot path. */
case class TokensInSetCount(child: Expression, set: Seq[String])
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType
  @transient private lazy val lookup: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](set.size * 2)
    set.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  override def compute(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var n = 0L
    var i = 0
    val len = arr.numElements()
    while (i < len) {
      if (lookup.contains(arr.getUTF8String(i))) n += 1
      i += 1
    }
    java.lang.Long.valueOf(n)
  }
  override protected def withNewChildInternal(c: Expression): TokensInSetCount = copy(c)
}

/** array<string> symbols → array<string> with every non-overlapping
  * adjacent (a, b) pair greedily merged left-to-right into `a+b` — the
  * BPE merge step. Greedy non-overlap means "aaa" under (a,a) yields
  * [aa, a], not [aa, aa]: once a pair is consumed, its output symbol
  * cannot be the left side of another merge in the same round.
  * Replaces the interpreted aggregate(named_struct(out, lm)) lambda
  * fold — which, chained across merge rounds with CollapseProject
  * inlining, was the O(n×refs) pitfall documented at the top of this
  * file — with one compiled two-pointer scan per row. */
case class BpeMergeFold(child: Expression, a: String, b: String)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  @transient private lazy val ua = UTF8String.fromString(a)
  @transient private lazy val ub = UTF8String.fromString(b)
  @transient private lazy val uab = UTF8String.fromString(a + b)
  override def compute(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (i + 1 < n && ua.equals(s) && ub.equals(arr.getUTF8String(i + 1))) {
        out += uab
        i += 2
      } else {
        out += s
        i += 1
      }
    }
    new GenericArrayData(out.toArray[Any])
  }
  override protected def withNewChildInternal(c: Expression): BpeMergeFold = copy(child = c)
}

/** binary payload → struct<n_alpha, n_digit, n_space, n_other,
  * byte_sum> — the byte-class histogram behind mm_features, as ONE
  * compiled loop per row shared with the typed decode path
  * ([[graft.multimodal.Multimodal.FakeDecoder]] delegates here).
  * Replaces the interpreted per-character
  * aggregate(transform(split(txt, ''))) fold. */
case class ByteClassStats(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ByteClassStats.schema
  override def compute(input: Any): Any = {
    val s = ByteClassStats.stats(input.asInstanceOf[Array[Byte]])
    new GenericInternalRow(Array[Any](s(0), s(1), s(2), s(3), s(4)))
  }
  override protected def withNewChildInternal(c: Expression): ByteClassStats = copy(c)
}

object ByteClassStats {
  val schema: StructType = StructType(Seq(
    StructField("n_alpha", LongType, nullable = false),
    StructField("n_digit", LongType, nullable = false),
    StructField("n_space", LongType, nullable = false),
    StructField("n_other", LongType, nullable = false),
    StructField("byte_sum", LongType, nullable = false)))
  /** [n_alpha, n_digit, n_space, n_other, byte_sum] in one pass. */
  def stats(payload: Array[Byte]): Array[Long] = {
    var alpha = 0L; var digit = 0L; var space = 0L; var other = 0L; var sum = 0L
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xff
      if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) alpha += 1
      else if (b >= '0' && b <= '9') digit += 1
      else if (b == ' ') space += 1
      else other += 1
      sum += b
      i += 1
    }
    Array(alpha, digit, space, other, sum)
  }
}

/** hex string (2 chars per byte) → long sum of the byte values —
  * the frame/resize mean-byte numerator as a compiled loop, replacing
  * aggregate(transform(regexp_extract_all(hex, '..'), …)) which both
  * interprets per element and re-runs the regex under CollapseProject
  * inlining. Accepts upper- or lower-case hex. */
case class HexByteSum(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType
  private def nibble(c: Byte): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else c - 'a' + 10
  override def compute(input: Any): Any = {
    val hex = input.asInstanceOf[UTF8String].getBytes
    var sum = 0L
    var i = 0
    while (i + 1 < hex.length) {
      sum += (nibble(hex(i)) << 4) + nibble(hex(i + 1))
      i += 2
    }
    java.lang.Long.valueOf(sum)
  }
  override protected def withNewChildInternal(c: Expression): HexByteSum = copy(c)
}

/** array<string> symbols → array<struct<a,b>> of adjacent pairs —
  * the BPE pair-count explode input, replacing the interpreted
  * transform(sequence(…), i -> named_struct(…)) formulation. A pair
  * field is nullable iff the input's elements are. */
case class AdjacentPairs(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = {
    val elemNull = child.dataType.asInstanceOf[ArrayType].containsNull
    ArrayType(StructType(Seq(
      StructField("a", StringType, nullable = elemNull),
      StructField("b", StringType, nullable = elemNull))), containsNull = false)
  }
  override def compute(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements() - 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = new GenericInternalRow(
        Array[Any](arr.getUTF8String(i), arr.getUTF8String(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): AdjacentPairs = copy(c)
}

/** string → array<string> of its adjacent character bigrams (char
  * semantics via UTF8String.substringSQL, so multi-byte text is safe) —
  * the bpe_pairs explode input, replacing the interpreted
  * transform(sequence(…), i -> substr(tok, i, 2)) formulation. */
case class CharBigrams(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def compute(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numChars() - 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = s.substringSQL(i + 1, 2); i += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): CharBigrams = copy(c)
}

/** hex string of an n-byte payload → hex string of `target` bytes
  * gathered nearest-neighbor style: output byte j comes from source
  * index floor(j·n/target) (upsampling repeats bytes). Replaces the
  * interpreted transform(sequence(0, target-1), j -> substr(phex, …))
  * gather, where CollapseProject could inline the upstream hex()
  * rendering into every one of the `target` element references. */
case class HexResize(child: Expression, target: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = StringType
  override def compute(input: Any): Any = {
    val hx = input.asInstanceOf[UTF8String].getBytes
    val n = hx.length / 2
    if (n == 0) return UTF8String.EMPTY_UTF8
    val out = new Array[Byte](target * 2)
    var j = 0
    while (j < target) {
      val src = ((j.toLong * n) / target).toInt
      out(j * 2) = hx(src * 2)
      out(j * 2 + 1) = hx(src * 2 + 1)
      j += 1
    }
    UTF8String.fromBytes(out)
  }
  override protected def withNewChildInternal(c: Expression): HexResize = copy(child = c)
}

/** array<long> → string: decimal renderings of elements
  * [start0, start0+len) joined with `sep` — the MinHash band-hash
  * input, replacing the interpreted
  * array_join(transform(slice(sigs, start, len), cast), sep)
  * chain (same bytes: Long.toString == CAST(v AS STRING); a null
  * element is skipped, as array_join skips it). */
case class LongSliceJoin(child: Expression, start0: Int, len: Int, sep: String)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = StringType
  override def compute(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val end = math.min(start0 + len, arr.numElements())
    val sb = new java.lang.StringBuilder(len * 12)
    var i = start0
    while (i < end) {
      if (!arr.isNullAt(i)) {
        if (sb.length > 0) sb.append(sep)
        sb.append(arr.getLong(i))
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
  override protected def withNewChildInternal(c: Expression): LongSliceJoin = copy(child = c)
}

/** string → long polynomial hash over its UTF-16 units:
  * fold (h·131 + code) % 1e9+7, h₀ = 0 — identical to the interpreted
  * aggregate(transform(split(s, ''), ascii), …) formulation for all
  * BMP text (split('') yields UTF-16 units; ascii = codepoint) and to
  * the DuckDB list_reduce rendering in TextFunctions.polyHashSql. */
case class PolyHashChars(child: Expression)
    extends UnaryExpression with KernelCodegen {
  import HashConstants.M
  override def dataType: DataType = LongType
  override def compute(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (h * 131 + s.charAt(i).toInt) % M
      i += 1
    }
    java.lang.Long.valueOf(h)
  }
  override protected def withNewChildInternal(c: Expression): PolyHashChars = copy(c)
}

/** array<float> → array<double> (exact widening; a null element
  * stays null) — replaces the interpreted
  * transform(embedding, x -> cast(x as double)) on the IVF corpus
  * path. */
case class ToDoubleArray(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType =
    ArrayType(DoubleType, child.dataType.asInstanceOf[ArrayType].containsNull)
  override def compute(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) out(i) = arr.getFloat(i).toDouble
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): ToDoubleArray = copy(c)
}

/** hex string of an n-byte (n ≤ 63) payload → long perceptual-hash
  * fingerprint: bit j set iff byte j exceeds the payload's mean byte
  * value — the 1-D stand-in for an image pHash (DCT-free aHash), run
  * over the fixed-size HexResize output so every payload yields the
  * same signature width. The mean is exact when n is a power of two
  * (sum/2^k is an exact double), so the bit decisions are
  * deterministic cross-engine. */
case class HexPHash(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType
  private def nibble(c: Byte): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else c - 'a' + 10
  override def compute(input: Any): Any = {
    val hex = input.asInstanceOf[UTF8String].getBytes
    val n = hex.length / 2
    if (n == 0) return java.lang.Long.valueOf(0L)
    val bytes = new Array[Int](n)
    var sum = 0L
    var i = 0
    while (i < n) {
      bytes(i) = (nibble(hex(i * 2)) << 4) + nibble(hex(i * 2 + 1))
      sum += bytes(i)
      i += 1
    }
    val mean = sum.toDouble / n
    var ph = 0L
    var j = 0
    val lim = math.min(n, 63)
    while (j < lim) {
      if (bytes(j) > mean) ph |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(ph)
  }
  override protected def withNewChildInternal(c: Expression): HexPHash = copy(c)
}

/** Sequential left-to-right double-fold dot product of two numeric
  * arrays (float or double elements; each element widened to double
  * before the multiply, sums accumulated in declaration order) —
  * BIT-IDENTICAL to the interpreted
  * aggregate(zip_with(a, b, x·y), 0.0, +) formulation it replaces and
  * to the DuckDB list_reduce(list_prepend(0.0, …)) oracle rendering,
  * because the IEEE operations and their order are the same; only the
  * per-element expression-tree interpretation is gone. Null result on
  * length mismatch or a null element (zip_with padding semantics). */
case class DotProductFold(left: Expression, right: Expression)
    extends BinaryExpression with KernelCodegen2 {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  @transient private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def compute2(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    java.lang.Double.valueOf(s)
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotProductFold = copy(l, r)
}

/** Sakoe–Chiba banded dynamic-time-warping distance between two
  * equal-length array<long> series with L1 step cost: classic DP
  * cell(i,j) = |a_i − b_j| + min(up, left, diag) restricted to
  * |i − j| ≤ band (band = 0 degenerates to the plain aligned L1
  * distance — one kernel serves both columns). One compiled
  * O(T·band) two-row loop per pair; NULL on length mismatch or empty
  * input. Out-of-band cells are INF = 2⁶⁰ (far above any real path:
  * costs are day-grain cent deltas, paths ≤ 2T steps) so the min
  * never crosses the band. Arithmetic is pure Long — the DuckDB
  * oracle replays the identical recurrence as a wavefront recursive
  * CTE ([[graft.analytics.Dtw]]), so every cell is engine-identical. */
case class DtwBandDistance(left: Expression, right: Expression, band: Int)
    extends BinaryExpression with KernelCodegen2 {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  private val Inf = 1L << 60
  override def compute2(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0 || b.numElements() != n) return null
    // rows indexed by j (1..n); two rolling rows over i
    var prev = Array.fill(n + 1)(Inf)
    var cur = Array.fill(n + 1)(Inf)
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, Inf)
      val ai = a.getLong(i - 1)
      var j = math.max(1, i - band)
      val hi = math.min(n, i + band)
      while (j <= hi) {
        val cost = math.abs(ai - b.getLong(j - 1))
        val best =
          if (i == 1 && j == 1) 0L
          else math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
        cur(j) = if (best >= Inf) Inf else cost + best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    val res = prev(n)
    if (res >= Inf) null else java.lang.Long.valueOf(res)
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DtwBandDistance = copy(l, r)
}

/** Two-state min-cost (Viterbi) state sequence for burst detection
  * (Kleinberg 2003, batch 2-state automaton): `left` = per-step state-0
  * costs, `right` = [transitionCost] ++ per-step state-1 costs (the
  * 0→1 entry cost is DATA-dependent — γ·ln T — so it rides as the
  * first element of the right array rather than a constructor
  * constant). Recurrence: v0ᵢ = c0ᵢ + min(v0ᵢ₋₁, v1ᵢ₋₁) (leaving a
  * burst is free), v1ᵢ = c1ᵢ + min(v1ᵢ₋₁, v0ᵢ₋₁ + t01); the start is
  * state 0 (v1₁ pays t01). Ties prefer state 0 / staying, identical
  * to the oracle's CASE order. All costs are pre-rounded integer
  * nano-units, so every cell and comparison is engine-exact Long.
  * Returns the arg-min state path as array<int>; NULL on length
  * mismatch or empty input. */
case class ViterbiBurst(left: Expression, right: Expression)
    extends BinaryExpression with KernelCodegen2 {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def compute2(l: Any, r: Any): Any = {
    val c0 = l.asInstanceOf[ArrayData]
    val c1t = r.asInstanceOf[ArrayData]
    val n = c0.numElements()
    if (n == 0 || c1t.numElements() != n + 1) return null
    val t01 = c1t.getLong(0)
    var v0 = c0.getLong(0)
    var v1 = c1t.getLong(1) + t01
    // fromBurst(q)(i): state at step i−1 on the best path ending in q at i
    val from0 = new Array[Boolean](n) // true = predecessor was state 1
    val from1 = new Array[Boolean](n)
    var i = 1
    while (i < n) {
      val n0 = c0.getLong(i) + (if (v0 <= v1) { from0(i) = false; v0 }
        else { from0(i) = true; v1 })
      val n1 = c1t.getLong(i + 1) + (if (v1 <= v0 + t01) {
        from1(i) = true; v1 } else { from1(i) = false; v0 + t01 })
      v0 = n0; v1 = n1
      i += 1
    }
    val states = new Array[Int](n)
    var q = if (v0 <= v1) 0 else 1
    i = n - 1
    while (i >= 0) {
      states(i) = q
      if (i > 0)
        q = if (q == 0) { if (from0(i)) 1 else 0 }
        else { if (from1(i)) 1 else 0 }
      i -= 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(states)
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ViterbiBurst = copy(l, r)
}

/** Symmetric int8 scalar quantization of an embedding (FAISS-SQ8
  * shape): scale = 127 / max|xᵢ| per vector, qᵢ = round(xᵢ·scale)
  * half-away-from-zero ∈ [−127, 127]. Emits the quantized components
  * as INTEGER-VALUED doubles so the existing [[DotProductFold]] kernel
  * scores them exactly (|q·q| ≤ 127²·dim ≪ 2⁵³) and the DuckDB oracle
  * replays the identical computation — the on-disk representation of
  * this codebook is a byte array (4× smaller than float32, the point
  * at 100 TB of embeddings); the double rendering is the compute
  * format. Half-away-from-zero matches BOTH Spark's `round` (BigDecimal
  * HALF_UP) and DuckDB's `round` on doubles. An all-zero vector
  * quantizes to all zeros (scale 0), never NaN. */
case class QuantizeI8(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def compute(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      val x = math.abs(if (isFloat) a.getFloat(i).toDouble else a.getDouble(i))
      if (x > mx) mx = x
      i += 1
    }
    val scale = if (mx == 0.0) 0.0 else 127.0 / mx
    val out = new Array[Double](n)
    i = 0
    while (i < n) {
      val x = (if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)) * scale
      out(i) = if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): QuantizeI8 =
    copy(child = c)
}

/** Per-vector SQ8 reconstruction-error stats in one pass:
  * (n_comp, max_err, bound, n_sat) — the compiled twin of the
  * transform/zip_with/filter HOF chain sq8_error_report ran per row
  * (PlanGate r11: interpreted lambdas on the embeddings corpus scan).
  * Bit-identical arithmetic to [[QuantizeI8]] + the query's error
  * expression: scale = 127/max|x|, q = round-half-away(x·scale),
  * err = |x − q·(mx/127)| with mx/127 computed once, saturation =
  * |q| == 127. Empty arrays yield null (embeddings are fixed-dim;
  * documented, not exercised). */
case class Sq8ErrorStats(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("n_comp", LongType, nullable = false),
    StructField("max_err", DoubleType, nullable = false),
    StructField("bound", DoubleType, nullable = false),
    StructField("n_sat", LongType, nullable = false)))
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def compute(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0) return null
    def at(i: Int): Double =
      if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
    var mx = 0.0
    var i = 0
    while (i < n) {
      val x = math.abs(at(i)); if (x > mx) mx = x; i += 1
    }
    val scale = if (mx == 0.0) 0.0 else 127.0 / mx
    val back = mx / 127.0
    var maxErr = 0.0
    var nSat = 0L
    i = 0
    while (i < n) {
      val x = at(i)
      val xs = x * scale
      val q = if (xs >= 0) math.floor(xs + 0.5) else math.ceil(xs - 0.5)
      val err = math.abs(x - q * back)
      if (err > maxErr) maxErr = err
      if (math.abs(q) == 127.0) nSat += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, maxErr, mx / 254.0, nSat))
  }
  override protected def withNewChildInternal(c: Expression): Sq8ErrorStats =
    copy(child = c)
}

/** URL query string → canonical parameter list: split on '&', drop
  * empties and utm_* params, sort (UTF8 binary order — exactly
  * Spark's array_sort on strings and DuckDB's default VARCHAR
  * collation), re-join with '&'. The compiled twin of
  * `array_join(array_sort(filter(split(q, "&"), ...)), "&")`
  * (PlanGate r11: that filter lambda ran interpreted per URL in the
  * documents corpus scan). */
case class CanonicalQuery(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = StringType
  override def compute(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val parts = s.split("&", -1)
    val keep = new java.util.ArrayList[UTF8String](parts.length)
    var i = 0
    while (i < parts.length) {
      val p = parts(i)
      if (p.nonEmpty && !p.startsWith("utm_"))
        keep.add(UTF8String.fromString(p))
      i += 1
    }
    java.util.Collections.sort(keep) // UTF8String = binary byte order
    val sb = new java.lang.StringBuilder(s.length)
    i = 0
    while (i < keep.size) {
      if (i > 0) sb.append('&')
      sb.append(keep.get(i).toString)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
  override protected def withNewChildInternal(c: Expression): CanonicalQuery =
    copy(child = c)
}

/** Count of positions where two long arrays agree — the MinHash
  * signature-agreement statistic (est_jaccard numerator), replacing
  * the interpreted aggregate(zip_with(sa, sb, equal?1:0), 0, +) fold.
  *
  * Kernel contract (STRICTER than the fold it replaced): null result
  * on length mismatch — the old fold zip_with-padded the short side
  * and counted pads as non-matching, this kernel refuses instead; a
  * null element never matches (the fold's when(x===y,1).otherwise(0)
  * also yielded 0 for nulls). MinHash signatures are fixed-length
  * non-null, so both paths agree on every real input. */
case class EqualCount(left: Expression, right: Expression)
    extends BinaryExpression with KernelCodegen2 {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def compute2(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var c = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    java.lang.Long.valueOf(c)
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): EqualCount = copy(l, r)
}

/** |A ∩ B| for two SORTED-ascending long arrays via a zero-allocation
  * merge scan — the candidate-pair intersection kernel of the
  * containment/Jaccard verifiers (round 14, guide §1.2 step 2:
  * per-task work). `array_intersect` builds a hash set PER ROW
  * (measured: the verify stage of dedup_containment spent 10 s of task
  * time + 1.4 s GC at sf0.1, ~65 % of the query); on distinct sorted
  * inputs the merge count is the same integer with no allocation.
  * Callers OWN the precondition (arrays sorted ascending with a null
  * element first, elements distinct — `sort_array(array_distinct(...))`
  * upstream); unsorted input would undercount, so the sort lives next
  * to the array construction, never separated from it. As in
  * `array_intersect`, a null element in both arrays counts once. A
  * null array gives null (nullability is inherited from the
  * children). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with KernelCodegen2 {
  override def dataType: DataType = LongType
  override def compute2(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0
    // leading nulls: a null slot reads as 0 and would break the merge order
    while (i < na && a.isNullAt(i)) i += 1
    while (j < nb && b.isNullAt(j)) j += 1
    var c = if (i > 0 && j > 0) 1L else 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    java.lang.Long.valueOf(c)
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectCount = copy(l, r)
}

/** Bounded edit distance: 0 (equal), 1 (one substitution, insertion,
  * or deletion apart), −1 (further) — the candidate VERIFIER of the
  * deletion-neighborhood fuzzy join ([[graft.dedup.Fuzzy]]).
  *
  * For a distance bound of 1 the DP matrix is overkill: one
  * longest-common-prefix scan and one longest-common-suffix scan
  * decide the answer in O(len) with no allocation — dist ≤ 1 iff
  * prefix + suffix cover all but ≤ 1 char of the longer string. The
  * general `levenshtein(a, b, 1)` measured ~20× slower on the join's
  * verify stage (it still walks its banded matrix and boxes through
  * the threshold plumbing); at 15 M candidate checks per million
  * input rows the verifier IS the hot loop. Byte-level comparison:
  * identical to character edits for ASCII (all candidate keys here);
  * multi-byte codepoints would count per-byte. A null string gives
  * null. */
case class BoundedLev1(left: Expression, right: Expression)
    extends BinaryExpression with KernelCodegen2 {
  override def dataType: DataType = IntegerType
  override def compute2(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[UTF8String]
    val b = r.asInstanceOf[UTF8String]
    val (la, lb) = (a.numBytes(), b.numBytes())
    if (math.abs(la - lb) > 1) return java.lang.Integer.valueOf(-1)
    val minLen = math.min(la, lb)
    var i = 0
    while (i < minLen && a.getByte(i) == b.getByte(i)) i += 1 // prefix
    var k = 0
    while (k < minLen - i && a.getByte(la - 1 - k) == b.getByte(lb - 1 - k)) k += 1
    val d =
      if (la == lb) { if (i == la) 0 else if (la - i - k <= 1) 1 else -1 }
      else { if (minLen - i - k <= 0) 1 else -1 }
    java.lang.Integer.valueOf(d)
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BoundedLev1 = copy(l, r)
}

/** Column-level wrappers (Spark 4: Columns wrap ColumnNodes, so
  * Expression-backed Columns go through classic.ExpressionUtils). */
/** text → array<string> of the DISTINCT k-token shingle strings of the
  * trimmed/lowercased whitespace tokens — one compiled pass, one
  * StringBuilder, a LinkedHashSet for the per-doc distinct.
  *
  * Exists because the HOF formulation
  * (`array_distinct(transform(sequence(...), i -> concat_ws(slice(
  * split(text)...))))`) hits the round-1 finding: CollapseProject
  * inlines `split` into the lambda, which then evaluates INTERPRETED
  * once per output gram — measured 34.8 s for boilerplate_ngrams at
  * sf1 vs ~4 s with this kernel. Semantics match the DuckDB oracle's
  * `list_distinct(shinglesSql(tokensSql(lower(text))))` exactly
  * (Java \\s+ split of the trimmed string ≡ string_split_regex). */
case class ShingleStrings(child: Expression, k: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def compute(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString
      .toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
    val n = toks.length - (k - 1)
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](math.max(16, n * 2))
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = UTF8String.fromString(it.next()); m += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): ShingleStrings = copy(c)
}

/** text → lowercased alnum-only canonical form — the compiled twin of
  * `regexp_replace(lower(s), '[^a-z0-9 ]', '')` (the [[TokenPolyHashes]]
  * lowercase convention: Java toLowerCase(Locale.ROOT), ASCII-identical to both
  * engines' lower() on this corpus). One char loop, one output buffer;
  * replaces the java.util.regex scan that dominated dedup_exact's sf5
  * cost (round-10 triage: the regex pass was 31 s of a 35 s scan, and
  * its per-thread CPU inflated ~5× under 32-thread contention from
  * match-state allocation — the char loop allocates one builder per
  * row and nothing per char). */
case class NormalizeAscii(child: Expression)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = StringType
  override def compute(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
      .toLowerCase(java.util.Locale.ROOT)
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ')
        sb.append(c)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
  override protected def withNewChildInternal(c: Expression): NormalizeAscii = copy(c)
}

/** Achlioptas (2003) sparse Johnson–Lindenstrauss projection of a
  * numeric array to `dOut` dimensions: projection entry s(k,j) ∈
  * {+1, −1, 0} with probabilities {1/6, 1/6, 2/3}, derived from a
  * FIXED LCG on the flat index k·n+j (r = (1103515245·i + 12345) mod
  * 2³¹, then r mod 6: 0 → +1, 1 → −1, else 0) — no RNG state, so the
  * matrix is identical across executors, runs, and engines, and the
  * DuckDB oracle regenerates it from the same three integer constants.
  * y_k is a sequential j-ordered double fold (zeros included), the
  * same IEEE sequence as the oracle's list_reduce rendering — the
  * [[DotProductFold]] parity argument. The 1/√(dOut/3) JL scale is
  * NOT folded in; callers carry the exact rational 3/dOut in their
  * distortion arithmetic instead of a per-element irrational. */
case class JlProject(child: Expression, dOut: Int)
    extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def compute(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Double](dOut)
    var k = 0
    while (k < dOut) {
      var acc = 0.0
      var j = 0
      while (j < n) {
        val r = ((1103515245L * (k.toLong * n + j) + 12345L) %
          2147483648L) % 6L
        val s = if (r == 0L) 1.0 else if (r == 1L) -1.0 else 0.0
        val x = if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)
        acc += x * s
        j += 1
      }
      out(k) = acc
      k += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): JlProject =
    copy(child = c)
}

object native {
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
  def token_poly_hashes(c: Column): Column = column(TokenPolyHashes(expression(c)))
  def normalize_ascii(c: Column): Column = column(NormalizeAscii(expression(c)))
  def shingle_strings(c: Column, k: Int): Column = column(ShingleStrings(expression(c), k))
  def shingle_hashes(c: Column, k: Int): Column = column(ShinglePolyHashes(expression(c), k))
  def minhash_signature(c: Column, n: Int): Column = column(MinHashSignature(expression(c), n))
  def simhash(c: Column, bits: Int): Column = column(SimHash(expression(c), bits))
  def hyperplane_bucket(c: Column, planes: Int, dim: Int,
      offset: Int = 0): Column =
    column(HyperplaneBucket(expression(c), planes, dim, offset))
  def tokens_in_set_count(c: Column, set: Seq[String]): Column =
    column(TokensInSetCount(expression(c), set))
  def bpe_merge_fold(c: Column, a: String, b: String): Column =
    column(BpeMergeFold(expression(c), a, b))
  def byte_class_stats(c: Column): Column = column(ByteClassStats(expression(c)))
  def hex_byte_sum(c: Column): Column = column(HexByteSum(expression(c)))
  def hex_resize(c: Column, target: Int): Column = column(HexResize(expression(c), target))
  def hex_phash(c: Column): Column = column(HexPHash(expression(c)))
  def adjacent_pairs(c: Column): Column = column(AdjacentPairs(expression(c)))
  def char_bigrams(c: Column): Column = column(CharBigrams(expression(c)))
  def bounded_lev1(a: Column, b: Column): Column =
    column(BoundedLev1(expression(a), expression(b)))
  def dot_product_fold(a: Column, b: Column): Column =
    column(DotProductFold(expression(a), expression(b)))
  def dtw_band_distance(a: Column, b: Column, band: Int): Column =
    column(DtwBandDistance(expression(a), expression(b), band))
  def viterbi_burst(c0: Column, c1WithTrans: Column): Column =
    column(ViterbiBurst(expression(c0), expression(c1WithTrans)))
  def equal_count(a: Column, b: Column): Column =
    column(EqualCount(expression(a), expression(b)))
  def sorted_intersect_count(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
  def long_slice_join(c: Column, start0: Int, len: Int, sep: String): Column =
    column(LongSliceJoin(expression(c), start0, len, sep))
  def poly_hash_chars(c: Column): Column = column(PolyHashChars(expression(c)))
  def to_double_array(c: Column): Column = column(ToDoubleArray(expression(c)))
  def quantize_i8(c: Column): Column = column(QuantizeI8(expression(c)))
  def sq8_error_stats(c: Column): Column = column(Sq8ErrorStats(expression(c)))
  def canonical_query(c: Column): Column = column(CanonicalQuery(expression(c)))
  def jl_project(c: Column, dOut: Int): Column = column(JlProject(expression(c), dOut))
}
