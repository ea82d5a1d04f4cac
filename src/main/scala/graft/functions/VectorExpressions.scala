package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Custom Catalyst expression: dot product of two ARRAY<FLOAT> columns in
  * double precision.
  *
  * Exists for a measured reason (SURVEY §4.2/§7.3 "only if bench demands"):
  * the builtin formulation `aggregate(zip_with(a, b, (x,y) -> ...), 0d, +)`
  * allocates an intermediate 64-element array and dispatches two lambdas per
  * element for EVERY pair — at 12.5M candidate pairs (sf0.1 near-dup scan)
  * that was 21s of the bench. This expression compiles to a tight fused
  * loop inside whole-stage codegen: no allocation, no virtual dispatch.
  *
  * Semantics identical to the builtin form and the DuckDB oracle: widen each
  * float to double, multiply, accumulate left-to-right.
  */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Custom Catalyst expression: intersection cardinality of two ASC-sorted
  * ARRAY<BIGINT> columns via a two-pointer merge — O(n+m), no per-call hash
  * table. Exists for the LSH verify stage (DedupOps d4): `array_intersect`
  * builds a hash set per PAIR, which dominated the 3M-pair Jaccard pass.
  * Caller contract: both inputs sorted ascending and duplicate-free
  * (array_sort(array_distinct(...)) upstream, computed once per row).
  */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0L
    while (i < a.numElements() && j < b.numElements()) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $i = 0; int $j = 0; long ${ev.value}_n = 0L;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $x = $a.getLong($i); long $y = $b.getLong($j);
         |  if ($x == $y) { ${ev.value}_n++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = ${ev.value}_n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Custom Catalyst expression: 32-bit SimHash of an ARRAY<BIGINT> word-hash
  * column, rendered as a 32-char '1'/'0' string (bit 31 first).
  *
  * Exists for a measured reason: the builtin formulation
  * `transform(sequence(31,0,-1), j -> aggregate(whashes, ...))` makes 32
  * interpreted passes over the word array per row — Spark's higher-order
  * lambdas are CodegenFallback, and the round-1 bench paid 86 s for a
  * shuffle-free map over 5,000 docs (17 ms/row). This expression is ONE
  * fused pass with 32 int counters inside whole-stage codegen.
  *
  * Semantics identical to the lambda form and the DuckDB oracle: per word
  * hash h (non-negative, < 2^32), bit j votes +1 if ((h >> j) & 1) == 1 else
  * -1; output bit j is '1' iff the vote sum is > 0.
  */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](32)
    var i = 0
    while (i < a.numElements()) {
      val h = a.getLong(i)
      var j = 0
      while (j < 32) {
        if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    val bytes = new Array[Byte](32)
    var j = 0
    while (j < 32) {
      bytes(j) = if (votes(31 - j) > 0) '1' else '0'
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes")
      val bytes = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      s"""
         |int[] $votes = new int[32];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $j = 0; $j < 32; $j++) {
         |    $votes[$j] += (($h >> $j) & 1L) == 1L ? 1 : -1;
         |  }
         |}
         |byte[] $bytes = new byte[32];
         |for (int $j = 0; $j < 32; $j++) {
         |  $bytes[$j] = $votes[31 - $j] > 0 ? (byte) '1' : (byte) '0';
         |}
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromBytes($bytes);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared one-pass MinHash kernel — called from both the interpreted and
  * generated code paths of [[MinHash16]], so there is exactly one
  * implementation of the arithmetic.
  */
object MinHashKernel {
  /** The engine's fixed MinHash family: 16 linear permutations
    * h -> (A(j)*h + B(j)) % P with prime constants, a*h < 2^63 for h < 2^32.
    * Mirrored verbatim in the DuckDB oracle SQL (DedupOps.sigExprDuck).
    */
  val A: Array[Long] = Array(1299721L, 15485863L, 32452843L, 49979687L, 67867967L, 86028121L,
    104395301L, 122949823L, 141650939L, 160481183L, 179424673L, 198491317L,
    217645177L, 236887691L, 256203161L, 275604541L)
  val B: Array[Long] = Array(7L, 13L, 31L, 59L, 89L, 101L, 151L, 197L,
    263L, 311L, 373L, 433L, 499L, 569L, 631L, 701L)
  val P = 2147483647L

  /** One pass over the word hashes, 16 running minima. Empty input yields 16
    * nulls — identical to `array_min` over an empty transform result.
    */
  def minhash16(a: ArrayData): ArrayData = {
    val n = a.numElements()
    if (n == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](16))
    val mins = new Array[Long](16)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = a.getLong(i)
      var j = 0
      while (j < 16) {
        val v = (A(j) * h + B(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(mins)
  }
}

/** Custom Catalyst expression: 16-element MinHash signature of an
  * ARRAY<BIGINT> word-hash column in ONE fused pass.
  *
  * Exists for a measured reason: the builtin formulation
  * `transform(sequence(0,15), j -> array_min(transform(whashes, ...)))`
  * is CodegenFallback and walks the word array 16 times through two
  * interpreted lambdas — it dominated d3/d4's map stage (~2 s per signature
  * pass over 5,000 docs at sf0.1). Both eval and codegen delegate to
  * [[MinHashKernel.minhash16]]: a single static call, no per-element virtual
  * dispatch, inside whole-stage codegen.
  */
case class MinHash16(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, containsNull = true)

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.minhash16(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinHashKernel.minhash16($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared kernel for the portable word-hash array that seeds MinHash /
  * SimHash / Jaccard in DedupOps: distinct whitespace tokens in first-
  * occurrence order, each hashed to the first 4 md5 bytes as an unsigned
  * 32-bit value — bit-identical to the SQL formulation
  * `transform(array_distinct(split(text,' ')), w -> conv(substring(md5(w),1,8),16,10))`
  * that the DuckDB oracle mirrors. The SQL form walks the token array
  * through interpreted lambdas (CodegenFallback) and was recomputed by
  * every consumer; the kernel is one fused pass.
  */
object WordHashKernel {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def wordHashes(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    // Spark split(text, ' ') semantics: Java regex split, limit -1 (keeps
    // trailing empties; "" yields [""])
    val words = text.toString.split(" ", -1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < words.length) { seen.add(words(i)); i += 1 }
    val out = new Array[Long](seen.size())
    val md = digest.get()
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      md.reset()
      val d = md.digest(it.next().getBytes("UTF-8"))
      out(k) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      k += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** Shared kernel for d6's 3-word shingle set: distinct space-joined 3-grams
  * in first-occurrence order. Equals the SQL formulation
  * `array_distinct(transform(sequence(1, size(ws)-2), i -> concat_ws(' ', slice(ws, i, 3))))`
  * wherever that form is defined (>= 3 tokens; the lambda form ERRORS on
  * shorter inputs because `sequence(1, n)` runs descending for n < 1 and
  * `slice` rejects start 0 — the kernel is total and returns an empty set
  * there instead).
  */
object ShingleKernel {
  def shingles3(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val ws = text.toString.split(" ", -1)
    if (ws.length < 3)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + 2 < ws.length) {
      seen.add(ws(i) + " " + ws(i + 1) + " " + ws(i + 2))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Custom Catalyst expression wrapper over [[ShingleKernel.shingles3]]. */
case class Shingles3(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernel.shingles3(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ShingleKernel.shingles3($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Custom Catalyst expression wrapper over [[WordHashKernel.wordHashes]]. */
case class WordHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WordHashKernel.wordHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.WordHashKernel.wordHashes($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared kernel for t14's winnowed rolling-hash document fingerprint
  * (Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms for Document
  * Fingerprinting", SIGMOD 2003 — the MOSS scheme). One fused O(n) pass:
  * Rabin-Karp rolling hashes of the K-char grams (true rolling update —
  * subtract the outgoing char's B^(K-1) term, multiply, add the incoming
  * char; not an O(n·K) re-hash), then winnowing selects the minimum hash of
  * every W-consecutive-hash window, guaranteeing any substring match of
  * length >= K+W-1 shares a selected fingerprint. Output is the SORTED
  * DISTINCT selected-hash set — deterministic, join/digest-ready.
  *
  * Chars are Unicode code points, matching the DuckDB oracle's
  * ascii(substring(text, i, 1)); the polynomial form the oracle computes
  * (sum of code·B^(K-1-j) mod P) equals the rolling form by construction.
  */
object RollingHashKernel {
  val K = 8       // gram length (chars)
  val W = 4       // winnow window (hashes)
  val B = 31L     // polynomial base
  val P = 1000000007L
  /** B^(K-1) mod P — the outgoing char's coefficient in the rolling update. */
  val BK1: Long = { var x = 1L; (1 until K).foreach(_ => x = x * B % P); x }

  def winnowFps(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    if (n < K)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(new Array[Long](0))
    val nh = n - K + 1
    val hashes = new Array[Long](nh)
    var h = 0L
    var i = 0
    while (i < K) { h = (h * B + cps(i)) % P; i += 1 }
    hashes(0) = h
    while (i < n) {
      h = ((h + P - cps(i - K) * BK1 % P) % P * B + cps(i)) % P
      hashes(i - K + 1) = h
      i += 1
    }
    // winnow: min per W-window (single window when nh <= W); distinct + sort
    val sel = new java.util.TreeSet[java.lang.Long]()
    val nw = math.max(nh - W + 1, 1)
    var w0 = 0
    while (w0 < nw) {
      var m = Long.MaxValue
      var j = w0
      val end = math.min(w0 + W, nh)
      while (j < end) { if (hashes(j) < m) m = hashes(j); j += 1 }
      sel.add(m)
      w0 += 1
    }
    val out = new Array[Long](sel.size())
    val it = sel.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** Custom Catalyst expression wrapper over [[RollingHashKernel.winnowFps]]. */
case class WinnowFps(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    RollingHashKernel.winnowFps(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.RollingHashKernel.winnowFps($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared kernel for the random-hyperplane (sign-bit) bucket used by the
  * s3/e1 similarity operators. The 6 x 64 plane matrix is DERIVED ONCE here
  * (deterministic md5 arithmetic, identical to the SQL/DuckDB formulation
  * that the oracle replays) instead of being re-derived per row by
  * interpreted lambda expressions — that per-row rebuild was 6 x 64 md5
  * calls per vector.
  */
object HyperplaneKernel {
  val NPlanes = 6
  val Dim = 64

  /** Widest geometry the kernel pre-derives. The fixture operators use the
    * first [[NPlanes]]; larger corpora need more sign bits — planes-per-band
    * must grow ~log2(N) to keep band-bucket populations (and therefore
    * candidate pairs) bounded, which is the e1 scale knob (its scale rung
    * is recorded in BENCH_NOTES.md).
    */
  val MaxPlanes = 24

  /** plane(j)(i) = ((first-8-hex-chars-of md5("p"+(j*64+i)) as int) % 2001
    * - 1000) / 1000.0 — exactly `planesSpark`/`planesDuck` in SimilarityOps
    * for j < NPlanes, extended by the same formula beyond.
    */
  val planes: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(MaxPlanes, Dim) { (j, i) =>
      md.reset()
      val hex = md.digest(s"p${j * Dim + i}".getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
    }
  }

  /** Sign-bit bucket of an ARRAY<FLOAT> embedding: per plane, the
    * left-to-right double fold of element products (same accumulation order
    * as `aggregate(zip_with(...))` and DuckDB's list_sum, so the sign — and
    * therefore the bucket — matches the oracle bit-for-bit).
    *
    * Inputs that are not exactly [[Dim]] elements, or contain a null
    * element, reproduce the lambda spec's null semantics instead of being
    * silently truncated: `zip_with` pads the shorter side with null, the
    * null poisons every plane's fold, and `CASE WHEN null >= 0` falls to
    * '0' — so the bucket is all zeros for ANY malformed vector, identically
    * in the codegen kernel, the lambda spec, and the DuckDB oracle.
    */
  def bucket(a: ArrayData): org.apache.spark.unsafe.types.UTF8String =
    bucket(a, NPlanes)

  def bucket(a: ArrayData, nPlanes: Int): org.apache.spark.unsafe.types.UTF8String = {
    require(nPlanes > 0 && nPlanes <= MaxPlanes, s"nPlanes must be in [1, $MaxPlanes]")
    val n = a.numElements()
    var malformed = n != Dim
    var i = 0
    while (!malformed && i < n) { malformed = a.isNullAt(i); i += 1 }
    val bytes = new Array[Byte](nPlanes)
    if (malformed) {
      java.util.Arrays.fill(bytes, '0'.toByte)
      return org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes)
    }
    var j = 0
    while (j < nPlanes) {
      val p = planes(j)
      var acc = 0.0
      i = 0
      while (i < n) { acc += a.getFloat(i).toDouble * p(i); i += 1 }
      bytes(j) = if (acc >= 0) '1' else '0'
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes)
  }
}

/** Custom Catalyst expression: the s3/e1 hyperplane-LSH bucket key in one
  * fused pass (see [[HyperplaneKernel]]). The lambda formulation it replaces
  * is CodegenFallback AND re-derives the constant plane matrix per row.
  */
case class HyperplaneBucket(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def nullSafeEval(input: Any): Any =
    HyperplaneKernel.bucket(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.HyperplaneKernel.bucket($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `hyperplane_bucket_n(embedding, n)`: the [[HyperplaneBucket]] sign-bit
  * key widened to `n` planes (a compile-time literal, up to
  * [[HyperplaneKernel.MaxPlanes]]). The first 6 bits are identical to
  * `hyperplane_bucket` — same deterministic plane formula — so widening is
  * purely additive. This is the e1 scale knob made operable: a 16x corpus
  * keeps band-bucket populations bounded by banding a wider key (e.g. 2x8
  * instead of 2x3), as the e1 scale rung measured (BENCH_NOTES.md).
  */
case class HyperplaneBucketN(child: Expression, nPlanes: Int) extends UnaryExpression {
  require(nPlanes > 0 && nPlanes <= HyperplaneKernel.MaxPlanes,
    s"hyperplane_bucket_n: n must be in [1, ${HyperplaneKernel.MaxPlanes}]")

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def nullSafeEval(input: Any): Any =
    HyperplaneKernel.bucket(input.asInstanceOf[ArrayData], nPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.HyperplaneKernel.bucket($a, $nPlanes);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Magic-byte modality sniff shared by the `media_modality` SQL surface:
  * the same signature checks [[graft.multimodal.MultimodalOps.MagicDecoder]]
  * dispatches on (BMP 54-byte header floor, RIFF/WAVE 44-byte floor) —
  * MultimodalFixtureSpec pins the two agreeing on every fixture payload,
  * so the SQL predicate and the decode path cannot drift apart silently.
  */
object MediaKernel {
  private def ascii(p: Array[Byte], off: Int, s: String): Boolean =
    p.length >= off + s.length && s.indices.forall(i => p(off + i) == s.charAt(i).toByte)
  def modality(p: Array[Byte]): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      if (p.length >= 54 && ascii(p, 0, "BM")) "image"
      else if (p.length >= 33 && p(0) == 0x89.toByte && ascii(p, 1, "PNG") &&
        p(4) == 0x0d.toByte && p(5) == 0x0a.toByte &&
        p(6) == 0x1a.toByte && p(7) == 0x0a.toByte) "image_png"
      else if (p.length >= 44 && ascii(p, 0, "RIFF") && ascii(p, 8, "WAVE")) "audio"
      else "binary")
}

/** `media_modality(payload)`: the container modality of a binary column by
  * REAL magic bytes, as a codegen'd scalar — the SQL-expressible face of
  * the m-family's decode triage, so WRITE-TIME rules (the f19 expectations
  * gate) can validate catalog claims against actual bytes without leaving
  * whole-stage codegen.
  */
case class MediaModality(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def nullSafeEval(input: Any): Any =
    MediaKernel.modality(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, p =>
      s"${ev.value} = graft.functions.MediaKernel.modality($p);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Session extension registering the custom functions — the public Spark
  * plug-in point (`spark.sql.extensions` / `builder.withExtensions`), no
  * internal API access.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => VectorDot(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (exprs: Seq[Expression]) => SortedIntersectCount(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "simhash32"),
      (exprs: Seq[Expression]) => SimHash32(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("minhash16"),
      new ExpressionInfo(classOf[MinHash16].getName, "minhash16"),
      (exprs: Seq[Expression]) => MinHash16(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      (exprs: Seq[Expression]) => WinnowFps(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucket].getName, "hyperplane_bucket"),
      (exprs: Seq[Expression]) => HyperplaneBucket(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("hyperplane_bucket_n"),
      new ExpressionInfo(classOf[HyperplaneBucketN].getName, "hyperplane_bucket_n"),
      (exprs: Seq[Expression]) => HyperplaneBucketN(exprs.head,
        exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"hyperplane_bucket_n: n must be an integer literal, got $other")
        })))
    e.injectFunction((
      new FunctionIdentifier("word_hashes"),
      new ExpressionInfo(classOf[WordHashes].getName, "word_hashes"),
      (exprs: Seq[Expression]) => WordHashes(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("shingles3"),
      new ExpressionInfo(classOf[Shingles3].getName, "shingles3"),
      (exprs: Seq[Expression]) => Shingles3(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("media_modality"),
      new ExpressionInfo(classOf[MediaModality].getName, "media_modality"),
      (exprs: Seq[Expression]) => MediaModality(exprs.head)))
  }
}
