package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** Custom Catalyst expressions for the segmented fast paths (preference
  * tier (b): a native Expression beats a UDF — no Row boxing, typed
  * ArrayData in/out, composes with any plan).
  *
  * Both kernels are per-row pure functions over `array<double>` segments
  * assembled by a single channel-partitioned groupBy, so the expensive
  * O(n·M) / O(n·nfft) inner loops of the lag-sum formulations collapse
  * to O(n log n) FFT work executed entirely inside the executor.
  */

/** |RFFT(x)|² over a 2^k-length segment → array of n/2+1 bin powers
  * (the periodogram core; window/detrend are applied by the caller).
  */
case class RfftMag2(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData].toDoubleArray()
    new GenericArrayData(Fft.rfftMag2(arr))
  }
  override protected def withNewChildInternal(c: Expression): RfftMag2 = copy(child = c)
}

/** FFT linear convolution of a segment with a fixed kernel; emits the
  * full (len + M − 1) convolution — the caller slices the core region
  * (overlap-add/overlap-save assembly).
  */
case class SegConv(child: Expression, kernel: Seq[Double]) extends UnaryExpression with CodegenFallback {
  @transient private lazy val h = kernel.toArray
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData].toDoubleArray()
    new GenericArrayData(Fft.convolve(arr, h))
  }
  override protected def withNewChildInternal(c: Expression): SegConv = copy(child = c)
}

/** Left-associated dot product of two `array<double>` columns — the
  * cosine-scoring hot path without `aggregate(zip_with(...))`'s
  * per-element interpreted lambdas and intermediate zipped array.
  * Accumulation is bit-identical to the fold it replaces (and to the
  * oracle's `list_sum(list_transform(...))`): ((0 + a₀b₀) + a₁b₁) + …
  * Inputs are fixed-width embedding vectors; length mismatch takes the
  * common prefix (the zip_with form nulls the whole result instead —
  * neither occurs on the 64-wide embeddings).
  */
case class DotD(left: Expression, right: Expression)
    extends BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotD =
    copy(left = l, right = r)
}

/** Dot product with a fixed driver-side kernel (LSH hyperplane
  * projections): one expression per plane instead of a zip_with against
  * a 64-literal array column. Same left-associated accumulation.
  */
case class DotLit(child: Expression, kernel: Seq[Double]) extends UnaryExpression with CodegenFallback {
  @transient private lazy val h = kernel.toArray
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), h.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * h(i); i += 1 }
    s
  }
  override protected def withNewChildInternal(c: Expression): DotLit = copy(child = c)
}

/** Distinct xxhash64 values (seed 42, Spark's `xxhash64`) of the w-word
  * shingles of a pre-split token array, computed row-locally in one
  * pass. Replaces explode(shingles) → xxhash64 → distinct →
  * groupBy/collect_list — two shuffles of ~tokens× the doc count — with
  * a plain projection. Shingle text and the position cap match
  * TextStats.shingles (`tok_i ⧺ " " ⧺ … ⧺ tok_{i+w−1}`, positions
  * 1..min(len−w+1, maxShingles)); docs shorter than w tokens yield an
  * empty set (the exploded path yields no rows — same downstream
  * result, intersections are empty either way).
  */
case class ShingleHashSet(child: Expression, w: Int, maxShingles: Int)
    extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val last = math.min(toks.numElements() - w + 1, maxShingles) // 1-based position count
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i < last) {
      val parts = new Array[UTF8String](w)
      var j = 0
      while (j < w) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      val sh = UTF8String.concatWs(sep, parts: _*)
      val h = XXH64.hashUnsafeBytes(sh.getBaseObject, sh.getBaseOffset, sh.numBytes, 42L)
      if (seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): ShingleHashSet = copy(child = c)
}

/** Positional variant of [[ShingleHashSet]]: the xxhash64 of EVERY
  * w-gram position (no dedup), index k ↔ the gram starting at token
  * k+1. posexplode turns it into the (position, gram-hash) stream the
  * span-removal coverage computation needs — one row-local projection,
  * the token array never rides along the explode.
  */
case class ShingleHashes(child: Expression, w: Int, maxShingles: Int)
    extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val last = math.min(toks.numElements() - w + 1, maxShingles)
    if (last <= 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](last)
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i < last) {
      val parts = new Array[UTF8String](w)
      var j = 0
      while (j < w) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      val sh = UTF8String.concatWs(sep, parts: _*)
      out(i) = XXH64.hashUnsafeBytes(sh.getBaseObject, sh.getBaseOffset, sh.numBytes, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

/** 64-bit SimHash (Charikar) of a pre-split token array, row-locally:
  * per token OCCURRENCE, md5 → first 8 digest bytes MSB-first are the
  * 64 bit votes (±1); signature bit b set on positive majority. Emits
  * [sim_hi, sim_lo] — the two 32-bit halves the banded hamming join
  * uses, bit-identical to the conv(substring(md5-hex))-based
  * groupBy-of-64-conditional-aggregates it replaces (and to the
  * oracle's hex-nibble walk), with no token explode/shuffle at all.
  * Token positions cap at maxTokens, like TextStats.tokens.
  */
/** Per-thread MD5 instance shared by the hashing expressions
  * (MessageDigest is stateful and not thread-safe).
  */
private object Md5 {
  private val tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def get(): java.security.MessageDigest = tl.get()
}

case class SimHash64(child: Expression, maxTokens: Int) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val n = math.min(toks.numElements(), maxTokens)
    val w = new Array[Int](64)
    val digester = Md5.get()
    var i = 0
    while (i < n) {
      digester.reset()
      val d = digester.digest(toks.getUTF8String(i).getBytes)
      var b = 0
      while (b < 64) {
        val bit = (d(b >> 3) >> (7 - (b & 7))) & 1
        w(b) += 2 * bit - 1
        b += 1
      }
      i += 1
    }
    var hi = 0L
    var lo = 0L
    var b = 0
    while (b < 32) { if (w(b) > 0) hi |= 1L << (31 - b); b += 1 }
    while (b < 64) { if (w(b) > 0) lo |= 1L << (63 - b); b += 1 }
    new GenericArrayData(Array(hi, lo))
  }
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** MinHash signature of a pre-split token array, row-locally: for each
  * w-word shingle position (capped like TextStats.shingles), h = first
  * 4 md5 digest bytes of the shingle as an unsigned 32-bit int; the
  * j-th output is min over shingles of (a_j·h + b_j) mod 2³². Values
  * are identical to the exploded shingles → distinct → k-min-aggregate
  * pipeline it replaces (min over occurrences = min over the distinct
  * set), with no shuffle at all. Docs shorter than w tokens emit an
  * empty array (posexplode then drops them, like the missing group).
  */
case class MinHashSig(child: Expression, w: Int, maxShingles: Int, a: Seq[Long], b: Seq[Long])
    extends UnaryExpression
    with CodegenFallback {
  @transient private lazy val (aArr, bArr) = (a.toArray, b.toArray)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val last = math.min(toks.numElements() - w + 1, maxShingles)
    if (last <= 0) return new GenericArrayData(Array.empty[Long])
    val k = aArr.length
    val mins = Array.fill(k)(Long.MaxValue)
    val sep = UTF8String.fromString(" ")
    val digester = Md5.get()
    var i = 0
    while (i < last) {
      val parts = new Array[UTF8String](w)
      var j = 0
      while (j < w) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      digester.reset()
      val d = digester.digest(UTF8String.concatWs(sep, parts: _*).getBytes)
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      j = 0
      while (j < k) {
        val p = (aArr(j) * h + bArr(j)) % 4294967296L
        if (p < mins(j)) mins(j) = p
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** Σ(aᵢ−bᵢ)² — squared euclidean distance, left-associated like the
  * `aggregate(zip_with((x,y) => (x-y)*(x-y)))` fold it replaces (the
  * k-means / IVF cell-assignment hot path).
  */
case class SqDistD(left: Expression, right: Expression)
    extends BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { val d = a.getDouble(i) - b.getDouble(i); s += d * d; i += 1 }
    s
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDistD =
    copy(left = l, right = r)
}

/** Shared per-word BPE rewrite: split a word into sep-joined code
  * points (DuckDB string_split(word, '') semantics) and fold the merge
  * list in training order (left-to-right non-overlapping `replace`,
  * identical in java.lang.String and DuckDB). Memoized: Zipf's law
  * means a corpus-scale encode revisits the same words constantly, and
  * at realistic merge counts (1000+) the replace fold dominates — the
  * bounded word → rewrite memo turns the per-OCCURRENCE cost into a
  * per-DISTINCT-WORD cost (measured 8× at 1000 merges on the decade
  * corpus). ConcurrentHashMap because tasks may share the deserialized
  * expression instance; inserts stop at the cap (no eviction — the hot
  * head of a Zipf vocabulary is exactly what gets in first).
  */
private[graft] final class BpeRewriter(merges: Seq[String]) extends Serializable {
  @transient private lazy val ms: Array[(String, String)] =
    merges.map(p => (p, p.replace(graft.llm.Bpe.sep, ""))).toArray
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val memoCap = 1 << 16
  def rewrite(t: String): String = {
    val hit = memo.get(t)
    if (hit != null) hit
    else {
      val sb = new java.lang.StringBuilder(t.length * 2)
      var ci = 0
      while (ci < t.length) {
        val cp = t.codePointAt(ci)
        if (ci > 0) sb.append(graft.llm.Bpe.sep)
        sb.appendCodePoint(cp)
        ci += Character.charCount(cp)
      }
      var s = sb.toString
      var mi = 0
      while (mi < ms.length) { s = s.replace(ms(mi)._1, ms(mi)._2); mi += 1 }
      if (memo.size < memoCap) memo.put(t, s)
      s
    }
  }
}

/** Total subword-token count of a whitespace-token array under a fixed
  * BPE merge list (pair strings joined by U+001F, applied in training
  * order — Sennrich et al. 2016 learn-time rewrite semantics; each
  * replace is left-to-right non-overlapping, identical to DuckDB's
  * replace()). Row-local: a projection off the scan, no shuffle.
  */
case class BpeCount(child: Expression, merges: Seq[String])
    extends UnaryExpression
    with CodegenFallback {
  @transient private lazy val rw = new BpeRewriter(merges)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    var total = 0L
    var i = 0
    while (i < toks.numElements()) {
      val t = toks.getUTF8String(i).toString
      if (t.nonEmpty) {
        val s = rw.rewrite(t)
        var n = 1L
        var k = 0
        while (k < s.length) { if (s.charAt(k) == graft.llm.Bpe.sepChar) n += 1; k += 1 }
        total += n
      }
      i += 1
    }
    total
  }
  override protected def withNewChildInternal(c: Expression): BpeCount = copy(child = c)
}

/** The BPE SEGMENTATION itself, rendered back as one string: each
  * token's subword pieces joined by U+001F, tokens re-joined by ' '
  * (empty tokens preserved, so consecutive spaces survive) — hence
  * removing every U+001F yields the ORIGINAL text exactly, the
  * decode identity the text_bpe_segments gate asserts in-plan. Same
  * merge semantics as [[BpeCount]] (training-order left-to-right
  * non-overlapping replace, identical in java.lang.String and DuckDB).
  * Row-local: a projection off the scan.
  */
case class BpeEncode(child: Expression, merges: Seq[String])
    extends UnaryExpression
    with CodegenFallback {
  @transient private lazy val rw = new BpeRewriter(merges)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val out = new java.lang.StringBuilder()
    var i = 0
    while (i < toks.numElements()) {
      if (i > 0) out.append(' ')
      val t = toks.getUTF8String(i).toString
      if (t.nonEmpty) out.append(rw.rewrite(t))
      i += 1
    }
    UTF8String.fromString(out.toString)
  }
  override protected def withNewChildInternal(c: Expression): BpeEncode = copy(child = c)
}

/** Static UTF8String-level kernels shared by the interpreted eval AND
  * the generated code of [[ByteRemap]]/[[ByteUnremap]] — one
  * implementation, so interpreted ≡ codegen by construction. A plain
  * top-level object compiles with static forwarders, which is what the
  * janino-compiled generated Java calls.
  */
object ByteCodec {
  /** Per-byte UTF-8 image of each remapped byte (all images are 1–2
    * bytes: the GPT-2 table's 512 code points stay under U+0200).
    */
  private val enc: Array[Array[Byte]] = Array.tabulate(256) { b =>
    graft.llm.Bpe
      .byteToUnicode(b)
      .toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }
  def remap(s: UTF8String): UTF8String = {
    val in = s.getBytes
    var len = 0
    var i = 0
    while (i < in.length) { len += enc(in(i) & 0xff).length; i += 1 }
    val out = new Array[Byte](len)
    var o = 0
    i = 0
    while (i < in.length) {
      val e = enc(in(i) & 0xff)
      out(o) = e(0)
      if (e.length == 2) out(o + 1) = e(1)
      o += e.length
      i += 1
    }
    UTF8String.fromBytes(out)
  }
  def unremap(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.llm.Bpe.unremapBytes(s.toString))
}

/** GPT-2 byte-to-unicode remap of a string's UTF-8 bytes
  * ([[graft.llm.Bpe.remapBytes]]) — the lossless byte-level front end
  * of `text_tokens_bpe_bytes`. Row-local, no shuffle. Codegen'd (r15):
  * stays inside whole-stage codegen instead of forcing the fallback
  * boundary through the byte-BPE projection.
  */
case class ByteRemap(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = ByteCodec.remap(v.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
  ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ByteCodec.remap($c)")
  override protected def withNewChildInternal(c: Expression): ByteRemap = copy(child = c)
}

/** Inverse of [[ByteRemap]]; out-of-image chars (space separators,
  * U+001F piece markers) pass through — the decode-identity witness.
  * Codegen'd (r15).
  */
case class ByteUnremap(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = ByteCodec.unremap(v.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
  ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ByteCodec.unremap($c)")
  override protected def withNewChildInternal(c: Expression): ByteUnremap = copy(child = c)
}

object exprs {
  def bpe_count(toks: Column, merges: Seq[String]): Column =
    Bridge.column(BpeCount(Bridge.expression(toks), merges))
  def bpe_encode(toks: Column, merges: Seq[String]): Column =
    Bridge.column(BpeEncode(Bridge.expression(toks), merges))
  def byte_remap(s: Column): Column = Bridge.column(ByteRemap(Bridge.expression(s)))
  def byte_unremap(s: Column): Column = Bridge.column(ByteUnremap(Bridge.expression(s)))
  def rfft_mag2(c: Column): Column =
    Bridge.column(RfftMag2(Bridge.expression(c)))
  def seg_conv(c: Column, h: Array[Double]): Column =
    Bridge.column(SegConv(Bridge.expression(c), h.toSeq))
  def dot_d(a: Column, b: Column): Column =
    Bridge.column(DotD(Bridge.expression(a), Bridge.expression(b)))
  def dot_lit(c: Column, h: Array[Double]): Column =
    Bridge.column(DotLit(Bridge.expression(c), h.toSeq))
  def sq_dist(a: Column, b: Column): Column =
    Bridge.column(SqDistD(Bridge.expression(a), Bridge.expression(b)))
  def shingle_hash_set(toks: Column, w: Int, maxShingles: Int): Column =
    Bridge.column(ShingleHashSet(Bridge.expression(toks), w, maxShingles))
  def shingle_hashes(toks: Column, w: Int, maxShingles: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(toks), w, maxShingles))
  def simhash64(toks: Column, maxTokens: Int): Column =
    Bridge.column(SimHash64(Bridge.expression(toks), maxTokens))
  def minhash_sig(toks: Column, w: Int, maxShingles: Int, a: Array[Long], b: Array[Long]): Column =
    Bridge.column(MinHashSig(Bridge.expression(toks), w, maxShingles, a.toSeq, b.toSeq))
}
