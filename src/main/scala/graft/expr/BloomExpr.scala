package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native BLOOM FILTER aggregate — `graft_bloom_agg(key, nbits, k)` →
  * BINARY: a fixed-size bit-set summary of a string key set, the
  * broadcast-side of scaled DECONTAMINATION (q128). The one-sided
  * error is the whole point: a membership probe can false-POSITIVE
  * (over-drop a clean doc, rate sized by nbits) but never
  * false-negative (a contaminated doc always drops) — the safe
  * direction for a training-corpus screen.
  *
  * Scale story: the exact screen (q47's LSH contamination matrix, or
  * a LEFT ANTI join on shingles) shuffles corpus-side shingles; at
  * 100 TB that is the dominant shuffle of the whole pipeline. The
  * bloom form builds a ~100 MB filter from the SMALL side (benchmark
  * suites are MBs), broadcasts it once, and the corpus pass becomes
  * an embarrassingly parallel scan with ZERO corpus-side shuffle —
  * the standard production decontamination architecture. Merge is a
  * bitwise OR, so partial aggregation composes in any partition
  * order (BloomSpec pins partition-layout independence).
  *
  * Probe positions use double hashing (Kirsch–Mitzenmacher 2006):
  * pos_i = h1 + i·h2 (mod nbits, power of two) over two XXH64 seeds
  * of the raw UTF-8 bytes — k independent-enough probes from two
  * hash evaluations. The serialized form is [k: int BE][words: longs
  * BE]; `graft_bloom_contains(bloom, key)` reads k and nbits from
  * the blob, so build and probe cannot disagree on geometry.
  */
case class BloomAgg(
    child: Expression,
    nbitsExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private lazy val nbits: Long = nbitsExpr.eval().asInstanceOf[Number].longValue()
  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(child, nbitsExpr, kExpr)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!nbitsExpr.foldable || !kExpr.foldable)
      return TypeCheckResult.TypeCheckFailure(
        "graft_bloom_agg: nbits and k must be literals")
    (child.dataType, nbitsExpr.dataType, kExpr.dataType) match {
      case (StringType, IntegerType | LongType, IntegerType | LongType) =>
        val nb = nbitsExpr.eval()
        val kv = kExpr.eval()
        if (nb == null || kv == null)
          return TypeCheckResult.TypeCheckFailure(
            "graft_bloom_agg: nbits and k must be non-null")
        val nbl = nb.asInstanceOf[Number].longValue()
        val kl = kv.asInstanceOf[Number].longValue()
        if (nbl < 64 || nbl > (1L << 30) || (nbl & (nbl - 1)) != 0)
          TypeCheckResult.TypeCheckFailure(
            s"graft_bloom_agg: nbits must be a power of two in [64, 2^30], got $nbl")
        else if (kl < 1 || kl > 16)
          TypeCheckResult.TypeCheckFailure(
            s"graft_bloom_agg: k must be in [1, 16], got $kl")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_agg requires (STRING, INT, INT), got " +
          s"${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bloom_agg"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long]((nbits >>> 6).toInt)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomExpr.setBits(buf, v.asInstanceOf[UTF8String], k)
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) |= b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = BloomExpr.toBlob(buf, k)

  override def serialize(buf: Array[Long]): Array[Byte] =
    BloomExpr.toBlob(buf, k)

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.getInt() // k — constant across buffers of one agg
    val words = new Array[Long]((bytes.length - 4) >>> 3)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong(); i += 1 }
    words
  }

  override def withNewMutableAggBufferOffset(o: Int): BloomAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomAgg =
    copy(child = newChildren(0), nbitsExpr = newChildren(1),
      kExpr = newChildren(2))
}

/** `graft_bloom_contains(bloom BINARY, key STRING)` → BOOLEAN —
  * membership probe against a `graft_bloom_agg` blob. Geometry (k,
  * nbits) comes from the blob header, so a probe can never disagree
  * with the build; a malformed blob throws rather than answering
  * wrong. NULL bloom or key → NULL (standard null propagation). */
case class BloomContainsExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_contains requires (BINARY, STRING), got " +
          s"${a.simpleString}, ${b.simpleString}")
    }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override protected def nullSafeEval(bloom: Any, key: Any): Any =
    BloomExpr.contains(bloom.asInstanceOf[Array[Byte]],
      key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, s) => s"graft.expr.BloomExpr.contains($b, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContainsExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_bloom_any(bloom BINARY, tokens ARRAY<STRING>)` → BOOLEAN —
  * true iff ANY `BloomExpr.ShingleWidth`-token shingle of `tokens`
  * probes positive against a `graft_bloom_agg` blob. The blob is any
  * BINARY child: a literal, or (the engine's screens) a
  * `BroadcastBinary` that keeps the multi-MB blob out of the plan.
  * Semantically identical to
  * `exists(shingles(tokens), sh -> graft_bloom_contains(bloom, sh))`
  * with `concat_ws(' ', …)` shingling (BloomSpec pins the
  * equivalence), but one primitive loop per document: the HOF
  * spelling materializes the full shingle array and pays an
  * interpreted lambda dispatch per element — the same cost class
  * `graft_simhash32` and `graft_cpc_encode` replaced. Shingle bytes
  * are assembled with the SAME separator as the build side, so probe
  * and build can never disagree on the key encoding. Null token
  * elements throw (the corpus tokenizer never produces them; silently
  * skipping would change the screened shingle set). Short docs
  * (< ShingleWidth tokens) have no shingles → false. */
case class BloomAnyExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_any requires (BINARY, ARRAY<STRING>), got " +
          s"${a.simpleString}, ${b.simpleString}")
    }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_any"

  override protected def nullSafeEval(bloom: Any, toks: Any): Any =
    BloomExpr.anyShingle(bloom.asInstanceOf[Array[Byte]],
      toks.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, t) => s"graft.expr.BloomExpr.anyShingle($b, $t)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomAnyExpr =
    copy(left = newLeft, right = newRight)
}

object BloomExpr {
  // two fixed XXH64 seeds for the double-hashing scheme; part of the
  // blob contract (a filter built with these probes with these)
  private val Seed1 = 0x9E3779B97F4A7C15L
  private val Seed2 = 0xC2B2AE3D27D4EB4FL

  private val ShingleSep = UTF8String.fromString(" ")

  /** shingle window width of the decontamination screen — the ONE
    * definition both sides consume: BloomScreen.ShingleExpr / .ShingleSql
    * (the build-side and oracle spellings) derive their window
    * arithmetic from this constant, and the native probe loop below
    * iterates it, so a retune can never desynchronize build and probe
    * (the silent false-negative direction the blob validator exists
    * to prevent).
    *
    * 8, not 3: decontamination screens on LONG n-grams (Lee et al.
    * 2022 use 13-grams; Brown et al. 2020 likewise screen on 13-gram
    * overlap) precisely because short n-grams collide on common
    * phrasing — on this corpus's ~30-word vocabulary a 3-gram screen
    * "contaminates" 84% of the corpus while width ≥ 5 isolates
    * exactly the genuine near-copies of benchmark docs. Docs shorter
    * than the width carry no shingles and always pass. */
  val ShingleWidth = 8

  /** set the k probe bits of `key` in `words` (nbits = words.length·64,
    * power of two — positions are masked, never mod'd). */
  def setBits(words: Array[Long], key: UTF8String, k: Int): Unit = {
    val mask = (words.length.toLong << 6) - 1L
    val h1 = XXH64.hashUnsafeBytes(
      key.getBaseObject, key.getBaseOffset, key.numBytes, Seed1)
    val h2 = XXH64.hashUnsafeBytes(
      key.getBaseObject, key.getBaseOffset, key.numBytes, Seed2)
    var i = 0
    while (i < k) {
      val pos = (h1 + i.toLong * h2) & mask
      words((pos >>> 6).toInt) |= 1L << (pos & 63L)
      i += 1
    }
  }

  /** blob form: [k: int BE][words: longs BE]. */
  def toBlob(words: Array[Long], k: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + words.length * 8)
    bb.putInt(k)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }

  /** membership probe straight off the blob bytes: one byte read per
    * probe bit (BE long layout: bit b of word w lives in blob byte
    * 4 + w·8 + (7 − b/8), bit b mod 8), no per-row allocation. */
  def contains(blob: Array[Byte], key: UTF8String): Boolean = {
    val k = validateBlob(blob)
    probe(blob, key, k, (((blob.length - 4).toLong) << 3) - 1L)
  }

  /** ANY-ShingleWidth-token-shingle probe — see BloomAnyExpr.
    * Validates the blob geometry ONCE per call (not per shingle), then
    * runs the window loop with the same byte assembly as
    * `concat_ws(' ', …)`. The window buffer is hoisted and passed to
    * the Java varargs concatWs directly (no per-shingle allocation
    * beyond what the 3-arg varargs call already paid). */
  def anyShingle(blob: Array[Byte],
      toks: org.apache.spark.sql.catalyst.util.ArrayData): Boolean = {
    val k = validateBlob(blob)
    val mask = (((blob.length - 4).toLong) << 3) - 1L
    val w = ShingleWidth
    val n = toks.numElements()
    val buf = new Array[UTF8String](w)
    var i = 0
    while (i + w <= n) {
      var j = 0
      while (j < w) {
        if (toks.isNullAt(i + j))
          throw new IllegalArgumentException(
            "graft_bloom_any: null token element — the non-null token " +
              "contract mirrors graft_simhash32 (silently skipping would " +
              "change the screened shingle set)")
        buf(j) = toks.getUTF8String(i + j)
        j += 1
      }
      if (probe(blob, UTF8String.concatWs(ShingleSep, buf: _*), k, mask))
        return true
      i += 1
    }
    false
  }

  /** geometry check — nbits must be the power of two the build
    * enforced: a truncated blob would otherwise probe under a wrong
    * mask and could answer a silent FALSE NEGATIVE — the one error
    * direction this screen must never have. Returns k. */
  private def validateBlob(blob: Array[Byte]): Int = {
    val payloadBits = (blob.length - 4).toLong << 3
    if (blob.length < 12 || ((blob.length - 4) & 7) != 0 ||
        (payloadBits & (payloadBits - 1)) != 0)
      throw new IllegalArgumentException(
        s"graft_bloom_contains: malformed bloom blob (${blob.length} bytes)" +
          " — not produced by graft_bloom_agg")
    val k = ((blob(0) & 0xFF) << 24) | ((blob(1) & 0xFF) << 16) |
      ((blob(2) & 0xFF) << 8) | (blob(3) & 0xFF)
    if (k < 1 || k > 16)
      throw new IllegalArgumentException(
        s"graft_bloom_contains: malformed bloom blob (k = $k)")
    k
  }

  private def probe(blob: Array[Byte], key: UTF8String, k: Int,
      mask: Long): Boolean = {
    val h1 = XXH64.hashUnsafeBytes(
      key.getBaseObject, key.getBaseOffset, key.numBytes, Seed1)
    val h2 = XXH64.hashUnsafeBytes(
      key.getBaseObject, key.getBaseOffset, key.numBytes, Seed2)
    var i = 0
    while (i < k) {
      val pos = (h1 + i.toLong * h2) & mask
      val byteIdx = 4 + ((pos >>> 6).toInt << 3) + (7 - ((pos & 63L) >>> 3).toInt)
      if ((blob(byteIdx) & (1 << (pos & 7L).toInt)) == 0) return false
      i += 1
    }
    true
  }
}
