package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native signature kernels for the dedup operators
  * (graft.operators.Dedup). Expressed as higher-order column functions
  * these are O(k·|shingles|) *interpreted* expression evaluations per
  * row (~77 ms/doc measured at sf0.1); as native expressions they are a
  * single JVM loop (~µs/doc) — the difference between a dedup pass that
  * scales to 100 TB and one that doesn't.
  *
  * No reference-engine counterpart (the reference has no dedup
  * operators); hash family is the standard (a·x+b) mod p universal
  * family over the Mersenne prime 2^31-1.
  */
object MinHashImpl {
  val P = 2147483647L // 2^31-1

  /** Deterministic coefficients via public splitmix64 mixing. */
  def coeffs(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    var x = seed
    def next(): Long = {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val as = Array.fill(k)(math.floorMod(next(), P - 1) + 1)
    val bs = Array.fill(k)(math.floorMod(next(), P))
    (as, bs)
  }

  /** sig[i] = min over x of (a_i·x + b_i) mod P; empty input → all P
    * (never collides with a real hash, which is < P).
    */
  def signature(hashes: Array[Long], as: Array[Long], bs: Array[Long]): Array[Long] = {
    val k = as.length
    val sig = Array.fill(k)(P)
    var j = 0
    while (j < hashes.length) {
      val x = hashes(j)
      var i = 0
      while (i < k) {
        val v = (as(i) * x + bs(i)) % P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    sig
  }

  /** 64-bit SimHash of pre-hashed tokens: bit i set iff the count of
    * tokens with bit i set is >= half (majority vote, >= for ties —
    * matching the `v >= 0` convention of the HOF formulation).
    */
  def simhash64(hashes: Array[Long]): Long = {
    val counts = new Array[Int](64)
    var j = 0
    while (j < hashes.length) {
      val h = hashes(j)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      j += 1
    }
    var r = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) >= 0) r |= (1L << i)
      i += 1
    }
    r
  }
}

/** `shingle_hashes(text, n)` → ARRAY<BIGINT>: distinct word-n-gram
  * hashes in [0, P), first-occurrence order. One JVM pass per row
  * (lowercase → whitespace split → sliding window → murmur mod P)
  * replacing a split/transform/slice/concat/hash/distinct HOF pipeline
  * that costs ~1.3 ms/doc interpreted.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ShingleHashes.compute(v.toString, n)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHashes.compute($c.toString(), $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
  override def prettyName: String = "shingle_hashes"
}

object ShingleHashes {
  /** Word tokens exactly as SQL `split(lower(trim(text)), '\\s+')`, the
    * tokens of [[graft.operators.Dedup.shingles]]: TRIM strips spaces
    * only, so a leading tab or a trailing newline yields an empty first
    * or last token, and the split keeps trailing empty tokens.
    */
  def words(text: String): Array[String] = {
    var b = 0
    var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    text.substring(b, e).toLowerCase.split("\\s+", -1)
  }

  def compute(text: String, n: Int): ArrayData = {
    val words = ShingleHashes.words(text)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    def hashOf(s: String): Long =
      math.floorMod(HashImpls.murmur(s.getBytes("UTF-8")), MinHashImpl.P)
    if (words.length < n) {
      seen.add(hashOf(words.mkString(" ")))
    } else {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i + n <= words.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        seen.add(hashOf(sb.toString))
        i += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }
}

/** `minhash_signature(hashes, k, seed)` → ARRAY<BIGINT> of length k. */
case class MinHashSignature(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {
  private lazy val (as, bs) = MinHashImpl.coeffs(k, seed)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      MinHashImpl.signature(v.asInstanceOf[ArrayData].toLongArray(), as, bs))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashExpr", this,
      classOf[MinHashSignature].getName)
    defineCodeGen(ctx, ev, c => s"$ref.sigFor($c)")
  }
  /** Codegen entry: keeps the coefficient arrays in one shared object. */
  def sigFor(a: ArrayData): ArrayData =
    new GenericArrayData(MinHashImpl.signature(a.toLongArray(), as, bs))
  override protected def withNewChildInternal(c: Expression): MinHashSignature =
    copy(child = c)
  override def prettyName: String = "minhash_signature"
}

/** `lsh_band_buckets(sig, bands, rows)` → ARRAY<BIGINT>: bucket hash of
  * each of `bands` contiguous signature slices, one JVM loop per row —
  * replaces a transform(sequence(...)) HOF evaluating `bands`
  * interpreted xxhash64-over-slice lambdas per row over the whole
  * corpus. Bit-identical to the HOF formulation `xxhash64(slice, b)`:
  * Spark's xxhash64 starts at seed 42 and folds each child in order —
  * the slice's longs element-wise, then the band index `b` as an int.
  */
case class LshBandBuckets(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    bucketsFor(v.asInstanceOf[ArrayData])
  /** Codegen entry. */
  def bucketsFor(a: ArrayData): ArrayData = {
    val sig = a.toLongArray()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var i = 0
      while (i < rows) {
        h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(sig(b * rows + i), h)
        i += 1
      }
      out(b) = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(b, h)
      b += 1
    }
    new GenericArrayData(out)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandExpr", this, classOf[LshBandBuckets].getName)
    defineCodeGen(ctx, ev, c => s"$ref.bucketsFor($c)")
  }
  override protected def withNewChildInternal(c: Expression): LshBandBuckets =
    copy(child = c)
  override def prettyName: String = "lsh_band_buckets"
}

/** `sorted_pairs(list)` → every unordered pair of a posting list, the
  * smaller id first, equal ids skipped — one JVM nested loop per list.
  * The list is what [[CollectCapped]] emits: ARRAY<BIGINT> of ids
  * (pairs are STRUCT<id1, id2>) or ARRAY<STRUCT<BIGINT, BIGINT>> of
  * (id, payload) entries (pairs are STRUCT<id1, b1, id2, b2>, each id
  * with its own payload). Together they replace the inverted-index
  * self-join in [[graft.operators.Dedup]]: one groupBy per posting list
  * instead of the self-join's shuffles, and a per-id payload (doc size,
  * simhash …) rides the list instead of joining back to a second corpus
  * scan.
  */
case class SortedPairs(child: Expression) extends UnaryExpression {
  /** Longs per list entry: 2 when entries carry a payload. */
  private lazy val width = child.dataType match {
    case ArrayType(_: StructType, _) => 2
    case _ => 1
  }
  override def dataType: DataType = ArrayType(
    StructType((if (width == 1) Seq("id1", "id2") else Seq("id1", "b1", "id2", "b2"))
      .map(StructField(_, LongType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case ArrayType(StructType(Array(f1, f2)), _)
          if f1.dataType == LongType && f2.dataType == LongType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure("sorted_pairs requires " +
        s"ARRAY<BIGINT> or ARRAY<STRUCT<BIGINT,BIGINT>>, got ${t.simpleString}")
    }
  override protected def nullSafeEval(v: Any): Any =
    pairsFor(v.asInstanceOf[ArrayData])
  /** Codegen entry. */
  def pairsFor(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val ids = if (width == 1) a.toLongArray() else new Array[Long](n)
    val bs = new Array[Long](if (width == 1) 0 else n)
    if (width == 2) {
      var i = 0
      while (i < n) {
        val r = a.getStruct(i, 2)
        ids(i) = r.getLong(0)
        bs(i) = r.getLong(1)
        i += 1
      }
    }
    // pair count in Long: n*(n-1)/2 silently overflows Int past n=65536
    // (NegativeArraySizeException); posting lists are collect_capped so
    // this cannot fire from the shipped pipelines, but an uncapped
    // caller must fail loudly, not corrupt
    val np = n.toLong * (n - 1) / 2
    require(np <= Int.MaxValue - 8,
      s"sorted_pairs: $n ids expand to $np pairs — cap the posting list")
    val out = new Array[Any](np.toInt)
    var k = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (ids(i) != ids(j)) {
          val lo = if (ids(i) < ids(j)) i else j
          val hi = i + j - lo
          out(k) =
            if (width == 1) InternalRow(ids(lo), ids(hi))
            else InternalRow(ids(lo), bs(lo), ids(hi), bs(hi))
          k += 1
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(if (k == out.length) out else out.take(k))
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pairsExpr", this, classOf[SortedPairs].getName)
    defineCodeGen(ctx, ev, c => s"$ref.pairsFor($c)")
  }
  override protected def withNewChildInternal(c: Expression): SortedPairs =
    copy(child = c)
  override def prettyName: String = "sorted_pairs"
}

/** `collect_capped(id[, payload], cap)` → the group's posting list in
  * arrival order while it stays within `cap` entries, NULL as soon as it
  * exceeds `cap`: ARRAY<BIGINT> of ids, or ARRAY<STRUCT<id, b>> when a
  * BIGINT payload rides along (the input of [[SortedPairs]]). The buffer
  * is flat longs, one or two per entry, and saturates at cap+1 entries —
  * the overflow marker — so a shingle appearing in 10⁷ docs costs cap+1
  * entries of state, not a 10⁷-entry transient list the way
  * `collect_list` + post-filter does. An over-cap posting list carries
  * no dedup signal and is dropped anyway ([[graft.operators.Dedup]]).
  */
case class CollectCapped(
    children: Seq[Expression],
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[Long]] {

  /** Longs per entry: the id, then the payload if there is one. */
  private def width: Int = children.length
  /** Longs in a full buffer; one more entry marks it over cap. */
  private def limit: Int = width * cap

  override def dataType: DataType = ArrayType(
    if (width == 1) LongType
    else StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  // update() widens to Long: misuse over a non-integral column must be
  // a clean analysis error, not an executor ClassCastException
  override def checkInputDataTypes(): TypeCheckResult =
    children.map(_.dataType) match {
      case Seq(id, _*) if !Seq(ByteType, ShortType, IntegerType, LongType).contains(id) =>
        TypeCheckResult.TypeCheckFailure(
          s"collect_capped requires an integral id column, got ${id.simpleString}")
      case Seq(_) | Seq(_, LongType) => TypeCheckResult.TypeCheckSuccess
      case Seq(_, p) => TypeCheckResult.TypeCheckFailure(
        s"collect_capped requires a BIGINT payload column, got ${p.simpleString}")
      case _ => TypeCheckResult.TypeCheckFailure(
        "collect_capped takes (id, cap) or (id, payload, cap)")
    }

  override def createAggregationBuffer(): ArrayBuffer[Long] =
    ArrayBuffer.empty[Long]

  // a buffer longer than `limit` is the saturated "exceeded" state;
  // update/merge never grow past one entry beyond it
  override def update(buf: ArrayBuffer[Long], row: InternalRow): ArrayBuffer[Long] = {
    if (buf.length <= limit) {
      val id = children.head.eval(row)
      val b = if (width == 1) 0L else children(1).eval(row)
      if (id != null && b != null) {
        buf += id.asInstanceOf[Number].longValue
        if (width == 2) buf += b.asInstanceOf[Number].longValue
      }
    }
    buf
  }

  override def merge(a: ArrayBuffer[Long], b: ArrayBuffer[Long]): ArrayBuffer[Long] = {
    var i = 0
    while (i < b.length && a.length <= limit) {
      var j = 0
      while (j < width) { a += b(i + j); j += 1 }
      i += width
    }
    a
  }

  override def eval(buf: ArrayBuffer[Long]): Any =
    if (buf.length > limit) null
    else if (width == 1) new GenericArrayData(buf.toArray)
    else new GenericArrayData(Array.tabulate[Any](buf.length / 2)(i =>
      InternalRow(buf(2 * i), buf(2 * i + 1))))

  override def serialize(buf: ArrayBuffer[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.length)
    bb.putInt(buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new ArrayBuffer[Long](n)
    var i = 0
    while (i < n) { buf += bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectCapped =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectCapped =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CollectCapped = copy(children = c)
  override def prettyName: String = "collect_capped"
}


/** `simhash_text(text)` → BIGINT: lowercase → whitespace-split → murmur
  * per token → 64-bit SimHash, one pass (replaces an interpreted
  * transform(split(...), w -> xxhash64(w)) per-word lambda).
  */
case class SimHashText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    SimHashText.compute(v.toString)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SimHashText.compute($c.toString())")
  override protected def withNewChildInternal(c: Expression): SimHashText =
    copy(child = c)
  override def prettyName: String = "simhash_text"
}

object SimHashText {
  def compute(text: String): Long = {
    val words = ShingleHashes.words(text)
    val hashes = new Array[Long](words.length)
    var i = 0
    while (i < words.length) {
      hashes(i) = HashImpls.murmur(words(i).getBytes("UTF-8"))
      i += 1
    }
    MinHashImpl.simhash64(hashes)
  }
}

/** `simhash64(hashes)` → BIGINT packed SimHash bits. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    MinHashImpl.simhash64(v.asInstanceOf[ArrayData].toLongArray())
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashImpl.simhash64($c.toLongArray())")
  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
  override def prettyName: String = "simhash64"
}
