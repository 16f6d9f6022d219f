package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document MinHash kernel: one pass over a document's bytes yields its
  * sorted distinct shingle hashes, its k mins, or its b band keys.
  *
  * VALUE CONTRACT: every value is bit-identical to the relational
  * formulation it replaces — tokens are `split(text, " ")` (a regex split
  * with limit −1, so doubled, leading and trailing spaces yield empty
  * tokens), token hash `xxhash64(t)`, shingle hash `xxhash64(th_i, …,
  * th_{i+n-1})`, min i `min(xxhash64(i, h))` over the distinct shingle
  * hashes, band key j `xxhash64(m_{jr}, …, m_{jr+r-1})` — all Spark's XXH64
  * with seed 42, chained in argument order. A document with fewer than n
  * tokens (or a NULL text) has no shingles and yields NULL, the row the
  * relational pipeline dropped. DedupSpec pins the parity.
  */
object MinHashKernel {
  private val Seed = 42L
  private val Space = UTF8String.fromString(" ")

  /** Token hashes in order. Valid UTF-8 splits on the 0x20 byte in place
    * (no multi-byte sequence contains it); invalid UTF-8 takes Spark's own
    * split, which first replaces malformed bytes.
    */
  private def tokenHashes(text: UTF8String): Array[Long] =
    if (!text.isValid) text.split(Space, -1).map(t => XXH64.hashUTF8String(t, Seed))
    else {
      val base = text.getBaseObject
      val off = text.getBaseOffset
      val len = text.numBytes
      var spaces = 0
      var i = 0
      while (i < len) { if (text.getByte(i) == ' ') spaces += 1; i += 1 }
      val out = new Array[Long](spaces + 1)
      var t = 0
      var start = 0
      i = 0
      while (i <= len) {
        if (i == len || text.getByte(i) == ' ') {
          out(t) = XXH64.hashUnsafeBytes(base, off + start, i - start, Seed)
          t += 1
          start = i + 1
        }
        i += 1
      }
      out
    }

  /** Sorted distinct n-gram shingle hashes, or null with fewer than n tokens. */
  def shingleHashes(text: UTF8String, n: Int): Array[Long] = {
    val th = tokenHashes(text)
    val m = th.length - n + 1
    if (m <= 0) return null
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = Seed
      var j = 0
      while (j < n) { h = XXH64.hashLong(th(i + j), h); j += 1 }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 1
    i = 1
    while (i < m) {
      if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    if (w == m) hs else java.util.Arrays.copyOf(hs, w)
  }

  /** The k mins of the distinct shingle hashes `hs`. */
  def signature(hs: Array[Long], k: Int): Array[Long] = {
    val sig = new Array[Long](k)
    var i = 0
    while (i < k) {
      val seed = XXH64.hashInt(i, Seed)
      var m = Long.MaxValue
      var j = 0
      while (j < hs.length) {
        val v = XXH64.hashLong(hs(j), seed)
        if (v < m) m = v
        j += 1
      }
      sig(i) = m
      i += 1
    }
    sig
  }

  /** b band keys of a signature: each hashes its r = k / b consecutive mins. */
  def bandKeys(sig: Array[Long], b: Int): Array[Long] = {
    val r = sig.length / b
    val keys = new Array[Long](b)
    var j = 0
    while (j < b) {
      var h = Seed
      var i = j * r
      while (i < (j + 1) * r) { h = XXH64.hashLong(sig(i), h); i += 1 }
      keys(j) = h
      j += 1
    }
    keys
  }

  /** One document's sketch: its distinct shingle hashes (`k == 0`), its k
    * mins (`b == 0`), or its b band keys; null when it has no shingles.
    */
  def sketch(text: UTF8String, n: Int, k: Int, b: Int): ArrayData = {
    val hs = shingleHashes(text, n)
    if (hs == null) null
    else UnsafeArrayData.fromPrimitiveArray(
      if (k == 0) hs else if (b == 0) signature(hs, k) else bandKeys(signature(hs, k), b))
  }

  /** Exact Jaccard |A∩B| / |A∪B| of two sorted distinct hash arrays, by a
    * merge walk: the intersection count the inverted-index join produced.
    */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { inter += 1; i += 1; j += 1 }
    }
    inter.toDouble / (na.toLong + nb - inter).toDouble
  }

  /** Generator column over a text column: zero rows for a document
    * without shingles, else one `sketch` row (`array<long>`, see [[sketch]])
    * — or, with `numBands > 0`, b rows (band, band_key).
    */
  def sketchRows(text: Column, shingleN: Int, numHashes: Int = 0,
                 numBands: Int = 0): Column = {
    require(shingleN >= 1, "shingleN must be >= 1")
    require(numBands == 0 || (numHashes > 0 && numHashes % numBands == 0),
      "numHashes must be divisible by numBands")
    GraftBridge.column(
      MinHashSketchRows(GraftBridge.expression(text), shingleN, numHashes, numBands))
  }

  /** Exact Jaccard of two sorted distinct hash-array columns. */
  def jaccardCol(a: Column, b: Column): Column =
    GraftBridge.column(SortedJaccard(GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** [[MinHashKernel.sketch]] as a generator. A generator rather than a
  * projection: the optimizer pushes a filter on a projected value below the
  * projection with the expression inlined, so dropping shingle-less rows
  * (or the non-empty filter Spark infers for an explode) would run the
  * kernel twice per row. Interpreted: its per-row cost is the kernel.
  */
case class MinHashSketchRows(child: Expression, shingleN: Int, numHashes: Int,
                             numBands: Int)
    extends UnaryExpression with Generator with CodegenFallback {
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sketch"

  override def elementSchema: StructType =
    if (numBands > 0) new StructType()
      .add("band", IntegerType, nullable = false)
      .add("band_key", LongType, nullable = false)
    else new StructType().add("sketch", ArrayType(LongType, containsNull = false),
      nullable = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string input")
    else TypeCheckResult.TypeCheckSuccess

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val text = child.eval(input)
    val sketch = if (text == null) null
      else MinHashKernel.sketch(text.asInstanceOf[UTF8String], shingleN, numHashes, numBands)
    if (sketch == null) Nil
    else if (numBands == 0) Iterator.single(InternalRow(sketch))
    else Iterator.tabulate(numBands)(j => InternalRow(j, sketch.getLong(j)))
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** [[MinHashKernel.jaccard]] as a codegen'd expression. */
case class SortedJaccard(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs two array<bigint> inputs")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    MinHashKernel.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.MinHashKernel.jaccard($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
