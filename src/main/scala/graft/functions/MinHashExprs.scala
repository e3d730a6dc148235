package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType, StructField, StructType}

/** `minhash_sig(hashes)` — all 64 min-hash signature values from a
  * doc's distinct shingle-hash array in ONE native pass (inner loop:
  * 64 multiply-adds per hash, no allocation). Replaces 64 interpreted
  * `array_min(transform(...))` HOF passes (each materializing a fresh
  * array per doc per permutation), and before that a corpus-sized
  * explode + groupBy with 64 `min()` aggregates — a shuffle of every
  * (doc_id, h) row for what is per-doc arithmetic.
  *
  * The permutation family is the same one the query battery always
  * used: `((h mod P) * a_k + b_k) mod P` with LCG-derived constants —
  * signature values are bit-identical to both earlier spellings.
  */
object MinHashes {
  val NPERM = 64
  val P: Long = 1000000007L
  def permA(k: Int): Long = (1103515245L * k + 12345L) % P
  def permB(k: Int): Long = (69069L * k + 1L) % P
  private val A = Array.tabulate(NPERM)(permA)
  private val B = Array.tabulate(NPERM)(permB)

  /** Called from both interpreted eval and generated code. */
  def compute(hashes: ArrayData): ArrayData = {
    val n = hashes.numElements()
    val mins = Array.fill(NPERM)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val hm = hashes.getLong(i) % P
      var k = 0
      while (k < NPERM) {
        val v = (hm * A(k) + B(k)) % P
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }

  /** Called from both interpreted eval and generated code: the LSH band
    * keys of one signature. Band `b` packs values
    * `sig[b*rowsPerBand, (b+1)*rowsPerBand)` big-endian, 4 bytes each —
    * lossless because every value lies in [0, P) and P < 2^30, so two
    * (band, values) pairs share a key iff they are equal. A value
    * outside [0, P) (not a `compute` signature) fails loudly instead of
    * being truncated into a colliding key. */
  def bands(sig: ArrayData, nBands: Int, rowsPerBand: Int): ArrayData = {
    val need = nBands * rowsPerBand
    if (sig.numElements() < need) throw new IllegalArgumentException(
      s"minhash_bands needs $need signature values ($nBands x $rowsPerBand), got ${sig.numElements()}")
    val out = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      val key = new Array[Byte](4 * rowsPerBand)
      var r = 0
      while (r < rowsPerBand) {
        val v = sig.getLong(b * rowsPerBand + r)
        if (v < 0L || v >= P) throw new IllegalArgumentException(
          s"minhash_bands: signature value $v at ${b * rowsPerBand + r} is outside [0, $P)")
        val o = 4 * r
        key(o) = (v >>> 24).toByte
        key(o + 1) = (v >>> 16).toByte
        key(o + 2) = (v >>> 8).toByte
        key(o + 3) = v.toByte
        r += 1
      }
      out(b) = InternalRow(b, key)
      b += 1
    }
    new GenericArrayData(out)
  }
}

case class MinHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // containsNull must be false: compute() reads slots with getLong,
    // which would fold an undefined value from a null slot into the
    // minima instead of failing loudly
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<bigint> without nulls, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(a: Any): Any =
    MinHashes.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashes.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `minhash_bands(sig, nBands, rowsPerBand)` — LSH band keys of a
  * `minhash_sig` signature in one native pass:
  * `array<struct<band:int, bsig:binary>>`, one element per band (see
  * [[MinHashes.bands]] for the encoding). A streaming dedup explodes
  * this and groups by (band, bsig) — one expression per trigger to plan
  * and generate, where spelling the keys out took `nBands` structs of
  * `concat_ws` over `rowsPerBand` casts. */
case class MinHashBands(child: Expression, nBands: Int, rowsPerBand: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if nBands < 1 || rowsPerBand < 1 => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands needs nBands >= 1 and rowsPerBand >= 1, got $nBands x $rowsPerBand")
    // same null-slot argument as minhash_sig
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands expects array<bigint> without nulls, got ${other.sql}")
  }
  override def dataType: DataType = MinHashBands.dataType
  override def prettyName: String = "minhash_bands"

  override def nullSafeEval(a: Any): Any =
    MinHashes.bands(a.asInstanceOf[ArrayData], nBands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashes.bands($c, $nBands, $rowsPerBand);")

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {
  val dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bsig", BinaryType, nullable = false))), containsNull = false)
}

object MinHashExprs {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def minhash_sig(hashes: Column): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(hashes)))

  def minhash_bands(sig: Column, nBands: Int, rowsPerBand: Int): Column =
    ColumnBridge.column(MinHashBands(ColumnBridge.expression(sig), nBands, rowsPerBand))
}
