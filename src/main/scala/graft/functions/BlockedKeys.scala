package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: the C(blocks, blocks − maxHamming)
  * packed table keys of the Manku block-permutation construction
  * ([[graft.dedup.Dedup.fingerprintNearPairsBlocked]]) for one bigint
  * fingerprint, as `array<bigint>`. Key k packs the blocks of the k-th
  * (blocks − maxHamming)-subset of block positions, in
  * `combinations` order, little-endian into one long — bit-identical,
  * array positions included, to the column-algebra form (one
  * shiftright/and/shiftleft/or tree per key; equivalence
  * spec-asserted in BlockedKeysSpec).
  *
  * Why (the [[SimHash]] precedent): the column form is ~1,000 Catalyst
  * nodes at the 56-table default, and every frame that carries it pays
  * ~100 ms of analysis and optimization per build — the fixed cost of
  * each index probe. This expression is one node and one codegen'd
  * pass per row.
  *
  * Null semantics: null fingerprint → null (SQL convention). An int
  * fingerprint is widened to bigint, which gives the column form's
  * keys on every configuration with bits ≤ 32.
  */
case class BlockedKeys(child: Expression, bits: Int, blocks: Int, maxHamming: Int)
    extends UnaryExpression {

  require(maxHamming >= 0 && maxHamming < blocks,
    s"block pigeonhole needs 0 <= maxHamming < blocks: $maxHamming/$blocks")
  require(bits % blocks == 0, s"blocks must divide bits: $bits/$blocks")
  private val width = bits / blocks
  private val keep = blocks - maxHamming
  require(keep * width <= 63,
    s"packed key must fit a signed long: $keep blocks x $width bits")

  // kept block positions of every table, flattened table by table
  private val combos: Array[Int] =
    (0 until blocks).combinations(keep).flatten.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"blocked_keys requires a bigint or int fingerprint, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(fp: Any): Any =
    BlockedKeys.keys(fp.asInstanceOf[Number].longValue, width, keep, combos)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val table = ctx.addReferenceObj("blockedKeyCombos", combos, "int[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BlockedKeys.keys((long) $c, $width, $keep, $table);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "blocked_keys"
}

object BlockedKeys {
  import org.apache.spark.sql.graftbridge.Bridge

  /** The packed keys of `fp`: `combos` holds `keep` block positions per
    * table; the same shift and mask arithmetic as the column form. */
  def keys(fp: Long, width: Int, keep: Int, combos: Array[Int]): ArrayData = {
    val mask = (1L << width) - 1
    val out = new Array[Long](combos.length / keep)
    var i = 0
    var k = 0
    while (k < out.length) {
      var key = 0L
      var j = 0
      while (j < keep) {
        key |= ((fp >> (combos(i) * width)) & mask) << (j * width)
        i += 1
        j += 1
      }
      out(k) = key
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-API entry point (Spark 4 classic Column↔Expression bridge). */
  def blockedKeysNative(fp: Column, bits: Int, blocks: Int, maxHamming: Int): Column =
    Bridge.column(BlockedKeys(Bridge.expression(fp), bits, blocks, maxHamming))
}
