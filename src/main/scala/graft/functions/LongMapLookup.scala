package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression,
  GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType,
  StructField, StructType}

/** Serializable open-addressing primitive long→long hash map: O(1)
  * probes where `element_at` over a `MapType` literal scans linearly (up
  * to 65k comparisons per lookup at the compiler's local-map row cap).
  * Linear probing, power-of-two table at ≤50% load, `Long.MinValue` as
  * the empty-slot sentinel (a real `Long.MinValue` key is carried in a
  * side field). The arrays ship compactly with the task closure. */
final class LongLongMap(keys: Array[Long], values: Array[Long])
    extends Serializable {
  def this(m: Map[Long, Long]) = this(m.keys.toArray, m.values.toArray)

  // size captured as a plain field so the source arrays are NOT
  // retained (a constructor param referenced only here would otherwise
  // become a field and ship with every task closure alongside the
  // open-addressed arrays, doubling the serialized weight)
  val size: Int = keys.length
  private val cap: Int = {
    var c = 4
    while (c < size * 2) c <<= 1
    c
  }
  private val mask = cap - 1
  private val ks = Array.fill(cap)(Long.MinValue)
  private val vs = new Array[Long](cap)
  private var hasMin = false
  private var minVal = 0L

  private def slot(k: Long): Int = {
    val h = k * 0x9E3779B97F4A7C15L
    (h ^ (h >>> 32)).toInt & mask
  }

  locally {
    var j = 0
    while (j < size) {
      val k = keys(j)
      if (k == Long.MinValue) { hasMin = true; minVal = values(j) }
      else {
        var i = slot(k)
        while (ks(i) != Long.MinValue && ks(i) != k) i = (i + 1) & mask
        ks(i) = k; vs(i) = values(j)
      }
      j += 1
    }
  }

  /** Mapped value when the key is present, the key itself otherwise —
    * exactly `coalesce(element_at(mapLit, x), x)`. */
  def getOrSelf(k: Long): Long = getOrElse(k, k)

  /** Mapped value when the key is present, `default` otherwise. */
  def getOrElse(k: Long, default: Long): Long = {
    if (k == Long.MinValue) return if (hasMin) minVal else default
    var i = slot(k)
    while (true) {
      val kk = ks(i)
      if (kk == k) return vs(i)
      if (kk == Long.MinValue) return default
      i = (i + 1) & mask
    }
    default // unreachable: table load ≤ 50% guarantees an empty slot
  }
}


/** `coalesce(element_at(mapLiteral, x), x)` as one codegen'd O(1) hash
  * probe. Null input → null (the `element_at`+`coalesce` pipeline's
  * exact semantics: a null key finds nothing and coalesce returns the
  * null input). The table rides `ctx.addReferenceObj`, so the PLAN
  * carries a tiny opaque reference instead of a 65k-entry literal —
  * canonicalization and plan rendering stay O(1) in the map size. */
case class LongMapLookupOrSelf(child: Expression, table: LongLongMap)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "long_map_lookup_or_self"

  override def nullSafeEval(x: Any): Any =
    table.getOrSelf(x.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftLongMap", table,
      classOf[LongLongMap].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.getOrSelf($x);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** The MATCH compiler's lookup of a driver-resident vertex table:
  * `table` maps a key to its row index and `columns` hold the columns
  * the query reads of those rows, as Catalyst values (null allowed). `x`
  * probes the map once and yields that row as a one-element array of
  * structs, or null when `x` is null or not a key. So
  * `isnotnull(long_map_lookup(x))` is the key-set membership test (a
  * null probe matches nothing, like `IN`), and `inline` of it binds every
  * read with one probe per row where a lookup per column would re-probe
  * for each. Like [[LongMapLookupOrSelf]], map and columns ride the plan
  * as an opaque reference. */
case class LongMapLookup(child: Expression, table: LongLongMap,
    columns: Seq[(String, DataType, Array[Any])]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(columns.map {
    case (n, t, _) => StructField(n, t) }), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "long_map_lookup"
  /** The probe and the read columns' names: the map and the value arrays
    * would print as object hashes. */
  override def toString: String =
    (child +: columns.map(_._1)).mkString(s"$prettyName(", ", ", ")")

  private val cols = columns.map(_._3).toArray

  /** The row of key `k` as a one-element array, null when absent. */
  def rowOf(k: Long): ArrayData = {
    val i = table.getOrElse(k, -1L).toInt
    if (i < 0) null
    else new GenericArrayData(Array[Any](
      new GenericInternalRow(Array.tabulate[Any](cols.length)(cols(_)(i)))))
  }

  override def nullSafeEval(x: Any): Any = rowOf(x.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftLookup", this)
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = $ref.rowOf($x); ${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
