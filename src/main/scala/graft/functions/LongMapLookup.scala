package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** Serializable open-addressing primitive long→long hash map.
  *
  * Replaces `element_at` over a `MapType` literal in the compiler's
  * local id-translation fast path: Catalyst's `GetMapValue` on an
  * ArrayBasedMapData literal is a LINEAR scan per lookup, so a 65k-entry
  * map (the compiler's local-map row cap) paid up
  * to 65k comparisons per array slot — O(1) probing here. Linear
  * probing, power-of-two table at ≤50% load, `Long.MinValue` as the
  * empty-slot sentinel (a real `Long.MinValue` key is carried in a side
  * field). Arrays serialize compactly with the task closure — the same
  * shipping cost profile as the map literal it replaces.
  */
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

  /** Whether `k` is a key of the map. */
  def contains(k: Long): Boolean = {
    if (k == Long.MinValue) return hasMin
    var i = slot(k)
    while (true) {
      val kk = ks(i)
      if (kk == k) return true
      if (kk == Long.MinValue) return false
      i = (i + 1) & mask
    }
    false // unreachable, as in getOrSelf
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

/** `x IN (keys of table)` as one codegen'd O(1) hash probe: the MATCH
  * compiler's membership test for a driver-resident vertex key set.
  * Null input → null, which a filter drops (an IN list's semantics for a
  * null probe). Like [[LongMapLookupOrSelf]], the table rides the plan
  * as an opaque reference, never as a literal list. */
case class LongMapContains(child: Expression, table: LongLongMap)
    extends UnaryExpression with Predicate {
  override def prettyName: String = "long_map_contains"

  override def nullSafeEval(x: Any): Any =
    table.contains(x.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftLongMap", table,
      classOf[LongLongMap].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.contains($x);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Column read of a driver-resident table: `table` maps a key to its row
  * index, `values` holds one column of those rows as Catalyst values
  * (null allowed), so `x` reads `values(table(x))` — the MATCH
  * compiler's lookup for a resident fixed-hop vertex, one per column the
  * query reads. A null or absent key reads null (the compiler filters
  * absent keys out with [[LongMapContains]] first). Like
  * [[LongMapLookupOrSelf]], map and values ride the plan as opaque
  * references. */
case class LongMapRowRead(child: Expression, table: LongLongMap,
    values: Array[Any], dataType: DataType) extends UnaryExpression {
  override def nullable: Boolean = true
  override def prettyName: String = "long_map_row_read"

  override def eval(input: InternalRow): Any = {
    val x = child.eval(input)
    if (x == null) null
    else {
      val i = table.getOrElse(x.asInstanceOf[Long], -1L)
      if (i < 0) null else values(i.toInt)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val map = ctx.addReferenceObj("graftLongMap", table,
      classOf[LongLongMap].getName)
    val vals = ctx.addReferenceObj("graftValues", values, "java.lang.Object[]")
    val c = child.genCode(ctx)
    val (i, o) = (ctx.freshName("row"), ctx.freshName("value"))
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = true;
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        ${CodeGenerator.defaultValue(dataType)};
      if (!${c.isNull}) {
        long $i = $map.getOrElse(${c.value}, -1L);
        if ($i >= 0) {
          Object $o = $vals[(int) $i];
          if ($o != null) {
            ${ev.isNull} = false;
            ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $o;
          }
        }
      }""")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
