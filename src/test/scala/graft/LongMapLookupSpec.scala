package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{LongLongMap, LongMapContains, LongMapLookupOrSelf}

/** Unit coverage for the O(1) local-map translation expression that
  * replaced `coalesce(element_at(mapLiteral, x), x)` in the compiler's
  * local id-translation fast path. */
class LongMapLookupSpec extends AnyFunSuite {
  import Fixture.init

  test("LongLongMap: hits, misses, MinValue sentinel key, collisions") {
    val m = new LongLongMap(Map(1L -> 10L, 2L -> 20L, Long.MinValue -> 7L))
    assert(m.getOrSelf(1L) == 10L && m.getOrSelf(2L) == 20L)
    assert(m.getOrSelf(3L) == 3L, "miss must return the key itself")
    assert(m.getOrSelf(Long.MinValue) == 7L,
      "a real MinValue key must be mapped, not treated as empty")
    val noMin = new LongLongMap(Map(5L -> 50L))
    assert(noMin.getOrSelf(Long.MinValue) == Long.MinValue)
    // dense key range forces probe chains at 50% load
    val big = new LongLongMap((0L until 10000L).map(i => i -> (i + 1)).toMap)
    assert((0L until 10000L).forall(i => big.getOrSelf(i) == i + 1))
    assert(big.getOrSelf(123456L) == 123456L)
  }

  test("expression matches the element_at(map-literal) pipeline it " +
      "replaced, nulls included, codegen and interpreted") {
    val s = init()
    import s.implicits._
    val m = Map(1L -> 100L, 3L -> 300L)
    val table = new LongLongMap(m)
    val df = Seq(
      (1L, Seq[java.lang.Long](1L, 2L, 3L)),
      (2L, Seq[java.lang.Long](null, 1L)),
      (3L, Seq[java.lang.Long]())).toDF("id", "arr")
    def look(x: org.apache.spark.sql.Column) =
      Bridge.column(LongMapLookupOrSelf(Bridge.expression(x), table))
    val got = df.select($"id", transform($"arr", x => look(x)).as("t"))
      .orderBy("id").collect()
      .map(r => r.getSeq[java.lang.Long](1).toList)
    val ml = typedLit(m)
    val want = df.select($"id",
        transform($"arr", x => coalesce(element_at(ml, x), x)).as("t"))
      .orderBy("id").collect()
      .map(r => r.getSeq[java.lang.Long](1).toList)
    assert(got.toList == want.toList)
    assert(got(0) == List(100L, 2L, 300L))
    assert(got(1) == List(null, 100L))
    assert(got(2) == Nil)
    // interpreted path parity (eval without codegen)
    assert(LongMapLookupOrSelf(
      org.apache.spark.sql.catalyst.expressions.Literal(3L), table)
      .eval(null) == 300L)
  }

  test("contains and the membership predicate: hits, misses, the MinValue " +
      "key, null input, codegen and interpreted") {
    val s = init()
    import s.implicits._
    val keys = Array(1L, 3L, Long.MinValue)
    val m = new LongLongMap(keys, keys)
    assert(m.contains(1L) && m.contains(3L) && m.contains(Long.MinValue))
    assert(!m.contains(2L) && !new LongLongMap(Array(5L), Array(5L))
      .contains(Long.MinValue))
    def member(x: org.apache.spark.sql.Column) =
      Bridge.column(LongMapContains(Bridge.expression(x), m))
    val df = Seq[java.lang.Long](1L, 2L, 3L, null, Long.MinValue).toDF("x")
    assert(df.filter(member($"x")).as[Long].collect().sorted.toList ==
      List(Long.MinValue, 1L, 3L))
    assert(df.select(member($"x")).as[Option[Boolean]].collect().toList ==
      List(Some(true), Some(false), Some(true), None, Some(true)))
    assert(LongMapContains(
      org.apache.spark.sql.catalyst.expressions.Literal(3L), m)
      .eval(null) == true)
  }
}
