package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.expressions.{Inline, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{LongLongMap, LongMapLookup, LongMapLookupOrSelf}

/** Unit coverage for the O(1) `LongLongMap` expressions: the local-map
  * translation that replaced `coalesce(element_at(mapLiteral, x), x)` in
  * the compiler's id-translation fast path, and the resident row lookup
  * behind a resident vertex's membership filter and reads. */
class LongMapLookupSpec extends AnyFunSuite {
  import Fixture.{init, withConf}

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
    val m = new LongLongMap(keys, keys.indices.map(_.toLong).toArray)
    assert(m.getOrElse(1L, -1L) == 0L && m.getOrElse(Long.MinValue, -1L) == 2L)
    assert(m.getOrElse(2L, -1L) == -1L && new LongLongMap(Array(5L),
      Array(0L)).getOrElse(Long.MinValue, -1L) == -1L)
    val look = LongMapLookup(_: org.apache.spark.sql.catalyst.expressions
      .Expression, m, Nil)
    def member(x: org.apache.spark.sql.Column) =
      Bridge.column(look(Bridge.expression(x))).isNotNull
    val df = Seq[java.lang.Long](1L, 2L, 3L, null, Long.MinValue).toDF("x")
    assert(df.filter(member($"x")).as[Long].collect().sorted.toList ==
      List(Long.MinValue, 1L, 3L))
    assert(df.select(member($"x")).as[Boolean].collect().toList ==
      List(true, false, true, false, true))
    // interpreted: a hit is a one-row array, a miss and a null probe null
    assert(look(Literal(3L)).eval(null) != null)
    assert(look(Literal(2L)).eval(null) == null)
    assert(look(Literal(null, LongType)).eval(null) == null)
  }

  test("row lookup: one probe yields every read column, nulls kept; " +
      "a miss or a null probe drops the row, the MinValue key reads its " +
      "own; codegen and interpreted agree") {
    val s = init()
    import s.implicits._
    val keys = Array(7L, Long.MinValue, 9L)
    val m = new LongLongMap(keys, keys.indices.map(_.toLong).toArray)
    val cols = Seq(
      ("name", StringType, Array[Any](UTF8String.fromString("a"), null,
        UTF8String.fromString("c"))),
      ("size", IntegerType, Array[Any](10, 20, null)))
    val df = Seq[java.lang.Long](9L, 8L, null, Long.MinValue, 7L).toDF("x")
    val want = List("-9223372036854775808|null|20", "7|a|10", "9|c|null")
    def rows(d: org.apache.spark.sql.DataFrame): List[String] =
      d.collect().map(_.toSeq.mkString("|")).sorted.toList
    val looked = Bridge.generate(df,
      Inline(LongMapLookup(Bridge.expression($"x"), m, cols)), "v")
      .select($"x", $"v.name", $"v.size")
    assert(rows(looked) == want)
    withConf(s)("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(rows(Bridge.generate(df,
        Inline(LongMapLookup(Bridge.expression($"x"), m, cols)), "v")
        .select($"x", $"v.name", $"v.size")) == want)
    }
    val row = LongMapLookup(Literal(Long.MinValue), m, cols).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(row.numElements() == 1 && row.getStruct(0, 2).isNullAt(0) &&
      row.getStruct(0, 2).getInt(1) == 20)
  }
}
