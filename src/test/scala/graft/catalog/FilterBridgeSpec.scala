package graft.catalog

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Unit pins for the V1→catalyst bound translation, in particular the
  * strict/lenient AND split: pruning callers may widen (drop an
  * untranslatable conjunct, keep more files — safe); the
  * partition-scoped overwrite translation must refuse instead, because
  * a dropped conjunct would widen the REPLACEMENT beyond the scope the
  * statement named. OR and NOT must never widen into a wrong skip. */
class FilterBridgeSpec extends AnyFunSuite {

  private val types = Map("lang" -> StringType, "doc_id" -> LongType)
  private def ft(n: String) = types.get(n)
  private def phys(n: String) = n

  // an attribute the schema doesn't know — never translates
  private val unknown = EqualTo("ghost", 1)

  test("lenient AND keeps the translatable side (pruning may widen)") {
    val e = FilterBridge.toCatalystBound(
      And(EqualTo("lang", "en"), unknown), ft, phys)
    assert(e.isDefined)
    assert(e.get.toString.contains("lang"))
    assert(!e.get.toString.contains("ghost"))
  }

  test("strict AND refuses when either side is untranslatable") {
    assert(FilterBridge.toCatalystBound(
      And(EqualTo("lang", "en"), unknown), ft, phys, strict = true).isEmpty)
    assert(FilterBridge.toCatalystBound(
      And(unknown, EqualTo("lang", "en")), ft, phys, strict = true).isEmpty)
    // the loss is detected even NESTED inside a translatable And
    assert(FilterBridge.toCatalystBound(
      And(EqualTo("doc_id", 1L), And(EqualTo("lang", "en"), unknown)),
      ft, phys, strict = true).isEmpty)
  }

  test("strict AND translates fully-translatable conjunctions whole") {
    val e = FilterBridge.toCatalystBound(
      And(EqualTo("lang", "en"), In("doc_id", Array(1L, 2L))),
      ft, phys, strict = true)
    assert(e.isDefined)
    assert(e.get.toString.contains("lang"))
    assert(e.get.toString.contains("doc_id"))
  }

  test("OR translates only when both sides do; NOT only over an exact child") {
    val en = EqualTo("lang", "en")
    val one = EqualTo("doc_id", 1L)
    // OR of two widened sides is still implied by the original
    val or = FilterBridge.toCatalystBound(Or(And(en, unknown), one), ft, phys)
    assert(or.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Or]))
    assert(!or.get.toString.contains("ghost"))
    assert(FilterBridge.toCatalystBound(Or(en, unknown), ft, phys).isEmpty)
    assert(FilterBridge.toCatalystBound(Or(And(en, unknown), one), ft, phys,
      strict = true).isEmpty)
    // NOT of a widened child would prune files the original keeps
    assert(FilterBridge.toCatalystBound(Not(And(en, unknown)), ft, phys).isEmpty)
    assert(FilterBridge.toCatalystBound(Not(unknown), ft, phys).isEmpty)
    val not = FilterBridge.toCatalystBound(Not(Or(en, IsNull("lang"))), ft, phys)
    assert(not.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Not]))
    assert(not.get.toString.contains("isnull"))
  }
}
