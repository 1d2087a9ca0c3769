package graft.operators

import graft.SparkSpec
import graft.operators.Validate._

/** Rule-by-rule audit semantics on a planted fixture: each rule counts
  * exactly its own violations, null-passing rules compose with NotNull,
  * and the report keeps declaration order. */
class ValidateSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    // (id, status, price, fk)
    (Some(1L), Some("O"), Some(10.0), Some(100L)),
    (Some(2L), Some("F"), Some(20.0), Some(200L)),
    (Some(2L), Some("F"), Some(20.0), Some(200L)), // dup id
    (Some(3L), Some("X"), Some(-5.0), Some(999L)), // bad status/range/fk
    (None, None, None, None)                       // nulls pass range/set
  ).toDF("id", "status", "price", "fk")

  private val ref = Seq(100L, 200L).toDF("k")

  private def reportMap = Validate.report(df, Seq(
      NotNull("id_nn", "id"),
      InRange("price_rng", "price", 0, 100),
      InSet("status_dom", "status", Seq("O", "F", "P")),
      Matches("status_re", "status", "^[A-Z]$"),
      Unique("id_uniq", Seq("id")),
      Referential("fk_ref", "fk", ref)))
    .collect().map(r => r.getString(1) ->
      ((r.getInt(0), r.getLong(2), r.getBoolean(3)))).toMap

  test("each rule counts exactly its violations; nulls pass value rules") {
    val m = reportMap
    assert(m("id_nn") === ((0, 1L, false)))      // one null id
    assert(m("price_rng") === ((1, 1L, false)))  // -5 only; null passes
    assert(m("status_dom") === ((2, 1L, false))) // X; null passes
    assert(m("status_re") === ((3, 0L, true)))   // all single uppercase
    assert(m("id_uniq") === ((4, 1L, false)))    // one extra copy of id=2
    assert(m("fk_ref") === ((5, 1L, false)))     // 999 dangling; null passes
  }

  test("a clean table passes every rule") {
    val clean = Seq((1L, "O", 10.0, 100L), (2L, "F", 20.0, 200L))
      .toDF("id", "status", "price", "fk")
    val rep = Validate.report(clean, Seq(
        NotNull("nn", "id"), Unique("u", Seq("id")),
        Referential("fk", "fk", ref)))
      .collect()
    assert(rep.forall(_.getBoolean(3)))
    assert(rep.map(_.getLong(2)).sum === 0L)
  }

  test("unique over a composite key counts each extra tuple copy") {
    val d = Seq((1L, "a"), (1L, "a"), (1L, "a"), (1L, "b"))
      .toDF("x", "y")
    val rep = Validate.report(d, Seq(Unique("u", Seq("x", "y"))))
      .collect().head
    assert(rep.getLong(2) === 2L) // (1,a) appears 3× → 2 extras
  }

  test("duplicate rule ids are rejected") {
    intercept[IllegalArgumentException] {
      Validate.report(df, Seq(NotNull("a", "id"), NotNull("a", "status")))
    }
  }
}
