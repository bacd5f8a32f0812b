package pipebench

import org.scalatest.funsuite.AnyFunSuite

class ModelSpec extends AnyFunSuite {
  import Model.Cust

  private def c(id: Long, email: String, phone: String = "555-0000") =
    Cust(id, "F", "L", email, phone)

  test("validation quarantines by the reference's reasons, in order") {
    def v(fields: String*) = Model.validate(Line(fields.toVector))
    assert(v("1", "F", "L", "a@x", "555") == Right(c(1, "a@x", "555")))
    assert(v("-7", "F", "L", "a@x", "555").isRight)
    assert(v("1", "F", "L") == Left("malformed_csv"))
    assert(v("1", "F", "L", "a@x", "555", "extra") == Left("malformed_csv"))
    assert(v("x1", "F", "L", "", "555") == Left("bad_id"))
    assert(v("99999999999999999999", "F", "L", "a@x", "555") == Left("bad_id"))
    assert(v("1", "F", "L", " ", "555") == Left("empty_email"))
  }

  test("first-wins inserts resolve a conflict chain row by row") {
    val t = new Model.Table
    val batch = Seq(
      c(1, "a"), // survives
      c(2, "a"), // loses: email a taken by row 1
      c(2, "b"), // survives: id 2 was never taken, its row lost
      c(1, "c"), // loses: id 1 taken
      c(3, "c"), // survives: email c was never taken
      c(3, "b")) // loses: both keys taken
    assert(t.insert(batch).map(r => (r.id, r.email)) == Seq((1, "a"), (2, "b"), (3, "c")))
    // A row rejected by a stored key reserves nothing for later rows.
    assert(t.insert(Seq(c(1, "d"), c(6, "d"), c(7, "a"), c(7, "e")))
      .map(r => (r.id, r.email)) == Seq((6, "d"), (7, "e")))
    assert(t.size == 5)
  }

  test("upserts keep the last row per email, update, skip equal rows, and drop id conflicts") {
    val t = new Model.Table
    t.insert(Seq(c(1, "a"), c(2, "b")))
    t.ack(Seq("a"))
    val counts = t.merge(Seq(
      c(1, "a", "555-1111"), // superseded by the next row for a
      c(9, "a", "555-2222"), // update: keeps id 1 and the upload flag
      c(2, "b"), // unchanged
      c(2, "n1"), // new email on a stored id: conflict
      c(7, "n2"), // insert
      c(7, "n3"))) // new email on an id the batch just took: conflict
    assert(counts == Model.MergeCounts(updated = 1, inserted = 1, unchanged = 1, conflicts = 2))
    assert(t.get("a").contains(Cust(1, "F", "L", "a", "555-2222", uploaded = true)))
    assert(t.get("n2").contains(c(7, "n2")))
    assert(t.get("n1").isEmpty && t.get("n3").isEmpty)
    assert(t.pending.map(_.email).toSet == Set("b", "n2"))
  }
}
