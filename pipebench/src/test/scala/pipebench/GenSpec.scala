package pipebench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def trickleBytes(seed: Long): Seq[Array[Byte]] = {
    val g = new Gen(seed)
    Seq.fill(3)(Gen.csvBytes(g.customers(500)))
  }

  private def upsertBytes(seed: Long): Seq[Array[Byte]] = {
    val g = new Gen(seed)
    val t = new Model.Table
    t.insert(Model.split(g.customers(2000)).valid)
    Seq.fill(2) {
      val lines = g.changes(300, t)
      t.merge(Model.split(lines).valid)
      Gen.csvBytes(lines) ++ Gen.csvBytes(g.lookupEmails(5, t).map(e => Line(Vector(e))))
    }
  }

  test("the same seed gives the same bytes") {
    assert(trickleBytes(42).map(_.toSeq) == trickleBytes(42).map(_.toSeq))
    assert(upsertBytes(42).map(_.toSeq) == upsertBytes(42).map(_.toSeq))
  }

  test("another seed gives other bytes") {
    assert(trickleBytes(42).map(_.toSeq) != trickleBytes(43).map(_.toSeq))
    assert(upsertBytes(42).map(_.toSeq) != upsertBytes(43).map(_.toSeq))
  }

  test("customer files carry every error shape and duplicate kind") {
    val g = new Gen(7)
    val lines = g.customers(5000)
    val split = Model.split(lines)
    Model.Reasons.foreach(r => assert(split.quarantined(r) > 0, r))
    val valid = split.valid
    assert(valid.map(_.email).distinct.size < valid.size, "duplicate emails")
    assert(valid.map(_.id).distinct.size < valid.size, "duplicate ids")
    val t = new Model.Table
    val survivors = t.insert(valid)
    assert(survivors.size < valid.size && survivors.size > valid.size * 9 / 10)
  }

  test("the light mix carries fewer error lines and conflicts than the default") {
    def outcome(mix: Mix): (Long, Int) = {
      val split = Model.split(new Gen(7, mix).customers(5000))
      (split.quarantined.values.sum, split.valid.size - new Model.Table().insert(split.valid).size)
    }
    val (badDefault, lostDefault) = outcome(Mix.Default)
    val (badLight, lostLight) = outcome(Mix.Light)
    assert(badLight > 0 && badLight * 5 < badDefault)
    assert(lostLight > 0 && lostLight * 5 < lostDefault)
  }
}
