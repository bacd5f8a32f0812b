package pipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** SplitMix64: a fixed, documented generator, so the same seed yields the
  * same inputs on every JDK (java.util.Random's sequence is not part of
  * this benchmark's contract).
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    Rng.mix(s)
  }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
}

object Rng {
  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** One CSV line as its raw fields; `fields.size != 5` is a malformed line. */
final case class Line(fields: Vector[String]) {
  def text: String = fields.mkString(",")
}

/** Per-mille rates of each kind of customer line; the rest are clean new
  * customers. Duplicates and chains draw from every earlier line of the
  * run, so later files also collide with stored rows.
  */
final case class CustomerMix(badId: Int, emptyEmail: Int, malformed: Int,
    dupEmail: Int, dupId: Int, chain: Int) {
  require(badId + emptyEmail + malformed + dupEmail + dupId + chain <= 1000)
}

/** Per-mille rates of each kind of change-file line: payload changes,
  * unchanged re-sends, new customers, id collisions (new email, stored id),
  * repeats of an email earlier in the file with another payload (last one
  * wins) and error shapes (bad id, empty email, malformed).
  */
final case class ChangeMix(payload: Int, resend: Int, fresh: Int,
    collision: Int, repeat: Int, errors: Int) {
  require(payload + resend + fresh + collision + repeat + errors == 1000)
}

/** The traffic mix. The reference publishes no traffic rates, so these are
  * assumptions (pipebench/README.md, "Inputs and the model"): the default
  * puts every error shape into every 500-row file, and `light` is the
  * alternative the layer ranking was checked against.
  */
final case class Mix(customers: CustomerMix, changes: ChangeMix)

object Mix {
  val Default = Mix(CustomerMix(badId = 10, emptyEmail = 10, malformed = 5,
      dupEmail = 20, dupId = 20, chain = 5),
    ChangeMix(payload = 400, resend = 200, fresh = 280, collision = 60, repeat = 40,
      errors = 20))
  /** Roughly the reference fixtures' rates (MOCK_DATA.csv with
    * MOCK_BAD_DATA.csv appended: 1 bad id, 1 empty email and 3 duplicates
    * in 1,007 lines; the fixtures hold no malformed line or duplicate id,
    * so those take the smallest rate), and change files that are mostly
    * unchanged re-sends.
    */
  val Light = Mix(CustomerMix(badId = 1, emptyEmail = 1, malformed = 1,
      dupEmail = 3, dupId = 1, chain = 1),
    ChangeMix(payload = 100, resend = 700, fresh = 150, collision = 20, repeat = 20,
      errors = 10))
  val Named: Map[String, Mix] = Map("default" -> Default, "light" -> Light)
}

/** Seeded inputs in the reference's shapes (assets/MOCK_BAD_DATA.csv: bad
  * id, empty email, duplicate email) plus duplicate ids, id+email conflict
  * chains and malformed lines, at the rates of `mix`.
  */
final class Gen(seed: Long, mix: Mix = Mix.Default) {
  private val rng = new Rng(seed)
  private val tag = java.lang.Long.toHexString(Rng.mix(seed) & 0xffffffL)
  private var nextId = 1000L
  /** Every id and email a well-formed line has used so far, in any file. */
  private val usedIds = ArrayBuffer[Long]()
  private val usedEmails = ArrayBuffer[String]()

  private def freshId(): Long = { nextId += 1; nextId }
  private def emailFor(id: Long): String = s"c$id.$tag@example.com"
  private def first(): String = Gen.FirstNames(rng.nextInt(Gen.FirstNames.size))
  private def last(): String = Gen.LastNames(rng.nextInt(Gen.LastNames.size))
  private def phone(): String = f"555-${rng.nextInt(10000)}%04d"

  private def row(id: String, email: String): Line =
    Line(Vector(id, first(), last(), email, phone()))

  private def remember(id: Long, email: String): Unit = {
    usedIds += id
    usedEmails += email
  }

  /** Upper bounds of consecutive per-mille ranges. */
  private def bounds(rates: Int*): Vector[Int] = rates.scanLeft(0)(_ + _).tail.toVector

  private val Vector(cBadId, cEmpty, cMalformed, cDupEmail, cDupId, cChain) = {
    val m = mix.customers
    bounds(m.badId, m.emptyEmail, m.malformed, m.dupEmail, m.dupId, m.chain)
  }
  private val Vector(xPayload, xResend, xFresh, xCollision, xRepeat, _) = {
    val m = mix.changes
    bounds(m.payload, m.resend, m.fresh, m.collision, m.repeat, m.errors)
  }

  /** `n` customer lines at the rates of `mix.customers`. A chain takes the
    * id of one earlier line and the email of another.
    */
  def customers(n: Int): Vector[Line] = Vector.fill(n) {
    val r = rng.nextInt(1000)
    val earlier = usedIds.nonEmpty
    if (r < cBadId) row(s"x${freshId()}", emailFor(nextId))
    else if (r < cEmpty) row(freshId().toString, "")
    else if (r < cMalformed) Line(Vector(freshId().toString, first(), last()))
    else if (r < cDupEmail && earlier) {
      val id = freshId()
      val email = usedEmails(rng.nextInt(usedEmails.size))
      remember(id, email)
      row(id.toString, email)
    } else if (r < cDupId && earlier) {
      val id = usedIds(rng.nextInt(usedIds.size))
      val email = emailFor(freshId())
      remember(id, email)
      row(id.toString, email)
    } else if (r < cChain && earlier) {
      val id = usedIds(rng.nextInt(usedIds.size))
      val email = usedEmails(rng.nextInt(usedEmails.size))
      remember(id, email)
      row(id.toString, email)
    } else {
      val id = freshId()
      val email = emailFor(id)
      remember(id, email)
      row(id.toString, email)
    }
  }

  /** One upsert change file against the model's current table, at the
    * rates of `mix.changes`.
    */
  def changes(n: Int, table: Model.Table): Vector[Line] = {
    val out = ArrayBuffer[Line]()
    while (out.size < n) {
      val r = rng.nextInt(1000)
      val line =
        if (r < xPayload) {
          val c = table.pick(rng)
          if (rng.nextInt(2) == 0) Line(Vector(c.id.toString, c.first, c.last, c.email, phone()))
          else Line(Vector(c.id.toString, c.first, last(), c.email, c.phone))
        } else if (r < xResend) {
          val c = table.pick(rng)
          Line(Vector(c.id.toString, c.first, c.last, c.email, c.phone))
        } else if (r < xFresh) {
          val id = freshId()
          row(id.toString, emailFor(id))
        } else if (r < xCollision) row(table.pick(rng).id.toString, emailFor(freshId()))
        else if (r < xRepeat && out.exists(_.fields.size == 5)) {
          val wellFormed = out.filter(_.fields.size == 5)
          val prev = wellFormed(rng.nextInt(wellFormed.size))
          Line(prev.fields.updated(4, phone()))
        } else rng.nextInt(3) match {
          case 0 => row(s"x${freshId()}", emailFor(nextId))
          case 1 => row(freshId().toString, "")
          case _ => Line(Vector(freshId().toString, first(), last()))
        }
      out += line
    }
    out.toVector
  }

  /** Pick `k` emails for one point read: pending, acked and absent ones. */
  def lookupEmails(k: Int, table: Model.Table): Vector[String] =
    Vector.tabulate(k) { i =>
      if (i == k - 1) s"absent${freshId()}.$tag@example.com"
      else table.pick(rng).email
    }
}

object Gen {
  val Header = "id,first_name,last_name,email,phone"
  val FirstNames: Vector[String] = Vector("Ada", "Ben", "Cleo", "Dev", "Eli",
    "Fay", "Gus", "Hana", "Ivo", "Jun", "Kai", "Lea", "Mo", "Nia", "Oto", "Pia")
  val LastNames: Vector[String] = Vector("Abbott", "Baker", "Chen", "Diaz",
    "Evans", "Fox", "Garcia", "Hill", "Ito", "Jones", "Khan", "Lopez",
    "Mills", "Novak", "Ortiz", "Park")

  def csvBytes(lines: Seq[Line]): Array[Byte] =
    (Header +: lines.map(_.text)).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)

  def write(path: Path, lines: Seq[Line]): Long = {
    val tmp = path.resolveSibling("." + path.getFileName + ".tmp")
    val bytes = csvBytes(lines)
    Files.write(tmp, bytes)
    // Land atomically so a file-source listing never sees a half-written CSV.
    Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }
}
