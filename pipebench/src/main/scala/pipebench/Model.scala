package pipebench

import scala.collection.mutable

/** Expected-outcome model of the pipeline, written independently of the
  * program from the reference's contract: row-at-a-time validation,
  * first-wins UNIQUE(id)/UNIQUE(email) inserts, email-keyed upserts, and
  * the uploaded work-queue flag. Every gate compares the program's output
  * with this model.
  */
object Model {

  final case class Cust(id: Long, first: String, last: String, email: String,
      phone: String, uploaded: Boolean = false) {
    def payload: (String, String, String) = (first, last, phone)
  }

  val Reasons: Seq[String] = Seq("malformed_csv", "bad_id", "empty_email")

  private val IdPattern = "-?[0-9]+".r

  /** Right(row) for a valid line, Left(reason) for a quarantined one. */
  def validate(line: Line): Either[String, Cust] = {
    val f = line.fields
    if (f.size != 5) Left("malformed_csv")
    else {
      val id = f(0) match {
        case IdPattern() => f(0).toLongOption
        case _ => None
      }
      if (id.isEmpty) Left("bad_id")
      else if (f(3).trim.isEmpty) Left("empty_email")
      else Right(Cust(id.get, f(1), f(2), f(3), f(4)))
    }
  }

  final case class Split(valid: Vector[Cust], quarantined: Map[String, Long])

  def split(lines: Seq[Line]): Split = {
    val q = mutable.Map[String, Long]().withDefaultValue(0L)
    val valid = lines.flatMap(l => validate(l) match {
      case Right(c) => Some(c)
      case Left(reason) => q(reason) += 1; None
    })
    Split(valid.toVector, Reasons.map(r => r -> q(r)).toMap)
  }

  /** Result of one upsert file, in the program's MergeResult terms. */
  final case class MergeCounts(updated: Long, inserted: Long, unchanged: Long,
      conflicts: Long)

  /** The customers table as the model sees it. */
  final class Table {
    private val byEmail = mutable.LinkedHashMap[String, Cust]()
    private val ids = mutable.HashSet[Long]()
    private val emails = mutable.ArrayBuffer[String]()

    def size: Int = byEmail.size
    def rows: Iterable[Cust] = byEmail.values
    def get(email: String): Option[Cust] = byEmail.get(email)
    def pending: Iterable[Cust] = rows.filterNot(_.uploaded)
    def pick(rng: Rng): Cust = byEmail(emails(rng.nextInt(emails.size)))

    private def add(c: Cust): Unit = {
      byEmail(c.email) = c
      ids += c.id
      emails += c.email
    }

    /** Row i survives iff no stored row and no earlier survivor shares its
      * id or email (the reference's sequential INSERTs). Returns survivors.
      */
    def insert(batch: Seq[Cust]): Vector[Cust] =
      batch.flatMap { c =>
        if (ids(c.id) || byEmail.contains(c.email)) None
        else { add(c); Some(c) }
      }.toVector

    def ack(emailsAcked: Iterable[String]): Unit =
      emailsAcked.foreach(e => byEmail(e) = byEmail(e).copy(uploaded = true))

    /** Upsert on the email key: the batch keeps its LAST row per email; a
      * stored email takes the new (first, last, phone) and keeps its id and
      * upload flag, or is unchanged when the payload is equal; a new email
      * inserts unless its id is stored or taken by an earlier new email of
      * the batch, and is then a conflict.
      */
    def merge(batch: Seq[Cust]): MergeCounts = {
      val lastIdx = mutable.LinkedHashMap[String, Int]()
      batch.zipWithIndex.foreach { case (c, i) => lastIdx(c.email) = i }
      val latest = lastIdx.values.toVector.sorted.map(batch)
      var updated, inserted, unchanged, conflicts = 0L
      val newIds = mutable.HashSet[Long]()
      val inserts = mutable.ArrayBuffer[Cust]()
      latest.foreach { c =>
        byEmail.get(c.email) match {
          case Some(s) if s.payload == c.payload => unchanged += 1
          case Some(s) =>
            byEmail(c.email) = s.copy(first = c.first, last = c.last, phone = c.phone)
            updated += 1
          case None if ids(c.id) || newIds(c.id) => conflicts += 1
          case None => newIds += c.id; inserts += c; inserted += 1
        }
      }
      inserts.foreach(add)
      MergeCounts(updated, inserted, unchanged, conflicts)
    }
  }
}
