package pipebench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Backoff, Ingest, IngestJob, Signal, UploadJob}
import graft.streaming.StreamingIngest

/** What one run shares: the session, its directory, the seed and traffic
  * mix, the tracer, and the operation and gate tallies behind `attempted`
  * and `failed`.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val mix: Mix, val tracer: Tracer) {
  val cores: Int = spark.sparkContext.defaultParallelism
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  /** Facts only the traced steps record, for the per-layer metrics. */
  val notes = new Notes

  /** One call into the program: counted, and failed if it throws. */
  def op[T](f: => T): T = {
    attempted += 1
    try f
    catch { case e: Throwable => failed += 1; throw e }
  }

  /** One correctness check: counted, and failed when `ok` is false. */
  def gate(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  def store(name: String): ObservedStore =
    new ObservedStore(spark, work.resolve("stores").resolve(name).toString, tracer)

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  def delete(path: String): Unit = Ctx.deleteTree(java.nio.file.Paths.get(path))
}

object Ctx {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def liveDataFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter { f =>
        val name = f.getFileName.toString
        name.endsWith(".parquet") && p.relativize(f).toString.startsWith("uploaded=")
      }.count()
      finally s.close()
    }
}

final class Notes {
  var validOffered = 0L
  var inserted = 0L
  var inputBytes = 0L
  var backoffS = 0.0
  var filesRead = 0L
  var filesTotal = 0L
  val pointMs = ArrayBuffer[Double]()
  val sqlMs = ArrayBuffer[Double]()
  val sqlPlanMs = ArrayBuffer[Double]()
  val streamStartMs = ArrayBuffer[Long]()
  val waveS = ArrayBuffer[Double]()
  val pendingPerCycle = ArrayBuffer[Long]()
  val ackedPerCycle = ArrayBuffer[Long]()
}

/** One closed-loop step: its wall time and the rows it completed. */
final case class Step(wallNs: Long, rows: Long)

trait Workload {
  /** Build the starting state and warm the path. */
  def setup(): Unit
  def step(i: Int): Step
  /** Timed work after the last step. Returns the rows it completed. */
  def finish(): Long = 0L
  /** (latency in seconds, rows) from landing to done, for every row. */
  def rowLatencies: Seq[(Double, Long)]
  /** End-of-run gates against the model. */
  def check(): Unit
  /** The store the per-layer metrics describe, and the files the traced
    * steps ingested (for the standalone scan).
    */
  def store: ObservedStore
  def tracedInputs: Seq[Path]
  def stub: Option[CrmStub] = None
}

object Workloads {
  val WarmSalt = 0x5bd1e995L
  /** Drain calls a trickle run makes at most before the gates judge it. */
  val MaxDrains = 10

  val RowColumns = Seq("id", "first_name", "last_name", "email", "phone", "uploaded")

  def rowSet(df: DataFrame): Set[(Long, String, String, String, String, Boolean)] =
    rowSet(df.select(RowColumns.map(col): _*).collect())

  def rowSet(rows: Array[org.apache.spark.sql.Row])
      : Set[(Long, String, String, String, String, Boolean)] =
    rows.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
      r.getString(4), r.getBoolean(5))).toSet

  def modelSet(rows: Iterable[Model.Cust]): Set[(Long, String, String, String, String, Boolean)] =
    rows.map(c => (c.id, c.first, c.last, c.email, c.phone, c.uploaded)).toSet

  /** Quarantine counts by reason, reading every column of each rejected
    * row as a reject-table writer would (a projection of `reason` alone
    * lets the CSV reader skip the columns that make a line malformed).
    */
  def reasons(bad: DataFrame): Map[String, Long] = {
    val counts = bad.groupBy("reason")
      .agg(count(lit(1)).as("n"), max(xxhash64(bad.columns.map(col).toIndexedSeq: _*)).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Model.Reasons.map(r => r -> counts.getOrElse(r, 0L)).toMap
  }

  def checkTable(ctx: Ctx, store: ObservedStore, table: Model.Table, what: String): Unit = {
    val got = rowSet(store.all())
    val want = modelSet(table.rows)
    ctx.gate(got == want, s"$what: table has ${got.size} rows, model ${want.size}, " +
      s"${(got -- want).size} unexpected, ${(want -- got).size} missing")
  }
}

import Workloads._

/** The reference pipeline: 500-row CSVs land one at a time; each gets one
  * IngestJob.run and one UploadJob.pollOnce against the mock CRM, and the
  * run ends with UploadJob.drain until nothing is pending.
  */
final class TrickleDrain(ctx: Ctx, fileRows: Int) extends Workload {
  private val spark = ctx.spark
  private var gen: Gen = _
  private var table: Model.Table = _
  private var crm: CrmStub = _
  private var st: ObservedStore = _
  private var inbox: Path = _
  private val signal = new Signal
  private val files = ArrayBuffer[(Path, Model.Split, Long)]()
  private val fileOf = mutable.HashMap[String, Int]()
  /** Rows the program reported inserted and acked so far. */
  private var inserted = 0L
  private var ackedRows = 0L
  private val traced = ArrayBuffer[Path]()

  def setup(): Unit = {
    gen = new Gen(ctx.seed, ctx.mix)
    table = new Model.Table
    crm = new CrmStub(ctx.seed, ctx.cores)
    st = ctx.store("trickle")
    inbox = ctx.dir("inbox")
    // Warm-up: one file of another seed through ingest and one poll,
    // against its own stub and a store deleted afterwards.
    val warmCrm = new CrmStub(ctx.seed ^ WarmSalt, ctx.cores)
    val warm = ctx.store("warm")
    val warmCsv = ctx.work.resolve("warm.csv")
    Gen.write(warmCsv, new Gen(ctx.seed ^ WarmSalt, ctx.mix).customers(fileRows))
    try {
      ctx.op(IngestJob.run(spark, warmCsv.toString, warm))
      ctx.op(UploadJob.pollOnce(warm, warmCrm.url, ctx.cores))
    } finally warmCrm.stop()
    ctx.delete(warm.dir)
  }

  def step(i: Int): Step = {
    val lines = gen.customers(fileRows)
    val split = Model.split(lines)
    val survivors = table.insert(split.valid)
    val path = inbox.resolve(f"batch-$i%05d.csv")
    val t0 = System.nanoTime()
    val bytes = Gen.write(path, lines)
    files += ((path, split, t0))
    survivors.foreach(c => fileOf(c.email) = files.size - 1)
    val (n, _) = ctx.op(ctx.tracer("ingest.IngestJob.run")(
      IngestJob.run(spark, path.toString, st, signal = Some(signal))))
    inserted += n
    // The signal is the uploader's wake-up; the loop consumes it and polls.
    val acked =
      if (signal.consume()) upload("upload.pollOnce")(UploadJob.pollOnce(st, crm.url, ctx.cores))
      else 0L
    ackedRows += acked
    val dt = System.nanoTime() - t0
    ctx.gate(n == survivors.size, s"trickle file $i inserted $n rows, model ${survivors.size}")
    if (ctx.tracer.on) {
      ctx.notes.validOffered += split.valid.size
      ctx.notes.inserted += n
      ctx.notes.inputBytes += bytes
      traced += path
    }
    Step(dt, acked)
  }

  /** Drains until the program's own counts say nothing is pending.
    * `drain(idleRounds = 1)` returns after the first poll that acks
    * nothing, which also happens when every row still pending drew a 503;
    * then it is called again. The end-of-run `pending()` gate checks the
    * counts.
    */
  override def finish(): Long = {
    val before = ackedRows
    var rounds = 0
    while (rounds < MaxDrains && ackedRows < inserted) {
      rounds += 1
      // The backoff wait is recorded, not slept: it is idle time by design.
      ackedRows += upload("upload.drain")(UploadJob.drain(st, crm.url, signal,
        new Backoff(), concurrency = ctx.cores, idleRounds = 1,
        sleepFn = s => if (ctx.tracer.on) ctx.notes.backoffS += s))
    }
    ackedRows - before
  }

  /** One upload call. When traced, each poll cycle's POSTs and 201s are
    * read off the stub between consecutive `pending()` calls (one per
    * cycle) and the call's end.
    */
  private def upload(name: String)(f: => Long): Long =
    if (!ctx.tracer.on) ctx.op(f)
    else {
      val marks = ArrayBuffer[(Long, Long)]()
      def mark(): Unit = marks += ((crm.posts.get, crm.status201.get))
      st.onPending = () => mark()
      val n = try ctx.op(ctx.tracer(name)(f)) finally st.onPending = () => ()
      mark()
      marks.sliding(2).filter(_.size == 2).foreach { w =>
        ctx.notes.pendingPerCycle += w(1)._1 - w(0)._1
        ctx.notes.ackedPerCycle += w(1)._2 - w(0)._2
      }
      n
    }

  def rowLatencies: Seq[(Double, Long)] =
    fileOf.toSeq.flatMap { case (email, f) =>
      crm.firstCreatedAtNs(email).map(t => ((t - files(f)._3) / 1e9, 1L))
    }

  def check(): Unit = {
    val want = fileOf.keySet.toSet
    val got = crm.acceptedEmails
    ctx.gate(got == want, s"trickle_drain: CRM accepted ${got.size} emails, model " +
      s"${want.size}; ${(want -- got).size} never acked, ${(got -- want).size} unexpected")
    st.onPending = () => ()
    val left = st.pending().count()
    ctx.gate(left == 0, s"trickle_drain: $left rows still pending after drain")
    table.ack(want)
    checkTable(ctx, st, table, "trickle_drain")
    val bad = Ingest.validate(Ingest.readCsv(spark, files.map(_._1.toString).toSeq,
      header = true))._2
    val wantQ = Model.Reasons.map(r => r -> files.map(_._2.quarantined(r)).sum).toMap
    val gotQ = reasons(bad)
    ctx.gate(gotQ == wantQ, s"trickle_drain quarantine $gotQ, model $wantQ")
  }

  def store: ObservedStore = st
  def tracedInputs: Seq[Path] = traced.toSeq
  override def stub: Option[CrmStub] = Some(crm)
}

/** A loaded store, half of it acked, takes change files one at a time
  * through StreamingIngest.startUpsert (AvailableNow); after each wave come
  * email point reads, half through pendingPointLookup and half through SQL
  * on the graft_store catalog.
  */
final class UpsertLookup(ctx: Ctx, baseRows: Int, waveRows: Int, reads: Int)
    extends Workload {
  private val spark = ctx.spark
  private var gen: Gen = _
  private var table: Model.Table = _
  private var st: ObservedStore = _
  private var inbox: Path = _
  private var checkpoint: Path = _
  private var wave = 0
  private val latencies = ArrayBuffer[(Double, Long)]()
  private val traced = ArrayBuffer[Path]()

  def setup(): Unit = {
    gen = new Gen(ctx.seed, ctx.mix)
    table = new Model.Table
    st = ctx.store("upsert")
    inbox = ctx.dir("inbox")
    checkpoint = ctx.work.resolve("checkpoint")
    val base = gen.customers(baseRows)
    val csv = ctx.work.resolve("base.csv")
    Gen.write(csv, base)
    val survivors = table.insert(Model.split(base).valid)
    val (n, _) = ctx.op(IngestJob.run(spark, csv.toString, st))
    ctx.gate(n == survivors.size, s"upsert base inserted $n rows, model ${survivors.size}")
    val acked = survivors.indices.filter(_ % 2 == 0).map(i => survivors(i).email)
    import spark.implicits._
    ctx.op(st.markUploaded(acked.toDF("email")))
    table.ack(acked)
    // Warm-up: one wave and its reads; the model follows it, so the steps
    // continue from this state.
    runWave()
    (0 until reads).foreach(read)
    latencies.clear()
  }

  private def runWave(): (Long, Long) = {
    wave += 1
    val lines = gen.changes(waveRows, table)
    val split = Model.split(lines)
    val want = table.merge(split.valid)
    val path = inbox.resolve(f"wave-$wave%05d.csv")
    val before = st.merges.size
    val t0 = System.nanoTime()
    val bytes = Gen.write(path, lines)
    if (ctx.tracer.on) ctx.notes.streamStartMs += System.currentTimeMillis()
    val q = ctx.op(ctx.tracer("stream.startUpsert") {
      val q = StreamingIngest.startUpsert(spark, inbox.toString, st, checkpoint.toString)
      q.awaitTermination()
      q
    })
    val dt = System.nanoTime() - t0
    ctx.gate(q.exception.isEmpty, s"upsert wave $wave failed: ${q.exception}")
    ctx.gate(st.merges.size == before + 1,
      s"upsert wave $wave ran ${st.merges.size - before} merges, expected 1")
    val got = st.merges.lastOption.map(r => Model.MergeCounts(r.nUpdated, r.nInserted,
      r.nUnchanged, r.nConflicts))
    ctx.gate(got.contains(want), s"upsert wave $wave merge $got, model $want")
    val changed = want.updated + want.inserted
    if (ctx.tracer.on) {
      ctx.notes.validOffered += split.valid.size
      ctx.notes.inserted += want.inserted
      ctx.notes.inputBytes += bytes
      ctx.notes.waveS += dt / 1e9
      traced += path
    }
    latencies += ((dt / 1e9, changed))
    (dt, changed)
  }

  private def read(j: Int): Long = {
    val emails = gen.lookupEmails(5, table)
    val known = emails.flatMap(table.get)
    val t0 = System.nanoTime()
    if (j % 2 == 0) {
      val (got, nRead, nTotal) = ctx.op(ctx.tracer("lookup.point") {
        val (df, r, t) = st.pendingPointLookup(emails)
        (rowSet(df), r, t)
      })
      val dt = System.nanoTime() - t0
      ctx.gate(got == modelSet(known.filterNot(_.uploaded)),
        s"pendingPointLookup(${emails.mkString(",")}) returned ${got.size} rows")
      if (ctx.tracer.on) {
        ctx.notes.pointMs += dt / 1e6
        ctx.notes.filesRead += nRead
        ctx.notes.filesTotal += nTotal
      }
      dt
    } else {
      val inList = emails.map(e => s"'$e'").mkString(", ")
      val (got, planMs) = ctx.op(ctx.tracer("lookup.sql") {
        val df = spark.sql(s"SELECT ${RowColumns.mkString(", ")} " +
          s"FROM graft_store.`${st.dir}` WHERE email IN ($inList)")
        val rows = rowSet(df.collect())
        val phases = df.queryExecution.tracker.phases
        (rows, Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs.toDouble).sum)
      })
      val dt = System.nanoTime() - t0
      ctx.gate(got == modelSet(known), s"SQL lookup (${emails.mkString(",")}) returned ${got.size} rows")
      if (ctx.tracer.on) {
        ctx.notes.sqlMs += dt / 1e6
        ctx.notes.sqlPlanMs += planMs
      }
      dt
    }
  }

  def step(i: Int): Step = {
    val (waveNs, changed) = runWave()
    val readNs = (0 until reads).map(read).sum
    Step(waveNs + readNs, changed)
  }

  def rowLatencies: Seq[(Double, Long)] = latencies.toSeq

  def check(): Unit = checkTable(ctx, st, table, "upsert_lookup")

  def store: ObservedStore = st
  def tracedInputs: Seq[Path] = traced.toSeq
}
