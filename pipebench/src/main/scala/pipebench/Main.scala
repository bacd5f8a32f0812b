package pipebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Pipeline benchmark entry point.
  *
  * {{{
  *   pipebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  [--mix default|light]
  * }}}
  *
  * Runs from the repository root; everything it writes goes under
  * `pipebench/work/` (deleted on exit) and `pipebench/out/` (spans).
  * The last stdout line is the result object; the exit code is 1 when a
  * correctness gate failed.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      mix: Mix = Mix.Default)

  /** Sizes per workload, chosen so that one run fits the benchmark's time
    * budget on a 4-core machine (see BENCHMARK.json).
    */
  def workload(name: String, ctx: Ctx): Workload = name match {
    case "trickle_drain" => new TrickleDrain(ctx, fileRows = 500)
    case "upsert_lookup" => new UpsertLookup(ctx, baseRows = 10000, waveRows = 1000, reads = 2)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val Workloads = Seq("trickle_drain", "upsert_lookup")

  /** Traced runs alternate untraced and traced steps, a fixed number of
    * each, so per-layer counts repeat exactly and the overhead is an
    * in-run difference.
    */
  val TracedPairs = 1

  /** Steps an untraced run makes even when its seconds are spent first.
    * Trickle makes four: its step walls vary by 10-20% within a run, and
    * the rows its drain acks (set by the seed's 503 schedule) are then a
    * smaller share of the row latencies.
    */
  val MinSteps = Map("trickle_drain" -> 4, "upsert_lookup" -> 2)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(m.getOrElse("workload", ""), m.get("seed").map(_.toLong).getOrElse(1L),
      m.get("seconds").map(_.toInt).getOrElse(10), m.get("trace").contains("1"),
      Mix.Named.getOrElse(m.getOrElse("mix", "default"),
        throw new IllegalArgumentException(
          s"--mix must be one of ${Mix.Named.keys.toSeq.sorted.mkString(", ")}")))
    require(Workloads.contains(o.workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.catalog.graft_store", "graft.sources.GraftStoreCatalog")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = try parse(args) catch {
      case e: Exception =>
        System.err.println(s"pipebench: ${e.getMessage}")
        sys.exit(2)
    }
    val runId = s"${opts.workload}-s${opts.seed}-t${if (opts.trace) 1 else 0}-" +
      ProcessHandle.current().pid()
    val work = Paths.get("pipebench", "work", runId).toAbsolutePath
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = session(work)
    val code =
      try run(spark, opts, runId, work, t0)
      finally {
        spark.stop()
        Ctx.deleteTree(work)
      }
    sys.exit(code)
  }

  def run(spark: SparkSession, opts: Opts, runId: String, work: Path, t0: Long): Int = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, runId)
    val ledger = new JobLedger
    val streams = new StreamLedger
    if (opts.trace) {
      sc.addSparkListener(ledger)
      spark.streams.addListener(streams)
    }
    val ctx = new Ctx(spark, work, opts.seed, opts.mix, tracer)
    val wl = workload(opts.workload, ctx)

    def result(metrics: Seq[(String, Double, String)]): Int = {
      val ok = ctx.failures.isEmpty
      ctx.failures.foreach(f => System.err.println(s"pipebench: GATE FAILED: $f"))
      val ms = metrics.map { case (n, v, u) =>
        s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
      }.mkString(", ")
      println(s"""{"correct": $ok, "attempted": ${math.max(1L, ctx.attempted)}, """ +
        s""""failed": ${ctx.failed}, "metrics": {$ms}}""")
      if (ok) 0 else 1
    }

    try {
      // Set-up happens once: it is dominated by the fresh JVM's JIT warm-up,
      // and a second round would add 6-12 s to every run.
      val sessionS = (System.nanoTime() - t0) / 1e9
      val setupStart = System.nanoTime()
      wl.setup()
      val setupS = (System.nanoTime() - setupStart) / 1e9
      println(f"pipebench: ${opts.workload} seed ${opts.seed}: session $sessionS%.2f s, " +
        f"setup $setupS%.2f s")

      val steps = mutable.ArrayBuffer[(Step, Boolean)]()
      val crmDelta = new CrmDelta(wl.stub)
      val runStart = System.nanoTime()
      var i = 0
      def more: Boolean =
        if (opts.trace) i < 2 * TracedPairs
        else i < MinSteps(opts.workload) || System.nanoTime() - runStart < opts.seconds * 1000000000L
      while (more) {
        val traced = opts.trace && i % 2 == 1
        tracer.on = traced
        ledger.on = traced
        if (traced) crmDelta.begin()
        val s = tracer("step")(wl.step(i))
        if (traced) crmDelta.end()
        tracer.on = false
        ledger.on = false
        steps += ((s, traced))
        i += 1
      }
      val loopS = (System.nanoTime() - runStart) / 1e9
      tracer.on = opts.trace
      ledger.on = opts.trace
      if (opts.trace) crmDelta.begin()
      val finishStart = System.nanoTime()
      val finishRows = tracer("finish")(wl.finish())
      val finishS = (System.nanoTime() - finishStart) / 1e9
      if (opts.trace) crmDelta.end()
      tracer.on = false
      ledger.on = false
      val oldGenMb = OldGen.liveMb()
      wl.check()

      // Throughput is taken over the steps only. The finish (trickle's
      // drain) makes two to five polls, a number the seed's 503 schedule
      // sets, so it would move the figure from seed to seed; its time is
      // the per-layer `upload.drain_s`, and its rows' waits are in the
      // row latencies.
      val stepRows = steps.map(_._1.rows).sum
      val walls = steps.map(_._1.wallNs / 1e9).toSeq
      println(f"pipebench: ${steps.size} steps in $loopS%.2f s, step walls " +
        walls.map(w => f"$w%.2f").mkString(" ") + f" s, $stepRows rows; finish $finishS%.2f s, " +
        s"$finishRows rows")
      val lat = wl.rowLatencies
      ctx.gate(lat.nonEmpty, "no row completed")
      def latency(f: Seq[(Double, Long)] => Double) = if (lat.isEmpty) 0.0 else f(lat)
      if (!opts.trace) {
        result(Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", Stats.median(walls), "s"),
          ("rows_per_s", stepRows / loopS, "1/s"),
          ("row_latency_mean_s", latency(Stats.weightedMean), "s")))
      } else {
        org.apache.spark.pipebench.Bus.drain(sc)
        val layers = new Layers(ctx, wl, tracer, ledger.attribute(tracer.spans.toSeq),
          streams.drainAll(), crmDelta)
        val overhead = Stats.median(steps.filter(_._2).map(_._1.wallNs / 1e9).toSeq) -
          Stats.median(steps.filterNot(_._2).map(_._1.wallNs / 1e9).toSeq)
        val metrics = layers.metrics() ++ Seq(
          ("rows.latency_p50_s", latency(Stats.weightedPercentile(_, 0.5)), "s"),
          ("rows.latency_p95_s", latency(Stats.weightedPercentile(_, 0.95)), "s"),
          ("upload.drain_s", finishS, "s"),
          ("jvm.old_gen_live_mb", oldGenMb, "MB"),
          ("trace.overhead_s", overhead, "s"))
        val out = Files.createDirectories(Paths.get("pipebench", "out", runId))
        tracer.writeJsonl(out.resolve("spans.jsonl"))
        val series =
          s"""{"upload.pending_per_cycle": [${ctx.notes.pendingPerCycle.mkString(", ")}], """ +
          s""""upload.acked_per_cycle": [${ctx.notes.ackedPerCycle.mkString(", ")}], """ +
          s""""reference_readme_pending_per_cycle": [5, 10, 15, 31, 146]}"""
        Files.write(out.resolve("series.json"), series.getBytes(StandardCharsets.UTF_8))
        println(s"pipebench: spans and series in $out")
        println(s"pipebench: upload.pending_per_cycle ${ctx.notes.pendingPerCycle.mkString(",")}" +
          " (reference README trace: 5,10,15,31,146)")
        layers.ranking().foreach(l => println(s"pipebench: $l"))
        result(metrics)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.failures += s"run aborted: $e"
        ctx.failed += 1
        ctx.attempted += 1
        println(s"""{"correct": false, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {}}""")
        1
    }
  }
}

/** Old-generation occupancy right after a full collection, in MB: what
  * the pipeline retains once the timed loop has ended (the store's state,
  * caches, anything a call failed to release).
  */
object OldGen {
  def liveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}

/** CRM stub counters summed over the traced steps. Connections are those
  * that carried a POST during a traced step; kept-alive connections opened
  * earlier count again in each step that uses them.
  */
final class CrmDelta(stub: Option[CrmStub]) {
  private var at = Array.fill(4)(0L)
  private val sum = Array.fill(4)(0L)
  var connections = 0L
  private def now(s: CrmStub): Array[Long] =
    Array(s.posts.get, s.status201.get, s.status503.get, s.statusOther.get)
  def begin(): Unit = stub.foreach(s => at = now(s))
  def end(): Unit = stub.foreach { s =>
    val n = now(s)
    n.indices.foreach(i => sum(i) += n(i) - at(i))
    connections += s.connectionsSince(at(0))
  }
  def posts: Long = sum(0)
  def created: Long = sum(1)
  def unavailable: Long = sum(2)
  def other: Long = sum(3)
}
