package pipebench

import java.nio.file.Paths

import graft.pipeline.Ingest

/** Per-layer metrics of a traced run, over its traced segment: the traced
  * steps plus the timed finish. Each layer is read at the boundary where
  * the benchmark calls into it; metrics of a layer a workload does not use
  * read 0.
  */
final class Layers(ctx: Ctx, wl: Workload, tracer: Tracer, jobs: Seq[JobRec],
    progress: Seq[StreamLedger.Progress], crm: CrmDelta) {

  private val spans = tracer.spans.toSeq
  private val jobsBySpan: Map[Long, Seq[JobRec]] = jobs.groupBy(_.span)
  private def named(n: String*): Seq[Span] = spans.filter(s => n.contains(s.name))
  private def ownJobs(s: Span): Seq[JobRec] = jobsBySpan.getOrElse(s.id, Nil)
  private def allJobs(s: Span): Seq[JobRec] =
    (s +: tracer.descendants(s)).flatMap(ownJobs)
  private def jobNs(j: JobRec): Long = math.max(0L, j.endNs - j.submitNs)
  private def secs(ns: Double): Double = ns / 1e9
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def p90(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.percentile(xs, 0.9)
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  private val commits = named(ObservedStore.CommitSpans.toSeq: _*)
  private val uploads = named("upload.pollOnce", "upload.drain")

  /** `Labeled` job descriptions of the store, by phase metric name. */
  private val Phases = Seq(
    "insert_classify" -> "store: insert classify",
    "stage_data" -> "store: stage data",
    "stage_changes" -> "store: stage changes",
    "stage_stats" -> "store: stage stats",
    "ack_preimage" -> "store: ack preimage",
    "merge_classify" -> "store: merge classify",
    "merge_counts" -> "store: merge counts",
    "merge_preimage" -> "store: merge preimage")

  /** A standalone noop write of `Ingest.validate(Ingest.readCsv(files))`
    * over the traced steps' input files, timed, with its task count and the
    * rows it read and quarantined by reason.
    */
  private def ingestScan(): Seq[(String, Double, String)] = {
    val paths = wl.tracedInputs.map(_.toString)
    val spark = ctx.spark
    val scan =
      if (paths.isEmpty) None
      else {
        val ledger = new JobLedger
        spark.sparkContext.addSparkListener(ledger)
        ledger.on = true
        val t0 = System.nanoTime()
        val (good, bad) = Ingest.validate(Ingest.readCsv(spark, paths, header = true))
        good.write.format("noop").mode("overwrite").save()
        val scanS = (System.nanoTime() - t0) / 1e9
        ledger.on = false
        org.apache.spark.pipebench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(ledger)
        val tasks = ledger.attribute(Nil).map(_.tasks).sum
        Some((scanS, good.count(), Workloads.reasons(bad), tasks))
      }
    val q = scan.map(_._3).getOrElse(Model.Reasons.map(_ -> 0L).toMap)
    Seq(("ingest.scan_validate_s", scan.map(_._1).getOrElse(0.0), "s"),
      ("ingest.rows_read", scan.map(s => s._2 + q.values.sum).getOrElse(0L).toDouble, "count")) ++
      Model.Reasons.map(r => (s"ingest.quarantined.$r", q(r).toDouble, "count")) :+
      (("ingest.tasks", scan.map(_._4).getOrElse(0L).toDouble, "count"))
  }

  private def storeMetrics(): Seq[(String, Double, String)] = {
    val n = commits.size.toDouble
    val cj = commits.map(c => c -> allJobs(c))
    val driver = cj.map { case (c, js) =>
      c.durNs - Stats.unionLength(js.map(j => (math.max(j.submitNs, c.startNs),
        math.min(j.endNs, c.endNs))))
    }
    val commitJobs = cj.flatMap(_._2)
    val byPhase = commitJobs.groupBy(j => Phases.find(_._2 == j.desc).map(_._1)
      .getOrElse("unlabeled"))
    val st = wl.store
    val dir = Paths.get(st.dir)
    val pendingScan = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      st.onPending = () => ()
      st.pending().count()
      (System.nanoTime() - t0) / 1e9
    }
    Seq(("store.commits", n, "count"),
      ("store.commit_p50_s", med(commits.map(c => secs(c.durNs.toDouble))), "s"),
      ("store.jobs_per_commit", ratio(commitJobs.size, n), "count"),
      ("store.stages_per_commit", ratio(commitJobs.map(_.stagesRun).sum, n), "count"),
      ("store.tasks_per_commit", ratio(commitJobs.map(_.tasks).sum.toDouble, n), "count"),
      ("store.driver_s_per_commit", ratio(secs(driver.sum.toDouble), n), "s")) ++
      (Phases.map(_._1) :+ "unlabeled").map(p =>
        (s"store.phase.${p}_s", secs(byPhase.getOrElse(p, Nil).map(jobNs).sum.toDouble), "s")) ++
      Seq(("store.insert_survivor_ratio", ratio(ctx.notes.inserted, ctx.notes.validOffered), "ratio"),
        ("store.bytes_stored_per_input_byte",
          ratio(Ctx.treeBytes(dir).toDouble, ctx.notes.inputBytes.toDouble), "ratio"),
        ("store.live_files", Ctx.liveDataFiles(dir).toDouble, "count"),
        ("store.pending_scan_s", Stats.median(pendingScan), "s"),
        ("store.lookup_files_read_ratio",
          ratio(ctx.notes.filesRead.toDouble, ctx.notes.filesTotal.toDouble), "ratio"))
  }

  private def sinkMetrics(): Seq[(String, Double, String)] = {
    val self = uploads.map(u => Stats.selfTime(u.startNs, u.endNs,
      tracer.children(u).map(c => (c.startNs, c.endNs))))
    val stub = wl.stub
    Seq(("sink.upload_s", secs(self.sum.toDouble), "s"),
      ("sink.tasks", uploads.flatMap(ownJobs).map(_.tasks).sum.toDouble, "count"),
      ("crm.posts", crm.posts.toDouble, "count"),
      ("crm.status_201", crm.created.toDouble, "count"),
      ("crm.status_503", crm.unavailable.toDouble, "count"),
      ("crm.status_other", crm.other.toDouble, "count"),
      ("crm.connections", crm.connections.toDouble, "count"),
      ("crm.posts_per_connection", ratio(crm.posts.toDouble, crm.connections.toDouble), "ratio"),
      ("crm.inflight_peak", stub.map(_.inflightPeak.get.toDouble).getOrElse(0.0), "count"),
      ("crm.posts_per_row", ratio(crm.posts.toDouble, crm.created.toDouble), "ratio"),
      ("crm.duplicate_deliveries", stub.map(_.duplicateDeliveries.toDouble).getOrElse(0.0), "count"))
  }

  private def uploadMetrics(): Seq[(String, Double, String)] = {
    val cycles = uploads.flatMap(u => tracer.children(u).filter(_.name == "store.pending"))
    val acks = uploads.flatMap(u => tracer.children(u).filter(_.name == "store.markUploaded"))
    Seq(("upload.cycles", cycles.size.toDouble, "count"),
      ("upload.empty_polls", (cycles.size - acks.size).toDouble, "count"),
      ("upload.backoff_sleep_s", ctx.notes.backoffS, "s"))
  }

  private def streamMetrics(): Seq[(String, Double, String)] = {
    // Progress of the traced waves only: batches that started inside a
    // traced startUpsert span.
    val waves = named("stream.startUpsert")
    val traced = progress.filter(p => waves.exists(w =>
      w.startNs / 1000000L - 1 <= p.startMs && p.startMs <= w.endNs / 1000000L))
    def d(k: String) = traced.flatMap(_.durations.get(k)).map(_.toDouble)
    val firstBatch = ctx.notes.streamStartMs.flatMap { t =>
      traced.map(_.startMs).filter(_ >= t - 1).minOption.map(b => (b - t) / 1e3)
    }
    Seq(("stream.start_to_first_batch_s", med(firstBatch.toSeq), "s"),
      ("stream.batches", traced.size.toDouble, "count"),
      ("stream.trigger_p50_ms", med(d("triggerExecution")), "ms"),
      ("stream.planning_ms", med(d("queryPlanning")), "ms"),
      ("stream.wal_commit_ms", med(d("walCommit")), "ms"),
      ("stream.add_batch_ms", med(d("addBatch")), "ms"),
      ("stream.wave_p50_s", med(ctx.notes.waveS.toSeq), "s"))
  }

  private def lookupMetrics(): Seq[(String, Double, String)] = {
    val sql = named("lookup.sql")
    val exec = ctx.notes.sqlMs.zip(ctx.notes.sqlPlanMs).map { case (t, p) => t - p }
    Seq(("catalog.lookup_plan_ms", med(ctx.notes.sqlPlanMs.toSeq), "ms"),
      ("catalog.lookup_exec_ms", med(exec.toSeq), "ms"),
      ("catalog.lookup_jobs", ratio(sql.flatMap(allJobs).size.toDouble, sql.size.toDouble), "count"),
      ("lookup.point_p50_ms", med(ctx.notes.pointMs.toSeq), "ms"),
      ("lookup.point_p90_ms", p90(ctx.notes.pointMs.toSeq), "ms"),
      ("lookup.sql_p50_ms", med(ctx.notes.sqlMs.toSeq), "ms"),
      ("lookup.sql_p90_ms", p90(ctx.notes.sqlMs.toSeq), "ms"))
  }

  private def sparkMetrics(): Seq[(String, Double, String)] = {
    val js = jobs.filter(_.span != 0)
    Seq(("spark.jobs", js.size.toDouble, "count"),
      ("spark.tasks", js.map(_.tasks).sum.toDouble, "count"),
      ("spark.task_run_s", js.map(_.runMs).sum / 1e3, "s"),
      ("spark.task_cpu_s", js.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.gc_s", js.map(_.gcMs).sum / 1e3, "s"),
      ("spark.sched_delay_s", js.map(_.schedMs).sum / 1e3, "s"),
      ("spark.shuffle_write_bytes", js.map(_.shuffleWriteBytes).sum.toDouble, "bytes"),
      ("spark.spill_bytes", js.map(_.spillBytes).sum.toDouble, "bytes"))
  }

  def metrics(): Seq[(String, Double, String)] = {
    // Everything the traced segment recorded is read before the standalone
    // scans below add spans of their own.
    val m = storeMetrics() ++ sinkMetrics() ++ uploadMetrics() ++ streamMetrics() ++
      lookupMetrics() ++ sparkMetrics()
    ingestScan() ++ m
  }

  /** Spans by total self time, with their Spark job time, for the log. */
  def ranking(): Seq[String] =
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val self = ss.map(s => Stats.selfTime(s.startNs, s.endNs,
        tracer.children(s).map(c => (c.startNs, c.endNs)))).sum
      val jobTime = ss.flatMap(ownJobs).map(jobNs).sum
      (name, ss.size, self, jobTime)
    }.sortBy(-_._3).map { case (name, n, self, jt) =>
      f"span $name%-28s n=$n%3d self ${self / 1e9}%8.3f s, own jobs ${jt / 1e9}%8.3f s"
    }
}
