package graft.cdcbench

import scala.jdk.CollectionConverters._

/** Turns a finished run into the result object: end-to-end metrics from
  * the benchmark's own timers, per-layer metrics from the trace. */
object Metrics {
  private val MB = 1024.0 * 1024.0
  private val Cores = 4

  def endToEnd(run: Run, workload: String, result: Result): Seq[(String, Double, String)] = {
    val fresh = run.samplesOf("freshness_s")
    def read(kind: String, p: Double) = Stats.q(run.samplesOf(s"read_$kind"), p)
    Seq(
      ("setup_s", run.sessionSec + run.setup.values.sum, "s"),
      ("freshness_p50_s", Stats.q(fresh, 0.5), "s"),
      ("freshness_p90_s", Stats.q(fresh, 0.9), "s"),
      ("catchup_events_per_s",
        if (workload == "backfill") Stats.median(run.samplesOf("catchup_events_per_s"))
        else run.count("events") / run.count("busy_s"), "1/s"),
      // under 100 samples a run: medians only, no p90
      ("read_point_p50_s", read("point", 0.5), "s"),
      ("read_scan_p50_s", read("scan", 0.5), "s"),
      ("read_changes_p50_s", read("changes", 0.5), "s"),
      ("reads_per_s", run.count("reads") / run.count("read_window_s"), "1/s"),
      ("ok_share", 1.0 - run.failed.get.toDouble / run.attempted.get, "ratio"),
      ("replica_bytes_per_binlog_byte",
        result.stateBytes / run.count("binlog_bytes"), "ratio"),
      ("peak_rss_mb", Jvm.peakRssMb(), "MB"))
  }

  def perLayer(run: Run, workload: String, result: Result): Seq[(String, Double, String)] = {
    val tr = run.trace
    val spans = tr.all
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(s: Span): Iterator[Span] =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).flatten
    // the measured window: no set-up spans, no post-window probe
    val measured = spans.filter(s => !ancestors(s).exists(p =>
      p.name == "probe" || p.name.startsWith("setup.")) &&
      !s.name.startsWith("setup.") && s.name != "probe")
    def named(n: String) = measured.filter(_.name == n)
    val passes = named("pass")
    val applies = named("apply")
    val nPasses = math.max(1, passes.size)
    val triggers = applies.flatMap(tr.triggersIn)
    def trig(k: String) = Stats.mean(triggers.map(_.durMs.getOrElse(k, 0L).toDouble))
    val applyJobs = applies.flatMap(tr.jobsOf)
    val (compactJobs, passJobs) = applyJobs.partition(_.compaction)
    // side actions: jobs that move next to no rows (1-row collects, probes)
    def recs(j: Job) = tr.stageSum(Seq(j))(s => s.inRecs + s.shuffleRecs)
    val volumeJobs = passJobs.filter(recs(_) >= 1000)
    // wall time of the apply calls covered by these jobs (jobs overlap)
    def jobTime(js: Seq[Job]) = applies.map(a =>
      tr.covered(a.start, a.end, js.filter(_.span == a.id).map(j => (j.start, j.end)))).sum
    val events = run.count("events")

    // decode: the shuffle-map stages of the staging jobs that read binlogs
    val stagingSpans = named("staging")
    val decodeStages = stagingSpans.flatMap(tr.jobsOf)
      .flatMap(_.stages).distinct.flatMap(i => Option(tr.stages.get(i)))
      .filter(_.shuffleWrite > 0)
    val decodeS = stagingSpans.map(s => tr.covered(s.start, s.end,
      decodeStages.map(d => (d.start, d.end)))).sum
    val indexS = named("sources.index").map(_.dur).sum
    val decodedMb = run.count("binlog_bytes") / MB *
      (if (workload == "backfill") passes.size else 1)

    // reads: every read span outside a sync pass and outside set-up
    val reads = spans.filter(s => s.name.startsWith("read.") &&
      !ancestors(s).exists(p => p.name == "pass" || p.name.startsWith("setup.")))
    val readJobs = reads.flatMap(tr.jobsOf)
    val nReads = math.max(1, reads.size)

    // layer shares of the busy time in the measured window; within the
    // apply calls, time under a compaction job counts as compaction, the
    // rest under a volume job as collapse, and the remainder (driver gap
    // and side actions) as fixed per-pass cost
    val compaction = jobTime(compactJobs)
    val collapse = jobTime(compactJobs ++ volumeJobs) - compaction
    val fixed = applies.map(_.dur).sum - compaction - collapse
    val staging = stagingSpans.map(_.dur).sum - decodeS
    val status = named("status").map(_.dur).sum
    val read = measured.filter(_.name.startsWith("read.")).map(_.dur).sum
    val sources = indexS + decodeS
    // sync passes plus the reads outside them
    val busy = passes.map(_.dur).sum + measured.filter(reads.contains).map(_.dur).sum
    val residue = busy - (fixed + collapse + compaction + staging + status +
      read + sources)
    def share(x: Double) = if (busy > 0) x / busy else 0.0

    val dirs = result.stateDirs
    // a layer the workload never enters reads 0
    def orZero(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => (n, if (v.isNaN) 0.0 else v, u) }
    orZero(Seq(
      ("apply.start_s", Stats.mean(applies.flatMap(a =>
        tr.triggersIn(a).map(_.start).minOption.map(t => (t - a.start) / 1e9))), "s"),
      ("apply.planning_ms", trig("queryPlanning"), "ms"),
      ("apply.wal_ms", trig("walCommit"), "ms"),
      ("apply.jobs_per_trigger", passJobs.size.toDouble / math.max(1, triggers.size), "count"),
      ("apply.driver_gap_s", applies.map(tr.driverGap).sum / nPasses, "s"),
      ("sources.index_s", indexS / nPasses, "s"),
      ("sources.decode_s", decodeS / nPasses, "s"),
      ("sources.events_per_s", if (decodeS > 0) events / decodeS else 0.0, "1/s"),
      ("sources.mb_per_s", if (decodeS > 0) decodedMb / decodeS else 0.0, "MB/s"),
      ("apply.addbatch_ms", trig("addBatch"), "ms"),
      ("apply.shuffle_mb", tr.stageSum(passJobs)(_.shuffleWrite) / MB / nPasses, "MB"),
      ("apply.task_cpu_s", tr.stageSum(applyJobs)(_.cpuNs) / 1e9 / nPasses, "s"),
      ("apply.core_util", tr.stageSum(applyJobs)(_.runMs) / 1e3 /
        math.max(1e-9, applies.map(_.dur).sum * Cores), "ratio"),
      ("apply.collapse_ratio", if (events > 0)
        tr.stageSum(volumeJobs)(_.outRecs) / events else 0.0, "ratio"),
      ("apply.held_rows", Stats.mean(run.samplesOf("apply.held_rows")), "count"),
      ("apply.compactions", compactJobs.map(_.span).distinct.size.toDouble, "count"),
      ("apply.compact_s", compaction /
        math.max(1, compactJobs.map(_.span).distinct.size), "s"),
      ("state.delta_epochs", dirs.map(Disk.deltaEpochs).sum.toDouble, "count"),
      ("state.files", dirs.map(Disk.dataFiles).sum.toDouble, "count"),
      ("state.mb", result.stateBytes / MB, "MB"),
      ("state.bytes_written_per_event", if (events > 0)
        tr.stageSum(applyJobs)(_.outBytes) / events else 0.0, "B"),
      ("read.files_opened", run.count("read.files_opened") / nReads, "count"),
      ("read.mb_scanned", tr.stageSum(readJobs)(_.inBytes) / MB / nReads, "MB"),
      ("read.rows_examined_per_returned", tr.stageSum(readJobs)(_.inRecs) /
        math.max(1.0, run.count("read.rows_returned")), "ratio"),
      ("read.jobs_per_read", readJobs.size.toDouble / nReads, "count"),
      ("read.driver_gap_s", Stats.mean(reads.map(tr.driverGap)), "s"),
      ("jvm.old_gen_peak_mb", Jvm.oldGenPeakMb(), "MB"),
      ("status.s", Stats.mean(named("status").map(_.dur)), "s"),
      ("status.lag_events", Stats.mean(run.samplesOf("status.lag_events")), "count"),
      ("setup.session_s", run.sessionSec, "s"),
      ("setup.render_s", run.setup.getOrElse("render", 0.0), "s"),
      ("setup.seed_state_s", run.setup.getOrElse("seed_state", 0.0), "s"),
      ("setup.warmup_s", run.setup.getOrElse("warmup", 0.0), "s"),
      ("share.fixed", share(fixed), "ratio"),
      ("share.sources", share(sources), "ratio"),
      ("share.collapse", share(collapse), "ratio"),
      ("share.compaction", share(compaction), "ratio"),
      ("share.staging", share(staging), "ratio"),
      ("share.status", share(status), "ratio"),
      ("share.read", share(read), "ratio"),
      ("share.residue", share(residue), "ratio"),
      ("gen.lateness_p90_s", Stats.q(run.samplesOf("gen.lateness_s"), 0.9), "s")))
  }

  private def block(ms: Seq[(String, Double, String)]): Json.Raw =
    Json.obj(ms.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*)

  def render(run: Run, workload: String, result: Result): String = {
    val e2e = endToEnd(run, workload, result)
    val metrics = if (run.trace.on) perLayer(run, workload, result) else e2e
    Json.obj(
      "correct" -> run.wrong.isEmpty,
      "attempted" -> run.attempted.get,
      "failed" -> run.failed.get,
      "metrics" -> block(metrics),
      "annotations" -> Json.obj(
        "workload" -> workload,
        "samples" -> Json.obj(Seq("freshness_s", "read_point", "read_scan",
          "read_changes", "catchup_events_per_s").map(n =>
          n -> run.samplesOf(n).size): _*),
        "counts" -> Json.obj(run.counts.asScala.toSeq.sortBy(_._1): _*),
        "setup_s" -> Json.obj(("session" -> run.sessionSec) +: run.setup.toSeq: _*),
        "heap_pool_peak_mb" -> Json.obj(Jvm.heapPoolPeaksMb(): _*),
        "gen_lateness_p90_s" -> Stats.q(run.samplesOf("gen.lateness_s"), 0.9),
        "pass_s" -> run.samplesOf("pass_s"),
        "end_to_end_traced" -> (if (run.trace.on) block(e2e) else null),
        "errors" -> run.errors.asScala.toSeq.take(10),
        "wrong" -> run.wrong.asScala.toSeq.take(10))).text
  }
}
