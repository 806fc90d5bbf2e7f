package perfbench

/** Turns operation outcomes into the benchmark's metrics, as
  * name → (value, unit). */
object Metrics {
  type M = Map[String, (Double, String)]
  private val MiB = 1048576.0

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (the "inclusive" method). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Timing metrics use the operations that passed; if none did, all of
    * them, so a broken run still reports (with `correct: false`). */
  private def timed(ops: Seq[Main.Outcome]): Seq[Main.Outcome] = {
    val ok = ops.filter(_.error.isEmpty)
    if (ok.nonEmpty) ok else ops
  }

  /** Median wall time of an operation. */
  def opMs(ops: Seq[Main.Outcome]): Double = median(timed(ops).map(_.wallNs / 1e6))

  /** The gated metrics. `op_rel` is the median operation time over the
    * median time of the reference jobs run before the operations (`refMs`,
    * see [[ReferenceJob]]): the operation's cost in units of a fixed Spark
    * job timed on the same host, seconds apart. */
  def endToEnd(setup: Map[String, Double], ops: Seq[Main.Outcome], refMs: Seq[Double]): M = {
    val xs = timed(ops)
    Map(
      "setup_s" -> (setup("setup_s"), "s"),
      "op_rel" -> (opMs(ops) / median(refMs), "ratio"),
      "stored_mb" -> (mean(xs.map(_.batch.storedB / MiB)), "MB"),
      "io_files" -> (mean(xs.map(o => o.batch.execs.map(e => e.scanFiles + e.writeFiles).sum
        .toDouble)), "count"),
      "io_mb" -> (mean(xs.map(o => o.batch.execs.map(e => e.scanBytes + e.writeBytes).sum
        / MiB)), "MB"))
  }

  /** Per-operation layer figures, from one traced operation. */
  private def layerFigures(w: Workload, o: Main.Outcome): Map[String, Double] = {
    val b = o.batch
    val children = o.spans.groupBy(_.parent)
    val root = o.spans.find(_.kind == "op")
    val covered = o.spans.filter(s => s.kind == "job" || s.kind == "untimed")
    val callSelf = o.spans.filter(_.kind == "call")
      .map(c => Intervals.selfNs(c, children.getOrElse(c.id, Nil))).sum
    val gap = root.map(r => r.durNs -
      Intervals.coveredNs(covered.map(j => (j.startNs, j.endNs)), r.startNs, r.endNs)).getOrElse(0L)
    val rawMb = o.checked.flatMap(_.extras.get("raw_mb")).getOrElse(0.0)
    val tsvMb = b.execs.map(_.tsvBytes).sum / MiB
    Map(
      "call.self_s" -> callSelf / 1e9,
      "spark.actions" -> b.execs.size.toDouble,
      "spark.jobs" -> b.jobs.size.toDouble,
      "spark.stages" -> b.stages.size.toDouble,
      "spark.tasks" -> b.stages.map(_.tasks).sum.toDouble,
      "spark.plan_ms" -> b.execs.map(_.planMs).sum,
      "spark.executor_run_s" -> b.stages.map(_.runMs).sum / 1e3,
      "spark.executor_cpu_s" -> b.stages.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> b.stages.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> b.stages.map(_.shuffleWriteB).sum / MiB,
      "spark.shuffle_read_mb" -> b.stages.map(_.shuffleReadB).sum / MiB,
      "spark.spill_mb" -> b.stages.map(_.spillB).sum / MiB,
      "spark.driver_gap_s" -> gap / 1e9,
      "sources.scan.files_read" -> b.execs.map(_.scanFiles).sum.toDouble,
      "sources.scan.mb" -> b.execs.map(_.scanBytes).sum / MiB,
      "sources.sink.files" -> b.execs.map(_.writeFiles).sum.toDouble,
      "sources.sink.mb" -> b.execs.map(_.writeBytes).sum / MiB,
      "sources.tsv.read_mb" -> tsvMb,
      "sources.tsv.read_amp" -> (if (rawMb > 0) tsvMb / rawMb else 0.0),
      "quality.rows_scanned" -> (if (w != ImdbPipeline) 0.0
        else b.execs.filter(_.writePath.isEmpty).map(_.scanRows).sum.toDouble),
      "storage.peak_mb" -> b.peakStorageB / MiB,
      "operators.materialize.count" -> b.rddCount.toDouble,
      "operators.materialize.ser_mb" -> b.serB / MiB,
      "operators.materialize.deser_mb" -> b.deserB / MiB,
      "operators.materialize.disk_mb" -> b.diskB / MiB)
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms" else if (k.endsWith("_s")) "s"
    else if (k.endsWith("mb")) "MB" else if (k.endsWith("_amp")) "ratio" else "count"

  /** The per-layer metrics every workload reports: set-up phases and
    * per-operation layer figures (mean over the traced operations). */
  def perLayer(w: Workload, setup: Map[String, Double], ops: Seq[Main.Outcome]): M = {
    val phases = Seq("session.build_s", "session.warmup_s", "fixtures.gen_s", "setup.warm_iter_s")
      .map(k => k -> (setup(k), "s"))
    val figs = timed(ops).map(layerFigures(w, _))
    val layers = figs.head.keys.map(k => k -> (mean(figs.map(_(k))), unitOf(k)))
    (phases ++ layers).toMap
  }

  /** Figures that only mean something on one workload, under that
    * workload's own names; printed and kept in the artifact. */
  def workloadEndToEnd(w: Workload, ops: Seq[Main.Outcome]): M = {
    val xs = timed(ops)
    val ms = xs.map(_.wallNs / 1e6)
    def extra(k: String) = median(xs.map(_.checked.flatMap(_.extras.get(k)).getOrElse(0.0)))
    Map("op_ms" -> (median(ms), "ms")) ++ (w match {
      case ImdbPipeline => Map("pipeline_s" -> (median(ms) / 1e3, "s"),
        "lake_files" -> (extra("lake_files"), "count"), "lake_mb" -> (extra("lake_mb"), "MB"))
      case QueryMix => Map("query_p50_ms" -> (median(ms), "ms"),
        "query_p90_ms" -> (percentile(ms, 90), "ms"), "query_samples" -> (ms.size.toDouble, "count"))
      case OperatorPass => Map("operator_pass_s" -> (median(ms) / 1e3, "s"))
      case CorpusDedup => Map("curation_s" -> (median(ms) / 1e3, "s"))
      case GraphIterate => Map("graph_s" -> (median(ms) / 1e3, "s"))
    })
  }

  /** Per-layer figures keyed by output or query, from the traced run. */
  def workloadLayers(w: Workload, ops: Seq[Main.Outcome]): M = {
    val xs = timed(ops)
    w match {
      case ImdbPipeline =>
        val perOp = xs.map { o =>
          val dur = o.batch.sqls.map(q => q.id -> (q.endMs - q.startMs) / 1e3).toMap
          val byPath = o.batch.execs.map(e => WriteTargets.classify(e.writePath) -> dur.getOrElse(e.id, 0.0))
          val children = o.spans.groupBy(_.parent)
          val runner = o.spans.filter(_.name == "pipeline.Runner.run")
            .map(c => Intervals.selfNs(c, children.getOrElse(c.id, Nil))).sum / 1e9
          byPath.groupMapReduce(_._1)(_._2)(_ + _) ++ Map(
            "pipeline.runner.self_s" -> runner,
            "pipeline.actions" -> o.batch.execs.size.toDouble,
            "sources.sink.write_s" -> byPath.filter(_._1 != "quality.gates_s").map(_._2).sum)
        }
        perOp.flatMap(_.keys).distinct.map(k =>
          k -> (median(perOp.map(_.getOrElse(k, 0.0))), unitOf(k))).toMap
      case QueryMix => xs.groupBy(_.name).map { case (n, os) =>
        s"queries.${n}_ms" -> (median(os.map(_.wallNs / 1e6)), "ms") }
      case _ => xs.flatMap(_.spans).filter(_.kind == "call").groupBy(_.name).map {
        case (n, ss) => s"${n}_s" -> (median(ss.map(_.durNs / 1e9)), "s") }
    }
  }
}

/** Which pipeline output a write action published. */
object WriteTargets {
  private val Targets = Seq(
    "analytics_movie_facts_v2" -> "analytics.movie_facts.write_s",
    "analytics_episode_facts_v2" -> "analytics.episode_facts.write_s",
    "series_season_summary_v2" -> "analytics.season_summary.write_s",
    "analytics_quality" -> "analytics.dq.write_s",
    "marts_" -> "analytics.marts.write_s")

  /** The metric a write to `path` counts towards; reads (the smoke count,
    * GE gates and dbt probes) count towards the quality gates. */
  def classify(path: String): String =
    if (path.isEmpty) "quality.gates_s"
    else Targets.collectFirst { case (k, m) if path.contains(k) => m }.getOrElse("sources.sink.other_s")
}
