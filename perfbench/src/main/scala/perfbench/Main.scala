package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark harness. One JVM, one client thread:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --root DIR --result FILE [--record-goldens]
  *
  * Set-up is session build and warm-up, input generation (both repeated
  * [[SetupReps]] times, median taken), the lake build and the workload's
  * untimed warm-up rounds.
  * Then operations run in a closed loop for S seconds, each after a heap
  * collection and [[ReferenceJob]] runs that give the host's speed. With
  * `--trace 0` the end-to-end metrics are measured with tracing off; with `--trace 1`
  * the first half of the window is traced, giving the per-layer metrics,
  * and the tracing overhead is its op time minus the untraced half's.
  *
  * Every operation's outputs are checked: against the goldens of the seed
  * when there are some, otherwise against the warm-up round of the same
  * run, plus the invariants each workload derives from its generator. An
  * exception or a mismatch fails the operation, and a failed operation's
  * time is left out of the timing metrics.
  */
object Main {
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: File, result: File, recordGoldens: Boolean)

  final case class Outcome(name: String, wallNs: Long, refNs: Seq[Long], cpuNs: Long,
                           stealNs: Long, error: Option[String], checked: Option[Checked],
                           batch: Batch, spans: Seq[Span])

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(req("--workload"), req("--seed").toLong, req("--seconds").toDouble,
      req("--trace") == "1", new File(req("--root")), new File(req("--result")),
      args.contains("--record-goldens"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.byName(o.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${o.workload}; one of " +
        Workloads.all.map(_.name).mkString(", ")))
    val work = new File(o.root, s".perfbench/work/${w.name}-${o.seed}-${ProcessHandle.current().pid()}")
    // exit explicitly: a failure before the session stops would otherwise
    // leave Spark's threads holding the JVM open
    val ok = try { run(o, w, work); true }
    catch { case e: Throwable => e.printStackTrace(); false }
    finally Workloads.deleteTree(work)
    sys.exit(if (ok) 0 else 1)
  }

  private def sessionConf: Seq[(String, String)] = {
    val k = Runtime.getRuntime.availableProcessors.toString
    Seq("spark.master" -> s"local[$k]", "spark.sql.shuffle.partitions" -> k,
      "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true", graft.sources.Tables.nanosConf)
  }

  /** A session with the settings `graft.Bench` uses. */
  def buildSession(): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    sessionConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def spin(): Long = {
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x & 1023; i += 1 }
    acc
  }
  private def stream(a: Array[Long]): Long = {
    var s = 0L
    var r = 0
    while (r < 16) { var i = 0; while (i < a.length) { s += a(i); i += 1 }; r += 1 }
    s
  }
  // one untimed round first, so no probe times the JIT compiling the loops
  private lazy val probeCompiled: Long = spin() + stream(new Array[Long](1 << 16))

  /** A fixed probe on every processor at once: an arithmetic loop, then
    * 16 sequential reads of a 16 MB array. Its work never changes, so a
    * slower probe means cores or memory bandwidth were taken by something
    * else (a busy neighbour can slow Spark through memory alone). It runs
    * before the first session and after the last one stops: in between,
    * the JVM's own compiler and collector threads compete with it and
    * would mark every run as contended. */
  def hostProbeMs(): Double = {
    probeCompiled
    val k = Runtime.getRuntime.availableProcessors
    val arrays = Seq.fill(k)(new Array[Long](2 << 20))
    val t0 = System.nanoTime()
    val threads = arrays.map(a => new Thread(() => { spin(); stream(a); () }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  private final class Session(val spark: SparkSession) {
    val probe = new Probe()
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    def stop(): Unit = { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
  }

  private def run(o: Opts, w: Workload, work: File): Unit = {
    val probes = mutable.ArrayBuffer(hostProbeMs())
    // recording replaces the seed's goldens, so it is not held to them
    val golden =
      if (o.recordGoldens) Map.empty[String, String] else Goldens.load(o.root, w.name, o.seed)
    val reference = mutable.LinkedHashMap.empty[String, String] ++= golden
    val outcomes = mutable.ArrayBuffer.empty[(String, Outcome)] // (phase, outcome)

    /** Runs and checks one operation. A timed one starts from a collected
      * heap, after [[ReferenceJob.Reps]] reference jobs; an untimed one
      * (warm-up) runs without either. */
    def runOp(s: Session, tracer: Tracer, op: Op, timed: Boolean): Outcome = {
      val sc = s.spark.sparkContext
      val ref =
        if (!timed) Nil
        else { System.gc(); Seq.fill(ReferenceJob.Reps)(ReferenceJob.run(s.spark, work)) }
      Probe.drain(sc); s.probe.reset()
      val c0 = HostClock.cpuNs(); val s0 = HostClock.stealNs()
      val t0 = System.nanoTime()
      tracer.takeUntimedNs()
      val res = scala.util.Try(tracer.span("op", op.name)(op.run(tracer)))
      val wall = System.nanoTime() - t0 - tracer.takeUntimedNs()
      val cpu = HostClock.cpuNs() - c0; val steal = HostClock.stealNs() - s0
      Probe.drain(sc)
      val batch = s.probe.take()
      // the check's own Spark work is not the operation's
      val checked = res.flatMap(c => scala.util.Try(c()))
      val mismatch = checked.toOption.toSeq.flatMap(_.outputs).collect {
        case (n, v) if reference.get(n).exists(_ != v.hex) =>
          s"$n: ${v.hex} != expected ${reference(n)}"
      }
      checked.foreach(_.outputs.foreach { case (n, v) => reference.getOrElseUpdate(n, v.hex) })
      val error = checked.failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
        .orElse(mismatch.headOption.map("output mismatch: " + _))
      error.foreach(e => System.err.println(s"[perfbench] ${op.name} FAILED: $e"))
      val traceSpans =
        if (!tracer.on) Nil
        else {
          val root = tracer.spans.last.trace
          tracer.spans.filter(_.trace == root).toSeq ++ tracer.listenerSpans(root, batch)
        }
      Outcome(op.name, wall, ref, cpu, steal, error, checked.toOption, batch, traceSpans)
    }

    // ── set-up ───────────────────────────────────────────────────────────
    // Session build, warm-up and input generation run SetupReps times (the
    // last session and inputs are kept); the lake build and the untimed
    // warm-up round, which pay the engine's first-run cost, run once.
    val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
    var session: Session = null
    val dir = new File(work, "inputs")
    for (rep <- 1 to SetupReps) {
      if (session != null) session.stop()
      Workloads.deleteTree(dir)
      val t0 = System.nanoTime()
      session = new Session(buildSession())
      val tBuild = seconds(t0)
      val t1 = System.nanoTime()
      session.spark.range(1000000).selectExpr("sum(id)").collect()
      val tWarm = seconds(t1)
      val t2 = System.nanoTime()
      w.generate(session.spark, dir, o.seed)
      setups += Map("session.build_s" -> tBuild, "session.warmup_s" -> tWarm,
        "fixtures.gen_s" -> seconds(t2), "rep_s" -> seconds(t0))
    }
    val t3 = System.nanoTime()
    w.build(session.spark, dir)
    val tLake = seconds(t3)
    val t4 = System.nanoTime()
    val warmTracer = new Tracer(session.spark.sparkContext, on = false)
    var nextRound = 0
    while (nextRound < w.warmupRounds) {
      w.round(session.spark, dir, o.seed, nextRound).foreach(op =>
        outcomes += (("warmup", runOp(session, warmTracer, op, timed = false))))
      nextRound += 1
    }
    // the reference job's own first runs are cold
    (1 to ReferenceJob.Reps).foreach(_ => ReferenceJob.run(session.spark, work))
    val tIter = seconds(t4)
    val setup = Map("setup_s" -> (Metrics.median(setups.map(_("rep_s")).toSeq) + tLake + tIter),
      "setup.lake_s" -> tLake, "setup.warm_iter_s" -> tIter) ++
      Seq("session.build_s", "session.warmup_s", "fixtures.gen_s").map(k =>
        k -> Metrics.median(setups.map(_(k)).toSeq))
    val fixtures = Provenance.fixtureMd5s(dir)

    if (o.recordGoldens) {
      val warm = outcomes.map(_._2)
      val bad = warm.flatMap(_.error)
      require(bad.isEmpty, s"warm-up failed, no goldens written: ${bad.mkString("; ")}")
      Goldens.record(o.root, w.name, o.seed,
        warm.toSeq.flatMap(_.checked.toSeq.flatMap(_.outputs)).map { case (n, v) => n -> v.hex })
      session.stop()
      return
    }

    // ── measurement ──────────────────────────────────────────────────────
    val heap = new HeapMeter()
    def window(secs: Double, traced: Boolean, phase: String): Seq[Outcome] = {
      session.probe.traced = traced
      val tracer = new Tracer(session.spark.sparkContext, traced)
      val out = mutable.ArrayBuffer.empty[Outcome]
      val t0 = System.nanoTime()
      do {
        w.round(session.spark, dir, o.seed, nextRound).foreach(op =>
          out += runOp(session, tracer, op, timed = true))
        nextRound += 1
      } while (seconds(t0) < secs)
      outcomes ++= out.map(phase -> _)
      out.toSeq
    }
    // a traced run times its traced half first: the later untraced half
    // runs warmer, so the overhead is overstated, never hidden
    val traced = if (o.trace) window(o.seconds / 2, traced = true, "traced") else Nil
    val untraced = window(if (o.trace) o.seconds / 2 else o.seconds, traced = false, "untraced")
    session.stop()
    probes += hostProbeMs()

    // ── metrics ──────────────────────────────────────────────────────────
    val refMs = untraced.flatMap(_.refNs).map(_ / 1e6)
    val e2e = Metrics.endToEnd(setup, untraced, refMs)
    val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
    val perLayer =
      if (!o.trace) Map.empty[String, (Double, String)]
      else {
        val untracedMs = Metrics.opMs(untraced)
        val overheadMs = Metrics.opMs(traced) - untracedMs
        detail ++= Metrics.workloadLayers(w, traced)
        Metrics.perLayer(w, setup, traced) ++ Map(
          "op.wall_ms" -> (untracedMs, "ms"),
          "op.ref_ms" -> (Metrics.median(refMs), "ms"),
          "trace.overhead_ms" -> (overheadMs, "ms"),
          "trace.overhead_pct" -> (100 * overheadMs / untracedMs, "%"),
          "host.probe_ms" -> (Metrics.median(probes.toSeq), "ms"),
          "jvm.heap_peak_mb" -> (heap.peakMb(), "MB"))
      }
    detail ++= Metrics.workloadEndToEnd(w, untraced)

    val all = outcomes.map(_._2)
    val attempted = all.size
    val failed = all.count(_.error.nonEmpty)
    val reported = if (o.trace) perLayer else e2e
    println(s"[perfbench] workload=${w.name} seed=${o.seed} trace=${if (o.trace) 1 else 0} " +
      s"ops=${untraced.size + traced.size} attempted=$attempted failed=$failed " +
      f"error_rate=${failed.toDouble / attempted}%.4f")
    (reported ++ detail).foreach { case (k, (v, u)) => println(f"[perfbench] $k%-40s $v%14.4f $u") }

    val provenance = Provenance.of(o.root, sessionConf, fixtures, probes.toSeq)
    val resultsDir = new File(o.root, ".perfbench/results")
    resultsDir.mkdirs()
    val stem = s"${w.name}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    if (o.trace) Files.writeString(Paths.get(resultsDir.getPath, s"$stem-spans.jsonl"),
      traced.flatMap(_.spans).map(s => Json.render(Map("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "kind" -> s.kind, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs))).mkString("\n") + "\n")
    Files.writeString(Paths.get(resultsDir.getPath, s"$stem.json"), Json.render(Map(
      "workload" -> w.name, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "attempted" -> attempted, "failed" -> failed,
      "error_rate" -> failed.toDouble / attempted,
      "metrics" -> (reported ++ detail).map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "setup" -> setup, "setup_reps" -> setups.toSeq,
      "errors" -> all.flatMap(x => x.error.map(e => s"${x.name}: $e")),
      "samples" -> outcomes.map { case (ph, x) => Map("phase" -> ph, "op" -> x.name,
        "ms" -> x.wallNs / 1e6, "ref_ms" -> x.refNs.map(_ / 1e6), "cpu_ms" -> x.cpuNs / 1e6,
        "steal_ms" -> x.stealNs / 1e6, "ok" -> x.error.isEmpty) },
      "goldens" -> (if (golden.nonEmpty) "seed has goldens" else "self-consistency only"),
      "provenance" -> provenance)) + "\n")

    Files.writeString(o.result.toPath, Json.render(Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> reported.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })) + "\n")
  }
}

/** A fixed Spark job of the harness's own, run [[Reps]] times before
  * every timed operation: the kind of work the engine's operations are
  * made of (job scheduling, a shuffle, a partitioned Parquet write and its
  * read-back), through Spark's API only, so no engine change alters it.
  * On a shared host the speed at which this JVM runs drifts by up to a
  * third over minutes; the fixed CPU probe does not follow that drift,
  * and this job follows most of it. The gated `op_rel` divides the
  * median operation time by the median of these jobs. */
object ReferenceJob {
  val Rows = 100000L
  val Parts = 20
  val Reps = 3

  /** Runs the job under `work` and returns its wall time in ns. */
  def run(spark: SparkSession, work: File): Long = {
    import org.apache.spark.sql.functions.col
    val out = new File(work, "reference")
    val t0 = System.nanoTime()
    spark.range(0, Rows, 1, Runtime.getRuntime.availableProcessors)
      .selectExpr("id", s"id % $Parts AS p").repartition(col("p"))
      .write.partitionBy("p").parquet(out.getPath)
    val counts = spark.read.parquet(out.getPath).groupBy("p").count().collect()
    val ns = System.nanoTime() - t0
    Workloads.deleteTree(out)
    require(counts.length == Parts && counts.map(_.getLong(1)).sum == Rows,
      s"reference job: ${counts.length} groups, ${counts.map(_.getLong(1)).sum} rows")
    ns
  }
}

/** The JVM's processor time and the host's steal time. */
object HostClock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Processor time used by this JVM, all threads. */
  def cpuNs(): Long = os.getProcessCpuTime
  /** Time the hypervisor ran other guests on this machine's processors,
    * summed over processors (the `steal` field of /proc/stat, in 1/100 s);
    * 0 where there is no /proc/stat. */
  def stealNs(): Long = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+")(8).toLong * 10000000L finally f.close()
  }.getOrElse(0L)
}

/** Peak heap use from the JVM's pool peaks since construction. */
final class HeapMeter {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  pools.foreach(_.resetPeakUsage())
  def peakMb(): Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
