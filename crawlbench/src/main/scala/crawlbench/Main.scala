package crawlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.functions.{Extract, GoUrl}
import graft.sites.SyntheticWeb

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  *   crawlbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints progress lines, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
  * Exits 1 when an output check fails.
  */
object Main {

  /** The traced run's listener while a traced pass runs. */
  @volatile var trace: Option[SparkTrace] = None

  private final case class Args(workload: String, seed: Long, seconds: Int,
      traced: Boolean, work: Path)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    val seconds = need("seconds").toInt
    require(seconds >= 1, s"--seconds must be at least 1, got $seconds")
    Args(need("workload"), need("seed").toLong, seconds, trace == "1", Paths.get(need("work")).toAbsolutePath)
  }

  private def session(work: Path, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("crawlbench")
      .config("spark.sql.shuffle.partitions", nproc)
      .config("spark.default.parallelism", nproc)
      .config("spark.sql.session.timeZone", "UTC")
      // adaptive re-planning adds a job per shuffle stage: fixed latency
      // on every batch at these sizes
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(args.work)
    val (spark, sessionS) = Measure.timed(session(args.work, nproc))
    val code =
      try run(args, spark, nproc, sessionS)
      finally spark.stop()
    sys.exit(code)
  }

  private def info(k: String, v: Any): Unit = println(f"  $k%-28s $v")

  private def run(args: Args, spark: SparkSession, nproc: Int, sessionS: Double): Int = {
    val ctx = Ctx(spark, new Inputs(spark, args.work, nproc), args.work, nproc, args.seed)
    val wl = Workloads(args.workload, ctx)
    println(s"crawlbench ${wl.name} seed=${args.seed} seconds=${args.seconds} trace=${if (args.traced) 1 else 0}")
    runInfo(spark, nproc).foreach { case (k, v) => info(k, v) }

    // ---- set-up: inputs once, the restart-shaped open three times ----
    val (_, prepareS) = Measure.timed(wl.prepare())
    val openS = (1 to 3).map { _ =>
      val (o, s) = Measure.timed(wl.open())
      Inputs.deleteTree(o.root)
      s
    }
    val (_, warmS) = Measure.timed(wl.warmUp())
    val setupS = sessionS + prepareS + Measure.median(openS) + warmS
    info("setup_s parts", f"session $sessionS%.2f, inputs $prepareS%.2f, " +
      f"open ${Measure.median(openS)}%.2f (median of 3), warm-up $warmS%.2f")

    // ---- timed passes until --seconds elapse, each checked ----
    val problems = mutable.ArrayBuffer.empty[String]
    // operations that failed: step() calls that threw, fetches of corpus pages that erred
    var failed = 0L
    def passes(label: String): Seq[(Pass, Opened)] = {
      val out = mutable.ArrayBuffer.empty[(Pass, Opened)]
      val t0 = Measure.now()
      while (out.isEmpty || Measure.secondsSince(t0) < args.seconds) {
        val p = wl.pass(wl.open())
        val reopened = wl.reopen(p.root)
        val bad = wl.failedFetches(p)
        failed += p.threw + bad
        val found = wl.check(p) ++ Option.when(bad > 0)(s"$bad fetch errors on corpus pages")
        problems ++= found
        info(s"$label pass ${out.length + 1}", f"${p.timedS}%.2f s, ${p.committed} pages, " +
          f"${p.steps.length} batches [${p.steps.map(s => f"${s.wallS}%.2f").mkString(" ")}], " +
          f"resume ${reopened.storeS + reopened.engineS}%.3f s, heap ${p.heapMb}%.0f MiB" +
          (if (found.isEmpty) ", checks ok" else s", ${found.length} check failures"))
        val top = p.steps.flatMap(_.result.phases).groupMapReduce(_._1)(_._2)(_ + _)
          .toSeq.sortBy(-_._2).take(6)
        info("  slowest phases", top.map { case (k, v) => f"$k $v%.2f" }.mkString(", ") +
          f", seed call ${p.startS}%.2f")
        out += ((p, reopened))
        // the traced passes' stores feed the state-layer figures
        if (label == "untraced") Inputs.deleteTree(p.root)
      }
      out.toSeq
    }
    val untraced = passes("untraced")
    val ps = untraced.map(_._1)
    val steps = ps.flatMap(_.steps)
    val attempted = ps.map(_.attempted).sum
    val batchP50 = Measure.median(steps.map(_.wallS))
    info("batches", s"${steps.length} (p50 ${batchP50}; no higher percentile: fewer than 10 batches lie beyond one)")
    // every pass fetches the one off-corpus dead link, and the checks
    // require it, so it is not counted as an error
    info("error_ratio", s"${failed.toDouble / math.max(attempted, 1L)} " +
      s"($failed failed of $attempted attempted; ${ps.map(_.fetchErrors).sum} fetch errors, the dead link included)")

    val metrics: Seq[(String, Double, String)] =
      if (!args.traced) Seq(
        ("pages_per_s", Measure.median(ps.map(_.pagesPerS)), "pages/s"),
        ("batch_p50_s", batchP50, "s"),
        ("resume_s", Measure.median(untraced.map { case (_, o) => o.storeS + o.engineS }), "s"),
        ("setup_s", setupS, "s"),
        ("heap_peak_mb", Measure.median(ps.map(_.heapMb)), "MiB"),
      )
      else {
        val listener = new SparkTrace(spark.sparkContext)
        trace = Some(listener)
        val traced = try passes("traced") finally { trace = None; listener.detach() }
        val layers = Layers.of(wl, traced, nproc)
        val untracedPps = Measure.median(ps.map(_.pagesPerS))
        val tracedPps = Measure.median(traced.map(_._1.pagesPerS))
        layers ++ Seq(
          ("trace.pages_per_s_untraced", untracedPps, "pages/s"),
          ("trace.pages_per_s_traced", tracedPps, "pages/s"),
          ("trace.overhead_ratio", (untracedPps - tracedPps) / untracedPps, "ratio"),
        )
      }
    metrics.foreach { case (n, v, u) => info(n, s"$v $u") }
    problems.foreach(p => println(s"  CHECK FAILED: $p"))
    // a problem found in any pass, or by the checker's self-test, fails the run
    val result = Json.result(problems.isEmpty, attempted, failed, metrics)
    println(result)
    if (problems.isEmpty) 0 else 1
  }

  private def runInfo(spark: SparkSession, nproc: Int): Seq[(String, Any)] = {
    val rt = ManagementFactory.getRuntimeMXBean
    val flags = rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens"))
    Seq(
      "nproc" -> nproc,
      "heap_max_mib" -> (Runtime.getRuntime.maxMemory() >> 20),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "jvm_flags" -> flags.mkString(" "),
      "spark" -> spark.version,
      "source" -> sys.props.getOrElse("crawlbench.source", "unknown"),
    )
  }
}

/** Per-layer numbers of the traced run, from the benchmark's own
  * timings, the engine's `BatchResult` phases and stats, and the
  * benchmark's Spark listener. Engine, state and spark figures are per
  * traced pass (the mean over traced passes).
  */
object Layers {

  def of(wl: Workload, traced: Seq[(Pass, Opened)], nproc: Int): Seq[(String, Double, String)] = {
    val passes = traced.map(_._1)
    val n = passes.length.toDouble
    val steps = passes.flatMap(_.steps)
    val nSteps = math.max(steps.length, 1).toDouble
    def phase(p: String => Boolean): Double =
      steps.map(_.result.phases.filter(kv => p(kv._1)).map(_._2).sum).sum / n
    def stat(p: String => Boolean): Double =
      steps.map(_.result.stats.filter(kv => p(kv._1)).map(_._2).sum).sum.toDouble
    val committed = math.max(passes.map(_.committed).sum, 1L).toDouble
    val commitOther = Set("commit_errors", "commit_metrics", "publish", "sweep")
    val startS = passes.map(_.startS).sum / n
    val unattributed = steps.map(s => s.wallS - s.result.phases.map(_._2).sum).sum / n
    val sparkSum = passes.map(_.spark).foldLeft(SparkTrace.zero)(_ + _)
    val timedS = passes.map(_.timedS).sum
    val last = traced.last
    val root = last._1.root
    val segments = Inputs.segmentCounts(root).values.sum.toDouble
    val bytesPerPage = Inputs.treeBytes(root) / math.max(last._1.committed, 1L).toDouble
    traced.foreach { case (p, _) => Inputs.deleteTree(p.root) }

    val sample = HtmlSample(wl.spec)
    val ranged = wl.rangedRead()
    Seq(
      ("engine.extract_confirm_s", phase(_ == "extract_confirm"), "s"),
      ("engine.fold_s", phase(k => k.startsWith("blob_fold_") || k == "consolidate"), "s"),
      ("engine.schedule_s", phase(k => k == "schedule" || k == "schedule_widen"), "s"),
      ("engine.widen_batches", steps.count(_.result.phases.exists(_._1 == "schedule_widen")) / n, "count"),
      ("engine.url_probe_s", phase(_ == "url_probe"), "s"),
      ("engine.discover_s", phase(_ == "discover"), "s"),
      ("engine.fill_ratio", steps.map(_.result.pagesFetched).sum.toDouble /
        (nSteps * wl.cfg.batchSize), "ratio"),
      ("engine.commit_frontier_s", phase(_ == "commit_frontier"), "s"),
      ("engine.commit_nodes_s", phase(_ == "commit_nodes"), "s"),
      ("engine.commit_edges_s", phase(_ == "commit_edges"), "s"),
      ("engine.commit_other_s", phase(commitOther), "s"),
      ("engine.dup_confirm_s", phase(k => k == "edge_cache" || k == "node_cache"), "s"),
      ("engine.seed_s", startS, "s"),
      ("engine.unattributed_s", unattributed, "s"),
      ("state.open_s", traced.map(_._2.storeS).sum / n, "s"),
      ("state.engine_open_s", traced.map(_._2.engineS).sum / n, "s"),
      ("state.segments", segments, "count"),
      ("state.bytes_per_page", bytesPerPage, "B/page"),
      ("state.maybe_rows_per_page", stat(k => k == "maybe_n_rows" || k == "maybe_e_rows") / committed, "rows/page"),
      ("html.scan_us_per_page", sample.scanUsPerPage, "us/page"),
      ("html.scan_mb_s", sample.scanMbS, "MB/s"),
      ("functions.canonical_url_ns", sample.nsPerLink(GoUrl.canonicalUrl), "ns/call"),
      ("functions.host_of_ns", sample.nsPerLink(GoUrl.hostOf), "ns/call"),
      ("functions.clean_name_ns", sample.nsPerLink(
        GoUrl.cleanName(_, "https://en.wikipedia.org", "", "/wiki/")), "ns/call"),
      ("sources.index_open_s", wl.indexOpenS.getOrElse(0.0), "s"),
      ("sources.ranged_read_s", ranged.map(_._1).getOrElse(0.0), "s"),
      ("sources.ranged_mb_per_page", ranged.map(_._2).getOrElse(0.0), "MB/page"),
      ("spark.jobs_per_batch", sparkSum.jobs / nSteps, "count"),
      ("spark.stages_per_batch", sparkSum.stages / nSteps, "count"),
      ("spark.tasks_per_batch", sparkSum.tasks / nSteps, "count"),
      ("spark.core_util", sparkSum.runS / (timedS * nproc), "ratio"),
      ("spark.gc_s", passes.map(_.gcS).sum / n, "s"),
      ("spark.shuffle_mb", sparkSum.shuffleWriteBytes / 1e6 / n, "MB"),
      ("spark.spill_mb", sparkSum.spillBytes / 1e6 / n, "MB"),
      ("spark.input_mb", sparkSum.inputBytes / 1e6 / n, "MB"),
    )
  }
}

/** Single-threaded timings of the html and functions layers on a fixed
  * sample of the workload's own page bytes and their links.
  */
final case class HtmlSample(spec: SyntheticWeb.Spec) {
  private val pages: Array[Array[Byte]] = {
    val rnd = new scala.util.Random(spec.seed)
    Array.fill(200)((rnd.nextLong() & Long.MaxValue) % spec.numPages)
      .map(i => SyntheticWeb.htmlFor(spec, i).getBytes("UTF-8"))
  }
  private val bytes = pages.map(_.length.toLong).sum
  private val links: Array[String] =
    pages.flatMap(p => Extract.extractLinksOnly(p, "web").links)

  /** Repeat `body` (one round over the sample) for at least `minS`
    * seconds after a warm-up, returning seconds per round.
    */
  private def perRound(minS: Double)(body: => Long): Double = {
    var sink = 0L
    val warm = Measure.now()
    while (Measure.secondsSince(warm) < minS / 2) sink += body
    var rounds = 0
    val t0 = Measure.now()
    while (rounds == 0 || Measure.secondsSince(t0) < minS) { sink += body; rounds += 1 }
    val s = Measure.secondsSince(t0) / rounds
    if (sink == 42L) println("") // keeps the loop's result live
    s
  }

  private lazy val scanS = perRound(1.0) {
    pages.map(p => Extract.extractLinksOnly(p, "web").links.length.toLong).sum
  }
  def scanUsPerPage: Double = scanS / pages.length * 1e6
  def scanMbS: Double = bytes / scanS / 1e6

  def nsPerLink(f: String => String): Double =
    perRound(0.5)(links.map(l => f(l).length.toLong).sum) / links.length * 1e9
}

/** The result line, in the shape the benchmark contract fixes. */
object Json {
  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a finite number")
    java.lang.Double.toString(v)
  }

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": ${math.max(attempted, 1L)}, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
