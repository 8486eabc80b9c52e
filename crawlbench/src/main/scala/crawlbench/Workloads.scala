package crawlbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{BatchResult, CrawlEngine}
import graft.model.CrawlConfig
import graft.sites.{Sites, SyntheticWeb}
import graft.sources.{Cdx, Warc}
import graft.state.Store

/** What every workload of one run shares. */
final case class Ctx(spark: SparkSession, inputs: Inputs, work: Path,
    nproc: Int, seed: Long)

/** One `step()` call that returned a batch, with its wall time. */
final case class Step(wallS: Double, result: BatchResult)

/** One timed pass: the `seed` call and every `step()` call after it. */
final case class Pass(
    startS: Double,
    steps: Seq[Step],
    drained: Boolean,
    threw: Int,
    timedS: Double,
    heapMb: Double,
    gcS: Double,
    spark: SparkTrace.Counts,
    root: Path) {
  def attempted: Long = steps.map(_.result.pagesFetched).sum
  def fetchErrors: Long = steps.map(_.result.fetchErrors).sum
  def committed: Long = attempted - fetchErrors
  def pagesPerS: Double = committed / timedS
}

/** An engine opened on a store, ready for a pass. */
final case class Opened(engine: CrawlEngine, root: Path, storeS: Double, engineS: Double)

/** A benchmark workload: seeded inputs, the set-up a restart repeats, a
  * timed pass over the public crawl API, and the checks of its output
  * against the generator.
  */
abstract class Workload(val ctx: Ctx) {
  import ctx.spark

  def name: String
  def cfg: CrawlConfig
  def spec: SyntheticWeb.Spec

  /** Build the seeded inputs. */
  def prepare(): Unit

  /** A fresh store and an engine on it. */
  def open(): Opened

  /** The timed region on an opened engine. */
  def pass(o: Opened): Pass

  /** Output problems of a pass, as found from the store and the
    * generator; empty when the output is correct. Also the checker's
    * self-test: the same checks on a deliberately corrupted copy of the
    * output must find a problem, or that is reported too.
    */
  def check(p: Pass): Seq[String]

  /** Seeds of the untimed warm-up. */
  protected def warmUpSeeds: Seq[String]

  /** An untimed pass-shaped warm-up of one batch on a fresh store (JIT,
    * codegen, file-status caches).
    */
  def warmUp(): Unit = {
    val o = open()
    o.engine.seed(warmUpSeeds)
    o.engine.step()
    Inputs.deleteTree(o.root)
  }

  /** Traced-run timing of the sources layer: (ranged read seconds,
    * planned MB per page), where the workload reads an archive.
    */
  def rangedRead(): Option[(Double, Double)] = None

  protected def pagesDf: DataFrame
  protected def fetcher: Option[DataFrame => DataFrame] = None

  private var storeSeq = 0

  protected def freshRoot(): Path = {
    storeSeq += 1
    val root = ctx.work.resolve(s"store-$name-$storeSeq")
    Inputs.deleteTree(root)
    root
  }

  protected def engineOn(root: Path): Opened = {
    val (store, storeS) = Measure.timed(new Store(root.toString, spark))
    val (eng, engineS) = Measure.timed(
      new CrawlEngine(spark, store, Sites.web, cfg, pagesDf, fetcher = fetcher))
    Opened(eng, root, storeS, engineS)
  }

  /** Restart latency on a pass's final state: the store and the engine
    * opened again from the manifest journal. One untimed open first,
    * then five; the open with the median total.
    */
  def reopen(root: Path): Opened = {
    engineOn(root)
    val opens = (1 to 5).map(_ => engineOn(root)).sortBy(o => o.storeS + o.engineS)
    opens(2)
  }

  /** Drive `start` then `step()` until it returns None (or `maxSteps`
    * batches ran). The timed region is the `start` call plus every
    * `step()` call, with nothing else between the calls. After the last
    * one, outside the region and with the engine still open, forced
    * full collections read the live heap: the crawl's state only grows
    * during a pass, so this is its largest between-batch value.
    */
  protected def drive(o: Opened, maxSteps: Int)(start: CrawlEngine => Unit): Pass = {
    val eng = o.engine
    val trace = Main.trace
    val sparkBefore = trace.map(_.snapshot())
    val gc0 = Measure.gcSeconds()
    val steps = mutable.ArrayBuffer.empty[Step]
    var drained = false
    var threw = 0
    val (_, startS) = Measure.timed(start(eng))
    var timedS = startS
    try {
      while (!drained && steps.length < maxSteps) {
        val (r, wall) = Measure.timed(eng.step())
        timedS += wall
        r match {
          case Some(b) => steps += Step(wall, b)
          case None => drained = true
        }
      }
    } catch {
      case NonFatal(e) =>
        threw += 1
        Console.err.println(s"step() threw: $e")
    }
    val gcS = Measure.gcSeconds() - gc0
    val sparkCounts = trace.map { t => t.settle(); t.snapshot() - sparkBefore.get }
      .getOrElse(SparkTrace.zero)
    val heapMb = Measure.liveHeapMb()
    java.lang.ref.Reference.reachabilityFence(eng)
    Pass(startS, steps.toSeq, drained, threw, timedS, heapMb, gcS, sparkCounts, o.root)
  }

  // ---- output checks shared by the workloads ----

  protected def storeOf(p: Pass): Store = new Store(p.root.toString, spark)

  protected def edgesOf(store: Store): Array[(Long, Long)] =
    store.read("edges").map(_.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))).getOrElse(Array.empty)

  /** Duplicate node rows, and a name count other than `expected`. */
  protected def nodeProblems(store: Store, expected: Option[Long]): Seq[String] = {
    val names = store.read("nodes").map(_.select("name").collect().map(_.getString(0)))
      .getOrElse(Array.empty[String])
    val distinct = names.distinct.length.toLong
    Seq(
      Option.when(names.length != distinct)(s"nodes: ${names.length - distinct} duplicate rows"),
      expected.filter(_ != distinct).map(e => s"nodes: $distinct distinct names, expected $e"),
    ).flatten
  }

  /** Fetch errors on corpus pages: every error must be the dead link. */
  def failedFetches(p: Pass): Long =
    storeOf(p).read("fetch_errors").map(_.filter(col("url") =!= Expected.deadLink).count())
      .getOrElse(0L)

  /** Seconds the last [[open]] spent loading a fetch index, if any. */
  def indexOpenS: Option[Double] = None
}

/** The generator's view of the crawl graph, computed without the engine:
  * a page's valid out-links are its targets' urls plus the one
  * off-corpus dead link every page carries; node ids are Spark's
  * xxhash64 of the url.
  */
object Expected {
  val deadLink = "https://other.example.org/offsite"

  def id(name: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(name),
      org.apache.spark.sql.types.StringType, 42L)

  lazy val deadId: Long = id(deadLink)

  def outIds(spec: SyntheticWeb.Spec, i: Long): Set[Long] =
    (SyntheticWeb.targets(spec, i).map(j => id(SyntheticWeb.pageUrl(spec, j))) :+ deadId).toSet

  def edgeHash(src: Long, dst: Long): Long = SyntheticWeb.mix64(src ^ SyntheticWeb.mix64(dst))

  /** Order-independent checksum of an edge multiset: (count, wrapped sum). */
  def checksum(edges: Iterator[(Long, Long)]): (Long, Long) =
    edges.foldLeft((0L, 0L)) { case ((n, s), (a, b)) => (n + 1, s + edgeHash(a, b)) }

  def graphChecksum(spec: SyntheticWeb.Spec): (Long, Long) =
    checksum((0L until spec.numPages).iterator.flatMap { i =>
      val src = id(SyntheticWeb.pageUrl(spec, i))
      outIds(spec, i).iterator.map(d => (src, d))
    })

  /** Problems of an edge table against the full generator graph. */
  def edgeProblems(edges: Array[(Long, Long)], want: (Long, Long)): Seq[String] = {
    val got = checksum(edges.iterator)
    val distinct = edges.distinct.length
    Seq(
      Option.when(distinct != edges.length)(s"edges: ${edges.length - distinct} duplicate rows"),
      Option.when(got != want)(s"edges: (count, checksum) $got, generator says $want"),
    ).flatten
  }
}

/** Full drain of a bucketed-parquet corpus of realistic pages through
  * the scan-join fetch, started from many spread seeds with large
  * batches: the workload where per-page work (HTML scan,
  * canonicalisation, ~30 new edges a page into growing node/edge state)
  * is the largest share of a batch. The per-batch floor is still most
  * of it: a 10-page batch costs about four fifths of a 4,000-page one.
  */
final class CrawlHeavy(ctx: Ctx) extends Workload(ctx) {
  val name = "crawl_heavy"
  private val pages = 12000L
  private val seeds = pages / 3
  val spec = SyntheticWeb.Spec("web", numPages = pages, seed = ctx.seed,
    minDeg = 15, maxDeg = 45, numHosts = 256, fillerWords = 1500)
  // seeds fill batch 1; the other two thirds and the dead link fill
  // two more batches of seeds + 1
  val cfg = CrawlConfig(site = "web", batchSize = (seeds + 1).toInt,
    numShards = ctx.nproc, bloomItemsPerShard = 4 * pages / ctx.nproc)

  private var corpus: DataFrame = _
  protected def pagesDf: DataFrame = corpus

  /** seeds spread evenly over the corpus, offset by the workload seed */
  private val seedUrls: Seq[String] = {
    val off = java.lang.Math.floorMod(ctx.seed, 3L)
    (0L until seeds).map(k => SyntheticWeb.pageUrl(spec, 3 * k + off))
  }

  def prepare(): Unit = corpus = ctx.inputs.parquetCorpus(spec, "heavy_pages")

  def open(): Opened = engineOn(freshRoot())

  /** a fifth of the seeds: the same code paths at a fraction of the cost */
  protected def warmUpSeeds: Seq[String] = seedUrls.take(seedUrls.length / 5)

  def pass(o: Opened): Pass = drive(o, Int.MaxValue)(_.seed(seedUrls))

  private lazy val want = Expected.graphChecksum(spec)

  def check(p: Pass): Seq[String] = {
    val store = storeOf(p)
    val edges = edgesOf(store)
    val corrupt = edges.clone()
    corrupt(0) = (corrupt(0)._1, corrupt(0)._2 + 1)
    Seq(
      Option.when(p.threw > 0)(s"${p.threw} step() calls threw"),
      Option.when(!p.drained)("the crawl did not drain"),
      Option.when(p.committed != pages)(s"${p.committed} pages committed, corpus has $pages"),
      Option.when(p.fetchErrors != 1)(s"${p.fetchErrors} fetch errors, expected the one dead link"),
      Option.when(Expected.edgeProblems(corrupt, want).isEmpty)(
        "self-test: an edge table with one corrupted edge passed the checks"),
    ).flatten ++ nodeProblems(store, Some(pages + 1)) ++ Expected.edgeProblems(edges, want)
  }
}

/** A fixed number of politeness-bound batches fetched by seek reads from
  * a CDX-indexed member-gzip WARC archive: small pages on zipf hosts
  * (h0 holds about half), a binding per-host budget and small batches,
  * so the per-batch fixed cost, the schedule-widen path, politeness and
  * the ranged read dominate while parsing is negligible.
  */
final class CrawlPoliteRanged(ctx: Ctx) extends Workload(ctx) {
  val name = "crawl_polite_ranged"
  private val pages = 20000L
  private val batches = 3
  private val budget = 40
  val spec = SyntheticWeb.Spec("web", numPages = pages, seed = ctx.seed,
    minDeg = 4, maxDeg = 12, numHosts = 64, fillerWords = 0)
  val cfg = CrawlConfig(site = "web", batchSize = 2000, hostBudget = budget,
    numShards = ctx.nproc, bloomItemsPerShard = 4 * pages / ctx.nproc)

  private var archive: Path = _
  private var fetch: DataFrame => DataFrame = _
  // the first batch's url set, recorded by the traced run's fetcher
  private var recordedUrls: Option[Seq[String]] = None

  protected def pagesDf: DataFrame = ctx.spark.createDataFrame(
    ctx.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    new org.apache.spark.sql.types.StructType()
      .add("url", "string").add("html", "binary"))

  override protected def fetcher: Option[DataFrame => DataFrame] = Some { urls =>
    if (Main.trace.isDefined && recordedUrls.isEmpty)
      recordedUrls = Some(urls.select("url").collect().map(_.getString(0)).toSeq)
    fetch(urls)
  }

  /** 512 seeds spread evenly over the corpus, offset by the workload seed */
  private val seedUrls: Seq[String] = {
    val stride = pages / 512
    val off = java.lang.Math.floorMod(ctx.seed, stride)
    (0L until 512L).map(k => SyntheticWeb.pageUrl(spec, k * stride + off))
  }

  def prepare(): Unit = archive = ctx.inputs.warcArchive(spec)

  /** Opening includes the index load: the fetcher's CDX read is forced
    * here, not in the first batch.
    */
  def open(): Opened = {
    import ctx.spark.implicits._
    lastIndexOpenS = Measure.timed {
      fetch = Warc.rangedFetcher(ctx.spark, archive.toString)
      fetch(Seq(seedUrls.head).toDF("url")).count()
    }._2
    engineOn(freshRoot())
  }

  private var lastIndexOpenS = 0.0
  override def indexOpenS: Option[Double] = Some(lastIndexOpenS)

  protected def warmUpSeeds: Seq[String] = seedUrls

  def pass(o: Opened): Pass = drive(o, batches)(_.seed(seedUrls))

  private def hostOf(i: Long): Int = SyntheticWeb.hostOfPage(spec.seed, i, spec.numHosts)

  private def hostProblems(pagesCrawled: Set[Long], cap: Int): Seq[String] =
    pagesCrawled.groupBy(hostOf)
      .collect { case (h, ps) if ps.size > cap => s"host h$h: ${ps.size} pages crawled, cap $cap" }
      .toSeq

  def check(p: Pass): Seq[String] = {
    val store = storeOf(p)
    val edges = edgesOf(store)
    val byId: Map[Long, Long] = (0L until pages).map(i =>
      Expected.id(SyntheticWeb.pageUrl(spec, i)) -> i).toMap
    // crawled pages are the edge sources: every page links somewhere
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val unknown = out.keys.filterNot(byId.contains)
    val crawledPages = out.keys.flatMap(byId.get).toSet
    val wrongOut = crawledPages.count(i =>
      out(Expected.id(SyntheticWeb.pageUrl(spec, i))) != Expected.outIds(spec, i))
    val distinctEdges = edges.distinct.length
    val cap = p.steps.length * budget
    // self-test: one more page on the fullest host puts it over its cap
    val (host, have) = crawledPages.groupBy(hostOf).maxBy(_._2.size)
    val extra = (0L until pages).iterator
      .filter(i => !crawledPages(i) && hostOf(i) == host).take(cap + 1 - have.size)
    Seq(
      Option.when(p.threw > 0)(s"${p.threw} step() calls threw"),
      Option.when(p.steps.length != batches)(s"${p.steps.length} batches ran, expected $batches"),
      Option.when(unknown.nonEmpty)(s"${unknown.size} crawled sources are not corpus pages"),
      Option.when(crawledPages.size != p.committed)(
        s"${crawledPages.size} pages have out-edges, ${p.committed} committed"),
      Option.when(wrongOut > 0)(s"$wrongOut crawled pages' out-edges differ from the generator"),
      Option.when(distinctEdges != edges.length)(s"edges: ${edges.length - distinctEdges} duplicate rows"),
      Option.when(hostProblems(crawledPages ++ extra, cap).isEmpty)(
        "self-test: a crawl exceeding a host budget by one passed the checks"),
    ).flatten ++ hostProblems(crawledPages, cap) ++ nodeProblems(store, None)
  }

  /** The per-batch part of `Warc.rangedFetcher` on the recorded batch:
    * the index is parsed and persisted once, untimed, as the fetcher
    * does when it is built; each timed read plans the batch's captures
    * (`Cdx.fetchPlan`) and seek-reads their spans
    * (`Warc.readRecordsRanged`). One untimed read, then the median of
    * three.
    */
  override def rangedRead(): Option[(Double, Double)] = recordedUrls.map { urls =>
    import ctx.spark.implicits._
    val index = Cdx.latestCaptures(Cdx.readCaptures(ctx.spark, s"$archive/cdx")
      .filter(col("http_status") === 200)).persist()
    index.count()
    val batchUrls = urls.toDF("url").persist()
    batchUrls.count()
    def plan = Cdx.fetchPlan(index.join(batchUrls, Seq("url"), "left_semi"))
    def read(): Double =
      Measure.timed(Warc.readRecordsRanged(ctx.spark, archive.toString, plan).count())._2
    read()
    val times = (1 to 3).map(_ => read())
    val bytes = plan.agg(sum("span_bytes")).head().getLong(0)
    batchUrls.unpersist()
    index.unpersist()
    (Measure.median(times), bytes / 1e6 / urls.size)
  }
}

object Workloads {
  val names: Seq[String] = Seq("crawl_heavy", "crawl_polite_ranged")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "crawl_heavy" => new CrawlHeavy(ctx)
    case "crawl_polite_ranged" => new CrawlPoliteRanged(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }
}
