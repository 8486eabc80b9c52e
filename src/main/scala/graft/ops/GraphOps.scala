package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.SessionConf

/** Analytics over the crawl's edge table — the queries the reference's
  * companion services answer against its graph store (degree stats,
  * bounded-hop reachability for "path between articles" lookups).
  *
  * Scale shapes: degree distribution is two hash aggregations on
  * 8-byte keys; k-hop reachability is k hash joins with the visited
  * set folded in (each wave anti-joins what is already reached, so a
  * wave never re-expands old nodes — frontier-style, same as the
  * crawler itself).
  */
object GraphOps {

  /** out-degree per src, then the distribution: degree → node count */
  def outDegreeDistribution(edges: DataFrame): DataFrame =
    edges
      .groupBy(col("src"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"))

  /** top-k pages by in-degree (deterministic ties by dst) */
  def topByInDegree(edges: DataFrame, k: Int): DataFrame =
    edges
      .groupBy(col("dst"))
      .agg(count(lit(1)).as("in_degree"))
      .orderBy(col("in_degree").desc, col("dst").asc)
      .limit(k)

  /** Project the page graph onto a coarser node space (the Common
    * Crawl host/domain-graph recipe: page edges → host edges): map
    * src/dst through `groups` = (node, grp), collapse parallel edges
    * into a weight, drop intra-group self-loops by default. Output
    * (src_grp, dst_grp, weight) — the input for host-level ranking,
    * degree stats, or link-spam signals.
    *
    * Scale shape: two hash joins on the 8-byte node key (the groups
    * side is the node dictionary — usually the broadcast side at page
    * scale it's not, and AQE picks), then one (src_grp, dst_grp)
    * count with map-side combine — output is bounded by DISTINCT
    * group pairs, never the page-edge count.
    */
  def projectGraph(edges: DataFrame, groups: DataFrame,
      dropSelf: Boolean = true): DataFrame = {
    val bySrc = groups.select(col("node").as("src"), col("grp").as("src_grp"))
    val byDst = groups.select(col("node").as("dst"), col("grp").as("dst_grp"))
    val mapped = edges.select(col("src"), col("dst"))
      .join(bySrc, Seq("src")).join(byDst, Seq("dst"))
    (if (dropSelf) mapped.filter(col("src_grp") =!= col("dst_grp"))
     else mapped)
      .groupBy(col("src_grp"), col("dst_grp"))
      .agg(count(lit(1)).as("weight"))
  }

  /** Nodes reachable from `sources` within `maxHops` edges; returns
    * (node, hops) with the MINIMUM hop count (BFS layering).
    * `sources` needs a single column `node`.
    *
    * Deep-BFS hygiene: each wave's persist is dropped once the next
    * wave is materialized, and `visited` is localCheckpoint'ed every
    * few hops — otherwise the union lineage grows linearly in depth
    * and the cache holds every historical wave (fine at 3 hops, fatal
    * at 20+).
    */
  /** PageRank over the crawl's directed edge table — the canonical
    * web-graph score for frontier prioritization and corpus quality
    * weighting. Standard power iteration with DANGLING-MASS
    * redistribution (a crawl graph is full of pages with no parsed
    * outlinks; dropping their mass makes ranks drain to 0):
    *
    *   r_k(x) = (1-d)/N + d·( Σ_{s→x} r_{k-1}(s)/deg(s) + DM_k/N )
    *   DM_k   = Σ_{deg(s)=0} r_{k-1}(s)
    *
    * Scale shape: per iteration ONE shuffle of (node, rank) by join
    * key and ONE 8-byte-key aggregation on dst; the dangling mass
    * rides as a 1-row cross join (no driver round trip per
    * iteration); ranks are eagerly localCheckpoint'ed per iteration
    * (same deep-iteration plan hygiene as [[reachable]] — without it
    * the optimizer, not the data, is the bottleneck). Returns
    * (node, rank) with Σ rank = 1.
    */
  def pageRank(edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame =
    pageRankCore(edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
      .localCheckpoint(true), iters, damping)

  /** Weighted PageRank — contributions ∝ edge weight / total
    * out-weight (the host/domain-graph ranking recipe: a host linking
    * another 10,000× passes more mass than a single page link, e.g.
    * over [[projectGraph]] output). Parallel (src, dst) rows collapse
    * by summing `weight`; the per-iteration shape is identical to the
    * unweighted op (one join shuffle + one 8-byte-dst aggregation).
    */
  def pageRankWeighted(edges: DataFrame, iters: Int,
      damping: Double = 0.85, weight: Column = col("weight")): DataFrame =
    pageRankCore(edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), weight.cast("double").as("w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .localCheckpoint(true), iters, damping)

  private def pageRankCore(e: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    val weighted = e.columns.contains("w")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outDeg =
      if (weighted) e.groupBy(col("src")).agg(sum(col("w")).as("deg"))
      else e.groupBy(col("src"))
        .agg(count(lit(1)).cast("double").as("deg"))
    // deg NULL = dangling (never a src)
    val degged = nodes
      .join(outDeg, nodes("node") === outDeg("src"), "left")
      .select(col("node"), col("deg"))
      .localCheckpoint(true)
    val n = degged.count().toDouble
    var ranks = degged.withColumn("rank", lit(1.0 / n))
    // adaptive iteration parallelism, same contract as the
    // connectedComponents loop: every per-iteration exchange carries
    // ≈ |edges| rows; size the fan-out to that (capped at the
    // session's configured value, scoped to the loop) instead of
    // paying full task-launch latency per exchange on small graphs
    val spark = e.sparkSession
    val confKey = "spark.sql.shuffle.partitions"
    val origPart = spark.conf.get(confKey).toInt
    val m = e.count()
    val parts = math.max(1L, math.min(origPart.toLong, m / 50000L + 1L))
    SessionConf.scoped(spark, confKey, parts.toString) {
      (1 to iters).foreach { _ =>
        ranks = pageRankStep(degged, e, n, damping, ranks).localCheckpoint(true)
      }
    }
    ranks.select(col("node"), col("rank"))
  }

  /** One power-iteration step (no checkpoint) — split out so PlanSpec
    * can pin the physical shape: the dangling scalar must ride a
    * broadcast 1-row join and the contribution aggregation must
    * exchange on the 8-byte dst key only. `degged` = (node, deg with
    * NULL for dangling), `ranks` = degged + rank.
    */
  private[graft] def pageRankStep(degged: DataFrame, e: DataFrame,
      n: Double, damping: Double, ranks: DataFrame): DataFrame = {
    val dangling = ranks.filter(col("deg").isNull)
      .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
    val perEdge =
      if (e.columns.contains("w")) col("rank") * col("w") / col("deg")
      else col("rank") / col("deg")
    val contribs = ranks
      .join(e, ranks("node") === e("src"))
      .select(col("dst"), perEdge.as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
    degged
      .join(contribs, degged("node") === contribs("dst"), "left")
      .crossJoin(dangling)
      .select(col("node"), col("deg"),
        (lit((1.0 - damping) / n) + lit(damping) *
          (coalesce(col("contrib"), lit(0.0)) + col("dm") / n)).as("rank"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"
    * — a public algorithm): logarithmic-round star contraction
    * (O(log² n) proven, O(log n) in practice) that survives
    * web-scale graphs where O(diameter) label propagation does not
    * (a 10^10-node crawl graph has chains thousands of hops long;
    * this converges in tens of rounds regardless):
    *
    *   large-star: every node u links its LARGER neighbors to
    *     min(Γ(u) ∪ {u})
    *   small-star: with edges oriented large→small, u links its
    *     smaller neighbors AND itself to min(Γ(u) ∪ {u})
    *
    * Each round is two groupBy-min + join passes over the edge list —
    * 8-byte-key shuffles, no driver-side neighbor sets. Convergence
    * is detected by an order-independent edge-set checksum (count +
    * xor of per-edge hashes); at the fixed point the edge set is a
    * star forest and min-neighbor IS the component. Returns
    * (node, component) where component = min node id reachable,
    * including isolated nodes from `nodes` (single column `node`).
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    var e = edges
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var liveN = e.count()
    var prevSig: (Long, Long) = (-1L, -1L)
    var round = 0
    var converged = liveN == 0L
    // Adaptive iteration parallelism (scoped to each round):
    // a round is 4-5 exchanges whose row counts track the LIVE edge
    // list, which shrinks toward star-forest size — scheduling the
    // session's full shuffle-partition fan-out for every exchange of
    // a small tail round is pure task-launch latency (measured: a
    // 4.7k-edge round at 64 partitions spent ~2.8 s scheduling ~350
    // near-empty tasks). Partitions are sized to the live count
    // (≥ 50k rows/partition) and CAPPED at the session's configured
    // value, so web-scale rounds keep their full parallelism and only
    // the latency-bound tail collapses. The conf is session-global —
    // concurrent queries on the SAME session during the loop would
    // plan with the reduced value (the engine never runs CC
    // concurrently with its batch pipeline).
    val spark = e.sparkSession
    val confKey = "spark.sql.shuffle.partitions"
    val origPart = spark.conf.get(confKey).toInt
    def partsFor(n: Long): Int =
      math.max(1L, math.min(origPart.toLong, n / 50000L + 1L)).toInt
    while (!converged && round < maxRounds) {
      round += 1
      // the convergence signature RIDES the checkpoint
      // materialization as an Observation — one job per round
      // instead of two (the separate agg job was a second pass over
      // the round's output)
      val obs = org.apache.spark.sql.Observation()
      val next = SessionConf.scoped(spark, confKey, partsFor(liveN).toString) {
        ccRound(e)
          .observe(obs, count(lit(1)).as("n"),
            coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("x"))
          .localCheckpoint(true)
      }
      val row = obs.get
      val sig = (row("n").asInstanceOf[Long], row("x").asInstanceOf[Long])
      converged = sig == prevSig
      prevSig = sig
      liveN = sig._1
      e = next
    }
    require(converged || round < maxRounds,
      s"connectedComponents did not converge in $maxRounds rounds")
    // star forest: non-roots point at their root; roots + isolated
    // nodes label themselves
    val labels = e.groupBy(col("u")).agg(min(col("v")).as("component"))
      .select(col("u").as("node"), col("component"))
    nodes.select(col("node").cast("long").as("node"))
      .join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /** One large-star + small-star round over canonical (u, v) edges
    * (no checkpoint) — split out so PlanSpec can pin the physical
    * shape. Both "emit two rows per input row" steps use
    * explode(array(struct…)) rather than a self-union with swapped
    * aliases: one pass over the edge list instead of two, and no
    * Union node whose two children share swapped attribute lineage
    * (which trips Catalyst's union constraint rewrite at runtime).
    */
  private[graft] def ccRound(e: DataFrame): DataFrame = {
    // large-star over the symmetric view
    val sym = e.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val lmins = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    val large = sym.join(lmins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // small-star over the large→small orientation; each (u, v, m)
    // row emits BOTH (v, m) and (u, m) — the duplicate (u, m) per
    // neighbor collapses in the distinct.
    //
    // `large` rows are ALREADY oriented large→small (each row is
    // (v, m) with m ≤ original u < v, so u > v holds row-by-row) and
    // already distinct — the earlier shape re-derived the orientation
    // with greatest/least and re-distincted, paying one full exchange
    // per round for an identity mapping (measured ~15% of q_cc's
    // per-round wall time).
    val oriented = large
    val smins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
    oriented.join(smins, Seq("u"))
      .select(explode(array(
        struct(col("v").as("u"), col("m").as("v")),
        struct(col("u"), col("m").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** Per-node triangle counts over the undirected view of the edge
    * table — the standard local-clustering signal (link-farm and
    * mirror-cluster detection on a web graph).
    *
    * Scale shape — compact-forward with DEGREE ORIENTATION (public
    * algorithm; Latapy 2008): each undirected edge is oriented from
    * its lower-(degree, id) endpoint to the higher, which bounds every
    * out-neighborhood by O(√m) regardless of skew — a hub of degree
    * 10^6 (every crawl graph has them) contributes wedges only through
    * its ~√m lower-ranked neighbors, not deg² pairs. Wedges are then
    * one self-equi-join of the oriented list on the apex, closed by
    * one equi-join against the canonical edge set on the 16-byte
    * (min, max) key. No driver round trips, no cartesian anywhere.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
    val oriented = withDeg.select(
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("x"), col("v").as("y")))
        .otherwise(struct(col("v").as("x"), col("u").as("y"))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
    // wedges around each apex; endpoints kept id-ordered so the
    // closing probe hits the canonical (u < v) edge form directly
    val wedges = oriented.as("a")
      .join(oriented.as("b"),
        col("a.x") === col("b.x") && col("a.y") < col("b.y"))
      .select(col("a.x").as("apex"), col("a.y").as("p"), col("b.y").as("q"))
    val tris = wedges.join(und,
      wedges("p") === und("u") && wedges("q") === und("v"))
    tris.select(explode(array(col("apex"), col("p"), col("q"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  def reachable(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    val checkpointEvery = 4
    var visited = sources.select(col("node"), lit(0).as("hops"))
      .localCheckpoint(true)
    var frontier = visited
    var hop = 0
    var done = false
    while (hop < maxHops && !done) {
      hop += 1
      // EAGER localCheckpoint per wave: materializes it and truncates
      // its plan to a leaf. Without this, wave k's logical plan nests
      // wave k-1's and the visited union tree — exponential plan
      // growth that OOMs the optimizer long before the data does.
      val next = frontier
        .join(edges, frontier("node") === edges("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("hops", lit(hop))
        .localCheckpoint(true)
      if (next.isEmpty) done = true
      else {
        // visited stays a flat union of checkpointed wave leaves;
        // re-checkpoint every few hops so even that stays shallow
        val grown = visited.unionByName(next)
        visited =
          if (hop % checkpointEvery == 0) grown.localCheckpoint(true) else grown
        frontier = next
      }
    }
    visited
  }

  /** Crawl-priority FEEDBACK: host ranks (e.g. [[pageRankWeighted]]
    * over [[projectGraph]]'s host graph) → frontier seed tiers, the
    * (url, priority) shape [[graft.engine.CrawlEngine.enqueuePrioritized]]
    * consumes — closing the loop crawl → analyze → prioritize the
    * next crawl (the OPIC idea expressed over the published rank ops).
    *
    * Tiering is an equal-count cut over the QUANTIZED rank histogram
    * (same trick as [[Curation.scoreBuckets]]): `quantize` (default
    * round(ln r, 4)) bounds distinct values, so the cumulative window
    * runs over the histogram, never the host table — no single-
    * partition sort of 10^7 hosts. tier 0 = best-ranked hosts =
    * scheduled first (the engine's ascending-tier convention, shared
    * with [[graft.sources.Sitemaps.toSeeds]]); hosts missing from the
    * rank table (never-crawled discoveries) land in `unknownTier`
    * (default: the middle tier — explored before the tail, after the
    * proven head).
    */
  def rankToSeedTiers(hostRank: DataFrame, urls: DataFrame,
      nTiers: Int = 4, node: Column = col("node"),
      rank: Column = col("rank"), url: Column = col("url"),
      unknownTier: Int = -1,
      quantize: Column => Column = r => round(log(r), 4)): DataFrame = {
    require(nTiers > 0, s"nTiers must be positive, got $nTiers")
    val default = if (unknownTier >= 0) unknownTier else nTiers / 2
    val base = hostRank.select(node.as("host"), quantize(rank).as("s"))
    val hist = base.groupBy(col("s")).agg(count(lit(1)).as("c"))
    import org.apache.spark.sql.expressions.Window
    val better = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val tiers = hist
      .withColumn("cum", coalesce(sum(col("c")).over(better), lit(0L)))
      .withColumn("n", sum(col("c")).over(all))
      .select(col("s"),
        floor(lit(nTiers) * col("cum") / col("n")).cast("long").as("tier"))
    val hostTier = base.join(tiers, Seq("s")).select(col("host"), col("tier"))
    urls.select(url.as("url"),
        graft.functions.canon.host_of(url).as("host"))
      .join(hostTier, Seq("host"), "left")
      .select(col("url"),
        coalesce(col("tier"), lit(default.toLong)).as("priority"))
  }
}
