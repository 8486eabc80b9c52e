package graft.engine

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.{canon, Extract}
import graft.model._
import graft.sites.{SiteProfile, Sites}
import graft.state.{Bloom, Cuckoo, Store}

object CrawlEngine {

  /** Reference db error contract (db/db.go reverse lookup, pinned by
    * db/db_test.go:339-368): a key that fails to resolve through the
    * node dictionary is a loud error, never a silent row drop. The
    * engine's name→id direction derives ids arithmetically
    * (xxhash64(name), S6), so only id→name joins (edge readout) can
    * miss — and only if the dictionary lost a row; this guard turns
    * that into the reference's error inside the plan. The remote-db
    * 500-path has no analogue here: there is no network id service to
    * fail.
    *
    * @param resolved the join-resolved value (null on a miss)
    * @param key the lookup key, for the error message
    */
  def resolvedIdOrError(resolved: Column, key: Column): Column =
    when(resolved.isNull, raise_error(concat(
      lit("Could not find node on reverse lookup: "), key.cast("string"))))
      .otherwise(resolved)

  /** manifest-journal codec for the per-tier pending ledger */
  private[engine] def renderTierCounts(m: Map[Int, Long]): String =
    m.toSeq.sortBy(_._1).map { case (t, n) => s"$t:$n" }.mkString(",")

  private[engine] def parseTierCounts(s: String): Map[Int, Long] =
    s.split(',').filter(_.nonEmpty).map { kv =>
      val Array(t, n) = kv.split(':')
      t.toInt -> n.toLong
    }.toMap

  /** Largest number of rows an engine call may plan (pages in a batch,
    * urls in an ingestion call) and still evaluate its queries
    * interpreted; larger calls keep the session's mode. See the class
    * comment for the measurements behind it.
    */
  val InterpretedMaxRows = 25000L
}

/** One micro-batch's outcome (driver-visible counters only). */
final case class BatchResult(
    batchId: Long,
    pagesFetched: Long,
    fetchErrors: Long,
    nodesAdded: Long,
    edgesAdded: Long,
    maxDepth: Int,
    frontierPending: Long,
    /** tracked pending rows in the priority tiers the schedule
      * actually read (= frontierPending only when the take had to
      * widen to the full view) — the O(active wave) read criterion
      */
    scheduleRowsRead: Long = -1L,
    /** per-phase driver wall seconds, in execution order (schedule /
      * extract_confirm / url_probe / discover / commit_* / blob_fold_*
      * / consolidate / publish / sweep) — the diagnostic that says
      * WHICH phase grows when a batch-time trend appears. Zero-cost
      * nanoTime bracketing of actions the driver already blocks on.
      */
    phases: Seq[(String, Double)] = Nil,
    /** per-batch size facts for the same diagnosis: live/delta segment
      * counts per table, maybe-shard fan-outs, log rows, compact kind
      */
    stats: Seq[(String, Long)] = Nil)

/** The crawl loop — reference lifecycle E1 (SURVEY §3) re-expressed as
  * a driver-side micro-batch loop over Datasets:
  *
  *   frontier(ordered, per-host budgeted) ⋈ pages → extract/filter/
  *   canonicalize → anti-join dedup (nodes/edges) → append
  *   edges+nodes → bloom-update seen shards → append next frontier →
  *   metrics → atomic snapshot commit → stop-gate.
  *
  * Everything between driver decisions is declarative DataFrame
  * algebra: Catalyst does pushdown/pruning, AQE picks join strategies
  * and splits skewed partitions.
  *
  * Scale shape of the state updates (the part that must survive a
  * 10^10-URL frontier):
  *
  *   - Frontier + seen state are maintained LSM-style: a batch APPENDS
  *     its delta — new frontier rows plus a tiny (canon, kind) log
  *     recording consumed (kind 0) and newly-seen (kind 1) canons —
  *     and the sharded base tables (shard = pmod(xxhash64(canon),
  *     numShards)) are untouched. Reads subtract the consumed log via
  *     a (broadcastable, bounded) anti-join. When the log passes the
  *     compaction threshold, ONE batch folds it into the base shards
  *     and truncates it. Per-batch commit cost is O(batch); the
  *     O(frontier) rewrite is amortized over the whole log. (The
  *     earlier rewrite-touched-shards design degraded to O(frontier)
  *     whenever batchSize ≫ numShards — a uniform hash touches every
  *     shard.)
  *   - Sequence numbers are (batchId << SEQ_BATCH_SHIFT) |
  *     (parentRank << POS_BITS) | pos — unique, monotone across
  *     batches AND in the (src_seq, pos) discovery order BY
  *     CONSTRUCTION: resume needs no max(seq) scan, replay can never
  *     reissue a seq, and assignment is pure arithmetic (no global
  *     sort, no range exchange, no window over the discovery set).
  *   - Batch counters ride the commit's own write jobs as
  *     `Observation`s instead of separate count() actions; per batch
  *     the driver runs ≤4 non-write jobs (schedule gate, one fused
  *     node+edge maybe-shard collect, a url-maybe-shard collect, and
  *     the discovery collect — which in driver-seen mode also carries
  *     the new url hashes), pinned by an EngineSpec listener test.
  *   - Node/edge/URL dedup never reads its full table per batch (the
  *     URL bloom-maybes confirm against only the frontier shards their
  *     canons hash to): node and edge families are two-phase — a sharded Bloom (blobs in
  *     `nodes_bloom`/`edges_bloom`, COMPACTION-FROZEN: the un-folded
  *     delta is the base segments past the watermark, excluded by a
  *     bounded exact anti-join in both seen modes) prefilters, then
  *     the exact confirm reads only the hash-sharded base shards
  *     holding maybes. In driver-seen mode the blob broadcasts are
  *     cached across batches (blobs change only at compaction), so
  *     per-batch node/edge-state driver cost is zero.
  *   - When the whole filter state fits under
  *     `cfg.seenDriverStateLimit`, the driver keeps the deserialized
  *     URL-seen shard filters, folds each batch's new 8-byte hashes in
  *     (bit-identical to the distributed mergeInPlace) and probes via
  *     a broadcast Column — zero probe jobs/shuffles; durability
  *     comes from the log (replayed into the filters on resume), the
  *     blobs hit disk only at compaction. Past the limit it switches
  *     to the shard-shuffle probe (plus an exact anti-join against
  *     the un-compacted log) that never holds more than one shard's
  *     state per task.
  *
  * Engine calls that plan at most [[CrawlEngine.InterpretedMaxRows]]
  * rows evaluate their expressions INTERPRETED
  * ([[SessionConf.interpreted]]: codegen factory mode `NO_CODEGEN` for
  * the length of the call). The rows are the batch's planned size,
  * min(batchSize, pending), for step(); the urls given to a
  * seed/enqueue/mark call; and the configured batch size for the
  * resume reads at construction. A batch plans ~24 small jobs whose
  * generated classes (~240 per batch on the polite ranged crawl, ~180
  * on a scan-join crawl) overflow Spark's JVM-wide codegen cache (100
  * entries by default), so with codegen Janino recompiled nearly every
  * class on every batch, on the driver and again in the tasks. A
  * 5,000-entry cache cuts that to 2 compiles per batch, but the cache
  * size is a static conf owned by whoever creates the session; turning
  * only whole-stage codegen off still leaves ~200 per batch
  * (expression-level projections). The compiles are a fixed cost per
  * batch, while interpreted evaluation costs more per row, so larger
  * calls keep the session's own mode (codegen by default). On 4 vCPUs
  * with ~12 KB pages of ~30 links, interpreted batches had ~35 % more
  * pages/s than codegen at 4,000 pages and ~4 % more at 20,000, but
  * ~1 % fewer at 30,000 (batch time +9 %) and ~16 % fewer at 50,000;
  * the limit sits between 20,000 and 30,000. Plans, job counts and
  * on-disk state are the same in both modes. The mode is session-wide
  * while a call runs: a query another thread plans on the same session
  * during an engine call (a [[graft.streaming.CrawlStream]] batch,
  * say) is evaluated interpreted too. Outside engine calls the
  * caller's own mode is in force; overlapping calls put it back once,
  * when the last returns.
  */
final class CrawlEngine(
    spark: SparkSession,
    val store: Store,
    profile: SiteProfile,
    cfg: CrawlConfig,
    pages: DataFrame,
    allowList: Option[DataFrame] = None,
    robots: Option[DataFrame] = None,
    // per-host politeness budgets (host, budget) — e.g. derived from
    // robots Crawl-delay via Politeness.budgetsFromDelays; hosts not
    // listed fall back to cfg.hostBudget
    hostBudgets: Option[DataFrame] = None,
    // per-batch page fetcher: given the batch's urls (one `url`
    // column), return (url, html) for the urls that resolve — e.g.
    // Warc.rangedFetcher's CDX-planned seek reads. When set, `pages`
    // is never scanned by step(): per-batch fetch cost is O(index) +
    // O(batch page bytes) instead of O(corpus page bytes). Urls the
    // fetcher doesn't return still route to fetch_errors (F6).
    fetcher: Option[DataFrame => DataFrame] = None) {

  import spark.implicits._

  private val ordering: Seq[Column] =
    Seq(col("priority"), col("depth"), col("seq"))

  private val frontierColNames =
    Seq("url", "canon", "host", "depth", "seq", "priority", "batch_id")
  private def frontierCols: Seq[Column] = frontierColNames.map(col)

  /** Run `f`, an engine call that plans queries over about `rows`
    * rows, with interpreted expression evaluation when `rows` is at
    * most [[CrawlEngine.InterpretedMaxRows]], else in the session's own
    * mode (see the class comment).
    */
  private def evaluated[T](rows: Long)(f: => T): T =
    if (rows <= CrawlEngine.InterpretedMaxRows) SessionConf.interpreted(spark)(f)
    else f

  /** tag an action's jobs for profilers/UIs (batch-time attribution) */
  private def described[T](label: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(null)
  }

  private def shardCol(c: Column): Column = Bloom.shardOf(c, cfg.numShards)

  /** Priority tier of a frontier row — the scheduler's range-partition
    * key. The global ordering leads with `priority`, so the set of all
    * rows with tier ≤ T is PREFIX-CLOSED in that ordering: scheduling
    * from it is exactly the global schedule whenever it yields a full
    * batch (widened otherwise). Clamped so the dir fan-out stays
    * bounded; rows at the clamp share one overflow tier (read
    * together — correctness over pruning).
    */
  private val maxTier = 4095L

  private def tierCol(priority: Column): Column =
    least(greatest(priority, lit(0L)), lit(maxTier)).cast("int")

  /** intra-batch seq bits: up to 2^44 discoveries per batch, 2^19
    * batches — far beyond any crawl, asserted at runtime.
    */
  private val seqBatchShift = 44

  /** low bits of an intra-batch seq: the link's position on its page
    * (≤ 2^20 links per page, loud error past that); the remaining
    * 24 intra-batch bits hold the parent's rank within the batch
    */
  private val seqPosBits = 20

  private def seqBase(batchId: Long): Long = {
    require(batchId < (1L << (63 - seqBatchShift)), s"batch id $batchId overflows seq encoding")
    batchId << seqBatchShift
  }

  /** id = xxhash64(name) (S6). Tests inject a narrow width via
    * cfg.idHashBits to force the collision guard to actually fire —
    * real 64-bit collisions are a 2^32-work birthday search.
    */
  private def idOf(name: Column): Column =
    if (cfg.idHashBits >= 64) xxhash64(name)
    else pmod(xxhash64(name), lit(1L << cfg.idHashBits))

  /** Runtime id-collision guard (reference parity: the serial id
    * service, db/db.go:65-105, can never collide; silently merging two
    * names into one node corrupts the graph). Grouping the delta by id
    * costs one 8-byte-key shuffle of the (small) new-name delta and
    * fails the batch loudly — inside the plan, before anything
    * commits — if two distinct names share an id.
    */
  private def withCollisionGuard(names: DataFrame): DataFrame =
    names
      .groupBy(idOf(col("name")).as("id"))
      .agg(collect_set(col("name")).as("__names"))
      .select(
        when(size(col("__names")) > 1,
          raise_error(concat(lit("node id collision between names: "),
            concat_ws(", ", col("__names")))))
          .otherwise(element_at(col("__names"), 1)).as("name"),
        col("id"))

  // ---- driver-tracked state (recovered from the store on resume) ----
  //
  // Every publish journals this ledger into the manifest's meta map
  // ([[stageEngineMeta]]) — a resume reads it back in O(1) instead of
  // scanning the frontier/metrics/log tables before batch 1 (at 10^10
  // pending rows the open scan was a full-table pass). The scans below
  // remain as the fallback for legacy stores, foreign writers (a
  // publish without the ledger CLEARS it — Store.meta doc), and the
  // explicit cfg.rebuildState escape hatch. The ledger is an exact
  // arithmetic mirror of the tables by induction; EngineSpec pins
  // journal-resume ≡ scan-rebuild equivalence.

  private val resumeMeta: Map[String, String] =
    if (cfg.rebuildState) Map.empty else store.meta

  private def metaLong(key: String): Option[Long] =
    resumeMeta.get(key).flatMap(v => scala.util.Try(v.toLong).toOption)

  /** running total for the stop gate (reference totalNodesAdded,
    * crawler/metrics.go:70-77) — journal, else the metrics table.
    */
  private var totalNodesAdded: Long =
    metaLong("eng.nodes_total").getOrElse(evaluated(cfg.batchSize) {
      store.read("metrics").map(
        _.filter(col("partition_id") === -1)
          .agg(coalesce(sum("nodes_added"), lit(0L))).as[Long].head()
      ).getOrElse(0L)
    })

  def nodesTotal: Long = totalNodesAdded

  /** (consumed rows, consumed canon bytes, total rows) of the frontier
    * log — journal, else one groupBy-kind scan of the (bounded) log.
    */
  /** Per-shard frontier-log fold WATERMARKS: a log row (written at
    * batch b, canon in shard s) is LIVE iff b > logWm(s). A staggered
    * fold retires a shard's rows by advancing its watermark — O(1)
    * driver arithmetic, no log rewrite (the earlier design rewrote
    * the whole log every staggered batch: O(live log) per batch,
    * which at a 10^10 frontier's auto threshold is a gigarow rewrite
    * per batch). Segments whose dir batch is ≤ min(logWm) hold only
    * dead rows and drop from the manifest without I/O.
    *
    * Durability: the `log_wm` TABLE (64 tiny rows, replaced whenever
    * a watermark moves) is the source of truth — it survives foreign
    * publishes that clear the meta journal; meta carries a copy only
    * as the O(1)-open fast path.
    */
  private val logWm: Array[Long] = {
    val fromMeta =
      if (cfg.rebuildState) None
      else resumeMeta.get("eng.log_wm").map { s =>
        val a = Array.fill(cfg.numShards)(-1L)
        s.split(',').filter(_.nonEmpty).foreach { kv =>
          val Array(sh, b) = kv.split(':')
          if (sh.toInt < cfg.numShards) a(sh.toInt) = b.toLong
        }
        a
      }
    fromMeta.getOrElse(evaluated(cfg.batchSize) {
      val a = Array.fill(cfg.numShards)(-1L)
      store.read("log_wm").foreach(_.select("shard", "upto").collect()
        .foreach(r => if (r.getInt(0) < cfg.numShards)
          a(r.getInt(0)) = r.getLong(1)))
      a
    })
  }

  /** Batch id of the store at engine construction: segments written by
    * THIS process are always modern-schema, so the legacy probe below
    * only ever touches segments that predate the open.
    */
  private val openBatchId: Long = store.batchId

  /** per-segment-dir legacy-schema verdicts, probed once per process */
  private val legacyLogDir =
    scala.collection.mutable.HashMap.empty[String, Boolean]

  /** Schema-normalizing frontier_log reader: segments written before
    * the log gained its `batch` column (pre-r4 stores) read that
    * column as null under plain parquet resolution, and once any
    * staggered fold sets a watermark, `null > wm` evaluates null and
    * the liveness filter silently DROPS every legacy row — consumed
    * kind-0 masks vanish and already-crawled URLs re-enter the
    * frontier. Legacy segments (probed once per dir, only among
    * segments that predate this open) are stamped with their dir's
    * batch id instead: that is exactly when their rows were appended,
    * they stay live until their shard's next fold consumes them into
    * the base, and the watermark that fold sets then correctly
    * retires them. The common case (no legacy segments) stays the
    * single multi-dir parquet read.
    */
  private def readLogRaw(): DataFrame = {
    val dirs = store.segmentDirs("frontier_log")
    if (dirs.isEmpty) emptyLog
    else {
      val (legacy, modern) = dirs.partition { d =>
        Store.batchOfDir(d) <= openBatchId &&
          legacyLogDir.getOrElseUpdate(d,
            !spark.read.parquet(s"${store.root}/$d")
              .schema.fieldNames.contains("batch"))
      }
      val parts =
        (if (modern.nonEmpty)
          Seq(spark.read.parquet(modern.map(d => s"${store.root}/$d"): _*))
        else Nil) ++
        legacy.map(d => spark.read.parquet(s"${store.root}/$d")
          .withColumn("batch", lit(Store.batchOfDir(d))))
      parts.reduce(_.unionByName(_)).select("canon", "kind", "batch")
    }
  }

  /** the LIVE frontier log: rows past their shard's fold watermark */
  private def liveLog(): DataFrame = {
    val raw = readLogRaw()
    if (logWm.forall(_ < 0L)) raw
    else {
      val wmOf = element_at(
        map_from_arrays(
          array((0 until cfg.numShards).map(i => lit(i)): _*),
          array(logWm.map(w => lit(w)): _*)),
        shardCol(col("canon")))
      raw.filter(col("batch") > coalesce(wmOf, lit(-1L)))
    }
  }

  /** Per-shard LIVE-log ledger: (consumed rows, consumed canon bytes,
    * total rows) per shard, maintained arithmetically (counts ride
    * the schedule-gate / discovery collects), journaled at every
    * publish; fallback = one groupBy scan of the live log. The
    * consumed-bytes side gates the anti-join broadcast hint by SIZE,
    * not row count.
    */
  private val lsN0 = Array.fill(cfg.numShards)(0L)
  private val lsB0 = Array.fill(cfg.numShards)(0L)
  private val lsN = Array.fill(cfg.numShards)(0L)

  locally {
    val fromMeta =
      if (cfg.rebuildState) None else resumeMeta.get("eng.log_shards")
    fromMeta match {
      case Some(s) =>
        s.split(',').filter(_.nonEmpty).foreach { kv =>
          val Array(sh, a, b, c) = kv.split(':')
          val i = sh.toInt
          if (i < cfg.numShards) { lsN0(i) = a.toLong; lsB0(i) = b.toLong; lsN(i) = c.toLong }
        }
      case None if store.exists("frontier_log") =>
        evaluated(cfg.batchSize)(liveLog()
          .groupBy(shardCol(col("canon")).as("s"), col("kind"))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(octet_length(col("canon"))), lit(0L)).as("b"))
          .collect()).foreach { r =>
            val s = r.getInt(0)
            if (s < cfg.numShards) {
              lsN(s) += r.getLong(2)
              if (r.getInt(1) == 0) { lsN0(s) += r.getLong(2); lsB0(s) += r.getLong(3) }
            }
          }
      case None => ()
    }
  }

  /** rows in the consumed side of the live log */
  private def consumedCount: Long = lsN0.sum

  private def consumedBytes: Long = lsB0.sum

  /** total live log rows — drives the compaction trigger */
  private def logRowCount: Long = lsN.sum

  /** pending frontier rows BY PRIORITY TIER — maintained by arithmetic
    * per batch (prev − selected + discovered, each side's per-tier
    * counts riding jobs that run anyway); journaled at every publish,
    * read from the store only as the fallback. The map picks the
    * scheduler's tier cut — it is an optimization only, the
    * widen-on-shortfall loop in step() keeps selection exact even if
    * it drifted.
    */
  private var pendingByTier: Map[Int, Long] =
    resumeMeta.get("eng.pending_tiers").map(CrawlEngine.parseTierCounts)
      .getOrElse(evaluated(cfg.batchSize) {
        store.read("frontier").map { raw =>
          frontierView(raw, liveLog())
            .groupBy(tierCol(col("priority")).as("t")).count()
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        }.getOrElse(Map.empty)
      })

  private def tierAdd(m: Map[Int, Long], delta: Iterable[(Int, Long)],
      sign: Long): Map[Int, Long] =
    delta.foldLeft(m) { case (acc, (t, n)) =>
      val v = acc.getOrElse(t, 0L) + sign * n
      if (v <= 0L) acc - t else acc.updated(t, v)
    }

  /** pending frontier rows (all tiers) */
  private def pendingCount: Long = pendingByTier.values.sum

  private def compactThreshold: Long =
    if (cfg.compactLogThreshold >= 0) cfg.compactLogThreshold
    else math.max(4L * cfg.batchSize, pendingCount / 4)

  /** staggered-compaction rotation pointer (cfg.compactShardsPerBatch
    * > 0): which shard the next partial fold starts at. Journaled at
    * every publish; a legacy resume restarting at 0 only affects
    * rotation fairness, never correctness (every shard's un-folded
    * state stays in the log).
    */
  private var nextCompactShard: Int =
    metaLong("eng.next_compact_shard").map(_.toInt).getOrElse(0)

  // ---- driver-resident seen state (small-state mode) ----

  private val blobBytes: Long =
    Bloom.serialize(BloomFilter.create(cfg.bloomItemsPerShard, cfg.bloomFpp)).length.toLong

  private val presenceBlobBytes: Long =
    Bloom.serialize(BloomFilter.create(cfg.bloomItemsPerShard, cfg.presenceFpp)).length.toLong

  /** filters are SIZED from itemsPerShard/fpp at creation (folds can
    * grow them later, but the mode pick needs only the configured
    * floor); the driver holds THREE filter families — url seen at
    * `bloomFpp`, edge + node presence at the denser `presenceFpp`
    */
  private val driverSeenMode: Boolean =
    cfg.numShards * (blobBytes + 2L * presenceBlobBytes) <= cfg.seenDriverStateLimit

  /** Driver-resident sharded Bloom set (small-state mode): live
    * filters plus lazily-serialized blobs. Serialization happens only
    * at the two points that actually need bytes (probe broadcast,
    * compaction rows), never on absorb — eager per-absorb
    * serialization would cost O(total filter state) CPU per batch
    * once batchSize ≫ numShards.
    *
    * One instance: the canonical-url seen set (J4/A5, durable via the
    * frontier log). The edge-presence family deliberately does NOT
    * live here: edges are the largest state family, and folding every
    * batch's edge keys through the driver (collect + absorb +
    * re-serialize + re-broadcast) made the driver O(batch) per batch.
    * Edge blobs are compaction-frozen instead (see [[edgeProbeBc]]).
    */
  private final class DriverFilters {
    private val filters = mutable.Map.empty[Int, BloomFilter]
    private val blobs = mutable.Map.empty[Int, Array[Byte]]
    private val counts = mutable.Map.empty[Int, Long]
    private val dirty = mutable.Set.empty[Int]

    def clear(): Unit = {
      filters.clear(); blobs.clear(); counts.clear(); dirty.clear()
    }

    def load(df: DataFrame): Unit =
      df.select("shard", "bloom", "count").collect().foreach { r =>
        val s = r.getInt(0)
        val b = r.getAs[Array[Byte]](1)
        filters(s) = Bloom.deserialize(b)
        blobs(s) = b
        counts(s) = r.getLong(2)
      }

    /** fold (shard, 64-bit key) pairs in — same put sequence the
      * distributed MergeAgg would apply, so blobs stay bit-identical
      * to a distributed merge
      */
    def absorb(pairs: Array[(Int, Long)]): Unit = pairs.foreach { case (s, h) =>
      filters.getOrElseUpdate(s,
        BloomFilter.create(cfg.bloomItemsPerShard, cfg.bloomFpp)).putLong(h)
      counts(s) = counts.getOrElse(s, 0L) + 1L
      dirty += s
    }

    /** serialize mutated filters; returns the consistent blob map */
    def fresh(): Map[Int, Array[Byte]] = {
      dirty.foreach(s => blobs(s) = Bloom.serialize(filters(s)))
      dirty.clear()
      blobs.toMap
    }

    /** (shard, bloom, count, __shard) rows straight from driver
      * memory — the small-state write path reads no old state
      */
    def rows(): DataFrame = {
      val bl = fresh()
      filters.keys.toSeq.sorted
        .map(s => SeenShard(s, bl(s), counts.getOrElse(s, 0L)))
        .toDF()
        .withColumn("__shard", col("shard"))
    }
  }

  private val urlSeen = new DriverFilters

  private def edgeKeyOf(src: Column, dst: Column): Column = xxhash64(src, dst)
  private def edgeShardOf(src: Column, dst: Column): Column =
    Bloom.shardOfHash(edgeKeyOf(src, dst), cfg.numShards)
  private def nameKeyOf(name: Column): Column = xxhash64(name)
  private def nameShardOf(name: Column): Column =
    Bloom.shardOfHash(nameKeyOf(name), cfg.numShards)

  /** A COMPACTION-FROZEN sharded blob family over an append-only base
    * table (edge presence over `edges`, node-name presence over
    * `nodes`). The stored blobs cover base segments with batch ≤
    * `upto`; newer segments are the un-folded LSM delta, excluded by
    * an exact, bounded anti-join every batch (both seen modes — the
    * blobs are never updated per batch, so the driver never collects
    * or folds per-batch keys for these families).
    *
    * In driver-seen mode the probe broadcast is CACHED across batches —
    * the blobs only change when a compaction folds the delta, so the
    * per-batch driver cost is zero between compactions (no collect, no
    * absorb, no re-serialization; the url-seen family can't do this
    * because its filters must admit every batch's discoveries
    * immediately, while presence probes tolerate a frozen snapshot +
    * delta anti-join). Lazily (re)built from the store on first use
    * after init/compaction.
    */
  private final class FrozenBlobs(val table: String) {
    /** journal, else the blob segments' own max batch id (exact too —
      * blobs are only ever written by a fold that advances upto to
      * the folding batch; the journal just removes the asymmetry)
      */
    var upto: Long = metaLong(s"eng.${table}_upto")
      .getOrElse(store.maxSegmentBatch(table))
    private var bcOpt: Option[Broadcast[Map[Int, Array[Byte]]]] = None

    def bc(): Broadcast[Map[Int, Array[Byte]]] = bcOpt.getOrElse {
      val m = store.read(table).map(
        _.select("shard", "bloom").collect()
          .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap)
        .getOrElse(Map.empty[Int, Array[Byte]])
      val b = spark.sparkContext.broadcast(m)
      bcOpt = Some(b)
      b
    }

    def invalidate(): Unit = {
      bcOpt.foreach(_.destroy())
      bcOpt = None
    }
  }

  private val edgeBlobs = new FrozenBlobs("edges_bloom")
  private val nodeBlobs = new FrozenBlobs("nodes_bloom")

  /** Resident EXACT-membership key cache over an append-only base
    * table — the structure behind the two-phase confirm's second
    * phase. The shard-restricted parquet confirm was o(table) only
    * while bloom maybes were RARE; the crawl's node lookups broke that
    * assumption: most links point at already-known pages, so the
    * maybes are TRUE members spread over every shard and the confirm
    * re-read the whole (growing) dictionary from disk every batch —
    * the measured per-batch creep. This cache holds just the JOIN
    * KEYS (8-16 B/row: 10^10 nodes ≈ 80 GB, ~80 MB/executor on the
    * 1000-executor target), hash-partitioned and `localCheckpoint`ed
    * once, then probed in memory every batch:
    *
    *   - members() = checkpointed base ∪ the exact parquet delta
    *     (segments published after the checkpoint — the same LSM
    *     window contract as the frozen blooms), so membership is
    *     exact at every batch;
    *   - the delta folds INTO the checkpoint (in-memory union +
    *     re-checkpoint, never a table re-read) once it spans
    *     `foldAfterSegs` segment dirs — amortized O(delta) per batch;
    *   - segment consolidation may rewrite already-covered rows into
    *     post-checkpoint segments: the delta then holds duplicates of
    *     cached keys, harmless to semi/anti-join membership and
    *     dropped at the next fold's dedup;
    *   - blocks live MEMORY_AND_DISK via localCheckpoint; losing an
    *     executor loses blocks and fails the batch — the engine
    *     resumes from the last published snapshot and rebuilds the
    *     cache from the base table (one columnar key-column read per
    *     process, vs the old design's one per BATCH).
    */
  private final class KeyCache(table: String, empty: () => DataFrame,
      keyOf: DataFrame => DataFrame, joinCols: Seq[String],
      keyBytes: Int) {
    private var dfOpt: Option[DataFrame] = None
    private var upto: Long = -1L
    private val foldAfterSegs = 8 * cfg.numShards

    /** rows resident in the checkpointed base (−1 until first build) —
      * counted at build/fold time against the already-materialized
      * checkpoint (a cached scan, not a recompute), so surfacing the
      * footprint costs one cheap job per rebuild, nothing per batch
      */
    @volatile private var baseRows: Long = -1L

    /** (cached rows, estimated bytes at `keyBytes`/row) for the bench
      * record — the 80 MB/executor scaling story, measured not
      * asserted. The un-folded delta (bounded by `foldAfterSegs`
      * segments) rides on top and is excluded.
      */
    def footprint: (Long, Long) =
      (math.max(baseRows, 0L), math.max(baseRows, 0L) * keyBytes)

    private def checkpointed(keys: DataFrame): DataFrame = {
      val cp = keys.repartition(cfg.numShards, joinCols.map(col): _*)
        .dropDuplicates(joinCols)
        .localCheckpoint(true)
      baseRows = cp.count()
      cp
    }

    /** exact member keys as of the CURRENT published snapshot */
    def members(): DataFrame = {
      val base = dfOpt.getOrElse {
        val built = described(s"key-cache-build:$table") {
          checkpointed(keyOf(store.readOr(table, empty())))
        }
        dfOpt = Some(built)
        upto = store.batchId
        built
      }
      store.readNewerThan(table, upto) match {
        case Some(delta) =>
          val deltaKeys = keyOf(delta)
          if (store.segmentsNewerThan(table, upto) > foldAfterSegs) {
            val folded = described(s"key-cache-fold:$table") {
              checkpointed(base.unionByName(deltaKeys))
            }
            base.unpersist()
            dfOpt = Some(folded)
            upto = store.batchId
            folded
          } else base.unionByName(deltaKeys)
        case None => base
      }
    }
  }

  /** node membership keys on the arithmetic id (names ARE their ids
    * under S6 — the same identity the whole edge layer builds on);
    * edge membership keys stay the raw (src, dst) pair — edges have
    * no collision guard, so a hashed key would not be exact
    */
  private val nodeKeyCache = new KeyCache("nodes", () => emptyNodes,
    df => df.select(nameKeyOf(col("name")).as("h")), Seq("h"), keyBytes = 8)
  private val edgeKeyCache = new KeyCache("edges", () => emptyEdges,
    df => df.select(col("src"), col("dst")), Seq("src", "dst"), keyBytes = 16)

  /** Fold every `base` segment past the family's watermark, plus the
    * staged-but-unpublished `extraKeys` delta, into the frozen blobs
    * (distributed build+merge, identical in both seen modes; the
    * write is bounded by the filter-state limit, not the base table).
    * Advances the watermark to `batchId`.
    */
  private def stageBlobFold(staged: Store#Staged, fam: FrozenBlobs,
      base: String, keyOf: DataFrame => DataFrame,
      extraKeys: Option[DataFrame], batchId: Long): Unit = {
    val deltaSegs = store.readNewerThan(base, fam.upto).map(keyOf)
    val keys = (deltaSegs, extraKeys) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
    keys.foreach { k =>
      // insertion fold (capacity-agnostic — blobs of any size accept
      // keys), flagging shards whose load passed their filter's design
      // capacity: without growth the FP rate decays toward 1 and the
      // maybe-side exact confirm degenerates into a full scan of an
      // UNBOUNDEDLY GROWING base table — the one failure mode a fixed
      // bloomItemsPerShard bakes in at 10^10 edges.
      val folded = Bloom.foldShardsInto(k,
        store.readOr(fam.table, emptySeen), cfg.numShards,
        cfg.bloomItemsPerShard, cfg.presenceFpp)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val overflow = described(s"blob-overflow:$base") {
        folded.filter(col("overflow")).select("shard", "count").collect()
      }
      val merged =
        if (overflow.isEmpty) folded.drop("overflow")
        else {
          // grow: rebuild the overloaded shards from their FULL key
          // set (shard-restricted base read + this batch's staged
          // delta) at the next power-of-two capacity seating 2x the
          // observed load — amortized O(1) rebuilds per key, the same
          // doubling argument as a hash table. Only these families can
          // grow (their raw keys live in the base table); the url-seen
          // family has no retained key set, and saturation there only
          // widens its exact confirm (bounded by PENDING, not by a
          // growing table), so it degrades gracefully by construction.
          val oShards = overflow.map(_.getInt(0)).toSet
          val maxLoad = overflow.map(_.getLong(1)).max
          val target = math.max(cfg.bloomItemsPerShard,
            java.lang.Long.highestOneBit(math.max(1L, 2L * maxLoad - 1L)) * 2L)
          val inO = Bloom.shardOfHash(col("h"), cfg.numShards)
            .isin(oShards.toSeq: _*)
          val baseKeys = store.readShards(base, oShards).map(keyOf)
          val rebuildKeys = (baseKeys, extraKeys) match {
            case (Some(a), Some(b)) => Some(a.unionByName(b))
            case (a, b) => a.orElse(b)
          }
          val rebuilt = rebuildKeys.map { rk =>
            Bloom.buildShardsFromHashes(rk.filter(inO),
              cfg.numShards, target, cfg.presenceFpp)
          }.getOrElse(folded.sparkSession.emptyDataFrame)
          folded.filter(!col("overflow")).drop("overflow")
            .unionByName(rebuilt)
        }
      staged.replaceShards(fam.table,
        merged.withColumn("__shard", col("shard")),
        0 until cfg.numShards, dropUnsharded = true)
      folded.unpersist()
      fam.upto = batchId
    }
  }

  private def edgeKeys(df: DataFrame): DataFrame =
    df.select(edgeKeyOf(col("src"), col("dst")).as("h"))
  private def nameKeys(df: DataFrame): DataFrame =
    df.select(nameKeyOf(col("name")).as("h"))

  if (driverSeenMode) evaluated(cfg.batchSize) {
    store.read("seen_shards").foreach(urlSeen.load)
    // replay the un-compacted seen log into the filters (resume after
    // a crash between compactions) — bounded by the compact threshold
    if (logRowCount - consumedCount > 0L && store.exists("frontier_log")) {
      val pairs = liveLog().filter(col("kind") === 1)
        .select(shardCol(col("canon")).as("s"), xxhash64(col("canon")).as("h"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      urlSeen.absorb(pairs)
    }
    // edge-presence state needs no resume replay: the blobs are
    // compaction-frozen and the post-watermark segments are re-read as
    // the delta anti-join on every batch
  }

  private def emptyFrontier: DataFrame =
    spark.emptyDataset[FrontierRow].toDF()

  private def emptyNodes: DataFrame = spark.emptyDataset[NodeRow].toDF()
  private def emptyEdges: DataFrame = spark.emptyDataset[EdgeRow].toDF()
  private def emptySeen: DataFrame = spark.emptyDataset[SeenShard].toDF()
  private def emptyLog: DataFrame = spark.emptyDataset[FrontierLogRow].toDF()
  private def emptyRecrawl: DataFrame = spark.emptyDataset[CuckooShard].toDF()
  private def emptyRecrawlKeys: DataFrame = spark.emptyDataset[RecrawlKey].toDF()

  /** live tombstone count in the recrawl cuckoo — 0 means the recrawl
    * path adds ZERO jobs to enqueue (a crawl that never marks pays
    * nothing); recovered from the blob rows on resume
    */
  private var recrawlCount: Long =
    metaLong("eng.recrawl_count").getOrElse(evaluated(cfg.batchSize) {
      store.read("recrawl_shards").map(
        _.agg(coalesce(sum("count"), lit(0L))).as[Long].head()).getOrElse(0L)
    })

  /** the live pending frontier: base segments minus the consumed side
    * of the log. The log is bounded by the compaction threshold, so
    * the anti-join side broadcasts (no shuffle of the frontier); past
    * a safety bound it degrades to a plain anti-join.
    */
  private def frontierView(frontierRaw: DataFrame, log: DataFrame): DataFrame =
    if (consumedCount == 0L) frontierRaw
    else {
      val consumed = log.filter(col("kind") === 0).select("canon")
      // force the broadcast only while the consumed side's ESTIMATED
      // BYTES stay bounded (tracked via an Observation riding the log
      // writes) — past that, the plain anti-join is the safe plan
      val side =
        if (consumedBytes <= cfg.logBroadcastBytesLimit) broadcast(consumed)
        else consumed
      frontierRaw.join(side, Seq("canon"), "left_anti")
    }

  /** one shuffle of the (small) delta so a sharded append emits one
    * file per shard instead of one per (task × shard) — without this
    * a 32-partition batch writing 64 shards leaves 2048 files
    */
  private def shardPacked(df: DataFrame): DataFrame =
    df.repartition(cfg.numShards, col("__shard"))

  /** test hook: the pending-frontier view exactly as step() plans it */
  private[graft] def pendingFrontierView(): DataFrame =
    frontierView(store.readOr("frontier", emptyFrontier), liveLog())

  private def applyRobots(df: DataFrame): DataFrame = robots match {
    case Some(rules) => graft.sites.Robots.filterAllowed(df, rules)
    case None => df
  }

  /** Bootstrap: seed URLs become frontier depth-0 rows; their names go
    * into `nodes` (the reference's twowaykv upsert assigns the seed an
    * id on its first AddEdges call; we do it eagerly), their canonical
    * urls into the seen shards. Robots rules apply to seeds exactly as
    * to discovered links — a disallowed URL is never fetched no matter
    * how it arrived (reference enforces at fetch time).
    */
  def seed(urls: Seq[String]): Unit = seedPrioritized(urls.map((_, 0L)))

  /** [[seed]] with a per-url frontier priority (lower tier = scheduled
    * first) — the entry point for sitemap-derived seeds
    * ([[graft.sources.Sitemaps.toSeeds]]) and change-rate recrawl
    * seeds ([[graft.sources.Cdx.toRecrawlSeeds]]).
    */
  def seedPrioritized(seeds: Seq[(String, Long)]): Unit = evaluated(seeds.length) {
    // fresh store: batchId starts at -1 → first batch 0. On a re-seed
    // the id keeps advancing so staged segment dirs (b{batch}-{n})
    // never collide with live segments of the previous crawl.
    val batchId = store.batchId + 1
    val seedDf = applyRobots(
      seeds.zipWithIndex.map { case ((u, p), i) => (u, p, i) }
        .toDF("url", "pri", "i")
        .withColumn("canon", canon.canonical_url(col("url")))
        .withColumn("host", canon.host_of(col("url")))
        .withColumn("depth", lit(0))
        .withColumn("seq", col("i").cast("long"))
        .withColumn("priority", col("pri").cast("long"))
        .withColumn("batch_id", lit(batchId))
        .drop("i", "pri"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val trips = seedDf
      .select(shardCol(col("canon")).as("s"), xxhash64(col("canon")).as("h"),
        tierCol(col("priority")).as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    val pairs = trips.map(p => (p._1, p._2))
    val frontier0 = seedDf.select(frontierCols: _*)
      .withColumn("__tier", tierCol(col("priority")))
      .withColumn("__shard", shardCol(col("canon")))
    // re-seeding a previously-used store must not duplicate a seed's
    // (name, id) row — a duplicate fans out through the name joins
    // into duplicated edges. nodes is append-only, so anti-join the
    // existing dictionary (no-op on a virgin store).
    val nodes0 = withCollisionGuard(
      seedDf.select(profile.cleanName(col("url")).as("name")).distinct()
        .join(store.readOr("nodes", emptyNodes).select("name"),
          Seq("name"), "left_anti"))

    val staged = store.stage(batchId)
    // nodes always land hash-sharded (step's exact confirm reads only
    // the shards its maybes hash to; plain segments are never pruned)
    staged.appendSharded("nodes", shardPacked(
      nodes0.withColumn("__shard", nameShardOf(col("name")))))
    // seeding defines the state afresh: replace ALL shards, drop any
    // stale append segments and truncate the log
    staged.replaceShards("frontier", frontier0, 0 until cfg.numShards,
      dropUnsharded = true)
    staged.replace("frontier_log", emptyLog)
    if (driverSeenMode) {
      urlSeen.clear()
      urlSeen.absorb(pairs)
      staged.replaceShards("seen_shards", urlSeen.rows(),
        0 until cfg.numShards, dropUnsharded = true)
    } else {
      val seen0 = Bloom.buildShards(
        seedDf.select(col("canon")), cfg.numShards,
        cfg.bloomItemsPerShard, cfg.bloomFpp)
        .withColumn("__shard", col("shard"))
      staged.replaceShards("seen_shards", seen0, 0 until cfg.numShards,
        dropUnsharded = true)
    }
    // a re-seed defines a new crawl: tombstones against the previous
    // crawl's seen set are meaningless
    if (store.exists("recrawl_shards")) {
      staged.replace("recrawl_shards", emptyRecrawl)
      staged.replace("recrawl_keys", emptyRecrawlKeys)
    }
    // a seed defines the state afresh: empty log, watermarks at this
    // batch (any stale segment a foreign writer might leave is dead)
    (0 until cfg.numShards).foreach(s => logWm(s) = batchId)
    staged.replace("log_wm", wmTable(logWm))
    java.util.Arrays.fill(lsN0, 0L)
    java.util.Arrays.fill(lsB0, 0L)
    java.util.Arrays.fill(lsN, 0L)
    val nextPending =
      trips.groupBy(_._3).map { case (t, xs) => t -> xs.length.toLong }
    stageEngineMeta(staged, nextPending, renderLogShards(lsN0, lsB0, lsN),
      renderLogWm(logWm), 0L, totalNodesAdded)
    staged.publish()
    pendingByTier = nextPending
    recrawlCount = 0L
    seedDf.unpersist()
  }

  /** Mark already-crawled URLs for refetch — the consumer side of the
    * change-rate recrawl channel ([[graft.sources.Cdx.toRecrawlSeeds]]).
    *
    * The url-seen Bloom is monotone: once a canon is in the blobs it
    * can never be un-seen, so a recrawl seed would be dropped by the
    * enqueue dedup forever. Marked urls' hashes enter the sharded
    * CUCKOO tombstone set instead (`recrawl_shards`,
    * [[graft.state.Cuckoo]]) — the north_rule's second URL-seen
    * structure, and the one that supports DELETION. enqueue* then
    * re-admits tombstoned urls past the seen set and DELETES their
    * fingerprints: each mark yields at most one re-admission
    * (exactly-once recrawl, no permanent re-admit loop).
    *
    * Exact keys land in `recrawl_keys` (truth table, wave-bounded):
    * re-admission and deletion confirm against it — a cuckoo FP never
    * causes a spurious refetch, only really-inserted fingerprints are
    * deleted (the safe cuckoo-deletion contract), and it is the
    * rebuild base when a shard filter overflows (a cuckoo cannot grow
    * in place: the stored fingerprint does not recover the key hash).
    *
    * Marks are consumed only by the enqueue path (discovered links
    * never consult tombstones — recrawl is an ingestion decision);
    * marking a never-crawled or robots-blocked url leaves a stale
    * fingerprint, bounded by the wave and cleared on the next rebuild
    * or [[seed]].
    */
  def markForRecrawl(urls: Seq[String]): Unit =
    if (urls.nonEmpty) evaluated(urls.length)(markNew(urls))

  private def markNew(urls: Seq[String]): Unit = {
    val batchId = store.batchId + 1
    val oldKeys = store.readOr("recrawl_keys", emptyRecrawlKeys)
    // only NEW tombstones reach the fold and the key table (re-marking
    // an already-marked url is a no-op, not a double insert)
    val keys = urls.distinct.toDF("url")
      .select(xxhash64(canon.canonical_url(col("url"))).as("h")).distinct()
      .join(oldKeys, Seq("h"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val folded = Cuckoo.foldShardsInto(keys,
      store.readOr("recrawl_shards", emptyRecrawl), cfg.numShards,
      cfg.recrawlItemsPerShard).persist(StorageLevel.MEMORY_AND_DISK)
    val agg = folded.agg(
      coalesce(sum("count"), lit(0L)),
      coalesce(max(col("overflow").cast("int")), lit(0))).head()
    val (liveTotal, overflowed) = (agg.getLong(0), agg.getInt(1) > 0)
    val staged = store.stage(batchId)
    staged.append("recrawl_keys", keys)
    if (overflowed) {
      // rebuild every shard from the exact keys at a capacity covering
      // the whole live set
      val allKeys = oldKeys.unionByName(keys)
      val per = math.max(cfg.recrawlItemsPerShard,
        2L * liveTotal / cfg.numShards)
      staged.replace("recrawl_shards",
        Cuckoo.buildShards(allKeys, cfg.numShards, per))
    } else {
      staged.replace("recrawl_shards", folded.drop("overflow"))
    }
    stageEngineMeta(staged, pendingByTier, renderLogShards(lsN0, lsB0, lsN),
      renderLogWm(logWm), liveTotal, totalNodesAdded)
    staged.publish()
    recrawlCount = liveTotal
    keys.unpersist()
    folded.unpersist()
  }

  /** mark + enqueue in one call: the full recrawl ingestion flow for
    * [[graft.sources.Cdx.toRecrawlSeeds]] output
    */
  def recrawl(seeds: Seq[(String, Long)]): Unit = {
    markForRecrawl(seeds.map(_._1))
    enqueuePrioritized(seeds)
  }

  /** Enqueue additional seed URLs into a live crawl (the streaming
    * ingestion path): rows the frontier or the node dictionary has
    * already seen are dropped, the rest join the frontier at depth 0
    * via the LSM append path — O(fresh) bytes written, no base
    * segment touched.
    *
    * Reads are O(batch), not O(state), the same two-phase shape as
    * step(): the url-seen bloom (⊇ the pending frontier — no false
    * negatives; in shuffle mode the post-compaction window is repaired
    * from the bounded log) prefilters the canons, so the pending-
    * frontier confirm reads ONLY the frontier shards holding maybes;
    * node membership uses the frozen nodes_bloom + shard-restricted
    * confirm + delta anti-join exactly as in step(). A streaming
    * micro-batch no longer scans the full frontier or dictionary.
    */
  def enqueue(urls: Seq[String]): Unit =
    enqueuePrioritized(urls.map((_, 0L)))

  /** [[enqueue]] with per-url frontier priorities — sitemap/recrawl
    * seeds flow into a LIVE crawl's tiered frontier. Duplicate urls
    * keep their first position and their hottest (lowest) tier.
    */
  def enqueuePrioritized(seeds0: Seq[(String, Long)]): Unit =
    if (!store.exists("frontier")) seedPrioritized(seeds0)
    else evaluated(seeds0.length)(enqueueLive(seeds0))

  private def enqueueLive(seeds0: Seq[(String, Long)]): Unit = {
    val dedup = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    seeds0.foreach { case (u, p) =>
      dedup.update(u, math.min(p, dedup.getOrElse(u, Long.MaxValue)))
    }
    val seeds = dedup.toSeq
    val log = liveLog()
    val batchId = store.batchId + 1
    val seedDf = applyRobots(
      seeds.zipWithIndex.map { case ((u, p), i) => (u, p, i) }
        .toDF("url", "pri", "i")
        .withColumn("canon", canon.canonical_url(col("url")))
        .withColumn("host", canon.host_of(col("url")))
        .withColumn("depth", lit(0))
        .withColumn("seq", col("i").cast("long") + lit(seqBase(batchId)))
        .withColumn("priority", col("pri").cast("long"))
        .withColumn("batch_id", lit(batchId))
        .drop("i", "pri"))
      .withColumn("name", profile.cleanName(col("url")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // url maybe-set: bloom probe, widened in shuffle mode by the
    // window log (canons enqueued since the last compaction are not in
    // the stored blobs — the log is the exact, bounded repair set)
    val probeBc: Option[Broadcast[Map[Int, Array[Byte]]]] =
      if (driverSeenMode) Some(spark.sparkContext.broadcast(urlSeen.fresh()))
      else None
    val probedU0 = probeBc match {
      case Some(bc) =>
        seedDf.withColumn("maybe_seen",
          Bloom.blobsColumnBc(bc, cfg.numShards, col("canon")))
      case None =>
        val probed = Bloom.probeSeenShuffle(seedDf,
          store.readOr("seen_shards", emptySeen), cfg.numShards)
        seedDf.join(probed, Seq("canon"), "left")
          .withColumn("maybe_seen", coalesce(col("maybe_seen"), lit(false)))
    }
    val probedU =
      if (driverSeenMode || logRowCount == 0L) probedU0
      else probedU0
        .join(log.filter(col("kind") === 1).select("canon").distinct()
          .withColumn("__w", lit(true)), Seq("canon"), "left")
        .withColumn("maybe_seen", col("maybe_seen") || coalesce(col("__w"), lit(false)))
        .drop("__w")
    val maybeU = probedU.filter(col("maybe_seen"))
      .withColumn("__ushard", shardCol(col("canon")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // url maybe-shard set (one small collect)
    val uShards: Set[Int] =
      maybeU.select(col("__ushard").as("s")).distinct()
        .collect().map(_.getInt(0)).toSet

    // pending-frontier confirm restricted to the maybe shards (the
    // view subtracts the consumed log exactly as step()'s reads do)
    val pendingMaybe =
      if (uShards.isEmpty) emptyFrontier
      else frontierView(
        store.readShards("frontier", uShards).getOrElse(emptyFrontier),
        log.filter(Bloom.shardOf(col("canon"), cfg.numShards)
          .isin(uShards.toSeq: _*)))
    // node-membership confirm: exact anti-join against the resident
    // dictionary key cache (same structure as step()'s confirm — the
    // per-batch read is O(seeds + in-memory key scan), never a
    // shard-restricted re-read of the growing dictionary)
    val memberKeys = nodeKeyCache.members()
    val freshNamed = seedDf
      .join(pendingMaybe.select("canon"), Seq("canon"), "left_anti")
      .withColumn("__h", nameKeyOf(col("name")))
      .join(memberKeys.withColumnRenamed("h", "__h"), Seq("__h"), "left_anti")
      .drop("__h")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val fresh = freshNamed.select(frontierCols: _*)

    // ---- recrawl re-admission ([[markForRecrawl]]) ----
    // Two-phase like every other membership here: the wave-bounded
    // cuckoo prefilters (an inline broadcast column — ZERO extra jobs
    // when no tombstones exist), the exact recrawl_keys table confirms.
    // A tombstoned url is the complement of the fresh path's admission
    // (it IS a dictionary member), so the two paths can never both
    // admit one url. Every confirmed tombstone is CONSUMED this batch:
    //   - url still pending            → its coming fetch satisfies the
    //                                    mark (nothing to write)
    //   - consumed-log window (crawled since the last compaction, base
    //     row still present but masked) → RESURRECT: drop its kind-0
    //                                    mask from the bounded log
    //   - crawled + compacted + in nodes → RE-ADMIT: append a new
    //                                    frontier row at the seed tier
    //   - marked but never crawled     → not maybe_seen, so the fresh
    //                                    path admits it (its stale
    //                                    fingerprint stays, bounded —
    //                                    see markForRecrawl's doc)
    // and every CONFIRMED tombstone's fingerprint is deleted from the
    // cuckoo — the exactly-once contract. Deletion is what a Bloom
    // cannot express.
    var tombBc: Option[Broadcast[Map[Int, Array[Byte]]]] = None
    val tombstoned: Option[DataFrame] =
      if (recrawlCount == 0L) None
      else {
        val blobs = store.readOr("recrawl_shards", emptyRecrawl)
          .select(col("shard"), col("cuckoo")).collect()
          .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
        val bc = spark.sparkContext.broadcast(blobs)
        tombBc = Some(bc)
        val t = maybeU
          .withColumn("__h", xxhash64(col("canon")))
          .filter(Cuckoo.blobsColumnBcHash(bc, cfg.numShards, col("__h")))
          .join(store.readOr("recrawl_keys", emptyRecrawlKeys)
            .withColumnRenamed("h", "__h"), Seq("__h"), "left_semi")
          .persist(StorageLevel.MEMORY_AND_DISK)
        if (t.isEmpty) { t.unpersist(); None } else Some(t)
      }
    val consumedCanons = log.filter(col("kind") === 0).select("canon")
    val (tombResurrect, tombReadmit) = tombstoned match {
      case None => (None, None)
      case Some(t) =>
        val notPending =
          t.join(pendingMaybe.select("canon"), Seq("canon"), "left_anti")
        val res = notPending
          .join(consumedCanons, Seq("canon"), "left_semi")
          .persist(StorageLevel.MEMORY_AND_DISK)
        val adm = notPending
          .join(consumedCanons, Seq("canon"), "left_anti")
          .withColumn("__h", nameKeyOf(col("name")))
          .join(memberKeys.withColumnRenamed("h", "__h"), Seq("__h"), "left_semi")
          .drop("__h")
          .persist(StorageLevel.MEMORY_AND_DISK)
        (Some(res), Some(adm))
    }
    // resurrect accounting: per-SHARD rows + canon bytes in one small
    // collect (feeds the per-shard live-log ledger and the broadcast
    // gate)
    val resByShard: Map[Int, (Long, Long)] = tombResurrect.map { r =>
      r.groupBy(shardCol(col("canon")).as("s"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(octet_length(col("canon"))), lit(0L)).as("b"))
        .collect().map(x => x.getInt(0) -> (x.getLong(1), x.getLong(2))).toMap
    }.getOrElse(Map.empty)
    val resCount = resByShard.values.map(_._1).sum
    // resurrected rows keep their ORIGINAL priority (they come back as
    // the base rows they are) — tier counts read from the raw shards
    // already restricted to uShards
    val resTierCounts: Seq[(Int, Long)] =
      if (resCount == 0L) Nil
      else store.readShards("frontier", uShards).getOrElse(emptyFrontier)
        .join(tombResurrect.get.select("canon"), Seq("canon"), "left_semi")
        .groupBy(tierCol(col("priority")).as("t")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
    val readmitCells: Seq[(Int, Int, Long)] = tombReadmit.map {
      _.groupBy(tierCol(col("priority")).as("t"),
          shardCol(col("canon")).as("s")).count()
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    }.getOrElse(Nil)
    val readmitTierCounts: Seq[(Int, Long)] =
      readmitCells.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._3).sum }.toSeq
    val readmitCount = readmitTierCounts.map(_._2).sum
    // only driver-seen mode needs the actual (shard, hash) pairs on the
    // driver (to fold into the resident filters); shuffle mode needs
    // just the COUNT — collecting up to millions of boxed tuples per
    // streaming micro-batch for `length` alone is pure driver pressure
    // driver mode: ONE collect carries (shard, hash) for the resident
    // filters AND the tier for the pending ledger; shuffle mode
    // collects only the per-tier counts (≤ #tiers rows — never the
    // canons themselves)
    val trips: Array[(Int, Long, Int)] =
      if (driverSeenMode)
        fresh
          .select(shardCol(col("canon")).as("s"), xxhash64(col("canon")).as("h"),
            tierCol(col("priority")).as("t"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
      else Array.empty
    val pairs: Array[(Int, Long)] = trips.map(p => (p._1, p._2))
    val freshCells: Seq[(Int, Int, Long)] =
      if (driverSeenMode)
        trips.groupBy(t => (t._3, t._1))
          .map { case ((t, sh), xs) => (t, sh, xs.length.toLong) }.toSeq
      else
        fresh.groupBy(tierCol(col("priority")).as("t"),
            shardCol(col("canon")).as("s")).count()
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    val tierCounts: Seq[(Int, Long)] =
      freshCells.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._3).sum }.toSeq
    val freshCount: Long = tierCounts.map(_._2).sum
    val tombCount: Long = tombstoned.map(_.count()).getOrElse(0L)
    def cleanup(): Unit = {
      Seq(seedDf, maybeU, freshNamed).foreach(_.unpersist())
      tombstoned.foreach(_.unpersist())
      tombResurrect.foreach(_.unpersist())
      tombReadmit.foreach(_.unpersist())
      probeBc.foreach(_.destroy())
      tombBc.foreach(_.destroy())
    }
    if (freshCount == 0L && tombCount == 0L) {
      cleanup()
      return
    }
    // freshNamed already excluded every existing dictionary name
    val newNodes = withCollisionGuard(
      freshNamed.select(col("name")).distinct())

    // LSM append path, same shape as step(): the fresh rows and their
    // kind-1 log entries; seen durability via the log. Sharded append
    // keeps the frontier layout uniform (staggered compaction relies
    // on every segment being shard-addressable).
    val staged = store.stage(batchId)
    staged.appendSharded("nodes", shardPacked(
      newNodes.withColumn("__shard", nameShardOf(col("name")))))
    val frontierRows = tombReadmit match {
      case Some(r) => fresh.unionByName(r.select(frontierCols: _*))
      case None => fresh
    }
    staged.appendSharded("frontier", shardPacked(
      frontierRows.withColumn("__tier", tierCol(col("priority")))
        .withColumn("__shard", shardCol(col("canon")))))
    val logNew = frontierRows.select(col("canon"), lit(1).as("kind"),
      lit(batchId).as("batch"))
    if (resCount > 0L) {
      // resurrection = drop the resurrected canons' kind-0 masks from
      // the (bounded) log; their kind-1 rows stay — the canons remain
      // seen. One bounded rewrite, only on recrawl batches that hit
      // the consumed window.
      val resC = tombResurrect.get.select("canon").withColumn("__res", lit(true))
      val keptLog = log.join(resC, Seq("canon"), "left")
        .filter(!(coalesce(col("__res"), lit(false)) && col("kind") === 0))
        .select("canon", "kind", "batch") // rows KEEP their batch ids —
        // liveness against the unchanged watermarks is preserved
      staged.replace("frontier_log", keptLog.unionByName(logNew))
    } else {
      staged.append("frontier_log", logNew)
    }
    // every confirmed tombstone was consumed above (pending / resurrect
    // / re-admit / fresh-path) — delete the fingerprints and their
    // exact keys; the set only shrinks until the next markForRecrawl
    var doneCount = 0L
    if (tombCount > 0L) {
      val done = tombstoned.get.select(col("__h").as("h")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      doneCount = done.count()
      val foldedT = Cuckoo.foldShardsInto(done,
        store.readOr("recrawl_shards", emptyRecrawl), cfg.numShards,
        cfg.recrawlItemsPerShard, delete = true)
      staged.replace("recrawl_shards", foldedT.drop("overflow"))
      staged.replace("recrawl_keys",
        store.readOr("recrawl_keys", emptyRecrawlKeys)
          .join(done, Seq("h"), "left_anti"))
      done.unpersist()
    }
    if (driverSeenMode) urlSeen.absorb(pairs)
    val nextPending = tierAdd(tierAdd(tierAdd(
      pendingByTier, tierCounts, 1L), resTierCounts, 1L),
      readmitTierCounts, 1L)
    val nextRecrawl = math.max(0L, recrawlCount - doneCount)
    // per-shard live-log ledger: resurrect removed kind-0 rows, the
    // fresh + readmit rows appended kind-1 rows
    resByShard.foreach { case (sh, (n, b)) =>
      lsN0(sh) = math.max(0L, lsN0(sh) - n)
      lsB0(sh) = math.max(0L, lsB0(sh) - b)
      lsN(sh) = math.max(0L, lsN(sh) - n)
    }
    (freshCells ++ readmitCells).foreach { case (_, sh, n) =>
      if (sh < cfg.numShards) lsN(sh) += n
    }
    stageEngineMeta(staged, nextPending, renderLogShards(lsN0, lsB0, lsN),
      renderLogWm(logWm), nextRecrawl, totalNodesAdded)
    staged.publish()
    recrawlCount = nextRecrawl
    pendingByTier = nextPending
    cleanup()
  }

  /** A4: per-host politeness cap, salt-first to defuse hot-host skew
    * (north_rule). With `hostBudgets` (robots Crawl-delay) the cap is
    * per-host-variable; unlisted hosts keep cfg.hostBudget. With
    * `cfg.politenessSuffixRules` the cap keys on the registrable
    * domain (one budget per SITE, not per subdomain) — the key swap
    * is a per-row expression (interpreted or codegen'd like the rest
    * of the batch — see the class comment), costs no extra shuffle, and
    * the frontier's own host column is restored afterwards.
    */
  private def politenessCap(frontier: DataFrame): DataFrame = {
    val siteKeyed = cfg.politenessSuffixRules.nonEmpty
    val keyed =
      if (!siteKeyed) frontier
      else frontier.withColumn("__raw_host", col("host"))
        .withColumn("host", coalesce(
          graft.functions.canon.reg_domain(col("host"),
            cfg.politenessSuffixRules), col("host")))
    val capped = hostBudgets match {
      case Some(b) =>
        Politeness.capPerHostBudgets(keyed, b, cfg.hostBudget, cfg.salt, ordering)
      case None =>
        Politeness.capPerHost(keyed, cfg.hostBudget, cfg.salt, ordering)
    }
    if (!siteKeyed) capped
    else capped.withColumn("host", col("__raw_host")).drop("__raw_host")
  }

  /** Compact-only commit (no selection): fold the residual log into
    * the sharded bases and truncate it. Runs when the crawl drains.
    */
  private def compactResidual(batchId: Long, frontierViewDf: DataFrame,
      log: DataFrame): Unit = {
    val staged = store.stage(batchId)
    staged.replaceShards("frontier",
      frontierViewDf.withColumn("__tier", tierCol(col("priority")))
        .withColumn("__shard", shardCol(col("canon"))),
      0 until cfg.numShards, dropUnsharded = true)
    staged.replace("frontier_log", emptyLog)
    if (driverSeenMode) {
      staged.replaceShards("seen_shards", urlSeen.rows(),
        0 until cfg.numShards, dropUnsharded = true)
    } else {
      val delta = Bloom.buildShards(
        log.filter(col("kind") === 1).select("canon"),
        cfg.numShards, cfg.bloomItemsPerShard, cfg.bloomFpp)
      val merged = Bloom.mergeShards(
        store.readOr("seen_shards", emptySeen), delta,
        cfg.bloomItemsPerShard, cfg.bloomFpp)
        .withColumn("__shard", col("shard"))
      staged.replaceShards("seen_shards", merged, 0 until cfg.numShards,
        dropUnsharded = true)
    }
    // fold un-covered edge/node segments into the frozen blob families
    stageBlobFold(staged, edgeBlobs, "edges", edgeKeys, None, batchId)
    stageBlobFold(staged, nodeBlobs, "nodes", nameKeys, None, batchId)
    staged.consolidateSegments("edges", store.consolidationPlan("edges"))
    staged.consolidateSegments("nodes", store.consolidationPlan("nodes"))
    (0 until cfg.numShards).foreach(s => logWm(s) = batchId)
    staged.replace("log_wm", wmTable(logWm))
    java.util.Arrays.fill(lsN0, 0L)
    java.util.Arrays.fill(lsB0, 0L)
    java.util.Arrays.fill(lsN, 0L)
    stageEngineMeta(staged, pendingByTier, renderLogShards(lsN0, lsB0, lsN),
      renderLogWm(logWm), recrawlCount, totalNodesAdded)
    staged.publish()
    edgeBlobs.invalidate()
    nodeBlobs.invalidate()
    store.sweepOrphans() // superseded segments are garbage once swapped
  }

  /** serialized per-shard live-log ledger (only non-zero shards) */
  private def renderLogShards(n0: Array[Long], b0: Array[Long],
      n: Array[Long]): String =
    (0 until cfg.numShards).iterator
      .filter(i => n(i) != 0L || n0(i) != 0L)
      .map(i => s"$i:${n0(i)}:${b0(i)}:${n(i)}").mkString(",")

  /** serialized watermarks (only folded shards) */
  private def renderLogWm(wm: Array[Long]): String =
    (0 until cfg.numShards).iterator.filter(i => wm(i) >= 0L)
      .map(i => s"$i:${wm(i)}").mkString(",")

  /** the 64-row log_wm snapshot table */
  private def wmTable(wm: Array[Long]): DataFrame =
    (0 until cfg.numShards).map(i => LogWatermark(i, wm(i))).toDF()

  /** journal the driver ledger with a staged snapshot — the values are
    * the POST-batch state the next open recovers in O(1)
    */
  private def stageEngineMeta(staged: Store#Staged,
      pending: Map[Int, Long], logShards: String, logWmS: String,
      recrawl: Long, nodesTotal: Long): Unit =
    staged.putMeta(
      "eng.pending_tiers" -> CrawlEngine.renderTierCounts(pending),
      "eng.log_shards" -> logShards,
      "eng.log_wm" -> logWmS,
      "eng.next_compact_shard" -> nextCompactShard.toString,
      "eng.edges_bloom_upto" -> edgeBlobs.upto.toString,
      "eng.nodes_bloom_upto" -> nodeBlobs.upto.toString,
      "eng.recrawl_count" -> recrawl.toString,
      "eng.nodes_total" -> nodesTotal.toString)

  /** Run one micro-batch. Returns None when the frontier is empty. */
  def step(): Option[BatchResult] =
    evaluated(math.min(cfg.batchSize.toLong, pendingCount))(runBatch())

  private def runBatch(): Option[BatchResult] = {
    val phaseLog = mutable.ArrayBuffer.empty[(String, Double)]
    val statLog = mutable.ArrayBuffer.empty[(String, Long)]
    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally phaseLog += name -> ((System.nanoTime() - t0) / 1e9)
    }
    val batchId = store.batchId + 1
    val log = liveLog()
    // full pending view — compaction folds only; the SCHEDULE below
    // reads a tier-pruned subset and the URL membership confirm reads
    // a shard-pruned one, so a non-compacting batch never evaluates
    // this (lazy)
    lazy val frontier = frontierView(store.readOr("frontier", emptyFrontier), log)

    // --- schedule (north_rule §2.8): the frontier is laid out
    //     range-partitioned by priority tier, so the batch take reads
    //     ONLY the lowest tiers that can cover a batch — O(active
    //     wave), not O(pending): in a deepening BFS the accumulating
    //     next-wave rows are written but never re-scanned. Tiers ≤ cut
    //     are prefix-closed under the (priority, depth, seq) ordering
    //     AND under the per-host politeness rank (a host's earlier
    //     rows all sort into the prefix), so when the pruned take
    //     fills the batch it EQUALS the global take; a shortfall
    //     (tier transition, binding host caps) widens to the full
    //     view and retries — selection is exact in every case. ---
    val tiersOnDisk = store.tiers("frontier")
    val startCut: Option[Int] =
      if (tiersOnDisk.isEmpty) None
      else {
        // smallest tier prefix whose TRACKED pending covers the batch
        // (tracked counts are exact arithmetic, but only an optimizer:
        // the widen path below owns correctness)
        val target = math.min(cfg.batchSize.toLong, math.max(1L, pendingCount))
        var acc = 0L
        val idx = tiersOnDisk.indexWhere { t =>
          acc += pendingByTier.getOrElse(t, 0L); acc >= target
        }
        if (idx < 0 || idx == tiersOnDisk.length - 1) None
        else Some(tiersOnDisk(idx))
      }
    def scheduleAt(cut: Option[Int]): DataFrame = {
      val raw = cut match {
        case Some(t) => store.readTiersUpTo("frontier", t).getOrElse(emptyFrontier)
        case None => store.readOr("frontier", emptyFrontier)
      }
      politenessCap(frontierView(raw, log))
        .orderBy(ordering: _*).limit(cfg.batchSize)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    // non-write job 1 (the batch gate) — its collect carries the
    // batch's per-(tier, shard) counts AND consumed canon bytes for
    // the pending + per-shard log ledgers in one pass
    def gate(df: DataFrame): Array[(Int, Int, Long, Long)] =
      described("schedule-gate") {
        df.groupBy(tierCol(col("priority")).as("t"),
            shardCol(col("canon")).as("s"))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(octet_length(col("canon"))), lit(0L)).as("b"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      }
    var selected = scheduleAt(startCut)
    var selGate = phase("schedule") { gate(selected) }
    def tierSums(g: Array[(Int, Int, Long, Long)]): Map[Int, Long] =
      g.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._3).sum }
    var selByTier = tierSums(selGate)
    var selCount = selByTier.values.sum
    var schedCut = startCut
    if (selCount < cfg.batchSize && startCut.isDefined) {
      // pruned take came up short — deeper tiers may owe rows
      selected.unpersist()
      selected = scheduleAt(None)
      selGate = phase("schedule_widen") { gate(selected) }
      selByTier = tierSums(selGate)
      selCount = selByTier.values.sum
      schedCut = None
    }
    // tracked rows in the tiers the (final) schedule read — reported
    // in BatchResult as the O(active wave) evidence
    val schedRowsRead = schedCut
      .map(t => pendingByTier.collect { case (k, v) if k <= t => v }.sum)
      .getOrElse(pendingCount)
    if (selCount == 0) {
      selected.unpersist()
      // drained: fold any residual log so the stored base tables equal
      // the (empty) live set — consumers and resumes see clean state
      if (logRowCount > 0L) compactResidual(batchId, frontier, log)
      return None
    }

    // --- fetch: frontier ⋈ pages (S1); misses → fetch_errors (F6,
    //     written below with its count observation attached). With a
    //     `fetcher`, the batch's page rows are materialized by ranged
    //     reads (O(batch)) and the static corpus never scans; both the
    //     fetch join and the error anti-join run against the (tiny,
    //     cached) per-batch result ---
    val pageSource = fetcher match {
      case Some(f) =>
        f(selected.select(col("url"))).persist(StorageLevel.MEMORY_AND_DISK)
      case None => pages
    }
    val fetched = selected.join(pageSource, Seq("url"), "inner")

    // --- parse + extract + validate (S4/G1/D1-D5/F1-F4) ---
    val extracted = fetched
      .withColumn("__ex", Extract.extract_links(col("html"), lit(profile.name)))
      .select(
        col("url").as("src_url"),
        profile.cleanName(col("url")).as("src_name"),
        col("depth"), col("seq").as("src_seq"),
        col("__ex.links").as("links"), col("__ex.err").as("err"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val exploded = extracted
      .select(col("src_url"), col("src_name"), col("depth"), col("src_seq"),
        posexplode(col("links")).as(Seq("pos", "href")))
      .filter(profile.isValidLink(col("href")))
    val validLinks = allowList match {
      case Some(al) if profile.usesAllowList =>
        Sites.allowListSemiJoin(exploded, al, profile)
      case _ => exploded
    }

    // --- canonicalize; within-batch collapse by (page, clean name) —
    //     reference collapses dup hrefs per page via the name map
    //     (db/db.go:132-136, pinned db/db_test.go:283-287) ---
    val named = validLinks
      .withColumn("dst_name", profile.cleanName(col("href")))
      .dropDuplicates("src_url", "dst_name")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // --- node upsert (S6/J1): two-phase insert-if-absent with
    //     O(batch) reads, the same shape as edges below. The frozen
    //     nodes_bloom prefilters the batch's names; definitely-new
    //     names are anti-joined against the un-folded node-segment
    //     delta, and the exact confirm reads ONLY the node shards
    //     holding maybes (their name column — never the full
    //     dictionary; the earlier full name-column semi-scan was the
    //     last per-batch O(table) read in the engine). ---
    val batchNames = named.select(col("dst_name").as("name"))
      .union(extracted.select(col("src_name").as("name")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val probedN = (if (driverSeenMode) {
      batchNames.withColumn("maybe_present",
        Bloom.blobsColumnBcHash(nodeBlobs.bc(), cfg.numShards,
          nameKeyOf(col("name"))))
    } else {
      val probed = Bloom.probeSeenShuffleHash(
        batchNames.select(nameKeyOf(col("name")).as("h")),
        store.readOr("nodes_bloom", emptySeen), cfg.numShards)
      batchNames
        .withColumn("h", nameKeyOf(col("name")))
        .join(probed, Seq("h"), "left")
        .withColumn("maybe_present", coalesce(col("maybe_seen"), lit(false)))
        .drop("h", "maybe_seen")
    }).persist(StorageLevel.MEMORY_AND_DISK)
    val deltaNodes: Option[DataFrame] =
      store.readNewerThan("nodes", nodeBlobs.upto)
    val defNewN0 = probedN.filter(!col("maybe_present")).drop("maybe_present")
    val defNewN = deltaNodes match {
      case Some(d) => defNewN0.join(d.select("name"), Seq("name"), "left_anti")
      case None => defNewN0
    }
    val maybeN = probedN.filter(col("maybe_present")).drop("maybe_present")
      .withColumn("__nshard", nameShardOf(col("name")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // --- edges (J3/S5): two-phase insert-if-absent with O(batch)
    //     reads — the reference's indexed insert-if-absent
    //     (db/db.go:19-62) is O(batch), and per-batch O(edge-table)
    //     scans die at 10^10 edges. Endpoint ids derive arithmetically
    //     (id = xxhash64(name), S6) so the old nodes⋈delta resolution
    //     join is gone entirely (its "reverse lookup" miss is
    //     impossible by construction; CrawlEngine.resolvedIdOrError
    //     guards the id→name direction where a real join remains).
    //     The sharded edge-presence bloom prefilters: an edge key can
    //     recur across batches only via multi-URL names (a url is
    //     fetched once), so maybes ≈ fp·batch + rare true dups, and
    //     the exact confirm reads ONLY the edge shards holding maybes
    //     (appendSharded layout), never the full table. ---
    val candidates = named
      .select(idOf(col("src_name")).as("src"), idOf(col("dst_name")).as("dst"))
      .distinct()
    // persisted: BOTH downstream branches (definitely-new filter and
    // maybe filter) consume it — without the cache the candidates
    // distinct shuffle and the bloom probe run twice per batch
    val probedE = (if (driverSeenMode) {
      candidates.withColumn("maybe_present",
        Bloom.blobsColumnBcHash(edgeBlobs.bc(), cfg.numShards,
          edgeKeyOf(col("src"), col("dst"))))
    } else {
      val probed = Bloom.probeSeenShuffleHash(
        candidates.select(edgeKeyOf(col("src"), col("dst")).as("h")),
        store.readOr("edges_bloom", emptySeen), cfg.numShards)
      candidates
        .withColumn("h", edgeKeyOf(col("src"), col("dst")))
        .join(probed, Seq("h"), "left")
        .withColumn("maybe_present", coalesce(col("maybe_seen"), lit(false)))
        .drop("h", "maybe_seen")
    }).persist(StorageLevel.MEMORY_AND_DISK)
    // the stored blobs cover only segments ≤ watermark; newer appends
    // are anti-joined exactly (a bounded LSM delta — the same contract
    // as the url-seen log, in both seen modes)
    val deltaEdges: Option[DataFrame] =
      store.readNewerThan("edges", edgeBlobs.upto)
    val defNewE0 = probedE.filter(!col("maybe_present")).drop("maybe_present")
    val defNewE = deltaEdges match {
      case Some(d) => defNewE0.join(d, Seq("src", "dst"), "left_anti")
      case None => defNewE0
    }
    val maybeE = probedE.filter(col("maybe_present")).drop("maybe_present")
      .withColumn("__eshard", edgeShardOf(col("src"), col("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // non-write job: ONE collect fetches BOTH families' (tiny)
    // maybe-shard sets — they bound the exact confirm reads
    // (materializing this pipeline also runs fetch + parse + extract
    // into the caches — the bulk of "extract_confirm" is that work)
    val maybeShardRows = phase("extract_confirm") { described("maybe-shards") {
      maybeN.select(lit(0).as("f"), col("__nshard").as("s"))
        .unionByName(
          maybeE.select(lit(1).as("f"), col("__eshard").as("s")))
        .groupBy(col("f"), col("s")).count()
        .collect()
    } }
    val maybeNShards =
      maybeShardRows.filter(_.getInt(0) == 0).map(_.getInt(1)).toSet
    val maybeShards =
      maybeShardRows.filter(_.getInt(0) == 1).map(_.getInt(1)).toSet
    // maybe-ROW counts (same collect, now per-shard counted): the
    // quantitative side of the post-first-fold step — once the
    // presence blobs come alive, most re-seen names probe "maybe" and
    // the exact-confirm joins enter the discovery plan (see the
    // `discover` phase note in BASELINE.md)
    val maybeNRows = maybeShardRows.filter(_.getInt(0) == 0)
      .map(_.getLong(2)).sum
    val maybeERows = maybeShardRows.filter(_.getInt(0) == 1)
      .map(_.getLong(2)).sum
    // exact confirms probe the RESIDENT key caches (in-memory keys ∪
    // bounded parquet delta) — the maybes here are mostly TRUE members
    // (links to already-known pages), so a disk confirm would re-read
    // the whole dictionary every batch; the cache makes the per-batch
    // cost O(maybes + in-memory key scan), flat while the table grows
    val confirmedNewNodes =
      if (maybeNShards.isEmpty) emptyNodes.select("name")
      else {
        val memberKeys = phase("node_cache") { nodeKeyCache.members() }
        maybeN.select("name")
          .withColumn("h", nameKeyOf(col("name")))
          .join(memberKeys, Seq("h"), "left_anti")
          .drop("h")
      }
    val newNodes = withCollisionGuard(
      defNewN.select("name").unionByName(confirmedNewNodes))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val confirmedNewEdges =
      if (maybeShards.isEmpty) emptyEdges
      else {
        val memberPairs = phase("edge_cache") { edgeKeyCache.members() }
        maybeE.select("src", "dst")
          .join(memberPairs, Seq("src", "dst"), "left_anti")
      }
    val newEdges = defNewE.unionByName(confirmedNewEdges)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // --- recursion set (S2): first discovery of each *newly created*
    //     node wins; children enqueued in (parent seq, DOM pos) order ---
    val discoveries = named
      .join(newNodes.select(col("name").as("dst_name")), Seq("dst_name"), "left_semi")
      .groupBy(col("dst_name"))
      .agg(min(struct(col("src_seq"), col("pos"), col("href"), col("depth")))
        .as("first"))
      .select(col("dst_name"), col("first.src_seq").as("src_seq"),
        col("first.pos").as("pos"), col("first.href").as("href"),
        col("first.depth").as("parent_depth"))
      .withColumn("url",
        when(col("href").startsWith("http"), col("href"))
          .otherwise(concat(lit(profile.base), col("href"))))
      .withColumn("canon", canon.canonical_url(col("url")))
      .withColumn("host", canon.host_of(col("url")))
      .withColumn("depth", col("parent_depth") + 1)
      .withColumn("priority", col("depth").cast("long")) // BFS tier

    // robots.txt politeness (north_rule): disallowed (host, path
    // prefix) pairs never enter the frontier
    val allowedDiscoveries = applyRobots(discoveries)

    // URL-level guard (reference colly visited layer, J4): bloom
    // prefilter, exact anti-join vs pending frontier for maybes.
    // Small-state mode probes a broadcast of the driver-held blobs —
    // zero jobs, zero shuffles; large-state mode shard-shuffles the
    // candidates so no task ever holds more than one shard's filter.
    val probeBc: Option[Broadcast[Map[Int, Array[Byte]]]] =
      if (driverSeenMode) Some(spark.sparkContext.broadcast(urlSeen.fresh()))
      else None
    // persisted: the maybe-shard collect below and BOTH membership
    // branches consume it — and the cache means the discovery
    // groupBy/robots/probe pipeline runs once per batch, not once per
    // branch
    val guarded = (probeBc match {
      case Some(bc) =>
        allowedDiscoveries.withColumn("maybe_seen",
          Bloom.blobsColumnBc(bc, cfg.numShards, col("canon")))
      case None =>
        val probed = Bloom.probeSeenShuffle(allowedDiscoveries,
          store.readOr("seen_shards", emptySeen), cfg.numShards)
        allowedDiscoveries.join(probed, Seq("canon"), "left")
          .withColumn("maybe_seen", coalesce(col("maybe_seen"), lit(false)))
    }).persist(StorageLevel.MEMORY_AND_DISK)
    val definitelyNew0 = guarded.filter(!col("maybe_seen")).drop("maybe_seen")
    // shuffle mode probes only the COMPACTED base filters; canons that
    // entered the seen set since the last compaction live in the log
    // (kind 1) and are excluded by an exact, bounded anti-join. Driver
    // mode needs no such step — its in-memory filters already hold
    // every absorbed hash.
    val definitelyNew =
      if (driverSeenMode || logRowCount == 0L) definitelyNew0
      else definitelyNew0.join(
        log.filter(col("kind") === 1).select("canon"), Seq("canon"), "left_anti")
    // the exact confirm for bloom maybes reads ONLY the frontier
    // shards their canons hash to (the frontier is canon-sharded on
    // disk exactly for this) — never the full pending table; the full
    // `frontier` view is now touched only by compaction folds. The
    // (tiny) shard set is one more O(batch) collect; driver mode pays
    // for it by fusing the discovery-count job into the url-hash
    // collect below.
    val maybeUShards: Set[Int] = phase("url_probe") {
      described("url-maybe-shards") {
        guarded.filter(col("maybe_seen"))
          .select(shardCol(col("canon")).as("s")).distinct()
          .collect().map(_.getInt(0)).toSet
      }
    }
    val confirmSide =
      if (maybeUShards.isEmpty) emptyFrontier
      else frontierView(
        store.readShards("frontier", maybeUShards).getOrElse(emptyFrontier),
        log.filter(shardCol(col("canon")).isin(maybeUShards.toSeq: _*)))
    val confirmedNew = guarded.filter(col("maybe_seen")).drop("maybe_seen")
      .join(confirmSide.select("canon"), Seq("canon"), "left_anti")
    val newDiscoveries = definitelyNew.unionByName(confirmedNew)

    // --- sequence assignment: PURE ARITHMETIC, no global sort.
    //     seq = seqBase | parentRank << POS_BITS | pos, where
    //     parentRank is the parent's rank by src_seq within this
    //     batch's (bounded) selected set. Strictly monotone in
    //     (src_seq, pos) — the BFS discovery order — and unique
    //     ((parent, pos) identifies one link instance), so it replaces
    //     the earlier range-partitioned zipWithIndex, whose range
    //     sampler re-evaluated the whole uncached discovery pipeline
    //     a second time and paid an extra exchange + window per batch.
    //     The rank window is a single partition of ≤ batchSize rows
    //     (the schedule take is K ≪ frontier by design) broadcast into
    //     the discovery stream; overflow of either bit field raises
    //     inside the plan rather than silently corrupting order. ---
    val parentRanks = {
      import org.apache.spark.sql.expressions.Window
      selected.select(col("seq").as("src_seq"))
        .withColumn("__prank",
          row_number().over(
            Window.partitionBy(lit(0)).orderBy(col("src_seq"))).cast("long") - 1L)
    }
    val prankBits = seqBatchShift - seqPosBits
    val newFrontier = newDiscoveries
      .join(broadcast(parentRanks), Seq("src_seq"))
      .withColumn("seq",
        when(col("pos") >= (1L << seqPosBits) ||
             col("__prank") >= (1L << prankBits),
          raise_error(concat(lit("seq field overflow: pos="), col("pos"),
            lit(" prank="), col("__prank"))))
          .otherwise(lit(seqBase(batchId)) +
            shiftleft(col("__prank"), seqPosBits) + col("pos")))
      .withColumn("batch_id", lit(batchId))
      .select(frontierCols: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // non-write job 2 (discoveries) — materializes the discovery
    // pipeline ONCE into the cache (extracted/named/newNodes caches
    // fire here) and feeds the per-tier pending ledger. Driver seen
    // mode ALSO needs the batch's new url (shard, hash) pairs for the
    // in-memory filter fold — it was already collecting a row per new
    // url, so the tier rides that same collect and the count-only job
    // disappears (budget for the url-maybe-shards collect above).
    // Shuffle mode never collects rows — it keeps the count-only job.
    // Edge hashes are NOT collected in either mode — the edge-presence
    // blobs are compaction-frozen (the un-folded segments are the
    // delta anti-join above), so the driver never touches per-batch
    // edge state.
    val (newByTier: Map[Int, Long], newByShard: Map[Int, Long],
        newUrlHashes: Array[(Int, Long)]) =
      phase("discover") { if (driverSeenMode) {
        val rows = described("discoveries+url-hashes") {
          newFrontier.select(
            shardCol(col("canon")).as("s"),
            xxhash64(col("canon")).as("h"),
            tierCol(col("priority")).as("t")).collect()
        }
        val byTier = rows.groupBy(_.getInt(2))
          .map { case (t, rs) => t -> rs.length.toLong }
        val byShard = rows.groupBy(_.getInt(0))
          .map { case (s, rs) => s -> rs.length.toLong }
        (byTier, byShard, rows.map(r => (r.getInt(0), r.getLong(1))))
      } else {
        val cells = described("discoveries") {
          newFrontier.groupBy(tierCol(col("priority")).as("t"),
              shardCol(col("canon")).as("s")).count()
            .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        }
        val byTier = cells.groupBy(_._1)
          .map { case (t, xs) => t -> xs.map(_._3).sum }
        val byShard = cells.groupBy(_._2)
          .map { case (s, xs) => s -> xs.map(_._3).sum }
        (byTier, byShard, Array.empty[(Int, Long)])
      } }
    val newCount = newByTier.values.sum

    // --- stage the commit; counters ride the writes as Observations.
    //     NOTE: observe() is attached ON TOP of the persisted Datasets
    //     at write time — a CollectMetrics node buried *below* a cache
    //     is invisible to the outer query's observed metrics, so
    //     observing the pre-persist plan would deadlock/miss. ---
    val obsNodes = Observation()
    val obsEdges = Observation()
    val obsErr = Observation()
    val obsDepth = Observation()
    val staged = store.stage(batchId)
    // frozen-blob folds (compaction only, both seen modes): the
    // un-covered base segments + this batch's staged delta (the delta
    // DFs exclude this batch — its appends are staged but the probe
    // plans read the previous snapshot)
    def stageBlobFolds(): Unit = {
      phase("blob_fold_edges") {
        stageBlobFold(staged, edgeBlobs, "edges", edgeKeys,
          Some(edgeKeys(newEdges.select("src", "dst"))), batchId)
      }
      phase("blob_fold_nodes") {
        stageBlobFold(staged, nodeBlobs, "nodes", nameKeys,
          Some(nameKeys(newNodes.select("name"))), batchId)
      }
      // size-tiered segment consolidation rides the fold (the blob
      // watermarks advance to this batch in the same commit, so the
      // rewritten rows never reappear in the readNewerThan delta):
      // without it these append-only tables gain one dir per shard per
      // batch FOREVER, and every maybe-shard confirm / delta read pays
      // the growing listing + parquet-footer tax — the measured
      // per-batch creep at a flat steal probe.
      phase("consolidate") {
        staged.consolidateSegments("edges", store.consolidationPlan("edges"))
        staged.consolidateSegments("nodes", store.consolidationPlan("nodes"))
      }
    }
    // batch-size facts for the phase diagnosis: what the LSM deltas
    // and listings looked like when THIS batch read them
    statLog += "edge_segs" -> store.segmentCount("edges").toLong
    statLog += "node_segs" -> store.segmentCount("nodes").toLong
    statLog += "frontier_segs" -> store.segmentCount("frontier").toLong
    statLog += "log_segs" -> store.segmentCount("frontier_log").toLong
    statLog += "delta_edge_segs" ->
      store.segmentsNewerThan("edges", edgeBlobs.upto).toLong
    statLog += "delta_node_segs" ->
      store.segmentsNewerThan("nodes", nodeBlobs.upto).toLong
    statLog += "maybe_n_shards" -> maybeNShards.size.toLong
    statLog += "maybe_e_shards" -> maybeShards.size.toLong
    statLog += "maybe_u_shards" -> maybeUShards.size.toLong
    statLog += "maybe_n_rows" -> maybeNRows
    statLog += "maybe_e_rows" -> maybeERows
    statLog += "log_rows" -> logRowCount
    // resident KeyCache footprint (rows + estimated bytes): the 8-16
    // B/row scaling claim, recorded per batch instead of asserted
    locally {
      val (nr, nb) = nodeKeyCache.footprint
      val (er, eb) = edgeKeyCache.footprint
      statLog += "node_cache_rows" -> nr
      statLog += "node_cache_bytes" -> nb
      statLog += "edge_cache_rows" -> er
      statLog += "edge_cache_bytes" -> eb
    }
    // nodes land hash-sharded (like edges) so future exact confirms
    // can read only the shards their maybes hash to
    phase("commit_nodes") {
      staged.appendSharded("nodes", shardPacked(newNodes
        .withColumn("__shard", nameShardOf(col("name"))))
        .observe(obsNodes, count(lit(1)).as("n")))
    }
    phase("commit_edges") {
      staged.appendSharded("edges", shardPacked(newEdges
        .withColumn("__shard", edgeShardOf(col("src"), col("dst"))))
        .observe(obsEdges, count(lit(1)).as("n")))
    }
    // the depth metric rides the error write's scan of `selected`
    // (observe sits between the cache scan and the anti join, so it
    // sees every selected row): maxDepth = deepest row scheduled
    val errorsObserved = selected
      .observe(obsDepth, coalesce(max(col("depth")), lit(0)).as("maxd"))
      .join(pageSource.select(col("url")), Seq("url"), "left_anti")
      .select(col("url"), lit(batchId).as("batch_id"),
        lit("page not in corpus").as("reason"))
      .observe(obsErr, count(lit(1)).as("n"))
    phase("commit_errors") { staged.append("fetch_errors", errorsObserved) }

    val doCompact = logRowCount + selCount + newCount >= compactThreshold
    val staggered = doCompact && cfg.compactShardsPerBatch > 0
    statLog += "compact" -> (if (staggered) 1L else if (doCompact) 2L else 0L)
    // rotation advance for a staggered batch (hoisted: the post-batch
    // per-shard ledger needs the fold set too)
    val staggeredFoldShards: Set[Int] =
      if (!staggered) Set.empty
      else {
        val k = cfg.compactShardsPerBatch
        val f = (0 until k)
          .map(i => (nextCompactShard + i) % cfg.numShards).toSet
        nextCompactShard = (nextCompactShard + k) % cfg.numShards
        f
      }
    if (driverSeenMode) urlSeen.absorb(newUrlHashes)
    // the batch's log delta — O(batch) rows, ONE plain append in every
    // branch that keeps a log; liveness rides the batch column
    def logDelta: DataFrame =
      selected.select(col("canon"), lit(0).as("kind"),
          lit(batchId).as("batch"))
        .unionByName(newFrontier.select(col("canon"), lit(1).as("kind"),
          lit(batchId).as("batch")))
    phase("commit_frontier") { if (!doCompact) {
      // LSM append path — O(batch) bytes: new frontier rows + the
      // (canon, kind) log delta. Base shards and base blobs untouched;
      // driver-mode seen durability comes from the log itself.
      staged.appendSharded("frontier", shardPacked(
        newFrontier.withColumn("__tier", tierCol(col("priority")))
          .withColumn("__shard", shardCol(col("canon")))))
      staged.append("frontier_log", logDelta)
    } else if (staggered) {
      // staggered compaction: fold only K shards this batch, rotating
      // through the shard space across compactions — the full-base
      // rewrite (the classic LSM write-stall: one giant pause at
      // 10^10 rows) becomes numShards/K bounded pauses. Reads AND
      // writes of the fold are restricted to the K shards
      // (readShards + the sharded append layout).
      val foldShards = staggeredFoldShards
      val inFold = Bloom.shardOf(col("canon"), cfg.numShards)
        .isin(foldShards.toSeq: _*)
      val rawS = store.readShards("frontier", foldShards)
        .getOrElse(emptyFrontier)
      val liveS = frontierView(rawS, log.filter(inFold))
        .join(selected.select("canon"), Seq("canon"), "left_anti")
        .unionByName(newFrontier.filter(inFold))
        .withColumn("__tier", tierCol(col("priority")))
        .withColumn("__shard", shardCol(col("canon")))
      staged.replaceShards("frontier", liveS, foldShards.toSeq)
      staged.appendSharded("frontier", shardPacked(
        newFrontier.filter(!inFold)
          .withColumn("__tier", tierCol(col("priority")))
          .withColumn("__shard", shardCol(col("canon")))))
      // log maintenance is O(batch) + O(1): append the FULL delta and
      // retire the folded shards by advancing their WATERMARKS — their
      // rows (old segments AND this delta, batch = batchId, wm =
      // batchId ⇒ dead on arrival, matching liveS having folded them
      // into the base). No rewrite of the live remainder; segments
      // whose dir batch is ≤ every shard's watermark hold only dead
      // rows and drop from the manifest without I/O. (The earlier
      // design rewrote the whole live log every staggered batch —
      // O(pending/4) per batch at the auto threshold, a gigarow
      // rewrite per batch at a 10^10 frontier.)
      staged.append("frontier_log", logDelta)
      foldShards.foreach(s => logWm(s) = batchId)
      staged.replace("log_wm", wmTable(logWm))
      staged.dropSegmentsUpTo("frontier_log", logWm.min)
      if (driverSeenMode) {
        staged.replaceShards("seen_shards",
          urlSeen.rows().filter(col("shard").isin(foldShards.toSeq: _*)),
          foldShards.toSeq)
      } else {
        val newCanonsS = log.filter(col("kind") === 1)
          .unionByName(logDelta.filter(col("kind") === 1))
          .filter(inFold).select("canon")
        val delta = Bloom.buildShards(newCanonsS,
          cfg.numShards, cfg.bloomItemsPerShard, cfg.bloomFpp)
        val oldS = store.readOr("seen_shards", emptySeen)
          .filter(col("shard").isin(foldShards.toSeq: _*))
        val merged = Bloom.mergeShards(oldS, delta,
          cfg.bloomItemsPerShard, cfg.bloomFpp)
          .withColumn("__shard", col("shard"))
        staged.replaceShards("seen_shards", merged, foldShards.toSeq)
      }
    } else {
      // compaction batch: fold the whole log + this batch into the
      // sharded bases and truncate the log. Amortized O(frontier /
      // (threshold/batch)) per batch.
      val pendingAll = frontier
        .join(selected.select("canon"), Seq("canon"), "left_anti")
        .unionByName(newFrontier)
        .withColumn("__tier", tierCol(col("priority")))
        .withColumn("__shard", shardCol(col("canon")))
      staged.replaceShards("frontier", pendingAll, 0 until cfg.numShards,
        dropUnsharded = true)
      staged.replace("frontier_log", emptyLog)
      (0 until cfg.numShards).foreach(s => logWm(s) = batchId)
      staged.replace("log_wm", wmTable(logWm))
      if (driverSeenMode) {
        staged.replaceShards("seen_shards", urlSeen.rows(),
          0 until cfg.numShards, dropUnsharded = true)
      } else {
        val allNewCanons = log.filter(col("kind") === 1).select("canon")
          .unionByName(newFrontier.select("canon"))
        val delta = Bloom.buildShards(allNewCanons,
          cfg.numShards, cfg.bloomItemsPerShard, cfg.bloomFpp)
        val merged = Bloom.mergeShards(
          store.readOr("seen_shards", emptySeen), delta,
          cfg.bloomItemsPerShard, cfg.bloomFpp)
          .withColumn("__shard", col("shard"))
        staged.replaceShards("seen_shards", merged, 0 until cfg.numShards,
          dropUnsharded = true)
      }
    } }
    // edge/node-presence blob folds + segment consolidation ride
    // compaction batches (staggered or full), but only once the
    // un-folded delta has accumulated blobFoldDeltaBatches of appends:
    // in steady state every batch is a staggered compaction, and
    // folding 60 MB of blobs + rebroadcasting them per batch was GC
    // churn, not progress — the exact delta anti-join covers the
    // (bounded) window between folds either way. A full (non-
    // staggered) compaction always folds: its readers expect the base
    // tables and derived snapshots to line up at one batch id.
    val deltaReady =
      store.segmentsNewerThan("edges", edgeBlobs.upto) >=
        cfg.blobFoldDeltaBatches * cfg.numShards ||
      store.segmentsNewerThan("nodes", nodeBlobs.upto) >=
        cfg.blobFoldDeltaBatches * cfg.numShards
    val doFold = doCompact && (!staggered || deltaReady)
    statLog += "fold" -> (if (doFold) 1L else 0L)
    if (doFold) stageBlobFolds()

    // --- metrics (A1-A3) with per-partition lineage (north_rule);
    //     written last so the batch row can carry the observed counts ---
    val nodesAddedCount = obsNodes.get("n").asInstanceOf[Long]
    val edgesAddedCount = obsEdges.get("n").asInstanceOf[Long]
    val errorCount = obsErr.get("n").asInstanceOf[Long]
    val maxDepthBatch = obsDepth.get("maxd").asInstanceOf[Int]
    val partMetrics = newFrontier
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("nodes_added"), max("depth").as("max_depth"))
      .select(lit(batchId).as("batch_id"), col("partition_id"),
        lit(0L).as("pages"), col("nodes_added"),
        col("max_depth"), current_timestamp().as("ts"))
    val batchMetrics = Seq(
      (batchId, -1, selCount, nodesAddedCount, maxDepthBatch))
      .toDF("batch_id", "partition_id", "pages", "nodes_added", "max_depth")
      .withColumn("ts", current_timestamp())
    phase("commit_metrics") {
      staged.append("metrics", batchMetrics.unionByName(partMetrics))
    }

    // ---- post-batch ledger (computed BEFORE publish so the journal
    //      rides the same atomic manifest swap; the per-shard arrays
    //      mutate in place — on a publish failure the engine object is
    //      not reusable, the same contract as the rotation pointer) ----
    val nextPending =
      tierAdd(tierAdd(pendingByTier, selByTier, -1L), newByTier, 1L)
    val selByShard: Map[Int, (Long, Long)] = selGate.groupBy(_._2)
      .map { case (s, xs) => s -> (xs.map(_._3).sum, xs.map(_._4).sum) }
    if (doCompact && !staggered) {
      java.util.Arrays.fill(lsN0, 0L)
      java.util.Arrays.fill(lsB0, 0L)
      java.util.Arrays.fill(lsN, 0L)
    } else {
      staggeredFoldShards.foreach { s =>
        lsN0(s) = 0L; lsB0(s) = 0L; lsN(s) = 0L
      }
      selByShard.foreach { case (s, (n, b)) =>
        if (!staggeredFoldShards(s)) {
          lsN0(s) += n; lsB0(s) += b; lsN(s) += n
        }
      }
      newByShard.foreach { case (s, n) =>
        if (!staggeredFoldShards(s)) lsN(s) += n
      }
    }
    val nextTotalNodes = totalNodesAdded + nodesAddedCount
    stageEngineMeta(staged, nextPending, renderLogShards(lsN0, lsB0, lsN),
      renderLogWm(logWm), recrawlCount, nextTotalNodes)

    phase("publish") { staged.publish() }
    if (doCompact) {
      phase("sweep") { store.sweepOrphans() } // drop superseded dirs
      // blob watermarks advanced inside stageBlobFolds
    }

    pendingByTier = nextPending
    totalNodesAdded = nextTotalNodes

    Seq(selected, extracted, named, batchNames, probedN, maybeN, newNodes,
      probedE, maybeE, newEdges, guarded, newFrontier).foreach(_.unpersist())
    if (fetcher.isDefined) pageSource.unpersist()
    probeBc.foreach(_.destroy())
    // a fold rewrote the presence blobs — the cached probe broadcasts
    // are stale; the next batch re-reads + re-broadcasts the snapshot.
    // Non-folding compactions keep the caches warm (that is the point
    // of the fold cadence: no per-batch 60 MB broadcast churn).
    if (doFold) { edgeBlobs.invalidate(); nodeBlobs.invalidate() }

    Some(BatchResult(batchId, selCount, errorCount, nodesAddedCount,
      edgesAddedCount, maxDepthBatch, pendingCount, schedRowsRead,
      phaseLog.toSeq, statLog.toSeq))
  }

  /** Loop until budget (F5) or empty frontier; approximate stop at
    * batch granularity like the reference's post-page check
    * (crawler/crawler.go:107-111).
    */
  def run(): Seq[BatchResult] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[BatchResult]
    var continue = true
    while (continue && out.length < cfg.maxBatches) {
      if (cfg.maxNodes != -1 && totalNodesAdded >= cfg.maxNodes) continue = false
      else step() match {
        case Some(r) => out += r
        case None => continue = false
      }
    }
    out.toSeq
  }
}
