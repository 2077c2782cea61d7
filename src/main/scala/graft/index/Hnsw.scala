package graft.index

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hierarchical Navigable Small World graphs — the index family the
  * reference engine actually ships (`/root/reference/lib/hnsw/hnsw.h`,
  * Malkov & Yashunin TPAMI'18), re-expressed for a cluster: the corpus
  * is hash-sharded into `parts` independent sub-graphs, each built
  * sequentially INSIDE one task (graph construction is inherently
  * order-dependent — this is the genuine per-partition imperative case
  * `mapPartitions` exists for), persisted as one parquet file per part,
  * and probed by searching every shard's graph in parallel and merging
  * the per-shard top-k with a global TakeOrdered. This is how
  * production distributed HNSW deployments shard (each shard holds an
  * in-memory graph over its slice; a query fans out to all shards) —
  * recall of the merged result is ≥ any single shard's, because each
  * shard's beam search only has to be right about its own slice.
  *
  * Everything is DETERMINISTIC, unlike the reference's `rand()`-seeded
  * level draw (`hnsw.h:159-164`): the level of a node is derived from a
  * splitmix64 hash of its id (same geometric distribution with
  * ml = 1/ln(M), but reproducible across runs, partitionings and
  * engines), insertion order is ascending id within a shard, and every
  * ordering comparison ties on (distance, id). Two builds over the same
  * corpus produce bit-identical adjacency — which is what lets the
  * declared queries sit under the driver's hash gate at all.
  *
  * Distances are squared L2 accumulated in float64 left-to-right over
  * the float32 elements — the exact arithmetic of the codegen kernel
  * ([[org.apache.spark.sql.graft.L2SqExpr]]) and of the engine-wide
  * §2.3 semantics, so a distance emitted by the graph walk is
  * bit-equal to the kernel's recomputation for the same pair.
  *
  * 100 TB shape: construction cost is O(n·log n) GRAPH WORK per shard
  * with no corpus-sized shuffle beyond the one hash repartition the
  * build pays (same discipline as the IVF layout build); the layout is
  * written once behind the shared fingerprint sidecar and probed many
  * times; a probe reads only the layout table (adjacency + vectors),
  * builds nothing, and shuffles only the ≤ parts·k merged candidate
  * rows. Choose `parts` so one shard's parquet file stays under
  * `spark.sql.files.maxPartitionBytes` (the probe groups rows by part
  * inside each scan partition, so shards may COMBINE into one task but
  * must not SPLIT across two — 1 B vectors at 64 d ≈ 2 000 parts;
  * [[autoParts]] sizes this from the corpus row count). The invariant
  * is ENFORCED, not assumed: builds record per-shard node counts in a
  * `_graft_part_counts.json` sidecar and every probe task `require`s
  * that the rows it assembled for a shard match — a split shard fails
  * loudly instead of silently merging partial-graph candidates.
  */
object Hnsw {

  /** Build parameters. `m` is the per-layer connectivity bound (M in
    * the paper), layer 0 allows `2·m` (M_max0 — the reference's 32 for
    * M=16, `hnsw.h:25`), `efConstruction` the beam width during
    * insertion. */
  final case class Params(m: Int = 8, efConstruction: Int = 64, parts: Int = 4) {
    require(m >= 2, s"m must be >= 2, got $m")
    require(efConstruction >= m, s"efConstruction must be >= m")
    require(parts >= 1, s"parts must be >= 1, got $parts")
    val mMax0: Int = 2 * m
    val ml: Double = 1.0 / math.log(m.toDouble)
  }

  /** Derive `parts` from the corpus size instead of guessing: one
    * shard's layout file must stay under the scan split size so a
    * probe task always sees WHOLE shards ([[searchCandidates]] enforces
    * it; this sizes it). Bytes/node ≈ the float32 vector + the ≈2·m
    * layer-0 edges and sparse upper layers + row overhead. The floor of
    * 4 keeps probe parallelism at small corpora (and matches the
    * engine's historical default, so fixture-scale layouts are
    * unchanged); at 1 B × 64 d this lands in the ~2 000-part regime the
    * header comment estimates. */
  def autoParts(
      nRows: Long,
      dim: Int,
      m: Int = 8,
      targetShardBytes: Long = 64L << 20): Int = {
    require(nRows >= 0 && dim >= 1 && targetShardBytes >= 1)
    val rowBytes = 4L * dim + 16L * m + 48L
    math.max(4L, (nRows * rowBytes + targetShardBytes - 1) / targetShardBytes)
      .min(Int.MaxValue.toLong).toInt
  }

  /** Persisted node row: `friends(l)` = neighbor ids at layer l,
    * l ∈ [0, level]. */
  final case class NodeRow(
      part: Int, vec_id: Long, level: Int,
      emb: Seq[Float], friends: Seq[Seq[Long]])

  /** splitmix64 — the published (Steele/Lea/Flood, JDK SplittableRandom)
    * finalizer; a deterministic stand-in for the reference's
    * `rand()`-based level draw. */
  private[index] def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Geometric level draw l = ⌊−ln(u)·ml⌋ with u ∈ (0,1] derived from
    * the id hash — same distribution as `hnsw.h:159-164`, reproducible.
    * Capped at 24: beyond that the expected population is < 1 per 10^9
    * nodes even at M=2. */
  private[index] def levelOf(id: Long, ml: Double): Int = {
    val u = ((splitmix64(id) >>> 11) + 1).toDouble / (1L << 53).toDouble
    math.min((-math.log(u) * ml).toInt, 24)
  }

  /** The kernel's distance: float64 left-to-right Σ(aᵢ−bᵢ)². */
  private[index] def dist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** One shard's graph under construction / probe. Internal indices are
    * insertion positions (ascending id). */
  private final class Graph(p: Params) {
    val ids = mutable.ArrayBuffer.empty[Long]
    val embs = mutable.ArrayBuffer.empty[Array[Float]]
    val levels = mutable.ArrayBuffer.empty[Int]
    /** friends(node)(layer) — mutable adjacency. */
    val friends = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    var entry: Int = -1
    var maxLevel: Int = -1

    private def mMax(layer: Int): Int = if (layer == 0) p.mMax0 else p.m

    /** Beam search on one layer (paper Algorithm 2). Returns the ≤ ef
      * nearest (dist, idx), ascending, ties ascending id. */
    def searchLayer(q: Array[Float], ep: Int, ef: Int, layer: Int): mutable.ArrayBuffer[(Double, Int)] = {
      // ordering key (dist, id): ids strictly increase with insertion
      // index within a shard, so comparing idx == comparing id
      implicit val ord: Ordering[(Double, Int)] = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
      val visited = mutable.HashSet(ep)
      val dep = dist(q, embs(ep))
      val cand = mutable.PriorityQueue((dep, ep))(ord.reverse) // min-heap
      val res = mutable.PriorityQueue((dep, ep))(ord)          // max-heap, bounded ef
      while (cand.nonEmpty) {
        val (dc, c) = cand.dequeue()
        if (dc > res.head._1 && res.size >= ef) {
          cand.clear()
        } else {
          val fr = friends(c)
          if (layer < fr.length) {
            val nbrs = fr(layer)
            var i = 0
            while (i < nbrs.length) {
              val e = nbrs(i)
              if (visited.add(e)) {
                val de = dist(q, embs(e))
                if (res.size < ef || ord.lt((de, e), res.head)) {
                  cand.enqueue((de, e))
                  res.enqueue((de, e))
                  if (res.size > ef) res.dequeue()
                }
              }
              i += 1
            }
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Double, Int)]
      out ++= res
      out.sortInPlace()(ord)
      out
    }

    /** Insert (paper Algorithm 1; SELECT-NEIGHBORS-SIMPLE like the
      * reference, `hnsw.h:79-84`), with deterministic level + ties. */
    def insert(id: Long, emb: Array[Float]): Unit = {
      val idx = ids.length
      val l = levelOf(id, p.ml)
      ids += id
      embs += emb
      levels += l
      friends += Array.fill(l + 1)(mutable.ArrayBuffer.empty[Int])
      if (entry == -1) {
        entry = idx
        maxLevel = l
        return
      }
      var ep = entry
      var lc = maxLevel
      while (lc > l) {
        ep = searchLayer(emb, ep, 1, lc).head._2
        lc -= 1
      }
      lc = math.min(l, maxLevel)
      while (lc >= 0) {
        val w = searchLayer(emb, ep, p.efConstruction, lc)
        val sel = w.take(p.m)
        sel.foreach { case (_, nb) =>
          friends(idx)(lc) += nb
          friends(nb)(lc) += idx
          if (friends(nb)(lc).length > mMax(lc)) prune(nb, lc)
        }
        ep = w.head._2
        lc -= 1
      }
      if (l > maxLevel) {
        maxLevel = l
        entry = idx
      }
    }

    /** Keep the mMax closest neighbors of `node` (dist to the node's
      * own vector, ties ascending id) — the reference's over-connection
      * prune (`hnsw.h:93-96`). */
    private def prune(node: Int, layer: Int): Unit = {
      val base = embs(node)
      val kept = friends(node)(layer)
        .map(nb => (dist(base, embs(nb)), nb))
        .sorted
        .take(mMax(layer))
        .map(_._2)
      friends(node)(layer) = mutable.ArrayBuffer.from(kept)
    }

    /** Full search (paper Algorithm 5): greedy descent, then a
      * max(ef,k)-beam on layer 0. Returns ≤ k (dist, id) ascending.
      * `excluded` ids are mark-deleted: they still serve as ROUTING
      * waypoints (removing graph nodes would sever small-world paths —
      * the production tombstone semantics) but never appear in
      * results. */
    def searchKnn(
        q: Array[Float], k: Int, efSearch: Int,
        excluded: Long => Boolean = _ => false): Seq[(Double, Long)] = {
      if (entry == -1) return Seq.empty
      var ep = entry
      var lc = maxLevel
      while (lc >= 1) {
        ep = searchLayer(q, ep, 1, lc).head._2
        lc -= 1
      }
      searchLayer(q, ep, math.max(efSearch, k), 0)
        .iterator
        .map { case (d, idx) => (d, ids(idx)) }
        .filterNot { case (_, id) => excluded(id) }
        .take(k)
        .toSeq
    }
  }

  /** Rebuild a probe-side Graph from persisted rows (any order):
    * adjacency is stored by id, internal indices are re-derived from
    * ascending id so entry selection (max level, ties min id — the
    * FIRST node to reach the top level under ascending insertion, i.e.
    * the builder's entry) is reproducible. */
  private def fromRows(rows: mutable.ArrayBuffer[NodeRow], p: Params): Graph = {
    val g = new Graph(p)
    val sorted = rows.sortInPlace()(Ordering.by[NodeRow, Long](_.vec_id))
    val idToIdx = new mutable.HashMap[Long, Int]()
    sorted.zipWithIndex.foreach { case (r, i) => idToIdx(r.vec_id) = i }
    sorted.foreach { r =>
      g.ids += r.vec_id
      g.embs += r.emb.toArray
      g.levels += r.level
      g.friends += r.friends.map(layer =>
        mutable.ArrayBuffer.from(layer.map(idToIdx))).toArray
      if (r.level > g.maxLevel) {
        g.maxLevel = r.level
        g.entry = g.ids.length - 1
      }
    }
    // entry = min id among max-level nodes (ascending walk above keeps
    // the FIRST max-level node only if strictly greater — redo exactly)
    var best = -1
    var i = 0
    while (i < g.ids.length) {
      if (g.levels(i) == g.maxLevel && best == -1) best = i
      i += 1
    }
    g.entry = best
    g
  }

  /** Driver-side in-memory graph over a SMALL vector set — the seam
    * for composing HNSW as another index's coarse stage (the FAISS
    * `IVF..._HNSW` shape: at nlist ~10⁶ the centroid argmin itself
    * needs sublinear search, [[graft.index.Ivf.probeClustersHnsw]]).
    * Same deterministic construction as the sharded layout (ascending
    * id, hash levels, (dist, id) ties). */
  final class SmallGraph private[index] (g: Graph) {
    def searchKnn(q: Array[Float], k: Int, efSearch: Int = 64): Seq[(Double, Long)] =
      g.searchKnn(q, k, efSearch)
  }

  def smallGraph(points: Seq[(Long, Array[Float])], p: Params = Params()): SmallGraph = {
    val g = new Graph(p)
    points.sortBy(_._1).foreach { case (id, v) => g.insert(id, v) }
    new SmallGraph(g)
  }

  /** Build the sharded graphs and return the layout rows — one
    * deterministic sub-graph per `pmod(xxhash64(id), parts)` shard,
    * nodes inserted in ascending id. The ONE corpus shuffle a build
    * pays. */
  def build(
      df: DataFrame,
      p: Params = Params(),
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parted = df
      .select(
        pmod(xxhash64(col(idCol)), lit(p.parts)).cast("int").as("part"),
        col(idCol).cast("long").as("vec_id"),
        col(embCol).cast("array<float>").as("emb"))
      .as[(Int, Long, Seq[Float])]
      .repartition(p.parts, col("part"))
    parted.mapPartitions { it =>
      // a task may hold several shards (parts < tasks never happens
      // after repartition(parts), but pmod collisions of the hash do)
      val byPart = new mutable.HashMap[Int, mutable.ArrayBuffer[(Long, Array[Float])]]()
      it.foreach { case (part, id, emb) =>
        byPart.getOrElseUpdate(part, mutable.ArrayBuffer.empty) += ((id, emb.toArray))
      }
      byPart.iterator.flatMap { case (part, nodes) =>
        val g = new Graph(p)
        nodes.sortInPlace()(Ordering.by[(Long, Array[Float]), Long](_._1))
        nodes.foreach { case (id, emb) => g.insert(id, emb) }
        g.ids.indices.iterator.map { i =>
          NodeRow(part, g.ids(i), g.levels(i), g.embs(i).toSeq,
            g.friends(i).map(layer => layer.map(g.ids(_)).toSeq.sorted).toSeq)
        }
      }
    }.toDF()
  }

  private val sidecarName = "_hnsw_sidecar.json"
  private val partCountsName = "_graft_part_counts.json"

  /** Record each shard's node count next to its parquet files (the
    * underscore prefix keeps the file invisible to the parquet scan).
    * [[searchCandidates]] checks assembled row counts against this at
    * probe time — the enforcement half of the "shards may COMBINE into
    * one task but must not SPLIT across two" invariant: a silent
    * partial-graph probe becomes a loud sizing error. */
  private def writePartCounts(spark: SparkSession, dataDir: String): Unit = {
    val counts = spark.read.parquet(dataDir)
      .groupBy(col("part")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val json = counts.map { case (pt, n) => s""""$pt":$n""" }.mkString("{", ",", "}")
    graft.io.Artifact.writeAtomic(
      java.nio.file.Paths.get(dataDir, partCountsName), json)
  }

  /** The per-shard node counts recorded at build time, if present
    * (layouts written before the enforcement existed have none — the
    * probe then runs unchecked, exactly the old behavior). */
  def partCounts(dataDir: String): Option[Map[Int, Long]] = {
    val path = java.nio.file.Paths.get(dataDir, partCountsName)
    if (!java.nio.file.Files.exists(path)) return None
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(path))
    val m = Map.newBuilder[Int, Long]
    val it = node.fieldNames()
    while (it.hasNext) {
      val k = it.next()
      m += (k.toInt -> node.get(k).asLong())
    }
    Some(m.result())
  }

  private def sidecarNodeOf(dir: String): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val p = java.nio.file.Paths.get(dir, sidecarName)
    if (!java.nio.file.Files.exists(p)) return None
    try Some(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(p)))
    catch { case _: Throwable => None }
  }

  /** The current BASE layout location: `layout` for a never-compacted
    * artifact, the sidecar's committed `layout_v<N>` after a
    * compaction (the engine-wide versioned atomic-swap protocol —
    * [[compactDeltas]]). */
  def layoutPath(dir: String): String = {
    val v = sidecarNodeOf(dir).filter(_.hasNonNull("v"))
      .map(_.get("v").asInt()).getOrElse(0)
    if (v > 0) s"$dir/layout_v$v" else s"$dir/layout"
  }

  /** Delta tags the committed sidecar says are already folded into the
    * current base version — on disk only inside the commit-to-GC crash
    * window; probes must skip them or nodes double-count. */
  private def foldedTags(dir: String): Set[String] =
    sidecarNodeOf(dir).filter(_.has("folded")).map { n =>
      import scala.jdk.CollectionConverters._
      n.get("folded").elements().asScala.map(_.asText()).toSet
    }.getOrElse(Set.empty)

  /** One committed-state SNAPSHOT of the layout store, resolved from a
    * SINGLE sidecar read — the engine-wide snapshot-pinned-probe
    * contract ([[graft.index.Sq]]): base version path, live delta
    * tags, and the live tombstone-batch tags all come from one atomic
    * read, so a probe can never see a torn mix of two commits; lagged
    * compaction GC keeps every dir a snapshot names readable through
    * ONE subsequent commit. `tombCommitted` distinguishes a sidecar
    * that CARRIES the liveTombs field (committed mode) from a legacy
    * one (listing fallback; also the pre-first-mutation state). */
  private final case class Snap(
      node: Option[com.fasterxml.jackson.databind.JsonNode],
      v: Int,
      live: Seq[String],
      tombTags: Seq[String],
      tombCommitted: Boolean) {
    def layoutPathOf(dir: String): String =
      if (v > 0) s"$dir/layout_v$v" else s"$dir/layout"
    def folded: Set[String] = node.filter(_.has("folded")).map { n =>
      import scala.jdk.CollectionConverters._
      n.get("folded").elements().asScala.map(_.asText()).toSet
    }.getOrElse(Set.empty)
    /** Stable probe-cache key: layout path + content fingerprint (the
      * mutation-state fields deliberately excluded — a delta append or
      * tombstone patch must not evict the resident base graphs). */
    def cacheKeyOf(dir: String): Option[String] = node.map(n =>
      s"${layoutPathOf(dir)}#c=${n.get("count").asLong()}" +
        s"#h=${n.get("hash").asLong()}#s=${if (n.has("hsum")) n.get("hsum").asText() else ""}")
  }

  private def snapOf(dir: String): Snap = {
    val node = sidecarNodeOf(dir)
    val v = node.filter(_.hasNonNull("v")).map(_.get("v").asInt()).getOrElse(0)
    val folded = node.filter(_.has("folded")).map { n =>
      import scala.jdk.CollectionConverters._
      n.get("folded").elements().asScala.map(_.asText()).toSet
    }.getOrElse(Set.empty[String])
    val live = graft.io.MutableStore.optStringSeq(node, "live")
      .getOrElse(listedDeltaTags(dir).filterNot(folded))
    val committed = graft.io.MutableStore.optStringSeq(node, "liveTombs")
    Snap(node, v, live,
      committed.getOrElse(listedTombTags(dir)), committed.isDefined)
  }

  private def sidecarPath(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(dir, sidecarName)

  private def listedDeltaTags(dir: String): Seq[String] = {
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(d)) return Seq.empty
    val s = java.nio.file.Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith(deltaDirPrefix))
        .map(_.stripPrefix(deltaDirPrefix))
        .toSeq.sorted
    } finally s.close()
  }

  /** On-disk tombstone-batch tags (`_tombstones/del_<tag>`). */
  private def listedTombTags(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir, tombstoneDirName)
    if (!java.nio.file.Files.exists(root)) return Seq.empty
    val s = java.nio.file.Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("del_"))
        .map(_.stripPrefix("del_"))
        .toSeq.sorted
    } finally s.close()
  }

  private def tombstonedIdsOf(spark: SparkSession, dir: String, s: Snap): Set[Long] = {
    if (s.tombTags.isEmpty) return Set.empty
    s.tombTags
      .map(t => spark.read.parquet(s"$dir/$tombstoneDirName/del_$t"))
      .reduce(_ unionAll _)
      .select(col("vec_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
  }

  /** Persist the layout behind the shared fingerprint sidecar
    * ([[graft.io.Artifact]]): content hash of (id, embedding) + the
    * structural params. One parquet file per shard
    * (`repartition(part)` before `partitionBy("part")`), so a probe
    * task always sees whole shards. Idempotent; reused across
    * processes until the corpus or params change. Field-subset sidecar
    * match ([[graft.io.Artifact.ensureJson]]): a compacted sidecar —
    * which additionally carries the version pointer and folded list —
    * still matches a fresh ensure over the union corpus and is
    * REUSED. */
  def ensureLayout(
      df: DataFrame,
      dir: String,
      p: Params = Params(),
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit = {
    val (n, h, hs) = graft.io.Artifact.hashAgg(
      df, xxhash64(col(idCol), col(embCol).cast("array<double>")))
    graft.io.Artifact.ensureJson(dir, sidecarName,
      fingerprintFields(n, h, hs, p)) {
      // a REBUILD (changed corpus/params) owns the whole dir: stale
      // tombstones, deltas and version dirs from the previous layout
      // must not leak into the new corpus's probes
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root)) {
        val s = java.nio.file.Files.list(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter { q =>
              val nm = q.getFileName.toString
              nm == tombstoneDirName || nm.startsWith(deltaDirPrefix) ||
                nm.matches("layout_v\\d+")
            }
            .toSeq.foreach(graft.io.MutableStore.deleteDir)
        } finally s.close()
      }
      build(df, p, idCol, embCol)
        .repartition(p.parts, col("part"))
        .write.mode("overwrite").partitionBy("part")
        .parquet(s"$dir/layout")
      writePartCounts(df.sparkSession, s"$dir/layout")
    }
    // heal layouts built before the enforcement sidecar existed: the
    // fingerprint matches (no rebuild), but the probe-time check needs
    // the recorded counts — one narrow scan of the layout, once
    if (partCounts(layoutPath(dir)).isEmpty)
      writePartCounts(df.sparkSession, layoutPath(dir))
  }

  /** The sidecar's fingerprint fields — the exact raw-json values the
    * pre-round-14 string sidecars carried, so existing artifacts still
    * match and never rebuild. */
  private def fingerprintFields(
      n: Long, h: Long, hs: String, p: Params): Seq[(String, String)] = Seq(
    "count" -> n.toString,
    "hash" -> h.toString,
    "hsum" -> graft.io.Artifact.jsonStr(hs),
    "m" -> graft.io.Artifact.jsonStr(p.m.toString),
    "efC" -> graft.io.Artifact.jsonStr(p.efConstruction.toString),
    "parts" -> graft.io.Artifact.jsonStr(p.parts.toString))

  /** The persisted layout table. */
  def layout(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(layoutPath(dir))

  /** Executor-resident shard-graph cache, keyed by (layout content
    * fingerprint, shard id): the first probe of a layout pays graph
    * reconstruction from the scanned rows; every later probe in the
    * same executor JVM reuses the built graph and costs only the walk.
    * The fingerprint key makes staleness impossible — changed data or
    * params change the sidecar fingerprint and miss the cache. Bounded
    * by wholesale clear (shard graphs are probe working sets, not an
    * accumulating store — the closure-cache-leak shape this repo has
    * been bitten by before). */
  private val graphCache =
    new java.util.concurrent.ConcurrentHashMap[String, Graph]()
  private val GraphCacheMax = 256

  /** Probe every shard's graph in parallel and merge: each scan task
    * groups its rows by shard, rebuilds (or cache-hits) the in-memory
    * graphs, runs the beam search per query, and emits
    * (q_id, vec_id, dist) candidates — ≤ parts·k rows reach the merge,
    * never the corpus. `queries` is a driver-side (qId → vector) set
    * (the broadcast-small side, like every other probe in this
    * engine). `cacheKey` (the layout's sidecar fingerprint) opts into
    * the resident-graph reuse.
    *
    * `expectedRows` (per-shard node counts from the build-time
    * [[partCounts]] sidecar) ENFORCES the whole-shard-per-task
    * invariant: if a shard's parquet file ever exceeds
    * `spark.sql.files.maxPartitionBytes` and splits across two scan
    * tasks, each task would otherwise build a PARTIAL graph and the
    * merged top-k silently loses true neighbors (and a partial graph
    * could poison the resident cache under the layout's fingerprint
    * key). The count check turns that cliff into a loud sizing error
    * BEFORE any graph is built or cached.
    *
    * `tombstoned` rides a Spark broadcast — one torrent transfer
    * shared per executor, NOT a per-task closure payload — so a
    * delete-heavy store (100k+ dead ids) costs each probe task a
    * broadcast handle, not a re-serialized Set. */
  def searchCandidates(
      layoutDf: DataFrame,
      queries: Seq[(Long, Array[Float])],
      k: Int,
      p: Params = Params(),
      efSearch: Int = 64,
      cacheKey: Option[String] = None,
      tombstoned: Set[Long] = Set.empty,
      expectedRows: Option[Map[Int, Long]] = None): DataFrame = {
    val spark = layoutDf.sparkSession
    import spark.implicits._
    val qs = queries.map { case (qid, v) => (qid, v.toSeq) }
    val bcDead = spark.sparkContext.broadcast(tombstoned)
    val nodes = layoutDf
      .select(col("part").cast("int"), col("vec_id"), col("level"),
        col("emb"), col("friends"))
      .as[NodeRow]
    nodes.mapPartitions { it =>
      val byPart = new mutable.HashMap[Int, mutable.ArrayBuffer[NodeRow]]()
      it.foreach(r => byPart.getOrElseUpdate(r.part, mutable.ArrayBuffer.empty) += r)
      byPart.iterator.flatMap { case (part, rows) =>
        expectedRows.foreach { exp =>
          val want = exp.getOrElse(part, 0L)
          require(rows.length.toLong == want,
            s"HNSW shard $part SPLIT across scan tasks: this task assembled " +
              s"${rows.length} of $want recorded nodes. A shard's parquet file must " +
              "be read whole by one task — raise Params.parts (smaller shards; " +
              "see Hnsw.autoParts) or spark.sql.files.maxPartitionBytes.")
        }
        val g = cacheKey match {
          case Some(ck) =>
            val key = s"$ck#$part"
            val hit = graphCache.get(key)
            if (hit != null) hit
            else {
              val built = fromRows(rows, p)
              if (graphCache.size >= GraphCacheMax) graphCache.clear()
              graphCache.put(key, built)
              built
            }
          case None => fromRows(rows, p)
        }
        qs.iterator.flatMap { case (qid, qv) =>
          val q = qv.toArray
          g.searchKnn(q, k, efSearch, bcDead.value.contains)
            .iterator.map { case (d, id) => (qid, id, d) }
        }
      }
    }.toDF("q_id", "vec_id", "dist")
  }

  private val deltaDirPrefix = "layout_delta_"

  /** Append a batch as a DELTA layout — the IVF delta protocol
    * ([[graft.index.Ivf.appendDelta]]) applied to graphs: the batch
    * builds its own small per-shard HNSW graphs under
    * `layout_delta_<tag>` as a tag-keyed OVERWRITE (at-least-once
    * redelivery rewrites the same delta instead of double-inserting),
    * and the base shards are never rewritten — no write amplification
    * per micro-batch. Probes search base ∪ every delta and merge
    * ([[searchLayoutDeltaAware]]); [[compactDeltas]] folds deltas into
    * a canonically rebuilt base. Graph construction is insertion-order
    * dependent by nature, so a delta graph ≠ the nodes' adjacency
    * after compaction — but SEARCH results agree wherever the beam is
    * exact, and the probe-invariance across compaction is spec-pinned
    * on seeded data. */
  def appendDelta(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      tag: String,
      p: Params = Params(),
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit =
      graft.io.MutableStore.withWriterLock(dir, "appendDelta") {
    // LOUD GUARD (the Ivf.requireNotTombstoned contract): the layout's
    // tombstones are a GLOBAL id mask — an appended id that is
    // currently tombstoned would be silently hidden by every probe,
    // and clearing its tombstone would resurrect the old node next to
    // the new one. Revival path: compactDeltas(dropTombstoned = true),
    // then re-add. Broadcast semi-join against the tombstone table —
    // NEVER an isin literal (this file's own compaction rule: a
    // delete-heavy store has 100k+ dead ids; an In expression that
    // size blows up plan/codegen on every micro-batch).
    val snapAtGuard = snapOf(dir)
    if (snapAtGuard.tombTags.nonEmpty) {
      import spark.implicits._
      val deadDf = snapAtGuard.tombTags
        .map(t => spark.read.parquet(s"$dir/$tombstoneDirName/del_$t"))
        .reduce(_ unionAll _)
        .select(col("vec_id").cast("long").as(idCol)).distinct()
      val clash = batch.select(col(idCol).cast("long").as(idCol)).distinct()
        .join(broadcast(deadDf), Seq(idCol), "left_semi")
        .limit(1).collect()
      require(clash.isEmpty,
        s"appendDelta: id ${clash.headOption.map(_.getLong(0)).getOrElse(-1L)} is " +
          s"tombstoned in $dir — a global-mask probe would silently hide the re-add; " +
          "run compactDeltas(dropTombstoned = true) to reclaim, then re-add")
    }
    build(batch, p, idCol, embCol)
      .repartition(p.parts, col("part"))
      .write.mode("overwrite").partitionBy("part")
      .parquet(s"$dir/$deltaDirPrefix$tag")
    writePartCounts(spark, s"$dir/$deltaDirPrefix$tag")
    // COMMIT the mutation (the Sq.appendDelta contract): live once the
    // state names it; a committed-FOLDED tag is a redelivered batch
    // whose nodes are in the base — debris, never re-committed
    val s = snapOf(dir)
    if (!s.folded.contains(tag))
      graft.io.MutableStore.patchStringArrays(sidecarPath(dir),
        "live" -> (s.live :+ tag).distinct)
  }

  /** Tags of the live deltas, sorted (the probe fan-out width — the
    * compaction policy bounds it). A committed-but-not-yet-GC'd folded
    * delta (sidecar `folded` list) is NOT live — its nodes are already
    * in the current base version. */
  def deltaTags(dir: String): Seq[String] = snapOf(dir).live

  /** Bytes of the live delta graph dirs / of the base shards — the
    * size-ratio compaction policy's inputs (fold when deltas reach a
    * fixed fraction of the base, so each canonical-rebuild fold costs
    * IO proportional to the deltas it folds, not an O(base) rewrite
    * every fixed number of micro-batches). */
  def deltaBytes(dir: String): Long =
    deltaTags(dir)
      .map(t => graft.io.MutableStore.duBytes(java.nio.file.Paths.get(dir, s"$deltaDirPrefix$t")))
      .sum

  def baseBytes(dir: String): Long =
    graft.io.MutableStore.duBytes(java.nio.file.Paths.get(layoutPath(dir)))

  /** Probe base AND every delta graph, merge ≤ (1+deltas)·parts·k
    * candidates in one TakeOrdered. Deltas are immutable once written,
    * so their graphs cache under (dir, tag, part) like the base. */
  def searchLayoutDeltaAware(
      spark: SparkSession,
      dir: String,
      query: Array[Float],
      k: Int,
      p: Params = Params(),
      efSearch: Int = 64): DataFrame = {
    val s = snapOf(dir) // snapshot-pinned: ONE committed-state read
    val dead = tombstonedIdsOf(spark, dir, s)
    val basePath = s.layoutPathOf(dir)
    val base = searchCandidates(spark.read.parquet(basePath), Seq((0L, query)), k, p,
      efSearch, cacheKey = s.cacheKeyOf(dir), tombstoned = dead,
      expectedRows = partCounts(basePath))
    val all = s.live.foldLeft(base) { (acc, tag) =>
      acc.unionAll(searchCandidates(
        spark.read.parquet(s"$dir/$deltaDirPrefix$tag"),
        Seq((0L, query)), k, p, efSearch,
        cacheKey = Some(s"$dir#delta#$tag"), tombstoned = dead,
        expectedRows = partCounts(s"$dir/$deltaDirPrefix$tag")))
    }
    all
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("dist"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("dist").asc, col("vec_id").asc)).as("rank"))
  }

  /** Fold every delta into a CANONICALLY rebuilt base (all nodes
    * re-inserted in ascending id — identical to a fresh
    * [[ensureLayout]] over the union corpus) and refresh the sidecar
    * fingerprint from the STORED (id, emb) rows — one scan of the
    * index, never of the original source; float arrays roundtrip
    * parquet exactly, so a later `ensureLayout(base ∪ appended)` sees
    * a matching fingerprint and reuses instead of rebuilding. Delta
    * dirs survive until the next compaction's lagged GC. Single-writer
    * compactor; concurrent probes are safe — they pin one committed
    * snapshot. `excludeTags` skips
    * named deltas from the fold (they stay live delta dirs): the
    * streaming auto-compaction passes the CURRENT batch's tag, so an
    * at-least-once redelivery — whose uncommitted delta may already be
    * on disk — never folds that delta into the base right before
    * [[appendDelta]] rewrites the same tag, which would leave those
    * vectors in BOTH base and delta (duplicate candidates, and the
    * next compaction would bake duplicate nodes in permanently).
    * `dropTombstoned = true` additionally rebuilds WITHOUT the
    * tombstoned nodes and removes the tombstone table — the physical
    * delete (the reclaim leg of [[deleteFromLayout]]'s logical
    * delete), after which probes pay no exclusion at all. */
  def compactDeltas(
      spark: SparkSession,
      dir: String,
      p: Params = Params(),
      excludeTags: Set[String] = Set.empty,
      dropTombstoned: Boolean = false): Unit =
      graft.io.MutableStore.withWriterLock(dir, "compactDeltas") {
    val s = snapOf(dir)
    val tags = s.live.filterNot(excludeTags)
    val dead = if (dropTombstoned) tombstonedIdsOf(spark, dir, s) else Set.empty[Long]
    if (tags.isEmpty && dead.isEmpty) return
    // never-reuse allocation BEFORE debris GC: a crashed attempt's
    // renamed-but-uncommitted layout_v<X> must still bump the counter
    val vNew = math.max(s.v,
      graft.io.MutableStore.maxOnDiskVersion(dir, Seq("layout_v"))) + 1
    val (protectedRefs, _) = graft.io.MutableStore.splitPriors(dir,
      graft.io.MutableStore.optStringSeq(s.node, "priors").getOrElse(Seq.empty))
    gcPrior(dir, s, protectedRefs)
    val oldBase = s.layoutPathOf(dir)
    val unionAllRows = (Seq(oldBase) ++ tags.map(t => s"$dir/$deltaDirPrefix$t"))
      .map(spark.read.parquet(_).select(col("vec_id"), col("emb").as("embedding")))
      .reduce(_ unionAll _)
    // dropTombstoned: the canonical rebuild EXCLUDES the dead nodes —
    // the physical-drop leg of the delete story (every other store
    // compacts its tombstones away; without this a delete-heavy HNSW
    // keeps dead routing waypoints forever). The exclusion is a
    // broadcast anti-join against the live tombstone batches (never an
    // isin literal — a delete-heavy store has 100k+ dead ids). The
    // surviving rows ARE what the new fingerprint attests, so a later
    // ensureLayout over the live corpus reuses; the consumed tombstone
    // dirs survive until the next compaction's gcPrior (lagged GC) but
    // the committed state no longer names them.
    val union =
      if (dead.isEmpty) unionAllRows
      else unionAllRows.join(
        broadcast(s.tombTags
          .map(t => spark.read.parquet(s"$dir/$tombstoneDirName/del_$t"))
          .reduce(_ unionAll _)
          .select(col("vec_id").cast("long").as("vec_id")).distinct()),
        Seq("vec_id"), "left_anti")
    val (n, h, hs) = graft.io.Artifact.hashAgg(
      union, xxhash64(col("vec_id"), col("embedding").cast("array<double>")))
    // the canonical rebuild is BUILT UNDER AN UNDERSCORE TEMP (invisible
    // to recursive listings even half-written), renamed into a version
    // path that is never reused, while the old base keeps serving; the
    // COMMIT below is one atomic sidecar replace (the engine-wide
    // versioned-swap protocol)
    val building = java.nio.file.Paths.get(dir, s"_building_layout_v$vNew")
    graft.io.MutableStore.deleteDir(building)
    build(union, p).repartition(p.parts, col("part"))
      .write.mode("overwrite").partitionBy("part").parquet(building.toString)
    writePartCounts(spark, building.toString)
    java.nio.file.Files.move(building,
      java.nio.file.Paths.get(dir, s"layout_v$vNew"))
    // ---- COMMIT: merged fingerprint + version pointer + leg lists ----
    def onDisk(t: String): Boolean =
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s"$deltaDirPrefix$t"))
    def arr(x: Seq[String]) = x.map("\"" + _ + "\"").mkString("[", ",", "]")
    val folded = (s.folded.filter(onDisk) ++ tags).toSeq.sorted
    val liveLeft = s.live.filterNot(tags.contains(_)).sorted
    val tombsLeft = if (dropTombstoned) Seq.empty[String] else s.tombTags
    val priors = graft.io.MutableStore.pushPrior(dir, protectedRefs,
      graft.io.MutableStore.SnapRef(s.v, s.live, s.tombTags))
    val fields = fingerprintFields(n, h, hs, p) ++ Seq(
      "v" -> vNew.toString,
      "folded" -> arr(folded),
      "live" -> arr(liveLeft),
      "liveTombs" -> arr(tombsLeft),
      "priors" -> arr(priors))
    graft.io.Artifact.writeAtomic(
      java.nio.file.Paths.get(dir, sidecarName),
      fields.map { case (k, raw) => s""""$k":$raw""" }.mkString("{", ",", "}"))
    // NO GC here — lagged to the next compaction's gcPrior, so probes
    // pinned on the pre-commit snapshot keep every dir they named
  }

  /** Standalone snapshot expiry for the HNSW layout store: apply the
    * retention policy and collect due priors + debris NOW, under the
    * writer lease, without a content commit ([[graft.io.MutableStore
    * .expireSnapshotsWith]]). Returns the number of priors expired. */
  def expireSnapshots(dir: String): Int = {
    val s = snapOf(dir)
    if (s.node.isEmpty) return 0 // never ensured: nothing retained
    val priors = graft.io.MutableStore.optStringSeq(s.node, "priors")
      .getOrElse(Seq.empty)
    graft.io.MutableStore.expireSnapshotsWith(dir, sidecarPath(dir), priors,
      prot => gcPrior(dir, s, prot))
  }

  /** LAGGED GC (the [[graft.index.Sq]] contract): collect the dirs the
    * PREVIOUS commit superseded — its state already excludes them —
    * plus crashed-attempt debris, at the START of each compaction.
    * Every dir the CURRENT committed state names survives until the
    * next compaction, so a snapshot-pinned probe outlives one
    * concurrent commit. Consumed tombstone batches are the on-disk
    * `del_<tag>` dirs the committed liveTombs list no longer names —
    * only decidable in committed mode (a legacy sidecar has no list;
    * its tombstones are all live by definition). */
  private def gcPrior(dir: String, s: Snap,
      protectedRefs: Seq[graft.io.MutableStore.SnapRef] = Seq.empty): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return
    // retention-aware: anything the CURRENT snapshot or a protected
    // prior still names survives (gcRetention = 1 → historical window)
    def baseOf(v: Int) = if (v > 0) s"layout_v$v" else "layout"
    val keepBases = (Set(s.v) ++ protectedRefs.map(_.v)).map(baseOf)
    val keepDelta = s.live.toSet ++ protectedRefs.flatMap(_.live)
    val keepTombs = s.tombTags.toSet ++ protectedRefs.flatMap(_.tombs)
    val ls = java.nio.file.Files.list(root)
    val names = try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.map(_.getFileName.toString).toSeq
    } finally ls.close()
    names.foreach { nm =>
      val pth = java.nio.file.Paths.get(dir, nm)
      if (nm.startsWith("_building_")) graft.io.MutableStore.deleteDir(pth)
      else if ((nm.matches("layout_v\\d+") || nm == "layout") && !keepBases.contains(nm))
        graft.io.MutableStore.deleteDir(pth)
      else if (nm.startsWith(deltaDirPrefix) &&
          s.folded.contains(nm.stripPrefix(deltaDirPrefix)) &&
          !keepDelta.contains(nm.stripPrefix(deltaDirPrefix)))
        graft.io.MutableStore.deleteDir(pth)
    }
    if (s.tombCommitted) {
      listedTombTags(dir).filterNot(keepTombs).foreach(t =>
        graft.io.MutableStore.deleteDir(java.nio.file.Paths.get(dir, tombstoneDirName, s"del_$t")))
    }
  }

  private val tombstoneDirName = "_tombstones"

  /** Mark ids deleted — the tombstone protocol ([[graft.index.Ivf]]'s
    * shape): each delete batch is a TAG-KEYED OVERWRITE under
    * `_tombstones/del_<tag>`, so at-least-once redelivery rewrites the
    * same file instead of double-recording; graph nodes stay in place
    * as routing waypoints (severing edges would break small-world
    * paths), probes exclude tombstoned ids from RESULTS only. The
    * resident graph cache stays valid — exclusion applies at query
    * time.
    *
    * Requested ids are filtered to LIVE ones — present in base ∪ live
    * delta graphs and not already tombstoned — so phantom and
    * repeated deletes are IGNORED (idempotent, the
    * [[graft.index.Ivf.deleteFromLayout]] contract) and a stale
    * tombstone can never poison a later legitimate add of a
    * never-present id through [[appendDelta]]'s guard. The presence
    * check is one pushed-predicate scan sized by the DELETE BATCH. */
  def deleteFromLayout(
      spark: SparkSession,
      dir: String,
      ids: Seq[Long],
      tag: String): Unit =
      graft.io.MutableStore.withWriterLock(dir, "deleteFromLayout") {
    import spark.implicits._
    val s = snapOf(dir)
    val requested = ids.distinct.filterNot(tombstonedIdsOf(spark, dir, s))
    if (requested.isEmpty) return
    // presence check via a broadcast semi-join, never an isin literal
    // (a bulk takedown's delete batch can be 100k+ ids — an In
    // expression that size blows up the plan)
    val present = (Seq(s.layoutPathOf(dir)) ++
        s.live.map(t => s"$dir/$deltaDirPrefix$t"))
      .map(spark.read.parquet(_).select(col("vec_id").cast("long").as("vec_id")))
      .reduce(_ unionAll _)
      .join(broadcast(requested.toDF("vec_id")), Seq("vec_id"), "left_semi")
      .distinct().as[Long].collect().toSeq.sorted
    if (present.isEmpty) return
    present.toDF("vec_id").coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$dir/$tombstoneDirName/del_$tag")
    // COMMIT: the tombstone batch is live once the state names it
    graft.io.MutableStore.patchStringArrays(sidecarPath(dir),
      "liveTombs" -> (s.tombTags :+ tag).distinct)
  }

  /** All tombstoned ids — bounded by total delete volume (a crawl's
    * deletes are rare events; a delete-heavy workload reclaims via
    * `compactDeltas(dropTombstoned = true)`, which rebuilds the layout
    * without the dead rows and drops this table). */
  def tombstonedIds(spark: SparkSession, dir: String): Set[Long] =
    tombstonedIdsOf(spark, dir, snapOf(dir))

  /** Single-query top-k over the persisted layout: per-shard beam
    * searches + a global TakeOrdered over ≤ parts·k candidates.
    * Output (vec_id, dist, rank) — the engine's §2.3 result shape
    * ((dist, id) ascending ties). */
  def searchLayout(
      spark: SparkSession,
      dir: String,
      query: Array[Float],
      k: Int,
      p: Params = Params(),
      efSearch: Int = 64): DataFrame = {
    val s = snapOf(dir) // snapshot-pinned: ONE committed-state read
    val basePath = s.layoutPathOf(dir)
    val cands = searchCandidates(spark.read.parquet(basePath), Seq((0L, query)), k, p,
      efSearch, cacheKey = s.cacheKeyOf(dir),
      tombstoned = tombstonedIdsOf(spark, dir, s),
      expectedRows = partCounts(basePath))
    cands
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("dist"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("dist").asc, col("vec_id").asc)).as("rank"))
  }

  /** BATCH top-k over the persisted layout — a query table served in
    * ONE pass: every shard's graph walks all queries while resident
    * (amortizing the per-task graph assembly across the whole batch),
    * then a per-query window ranks the ≤ parts·k·|Q| candidate rows.
    * Output (query_id, vec_id, dist, rank) — [[graft.ops.VectorSearch.knnJoinAgg]]'s
    * shape, ((dist, id) ascending ties per query). Same integrity
    * enforcement, tombstone broadcast, and resident-graph cache as the
    * single-query probe. */
  def searchLayoutBatch(
      spark: SparkSession,
      dir: String,
      queries: Seq[(Long, Array[Float])],
      k: Int,
      p: Params = Params(),
      efSearch: Int = 64): DataFrame = {
    val s = snapOf(dir) // snapshot-pinned: ONE committed-state read
    val basePath = s.layoutPathOf(dir)
    val cands = searchCandidates(spark.read.parquet(basePath), queries, k, p,
      efSearch, cacheKey = s.cacheKeyOf(dir),
      tombstoned = tombstonedIdsOf(spark, dir, s),
      expectedRows = partCounts(basePath))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("dist").asc, col("vec_id").asc)
    cands
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id").as("query_id"), col("vec_id"), col("dist"),
        col("rank"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }
}
