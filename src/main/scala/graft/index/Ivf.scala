package graft.index

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.VectorSearch

/** IVF (inverted-file) ANN — the partition-pruned scale path.
  *
  * Build: a KMeans coarse quantizer (fit on a sample — the model is just
  * `nlist` centroids) assigns every row a `cluster` id; the corpus is
  * written partitioned by that column. Search: centroid distances are
  * computed driver-side (nlist ≪ corpus), the `nprobe` nearest clusters
  * become an `IN` predicate that Spark turns into partition pruning —
  * at 100 TB a probe reads nprobe/nlist of the data instead of all of it.
  * Within the probed clusters, search is the exact TakeOrderedAndProject
  * kernel, so results are exact-within-probed-partitions (standard IVF
  * semantics).
  */
object Ivf {

  final case class Index(model: KMeansModel, nlist: Int)

  /** Build the coarse quantizer. `sampleFraction` bounds driver/ML cost
    * at scale — centroids converge on a sample. */
  def fit(
      df: DataFrame,
      nlist: Int,
      embCol: String = "embedding",
      sampleFraction: Double = 1.0,
      maxIter: Int = 20): Index = {
    val base = Ann.withFeatures(df, embCol)
    val sampled = if (sampleFraction >= 1.0) base else base.sample(sampleFraction, 42L)
    val model = new KMeans()
      .setK(nlist).setSeed(42L).setFeaturesCol("features").setPredictionCol("cluster")
      .setMaxIter(maxIter)
      .fit(sampled)
    Index(model, nlist)
  }

  /** Assign every row its inverted-list id. */
  def assign(index: Index, df: DataFrame, embCol: String = "embedding"): DataFrame =
    index.model.transform(Ann.withFeatures(df, embCol)).drop("features")

  /** Materialize the corpus partitioned by cluster — the layout that
    * makes [[search]]'s cluster predicate a partition-pruning scan. */
  def writePartitioned(index: Index, df: DataFrame, dir: String, embCol: String = "embedding"): Unit =
    assign(index, df, embCol).write.mode("overwrite").partitionBy("cluster").parquet(dir)

  /** Driver-side: the nprobe clusters nearest to the query. */
  def probeClusters(index: Index, query: Array[Float], nprobe: Int): Seq[Int] =
    probeClustersOf(index.model.clusterCenters.map(_.toArray), query, nprobe)

  /** ANN top-k over an assigned (or partition-pruned parquet) corpus. */
  def search(
      index: Index,
      assigned: DataFrame,
      query: Array[Float],
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val clusters = probeClusters(index, query, nprobe)
    VectorSearch.knnExact(
      assigned.filter(col("cluster").isin(clusters: _*)),
      query.toSeq, k, idCol, embCol)
  }

  /** Search straight from the partitioned layout: the `cluster IN (...)`
    * filter prunes parquet partitions before any IO. */
  def searchPartitioned(
      spark: SparkSession,
      index: Index,
      dir: String,
      query: Array[Float],
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    search(index, spark.read.parquet(dir), query, k, nprobe, idCol, embCol)

  // ------------------------------------------------- persisted layout

  /** The searchable on-disk form of an IVF index: the cluster-partitioned
    * parquet plus a centroid sidecar. Probing only needs the centroids —
    * not the fitted KMeansModel — so a layout loads without any ML state
    * and a long-lived service never re-fits (the reference rebuilds its
    * whole index on every query, vectordb.cpp:216-217 — the exact
    * anti-pattern this split exists to avoid). */
  final case class Layout(dir: String, centroids: Array[Array[Double]])

  private val centroidFile = "_centroids.json"

  /** Cheap content fingerprint of the corpus: row count plus an
    * order-independent hash of the embedding column. One narrow scan —
    * the price of never probing a stale cached layout after the input
    * data changes under the same path. */
  private def fingerprint(df: DataFrame, embCol: String): (Long, Long, String) =
    // bit_xor (order-independent, ANSI-safe) + duplicate-robust
    // decimal sum — the shared sidecar hash ([[graft.io.Artifact.hashAgg]])
    graft.io.Artifact.hashAgg(df, xxhash64(col(embCol)))

  /** Fit (if needed) and persist the partitioned layout + sidecar.
    * Idempotent across processes: an existing layout is reused only when
    * its recorded corpus fingerprint matches the current input — a
    * regenerated fixture or a hash-collided cache dir forces a rebuild
    * instead of silently probing stale data. The sidecar is written LAST,
    * so a crashed build never looks complete. */
  def buildLayout(
      spark: SparkSession,
      df: DataFrame,
      dir: String,
      nlist: Int,
      maxIter: Int = 20,
      sampleFraction: Double = 1.0,
      embCol: String = "embedding"): Layout = {
    val sidecar = java.nio.file.Paths.get(dir, centroidFile)
    val (nRows, dataHash, hashSum) = fingerprint(df, embCol)
    if (java.nio.file.Files.exists(sidecar)) {
      val (layout, storedCount, storedHash, storedSum) = loadLayoutWithFingerprint(dir)
      // nlist is structural: a caller asking for a different list count
      // must get a rebuild, not a silent reuse of the old partitioning
      // (the stored centroid count IS the built nlist)
      if (storedCount == nRows && storedHash == dataHash && storedSum == hashSum &&
          layout.centroids.length == nlist) return layout
    }
    val index = fit(df, nlist, embCol, sampleFraction, maxIter)
    writePartitioned(index, df, dir, embCol)
    val centroids = index.model.clusterCenters.map(_.toArray)
    val centroidJson = centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    graft.io.Artifact.writeAtomic(sidecar,
      s"""{"count":$nRows,"hash":$dataHash,"hsum":"$hashSum","centroids":$centroidJson}""")
    Layout(dir, centroids)
  }

  def loadLayout(dir: String): Layout = loadLayoutWithFingerprint(dir)._1

  private def loadLayoutWithFingerprint(dir: String): (Layout, Long, Long, String) = {
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, centroidFile))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    import scala.jdk.CollectionConverters._
    val centroids = node.get("centroids").elements().asScala
      .map(row => row.elements().asScala.map(_.asDouble()).toArray).toArray
    (Layout(dir, centroids), node.get("count").asLong(), node.get("hash").asLong(),
      if (node.hasNonNull("hsum")) node.get("hsum").asText() else "")
  }

  private[graft] def probeClustersOf(centroids: Array[Array[Double]], query: Array[Float], nprobe: Int): Seq[Int] = {
    val q = query.map(_.toDouble)
    centroids.zipWithIndex
      .map { case (c, i) =>
        var s = 0.0
        var j = 0
        while (j < q.length) { val d = c(j) - q(j); s += d * d; j += 1 }
        (s, i)
      }
      .sortBy(_._1).take(nprobe).map(_._2).toSeq
  }

  /** Assign rows to inverted lists using only the sidecar centroids (no
    * ML state), with EXACTLY [[probeClustersOf]]'s double arithmetic
    * (left-to-right fold over the dimension index — [[graft.functions.Distances.l2SqHof]]
    * is the same op sequence) and its tie-break (lexicographic
    * (dist, cluster)): a row whose embedding equals a probe query
    * provably lands in that probe's top-1 cluster. */
  def assignByCentroids(layout: Layout, df: DataFrame, embCol: String = "embedding"): DataFrame = {
    val members = layout.centroids.zipWithIndex.map { case (c, i) =>
      struct(
        graft.functions.Distances.l2SqHof(col(embCol), lit(c)).as("d"),
        lit(i).as("c"))
    }
    df.withColumn("cluster", array_min(array(members.toIndexedSeq: _*)).getField("c"))
  }

  /** Spilled (multi-)assignment, ScaNN-style: each row lands in its
    * `spill` nearest inverted lists — same per-centroid arithmetic and
    * lexicographic (dist, cluster) tie-break as [[assignByCentroids]],
    * so the top-1 assignment is unchanged. Storage grows spill×, and a
    * query whose true neighbors sit just across a Voronoi boundary
    * finds them in an already-probed list: recall at FIXED nprobe
    * rises without reading more clusters at query time (quantified in
    * [[Recall.measure]]). That trades write-side space for read-side
    * recall — the right direction at 100 TB, where probe IO dominates
    * and the layout is written once. */
  def assignSpilled(
      index: Index,
      df: DataFrame,
      spill: Int,
      embCol: String = "embedding"): DataFrame = {
    val centroids = index.model.clusterCenters.map(_.toArray)
    require(spill >= 1 && spill <= centroids.length,
      s"spill must be in [1, ${centroids.length}], got $spill")
    val members = centroids.zipWithIndex.map { case (c, i) =>
      struct(
        graft.functions.Distances.l2SqHof(col(embCol), lit(c)).as("d"),
        lit(i).as("c"))
    }
    df.withColumn("cluster",
      explode(slice(array_sort(array(members.toIndexedSeq: _*)), 1, spill)
        .getField("c")))
  }

  /** Probe a spilled assignment: identical cluster ranking; rows probed
    * through more than one list collapse BEFORE the top-k heap (a
    * multi-assigned row must count once). The dedup shuffles only the
    * probed subset — nprobe/nlist of the spilled rows. */
  def searchSpilled(
      index: Index,
      assignedSpilled: DataFrame,
      query: Array[Float],
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val clusters = probeClusters(index, query, nprobe)
    VectorSearch.knnExact(
      assignedSpilled.filter(col("cluster").isin(clusters: _*))
        .dropDuplicates(idCol),
      query.toSeq, k, idCol, embCol)
  }

  /** O2 `add` at the index level: incremental layout maintenance. New
    * rows are assigned by [[assignByCentroids]] and APPENDED to the
    * partitioned parquet — no rebuild, no rewrite of existing inverted
    * lists (the reference rewrites its whole database file on every add,
    * `vectordb.cpp:158-178`, and refits the index per query). The
    * sidecar fingerprint updates compositionally (counts add, xxhash64
    * xors — the fingerprint aggregate is xor exactly so this works), so
    * no rescan of the layout is needed; it is rewritten AFTER the data
    * append, so a crash in between leaves a mismatched fingerprint that
    * [[buildLayout]] treats as "rebuild" — never a silently stale probe.
    * Standard IVF caveat: heavy appends under distribution drift skew
    * the inverted lists; rebuild when drift matters. */
  /** LOUD GUARD shared by both append paths: an appended id that is
    * currently tombstoned would be SILENTLY MASKED by every probe's
    * global anti-join — and naively clearing its tombstone instead
    * would resurrect the old base row next to the new one (duplicate).
    * The layout's tombstones are a global id mask (unlike the
    * posting/SQ8 stores' covered-leg tombstones, under which re-adds
    * revive); the supported revival path here is [[compactLayout]]
    * (physical drop + tombstone clear), THEN re-add. One literal-id
    * filtered scan of the mask legs ([[lookupIds]]); no scan at all
    * when the snapshot has no mask. */
  private def requireNotTombstoned(
      spark: SparkSession, dir: String, s: IvfSnap, ids: Seq[Long]): Unit = {
    val clash = lookupIds(spark, dir, s, ids, "vec_id", "", data = false)
    require(clash.isEmpty,
      s"append: id ${clash.headOption.map(_._2).getOrElse(-1L)} is tombstoned in " +
        s"$dir — a global-mask probe would silently hide the re-add; run " +
        "compactLayout to physically reclaim deleted rows, then re-add")
  }

  /** The non-null `idCol` values of `df`, collected — callers hand in
    * request-sized frames (a batch, a victim list). */
  private def idsOf(df: DataFrame, idCol: String): Seq[Long] =
    df.select(col(idCol).cast("long")).collect().toSeq
      .filterNot(_.isNullAt(0)).map(_.getLong(0))

  def appendToLayout(
      layout: Layout,
      rows: DataFrame,
      embCol: String = "embedding"): Layout =
      graft.io.MutableStore.withWriterLock(layout.dir, "appendToLayout") {
    val s = snapOf(layout.dir)
    // pin the batch ONCE: writing and fingerprinting from two separate
    // evaluations of `rows` would let a nondeterministic input store one
    // dataset while the sidecar attests another — exactly the silent
    // staleness the fingerprint exists to rule out
    val assigned = assignByCentroids(layout, rows, embCol).localCheckpoint()
    requireNotTombstoned(rows.sparkSession, layout.dir, s, idsOf(assigned, "vec_id"))
    if (s.v == 0)
      // legacy resolution lists the root `cluster=K/` dirs — a direct
      // append is visible the moment its files land
      assigned.write.mode("append").partitionBy("cluster").parquet(layout.dir)
    else {
      // manifest version: a root append would be invisible to pinned
      // probes, so the batch lands as fresh files under a never-reused
      // fold tree and COMMITS via manifest+state swap (nothing removed
      // — pure addition; an O(batch) write either way)
      val dir = layout.dir
      val st = graft.io.MutableStore.state(dir)
      val (protectedRefs, _) = graft.io.MutableStore.splitPriors(dir, st.priors)
      val vNew = (Seq(s.v,
        graft.io.MutableStore.maxOnDiskVersion(dir, Seq(foldDirPrefix))) ++
        Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
          .map(_.getName)
          .flatMap(manifestVersionOf))
        .max + 1
      gcLayout(dir, st, protectedRefs)
      val building = java.nio.file.Paths.get(dir, s"_building_$foldDirPrefix$vNew")
      graft.io.MutableStore.deleteDir(building)
      assigned.write.mode("overwrite").partitionBy("cluster")
        .parquet(building.toString)
      java.nio.file.Files.move(building,
        java.nio.file.Paths.get(dir, s"$foldDirPrefix$vNew"))
      val root = java.nio.file.Paths.get(dir)
      val newFiles = Option(
        new java.io.File(dir, s"$foldDirPrefix$vNew").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
        .flatMap(c => Option(c.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .map(f => root.relativize(f.toPath).toString))
        .toSeq
      writeManifest(dir, vNew, Manifest(
        files = s.manifestV.map(readManifest(dir, _).files).getOrElse(Seq.empty) ++ newFiles,
        removed = Seq.empty, removedDirs = Seq.empty))
      graft.io.MutableStore.commitState(dir, vNew,
        folded = s.folded.toSeq.sorted, deadTombs = s.deadTombs.toSeq.sorted,
        live = s.live, liveTombs = s.tombTags,
        priors = graft.io.MutableStore.pushPrior(dir, protectedRefs,
          graft.io.MutableStore.SnapRef(s.v, s.live, s.tombTags)))
    }
    val (nNew, hNew, sNew) = fingerprint(assigned, embCol)
    val sidecar = java.nio.file.Paths.get(layout.dir, centroidFile)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(java.nio.file.Files.readString(sidecar))
    val count = node.get("count").asLong() + nNew
    val hash = node.get("hash").asLong() ^ hNew
    // xor and sum are both order-independent, so the sidecar fingerprint
    // stays maintainable incrementally: xor toggles, sum adds
    val hsum = storedHsum(node).add(new java.math.BigInteger(sNew))
    graft.io.Artifact.writeAtomic(sidecar,
      s"""{"count":$count,"hash":$hash,"hsum":"$hsum","centroids":${node.get("centroids").toString}}""")
    layout
  }

  private def storedHsum(node: com.fasterxml.jackson.databind.JsonNode): java.math.BigInteger =
    if (node.hasNonNull("hsum")) new java.math.BigInteger(node.get("hsum").asText())
    else java.math.BigInteger.ZERO

  private val tombstoneDirName = "_tombstones"
  private val deltaDirPrefix = "_delta_"
  private val tombTagPrefix = "tomb_"
  // underscore-prefixed: invisible to the legacy v0 root listing (the
  // manifest reads its files EXPLICITLY, like the _delta_ legs)
  private val foldDirPrefix = "_fold_v"
  private val manifestPrefix = "_manifest_v"

  // ----------------------------------------------------------------
  // SNAPSHOT-PINNED LAYOUT PROTOCOL (r16) — the manifest design the
  // move-fold's own doc named: every committed version `v >= 1` has an
  // IMMUTABLE per-version manifest (`_manifest_v<N>.json`, the exact
  // relative data-file list composing the base), the layout state
  // (version pointer + live delta tags + live tombstone tags) commits
  // through the shared [[graft.io.MutableStore]] state json, and a
  // probe resolves its WHOLE file set from ONE atomic state read —
  // wholly-old or wholly-new, never torn. Folds REWRITE only the
  // touched clusters into a fresh `fold_v<N>/` tree (O(touched), never
  // O(base)) and commit by manifest+state swap; the files a commit
  // superseded ride the manifest's `removed` lists and are collected
  // LAGGED, at a later compaction's start, behind the engine-wide
  // [[graft.io.MutableStore.gcRetention]] knob. This removes the
  // engine's one stop-the-world maintenance op: IVF probes now pin
  // like every other store family (the reference's implicit per-query
  // snapshot, vectordb.cpp:180-218, under concurrency).
  // Layouts never mutated through the protocol (no state json) keep
  // the original directory-listing resolution and plan shape.
  //
  // Known growth path at extreme file counts: the manifest is ONE
  // json listing every base file — O(files) to read and rewrite per
  // commit. Fine to millions of entries (a probe parses it once per
  // pin); past that the Iceberg answer is a manifest LIST pointing at
  // per-cluster manifest files, which this layout's cluster grouping
  // maps onto directly (each cluster's files are rewritten wholesale,
  // so per-cluster manifests would change one file per touched
  // cluster). The commit-point and GC protocol would be unchanged.
  // ----------------------------------------------------------------

  /** One committed snapshot of a persisted layout, resolved from a
    * SINGLE state read: base file list (None = legacy v0 listing),
    * live delta tags, live tombstone-batch tags. */
  private[graft] final case class IvfSnap(
      v: Int,
      folded: Set[String],
      deadTombs: Set[String],
      manifestV: Option[Int],
      live: Seq[String],
      tombTags: Seq[String]) {
    def key: (Int, Seq[String], Seq[String]) = (v, live, tombTags)
  }

  private def stateFileExists(dir: String): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, graft.io.MutableStore.stateName))

  // legacy (r16) single-json manifest: every base file in one list
  private def manifestPath(dir: String, v: Int): java.nio.file.Path =
    java.nio.file.Paths.get(dir, s"$manifestPrefix$v.json")

  // split (r17) manifest DIRECTORY: `_index.json` (cluster ids +
  // removed lists) plus one `cluster_<K>.json` per cluster — a pin
  // reads O(probed clusters) metadata instead of the whole file list
  private def manifestDirPath(dir: String, v: Int): java.nio.file.Path =
    java.nio.file.Paths.get(dir, s"$manifestPrefix$v")

  private def manifestIndexPath(dir: String, v: Int): java.nio.file.Path =
    manifestDirPath(dir, v).resolve("_index.json")

  private def clusterManifestPath(
      dir: String, v: Int, k: Int): java.nio.file.Path =
    manifestDirPath(dir, v).resolve(s"cluster_$k.json")

  /** The immutable file list of version `v` (+ what that version
    * superseded, for lagged GC). Paths are relative to the layout
    * dir. */
  private final case class Manifest(
      files: Seq[String], removed: Seq[String], removedDirs: Seq[String])

  private val mapperM = new com.fasterxml.jackson.databind.ObjectMapper()

  private def jsonArr(
      node: com.fasterxml.jackson.databind.JsonNode, k: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (!node.has(k)) Seq.empty[String]
    else node.get(k).elements().asScala.map(_.asText()).toSeq
  }

  private def isSplitManifest(dir: String, v: Int): Boolean =
    java.nio.file.Files.exists(manifestIndexPath(dir, v))

  /** The cluster ids version `v`'s base has files for — one small
    * index read, O(nlist), never O(files). */
  private def manifestClusterIds(dir: String, v: Int): Seq[Int] =
    if (isSplitManifest(dir, v))
      jsonArr(mapperM.readTree(
        java.nio.file.Files.readString(manifestIndexPath(dir, v))), "clusters")
        .map(_.toInt)
    else readManifest(dir, v).files.map(clusterOfPath).distinct.sorted

  /** Version `v`'s base files restricted to `clusters` — for a SPLIT
    * manifest this reads the index plus ONLY the probed clusters'
    * manifests (the Iceberg manifest-list economics: pin metadata is
    * O(probed clusters), flat in total base size at fixed nprobe); a
    * legacy single-json manifest filters its full list. */
  private def manifestFilesFor(
      dir: String, v: Int, clusters: Set[Int]): Seq[String] =
    if (isSplitManifest(dir, v)) {
      val present = manifestClusterIds(dir, v).filter(clusters)
      present.flatMap { k =>
        jsonArr(mapperM.readTree(java.nio.file.Files.readString(
          clusterManifestPath(dir, v, k))), "files")
      }
    } else readManifest(dir, v).files.filter(p => clusters(clusterOfPath(p)))

  /** Version `v`'s COMPLETE manifest (all clusters + removed lists) —
    * the writer-path read (compactions touch every file's bookkeeping
    * anyway); resolves both the split and the legacy format. */
  private def readManifest(dir: String, v: Int): Manifest =
    if (isSplitManifest(dir, v)) {
      val idx = mapperM.readTree(
        java.nio.file.Files.readString(manifestIndexPath(dir, v)))
      val files = jsonArr(idx, "clusters").map(_.toInt).flatMap { k =>
        jsonArr(mapperM.readTree(java.nio.file.Files.readString(
          clusterManifestPath(dir, v, k))), "files")
      }
      Manifest(files, jsonArr(idx, "removed"), jsonArr(idx, "removedDirs"))
    } else {
      val node = mapperM.readTree(
        java.nio.file.Files.readString(manifestPath(dir, v)))
      Manifest(jsonArr(node, "files"), jsonArr(node, "removed"),
        jsonArr(node, "removedDirs"))
    }

  /** Write version `v`'s manifest in the SPLIT form: per-cluster file
    * lists + one index json carrying the cluster ids and the lagged-GC
    * removed lists. Version numbers are never reused and the manifest
    * becomes referenced only at the state commit, so the dir needs no
    * build-then-rename dance; a crashed partial write is debris
    * ([[gcLayout]] collects manifests newer than the committed v). */
  private def writeManifest(dir: String, v: Int, m: Manifest): Unit = {
    def arr(s: Seq[String]) =
      s.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val byCluster = m.files.groupBy(clusterOfPath)
    val mdir = manifestDirPath(dir, v)
    graft.io.MutableStore.deleteDir(mdir) // crashed-attempt debris of THIS v
    java.nio.file.Files.createDirectories(mdir)
    byCluster.toSeq.sortBy(_._1).foreach { case (k, fs) =>
      graft.io.Artifact.writeAtomic(clusterManifestPath(dir, v, k),
        s"""{"files":${arr(fs)}}""")
    }
    // index LAST — its presence marks the split manifest complete
    graft.io.Artifact.writeAtomic(manifestIndexPath(dir, v),
      s"""{"clusters":${arr(byCluster.keys.toSeq.sorted.map(_.toString))},"removed":${arr(m.removed)},"removedDirs":${arr(m.removedDirs)}}""")
  }

  /** Blank a retained manifest's removed lists after GC released them
    * — IN PLACE and format-preserving, so pinned probes of that
    * version keep resolving (legacy file: one atomic rewrite; split:
    * only the index json changes — cluster manifests are immutable). */
  private def blankManifestRemoved(dir: String, v: Int): Unit = {
    def arr(s: Seq[String]) =
      s.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    if (isSplitManifest(dir, v)) {
      val idx = mapperM.readTree(
        java.nio.file.Files.readString(manifestIndexPath(dir, v)))
      graft.io.Artifact.writeAtomic(manifestIndexPath(dir, v),
        s"""{"clusters":${arr(jsonArr(idx, "clusters"))},"removed":[],"removedDirs":[]}""")
    } else {
      val m = readManifest(dir, v)
      graft.io.Artifact.writeAtomic(manifestPath(dir, v),
        s"""{"files":${arr(m.files)},"removed":[],"removedDirs":[]}""")
    }
  }

  /** Delete version `v`'s manifest, whichever form it is in. */
  private def deleteManifest(dir: String, v: Int): Unit = {
    java.nio.file.Files.deleteIfExists(manifestPath(dir, v))
    graft.io.MutableStore.deleteDir(manifestDirPath(dir, v))
  }

  /** Version encoded by a root entry that is a manifest (either
    * form), for the never-reuse allocator and GC. */
  private def manifestVersionOf(nm: String): Option[Int] =
    if (nm.startsWith(manifestPrefix)) {
      val tail = nm.stripPrefix(manifestPrefix)
      if (tail.endsWith(".json") && tail.stripSuffix(".json").forall(_.isDigit))
        Some(tail.stripSuffix(".json").toInt)
      else if (tail.nonEmpty && tail.forall(_.isDigit)) Some(tail.toInt)
      else None
    } else None

  /** The metadata bytes a probe of `clusters` reads to pin version
    * `v`'s base file set — the ScaleProbe feed for the split-manifest
    * economics (index + probed cluster manifests, vs the whole legacy
    * list). */
  private[graft] def pinMetadataBytes(dir: String, clusters: Seq[Int]): Long = {
    val st = graft.io.MutableStore.state(dir)
    if (st.v < 1) return 0L
    if (isSplitManifest(dir, st.v)) {
      val present = manifestClusterIds(dir, st.v).filter(clusters.toSet)
      java.nio.file.Files.size(manifestIndexPath(dir, st.v)) +
        present.map(k =>
          java.nio.file.Files.size(clusterManifestPath(dir, st.v, k))).sum
    } else java.nio.file.Files.size(manifestPath(dir, st.v))
  }

  /** Relative data-file paths currently composing the LEGACY (v = 0)
    * base: everything under the root `cluster=K/` dirs. */
  private def legacyBaseFiles(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
      .flatMap(c => Option(c.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => root.relativize(f.toPath).toString))
      .toSeq.sorted
  }

  /** The cluster id encoded in a manifest-relative file path. */
  private def clusterOfPath(p: String): Int = {
    val m = "cluster=(\\d+)".r.findFirstMatchIn(p)
      .getOrElse(throw new IllegalStateException(s"no cluster component in $p"))
    m.group(1).toInt
  }

  /** The partition-discovery ROOT of a manifest-relative path: "" for
    * root-resident `cluster=K/...` files, `fold_v<N>` for rewritten
    * ones — each read passes its root as `basePath`, so the `cluster`
    * partition column survives an explicit-file-list scan. */
  private def rootOfPath(p: String): String = {
    val i = p.indexOf("cluster=")
    require(i >= 0, s"no cluster component in $p")
    p.substring(0, math.max(0, i - 1))
  }

  private def listedDeltaTags(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(deltaDirPrefix))
      .map(_.getName.stripPrefix(deltaDirPrefix)).toSeq.sorted

  private def listedTombTags(dir: String): Seq[String] = {
    val root = new java.io.File(dir, tombstoneDirName)
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(tombTagPrefix))
      .map(_.getName.stripPrefix(tombTagPrefix)).toSeq.sorted
  }

  /** Legacy flat tombstone FILES (the pre-protocol append-mode table,
    * directly under `_tombstones/`) — always part of the mask. */
  private def legacyTombFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir, tombstoneDirName).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getPath).toSeq.sorted

  private val clusterField = org.apache.spark.sql.types.StructField(
    "cluster", org.apache.spark.sql.types.IntegerType)

  /** A cluster-partitioned leg dir (a delta, or the legacy root base)
    * as one schema-pinned read ([[graft.io.MutableStore.readParquetPinned]]:
    * no schema-inference job); None when it holds no data file. */
  private def readClusteredDir(spark: SparkSession, path: String): Option[DataFrame] =
    graft.io.MutableStore.sampleDataFile(path).map(f =>
      graft.io.MutableStore.readParquetPinned(spark, Seq(path), f, Seq(clusterField)))

  /** Manifest-listed base files sharing one partition-discovery root,
    * schema-pinned; the root as `basePath` recovers `cluster`. */
  private def readBaseFiles(
      spark: SparkSession, dir: String, root: String, files: Seq[String]): DataFrame =
    graft.io.MutableStore.readParquetPinned(spark, files.map(f => s"$dir/$f"),
      s"$dir/${files.head}", Seq(clusterField),
      Some(if (root.isEmpty) dir else s"$dir/$root"))

  private[graft] def snapOf(dir: String): IvfSnap = {
    if (!stateFileExists(dir))
      return IvfSnap(0, Set.empty, Set.empty, None,
        listedDeltaTags(dir), listedTombTags(dir))
    val st = graft.io.MutableStore.state(dir)
    IvfSnap(st.v, st.folded, st.deadTombs,
      if (st.v >= 1) Some(st.v) else None,
      st.live.getOrElse(listedDeltaTags(dir).filterNot(st.folded)),
      st.liveTombs.getOrElse(listedTombTags(dir).filterNot(st.deadTombs)))
  }

  /** Pin one committed snapshot: resolve → build → re-resolve, accept
    * only when unchanged (a commit interleaving anywhere in between
    * retries against the newer state — the engine-wide optimistic
    * pin). */
  private def pinned[A](dir: String)(build: IvfSnap => A): A = {
    var attempt = 0
    while (attempt < 8) {
      val s0 = snapOf(dir)
      val out = build(s0)
      if (snapOf(dir).key == s0.key) return out
      attempt += 1
    }
    throw new IllegalStateException(
      s"could not pin a consistent snapshot of the IVF layout at $dir " +
        "after 8 attempts (a compaction is committing continuously?)")
  }

  /** The BASE scan of a pinned snapshot, pruned to `clusters` when
    * given: legacy snapshots keep the original partition-pruned
    * directory scan (identical plan shape); manifest snapshots prune
    * at the FILE LIST level (no directory listing at all — the
    * Iceberg-style read) and recover the `cluster` partition column
    * via one `basePath` read per referenced root (a fold rewrites a
    * touched cluster wholly, so a cluster's files always share one
    * root; roots per probe <= min(nprobe, fold generations)). */
  private def baseScanOf(
      spark: SparkSession, dir: String, s: IvfSnap,
      clusters: Option[Seq[Int]]): DataFrame = s.manifestV match {
    case None =>
      val df = readClusteredDir(spark, dir).getOrElse(
        throw new IllegalStateException(s"IVF layout $dir has no base data file"))
      clusters.map(cs => df.filter(col("cluster").isin(cs: _*))).getOrElse(df)
    case Some(mv) =>
      // SPLIT manifest: resolve ONLY the probed clusters' file lists
      // (index + |probed| small reads); legacy single-json manifests
      // filter their full list — both via manifestFilesFor
      val picked = clusters match {
        case Some(cs) => manifestFilesFor(dir, mv, cs.toSet)
        case None => readManifest(dir, mv).files
      }
      if (picked.isEmpty) {
        // every probed cluster is file-less: an EMPTY relation with
        // the base schema read from ONE manifest file — never an
        // O(all-files) explicit-file scan setup just to learn a schema
        val anyCluster = manifestClusterIds(dir, mv)
        require(anyCluster.nonEmpty, s"manifest v$mv of $dir lists no files")
        val sample = manifestFilesFor(dir, mv, Set(anyCluster.head)).head
        val schema = readBaseFiles(spark, dir, rootOfPath(sample), Seq(sample)).schema
        return spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      }
      val legs = picked.groupBy(rootOfPath).toSeq.sortBy(_._1).map {
        case (root, fs) => readBaseFiles(spark, dir, root, fs)
      }
      val df = legs.reduce(_ unionByName _)
      clusters.map(cs => df.filter(col("cluster").isin(cs: _*))).getOrElse(df)
  }

  /** Live delta legs of a pinned snapshot (cluster-pruned), unioned
    * by name. None when the snapshot has none holding a data file (a
    * leg an empty write left with only `_SUCCESS` has no rows). */
  private def deltaScanOf(
      spark: SparkSession, dir: String, s: IvfSnap,
      clusters: Option[Seq[Int]]): Option[DataFrame] =
    s.live.flatMap { t =>
      readClusteredDir(spark, s"$dir/$deltaDirPrefix$t").map(df =>
        clusters.map(cs => df.filter(col("cluster").isin(cs: _*))).getOrElse(df))
    }.reduceOption(_ unionByName _)

  /** The layout's LIVE rows as ONE pinned DataFrame (base ∪ live
    * deltas, minus the global mask) — the read-side twin of the probe
    * path, for audits, exports, and the physical-reclaim checks. */
  def layoutRows(
      spark: SparkSession, layout: Layout,
      idCol: String = "vec_id"): DataFrame =
    pinned(layout.dir) { s =>
      val base = baseScanOf(spark, layout.dir, s, None)
      val all = deltaScanOf(spark, layout.dir, s, None) match {
        case Some(d) =>
          base.unionByName(d.select(base.columns.map(col).toIndexedSeq: _*))
        case None => base
      }
      applyMask(all, maskOf(spark, layout.dir, s, idCol), idCol)
    }

  /** TIME-TRAVEL read of the layout (the `VERSION AS OF` analogue):
    * [[layoutRows]] as of committed version `version`. The current
    * version resolves to the live pinned view; a RETAINED prior
    * replays its immutable manifest's file list plus the live delta /
    * tombstone tags recorded when the superseding commit retired it —
    * files the retention machinery already keeps on disk. No pin loop
    * needed for a prior: its manifest and legs never change. Loud
    * error naming the readable versions otherwise. */
  def layoutRowsAt(
      spark: SparkSession, layout: Layout, version: Int,
      idCol: String = "vec_id"): DataFrame = {
    val dir = layout.dir
    val cur = snapOf(dir)
    if (cur.v == version) return layoutRows(spark, layout, idCol)
    layoutRowsOfRef(spark, dir, graft.io.MutableStore.priorRefOf(
      dir, graft.io.MutableStore.state(dir), version), idCol)
  }

  /** The layout exactly as a TAG captured it — the tag's own reference
    * set, NOT the version's retirement state: deltas committed after
    * the tag are not in the view. */
  def layoutRowsAtTag(
      spark: SparkSession, layout: Layout, name: String,
      idCol: String = "vec_id"): DataFrame =
    layoutRowsOfRef(spark, layout.dir,
      graft.io.MutableStore.resolveTag(layout.dir, name), idCol)

  private def layoutRowsOfRef(
      spark: SparkSession, dir: String,
      ref: graft.io.MutableStore.SnapRef, idCol: String): DataFrame = {
    val s = IvfSnap(ref.v, Set.empty, Set.empty,
      if (ref.v >= 1) Some(ref.v) else None,
      ref.live, ref.tombs)
    val base = baseScanOf(spark, dir, s, None)
    val all = deltaScanOf(spark, dir, s, None) match {
      case Some(d) =>
        base.unionByName(d.select(base.columns.map(col).toIndexedSeq: _*))
      case None => base
    }
    applyMask(all, maskOf(spark, dir, s, idCol), idCol)
  }

  /** The pinned GLOBAL id mask's legs (`idCol` only): legacy flat
    * tombstone files plus the snapshot's live tombstone-batch dirs,
    * each schema-pinned. */
  private def maskLegs(
      spark: SparkSession, dir: String, s: IvfSnap, idCol: String): Seq[DataFrame] = {
    val legacy = legacyTombFiles(dir)
    ((if (legacy.nonEmpty)
      Seq(graft.io.MutableStore.readParquetPinned(spark, legacy, legacy.head))
    else Seq.empty) ++
      s.tombTags.flatMap { t =>
        val p = s"$dir/$tombstoneDirName/$tombTagPrefix$t/ids"
        graft.io.MutableStore.sampleDataFile(p)
          .map(f => graft.io.MutableStore.readParquetPinned(spark, Seq(p), f))
      }).map(_.select(col(idCol)))
  }

  /** The pinned GLOBAL id mask as one distinct id table. */
  private def maskOf(
      spark: SparkSession, dir: String, s: IvfSnap,
      idCol: String): Option[DataFrame] =
    maskLegs(spark, dir, s, idCol).reduceOption(_ unionAll _).map(_.distinct())

  /** Where requested ids live in a pinned snapshot, from ONE
    * literal-id filtered scan: one (leg, id, h) per matching row, leg
    * 0 = base, 1 = live delta, 2 = mask, with `h` the base row's
    * embedding hash (the sidecar's per-row term, 0 elsewhere).
    * `data = false` scans the mask legs only. The result is bounded by
    * the request (ids × their copies), so it comes to the driver —
    * the ids-on-driver contract of [[graft.index.Hnsw.deleteFromLayout]]. */
  private def lookupIds(
      spark: SparkSession, dir: String, s: IvfSnap, ids: Seq[Long],
      idCol: String, embCol: String, data: Boolean): Array[(Int, Long, Long)] = {
    if (ids.isEmpty) return Array.empty
    def tagged(df: DataFrame, leg: Int, h: Column): DataFrame =
      df.filter(col(idCol).isin(ids: _*))
        .select(lit(leg).as("leg"), col(idCol).cast("long").as(idCol), h.as("h"))
    val legs =
      (if (!data) Seq.empty
      else tagged(baseScanOf(spark, dir, s, None), 0, xxhash64(col(embCol))) +:
        deltaScanOf(spark, dir, s, None).toSeq.map(tagged(_, 1, lit(0L)))) ++
        maskLegs(spark, dir, s, idCol).map(tagged(_, 2, lit(0L)))
    legs.reduceOption(_ unionAll _).toSeq.flatMap(_.collect())
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toArray
  }

  private def applyMask(
      df: DataFrame, mask: Option[DataFrame], idCol: String): DataFrame =
    mask.map(m => df.join(broadcast(m), Seq(idCol), "left_anti")).getOrElse(df)

  /** Standalone snapshot expiry for the IVF layout: apply the
    * retention policy and collect due priors NOW — superseded base
    * files and delta dirs via each retired version's manifest
    * `removed`/`removedDirs` lists, plus crashed-attempt fold trees
    * and manifests — under the writer lease, without a content commit
    * ([[graft.io.MutableStore.expireSnapshotsWith]]). Returns the
    * number of priors expired. */
  def expireSnapshots(dir: String): Int = {
    if (!stateFileExists(dir)) return 0 // never committed: nothing retained
    val st = graft.io.MutableStore.state(dir)
    graft.io.MutableStore.expireSnapshotsWith(dir,
      java.nio.file.Paths.get(dir, graft.io.MutableStore.stateName),
      st.priors, prot => gcLayout(dir, st, prot))
  }

  /** NAMED snapshot tag on the layout (the Iceberg tag analogue):
    * captures the EXACT current reference set (or a retained prior's
    * retirement state when `version` names one) and exempts it from
    * the retention policy until dropped — a probe fleet can pin "the
    * validated index" by name for as long as the deployment needs it.
    * Returns the tagged version. */
  def tagSnapshot(dir: String, name: String, version: Option[Int] = None): Int =
    graft.io.MutableStore.tagSnapshot(dir, name, version)

  def dropTag(dir: String, name: String): Boolean =
    graft.io.MutableStore.dropTag(dir, name)

  /** [[rollbackTo]] by tag — restores the tag's EXACT captured
    * snapshot. Returns the version rolled back from. */
  def rollbackToTag(dir: String, name: String): Int =
    graft.io.MutableStore.rollbackToTag(dir, name)

  /** ROLLBACK the layout to retained `version` — one atomic state
    * commit replaying the prior's reference set (its immutable
    * manifest + the delta/tombstone legs live at its retirement). No
    * data moves; the rolled-back-FROM version becomes a retained prior
    * (roll-forward stays possible while the policy — or a tag —
    * protects it), and the next fold's never-reuse allocation skips
    * every on-disk version. Returns the version rolled back from. */
  def rollbackTo(dir: String, version: Int): Int =
    graft.io.MutableStore.rollbackTo(dir, version)

  /** Lagged, retention-aware GC at a compaction's start: versions
    * retired past [[graft.io.MutableStore.gcRetention]] release the
    * files their commit superseded (each version's manifest carries
    * its own `removed` lists); crashed-attempt debris (fold dirs and
    * manifests NEWER than the committed version — never referenced by
    * any snapshot) goes unconditionally. */
  private def gcLayout(
      dir: String, st: graft.io.MutableStore.State,
      protectedRefs: Seq[graft.io.MutableStore.SnapRef]): Unit = {
    val minKeep = (Seq(st.v) ++ protectedRefs.map(_.v)).min
    // a version NEWER than the committed pointer is crashed-attempt
    // debris — unless a retained prior names it: after a ROLLBACK the
    // rolled-back-FROM version sits above st.v yet stays readable (and
    // roll-forward-able) while the policy or a tag protects it
    val retainedAbove = protectedRefs.map(_.v).filter(_ > st.v).toSet
    val root = new java.io.File(dir)
    Option(root.listFiles()).getOrElse(Array.empty).foreach { f =>
      val nm = f.getName
      if (nm.startsWith(s"_building_$foldDirPrefix"))
        graft.io.MutableStore.deleteDir(f.toPath)
      else if (nm.startsWith(foldDirPrefix) &&
          nm.stripPrefix(foldDirPrefix).forall(_.isDigit) &&
          nm.stripPrefix(foldDirPrefix).toInt > st.v &&
          !retainedAbove.contains(nm.stripPrefix(foldDirPrefix).toInt))
        graft.io.MutableStore.deleteDir(f.toPath) // crashed-attempt debris
      else manifestVersionOf(nm).foreach { v =>
        if (v > st.v && !retainedAbove.contains(v))
          deleteManifest(dir, v) // debris (either form)
        else if (v <= minKeep) {
          // this version's commit is older than every retained
          // snapshot: release what it superseded
          val m = readManifest(dir, v)
          (m.removed ++ m.removedDirs).foreach(p =>
            graft.io.MutableStore.deleteDir(
              java.nio.file.Paths.get(dir, p)))
          if (v < minKeep) deleteManifest(dir, v)
          else if (m.removed.nonEmpty || m.removedDirs.nonEmpty)
            // keep the manifest (its snapshot is retained) but blank
            // the collected lists so a later GC pass is a no-op —
            // format-preserving, cluster manifests untouched
            blankManifestRemoved(dir, v)
        }
      }
    }
  }

  /** Batch-keyed IDEMPOTENT append — the streaming-side O2 for the
    * partitioned index: the batch's rows, assigned to their nearest
    * centroid with the probe's own double arithmetic
    * ([[assignByCentroids]]), land in an OVERWRITE-mode
    * `_delta_<tag>` subdirectory of the layout, cluster-partitioned
    * like the base data. foreachBatch is at-least-once, so the delta
    * protocol from the incremental dedup stores applies verbatim: a
    * retried micro-batch REWRITES its own delta instead of
    * double-appending into the base layout (which `mode("append")` +
    * a sidecar increment would corrupt twice over). The underscore
    * prefix keeps deltas invisible to the base `parquet(layout.dir)`
    * scan; delta-aware probes ([[searchLayoutDeltaAware]]) read them
    * explicitly with the same cluster pruning. The sidecar is NOT
    * touched — it attests the base corpus only, so [[buildLayout]]
    * reuse semantics stay exact; fold deltas into the base with a
    * batch [[appendToLayout]] + delta cleanup when compaction is due.
    *
    * Job plan (at most three Spark jobs, named `appendDelta at
    * Ivf.scala`): (1) one evaluation of the assigned rows fills a
    * cache and brings their ids to the driver — ids only, bounded by
    * the batch, the same contract as [[deleteFromLayout]]; the row
    * count comes from it; (2) when the snapshot has a mask, one
    * literal-id filtered scan of its legs is the tombstone guard;
    * (3) the write, from the cache. A batch of zero rows returns 0 and
    * writes and commits nothing — an empty partitioned write would
    * leave a leg holding only `_SUCCESS`.
    * Returns the number of rows written. */
  def appendDelta(
      layout: Layout,
      rows: DataFrame,
      tag: String,
      embCol: String = "embedding"): Long =
      graft.io.MutableStore.writing(rows.sparkSession, layout.dir, "Ivf", "appendDelta") {
    val s = snapOf(layout.dir)
    val assigned = assignByCentroids(layout, rows, embCol).persist()
    try {
      val ids = assigned.select(col("vec_id").cast("long")).collect()
      if (ids.isEmpty) return 0L
      requireNotTombstoned(rows.sparkSession, layout.dir, s, // see the guard's doc
        ids.toSeq.filterNot(_.isNullAt(0)).map(_.getLong(0)))
      assigned.write.mode("overwrite").partitionBy("cluster")
        .parquet(s"${layout.dir}/$deltaDirPrefix$tag")
      // COMMIT the mutation (snapshot-pin protocol): the delta is live
      // once the state names it. A tag the committed state already FOLDED
      // is a redelivered batch whose rows are base-resident — debris,
      // never re-committed (double-count).
      if (!s.folded.contains(tag))
        graft.io.MutableStore.commitLiveLists(layout.dir,
          (s.live :+ tag).distinct.sorted, s.tombTags)
      ids.length.toLong
    } finally assigned.unpersist()
  }

  /** Number of LIVE delta legs — what a probe's union width grows
    * with, and the quantity the streaming auto-compaction policy
    * bounds. Committed-state resolution (folded dirs linger on disk
    * until retention GC and must not count). */
  def deltaDirCount(layout: Layout): Int = snapOf(layout.dir).live.size

  /** Bytes of the live delta dirs / of the base inverted lists — the
    * size-ratio compaction policy's inputs (IVF's fold is O(delta)
    * file moves either way; the ratio trigger just amortizes the
    * per-fold fixed cost over proportionally more appended bytes). */
  def deltaBytes(layout: Layout): Long =
    snapOf(layout.dir).live
      .map(t => graft.io.MutableStore.duBytes(
        java.nio.file.Paths.get(layout.dir, s"$deltaDirPrefix$t")))
      .sum

  def baseBytes(layout: Layout): Long = snapOf(layout.dir).manifestV match {
    case None =>
      Option(new java.io.File(layout.dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
        .map(f => graft.io.MutableStore.duBytes(f.toPath)).sum
    case Some(mv) =>
      readManifest(layout.dir, mv).files
        .map(f => new java.io.File(layout.dir, f).length()).sum
  }

  /** All LIVE delta rows of a layout (None when the committed state
    * names none — folded dirs linger until retention GC and must not
    * re-count). Each delta dir is its own cluster-partitioned table,
    * so they are read per-dir and unioned — a single multi-root read
    * would trip partition discovery ("conflicting directory
    * structures"). */
  def deltaRows(spark: SparkSession, layout: Layout): Option[DataFrame] =
    deltaScanOf(spark, layout.dir, snapOf(layout.dir), None)

  /** Fold streamed deltas into the base layout — SNAPSHOT-SAFE under
    * concurrent probes (r16; previously the engine's one stop-the-world
    * op — the in-place file move this manifest design replaces).
    * Mechanics: only the clusters the folded deltas TOUCH are
    * rewritten — base(touched) ∪ delta rows land as fresh files under
    * an underscore temp, renamed into a never-reused `fold_v<N>/`
    * tree — so fold cost is O(touched + delta), never O(base), and the
    * rewrite also merges the small per-batch delta files (the LSM
    * economics: at 100 TB the size-ratio trigger amortizes rewrite IO
    * against proportionally more appended bytes). The COMMIT is the
    * manifest+state swap: `_manifest_v<N>.json` (untouched old files +
    * new fold files, written first) then one atomic state replace. A
    * probe pinned on the old state keeps every file and delta dir its
    * snapshot names — the superseded paths ride the new manifest's
    * `removed` lists and are collected LAGGED at a later compaction's
    * start, behind [[graft.io.MutableStore.gcRetention]].
    *
    * The sidecar fingerprint updates compositionally from the LIVE
    * delta rows (count adds, xor toggles, sum adds — tombstone-masked
    * rows never entered the sidecar arithmetic, see
    * [[deleteFromLayout]]); tombstones are NOT consumed here (the
    * layout's mask is GLOBAL — an id's rows can live in untouched
    * clusters; [[compactLayout]] is the reclaim leg). A crash anywhere
    * before the state commit leaves debris the next compaction's GC
    * collects and probes on the old state, correct.
    *
    * `excludeTags` skips named deltas — the streaming auto-compaction
    * hook passes the IN-FLIGHT batch's tag, because folding an
    * uncommitted (possibly crashed-attempt) delta into the base and
    * then redelivering its batch would re-add the folded rows; deltas
    * of COMMITTED batches never redeliver and fold safely.
    * Returns the number of delta legs folded. */
  def compactDeltas(
      spark: SparkSession,
      layout: Layout,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      excludeTags: Set[String] = Set.empty): Int =
      graft.io.MutableStore.writing(spark, layout.dir, "Ivf", "compactDeltas") {
    val dir = layout.dir
    val s = snapOf(dir)
    val tags = s.live.filterNot(excludeTags)
    if (tags.isEmpty) return 0
    val st = graft.io.MutableStore.state(dir) // priors ride the state json
    val (protectedRefs, _) = graft.io.MutableStore.splitPriors(dir, st.priors)
    // never-reuse allocation BEFORE debris GC: crashed-attempt fold
    // dirs AND manifests still bump the counter
    val vNew = (Seq(s.v,
      graft.io.MutableStore.maxOnDiskVersion(dir, Seq(foldDirPrefix))) ++
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .map(_.getName)
        .flatMap(manifestVersionOf))
      .max + 1
    gcLayout(dir, st, protectedRefs)
    // None only when every folded leg is file-less: nothing to merge
    val deltaDf = deltaScanOf(spark, dir, s.copy(live = tags), None)
    // fingerprint only LIVE delta rows: a delta row deleted via
    // [[deleteFromLayout]] never entered the sidecar arithmetic (delta
    // deletes write tombstones only), so folding it into the count/
    // hash/hsum here would make the sidecar attest a corpus containing
    // deleted rows. The masked rows are still REWRITTEN (the mask is a
    // global probe-side anti-join until compactLayout reclaims).
    val (nNew, hNew, sNew) = deltaDf.map(d => fingerprint(
      applyMask(d, maskOf(spark, dir, s, idCol), idCol), embCol)).getOrElse((0L, 0L, "0"))
    val touched: Set[Int] = tags.flatMap { t =>
      Option(new java.io.File(dir, s"$deltaDirPrefix$t").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
        .map(_.getName.stripPrefix("cluster=").toInt)
    }.toSet
    val oldFiles = s.manifestV.map(readManifest(dir, _).files)
      .getOrElse(legacyBaseFiles(dir))
    val (oldTouched, untouched) =
      oldFiles.partition(p => touched.contains(clusterOfPath(p)))
    val newFiles: Seq[String] =
      if (touched.isEmpty) Seq.empty
      else {
        val baseTouched =
          if (oldTouched.isEmpty) None
          else Some(baseScanOf(spark, dir, s, Some(touched.toSeq.sorted)))
        val delta = deltaDf.get // a touched cluster has a delta file
        val merged = (baseTouched.toSeq :+ delta
          .select(baseTouched.getOrElse(delta).columns.map(col).toIndexedSeq: _*))
          .reduce(_ unionByName _)
        val building = java.nio.file.Paths.get(dir, s"_building_$foldDirPrefix$vNew")
        graft.io.MutableStore.deleteDir(building)
        merged.write.mode("overwrite").partitionBy("cluster")
          .parquet(building.toString)
        java.nio.file.Files.move(building,
          java.nio.file.Paths.get(dir, s"$foldDirPrefix$vNew"))
        val root = java.nio.file.Paths.get(dir)
        Option(new java.io.File(dir, s"$foldDirPrefix$vNew").listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
          .flatMap(c => Option(c.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
            .map(f => root.relativize(f.toPath).toString))
          .toSeq
      }
    // manifest FIRST (immutable once the state points at it), state
    // commit LAST — the single atomic commit point
    writeManifest(dir, vNew, Manifest(
      files = untouched ++ newFiles,
      removed = oldTouched,
      removedDirs = tags.map(deltaDirPrefix + _)))
    val sidecar = java.nio.file.Paths.get(dir, centroidFile)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(java.nio.file.Files.readString(sidecar))
    val hsum = storedHsum(node).add(new java.math.BigInteger(sNew))
    graft.io.Artifact.writeAtomic(sidecar,
      s"""{"count":${node.get("count").asLong() + nNew},"hash":${node.get("hash").asLong() ^ hNew},"hsum":"$hsum","centroids":${node.get("centroids").toString}}""")
    def onDisk(t: String): Boolean =
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s"$deltaDirPrefix$t"))
    graft.io.MutableStore.commitState(dir, vNew,
      folded = (s.folded.filter(onDisk) ++ tags).toSeq.sorted,
      deadTombs = s.deadTombs.toSeq.sorted,
      live = s.live.filterNot(tags.contains(_)).sorted,
      liveTombs = s.tombTags,
      priors = graft.io.MutableStore.pushPrior(dir, protectedRefs,
        graft.io.MutableStore.SnapRef(s.v, s.live, s.tombTags)))
    tags.length
  }

  /** [[searchLayout]] over base ∪ streamed deltas: both sides prune to
    * the probed clusters (partition pruning on the base scan AND on
    * every delta dir — they share the cluster-partitioned disk
    * layout), and the tombstone anti-join applies to the UNION, so a
    * delete of a delta-appended id is honored ([[deleteFromLayout]]
    * writes tombstones for delta rows too). Planning starts no Spark
    * job (every leg read is schema-pinned); the returned frame's jobs
    * run under the caller's action. */
  def searchLayoutDeltaAware(
      spark: SparkSession,
      layout: Layout,
      query: Array[Float],
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val clusters = probeClustersOf(layout.centroids, query, nprobe)
    graft.io.MutableStore.named(spark, "Ivf", "searchLayoutDeltaAware") {
      pinned(layout.dir) { s =>
        val base = baseScanOf(spark, layout.dir, s, Some(clusters))
        val scan = deltaScanOf(spark, layout.dir, s, Some(clusters)) match {
          case Some(d) =>
            base.unionByName(d.select(base.columns.map(col).toIndexedSeq: _*))
          case None => base
        }
        VectorSearch.knnExact(
          applyMask(scan, maskOf(spark, layout.dir, s, idCol), idCol),
          query.toSeq, k, idCol, embCol)
      }
    }
  }

  /** Logical delete from a persisted layout (the reference's O5 for the
    * partitioned index — with the CORRECT post-delete search the
    * reference lacks: its HNSW keeps serving deleted ids until a manual
    * rebuild, `vectordb.cpp:62-73` + SURVEY §5). Ids are appended as a
    * TOMBSTONE table under the layout (`_tombstones/`, invisible to the
    * data scan — Spark skips underscore paths), so a delete is one tiny
    * write, never a partition rewrite; every probe anti-joins the
    * (small, broadcast) tombstone set. The sidecar fingerprint is
    * xor-updated with the removed rows' contribution, so a later
    * [[buildLayout]] against the ORIGINAL corpus sees a mismatch and
    * rebuilds rather than silently reusing the shrunken layout.
    * Already-tombstoned and never-present ids are ignored (delete is
    * idempotent; the fingerprint is never double-xored). Tombstones are
    * written BEFORE the sidecar: a crash in between leaves probes
    * correct and only the reuse check conservative. Returns the number
    * of newly deleted rows.
    *
    * Job plan (two Spark jobs, named `deleteFromLayout at Ivf.scala`):
    * (1) ONE literal-id filtered scan over base ∪ live deltas ∪ mask
    * legs ([[lookupIds]]) brings the matching rows' ids and embedding
    * hashes to the driver — ids only, bounded by the request (the
    * contract of [[graft.index.Hnsw.deleteFromLayout]] and
    * [[graft.ops.Takedown]]); the driver derives the sidecar's count,
    * xor and decimal sum ([[graft.io.Artifact.hashAgg]]'s arithmetic)
    * and the delta-only count from it; (2) the tombstone leg write.
    * A request that hits no live row writes and commits nothing. */
  def deleteFromLayout(
      spark: SparkSession,
      layout: Layout,
      ids: Seq[Long],
      idCol: String,
      embCol: String,
      tag: String): Long =
      graft.io.MutableStore.writing(spark, layout.dir, "Ivf", "deleteFromLayout") {
    val dir = layout.dir
    val s = snapOf(dir)
    val hits = lookupIds(spark, dir, s, ids.distinct, idCol, embCol, data = true)
    val masked = hits.collect { case (2, id, _) => id }.toSet
    // every live base copy of a requested id leaves the sidecar
    val baseHits = hits.filter { case (leg, id, _) => leg == 0 && !masked(id) }
    val baseIds = baseHits.map(_._2).toSet
    // delta-appended rows are tombstoned too (the streaming-append
    // interplay), but NEVER enter the sidecar arithmetic — the sidecar
    // attests only the base corpus, and delta rows were never added to
    // it; an id deleted via its base row counts once, there
    val deltaIds = hits.collect {
      case (1, id, _) if !masked(id) && !baseIds(id) => id
    }.toSet
    val nDel = baseHits.length.toLong
    if (nDel + deltaIds.size == 0L) return 0L
    // ONE tag-keyed tombstone batch (idempotent overwrite under
    // at-least-once redelivery), live once the committed state names it
    val t = if (tag.nonEmpty) tag else s"auto${System.nanoTime()}"
    val idSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol, org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
        (baseIds ++ deltaIds).toSeq.sorted.map(org.apache.spark.sql.Row(_)), 1), idSchema)
      .write.mode("overwrite")
      .parquet(s"$dir/$tombstoneDirName/$tombTagPrefix$t/ids")
    if (nDel > 0L) {
      // hashAgg's xor and decimal sum, over the collected per-row hashes
      val hDel = baseHits.foldLeft(0L)(_ ^ _._3)
      val sDel = baseHits.foldLeft(java.math.BigInteger.ZERO)((acc, r) =>
        acc.add(java.math.BigInteger.valueOf(r._3)))
      val sidecar = java.nio.file.Paths.get(dir, centroidFile)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(java.nio.file.Files.readString(sidecar))
      val hsum = storedHsum(node).subtract(sDel)
      graft.io.Artifact.writeAtomic(sidecar,
        s"""{"count":${node.get("count").asLong() - nDel},"hash":${node.get("hash").asLong() ^ hDel},"hsum":"$hsum","centroids":${node.get("centroids").toString}}""")
    }
    // COMMIT (a tag the state already CONSUMED is redelivered debris)
    if (!s.deadTombs.contains(t))
      graft.io.MutableStore.commitLiveLists(dir,
        s.live, (s.tombTags :+ t).distinct.sorted)
    nDel + deltaIds.size
  }

  /** [[deleteFromLayout]] for ids held in a DataFrame: collects the
    * non-null ids (a request-sized victim list) and delegates. */
  def deleteFromLayout(
      layout: Layout,
      ids: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      tag: String = ""): Long =
    deleteFromLayout(ids.sparkSession, layout, idsOf(ids, idCol), idCol, embCol, tag)

  /** Physically remove tombstoned rows once they exceed
    * `maxTombstoneFraction` of the layout — the RECLAIM leg, now
    * SNAPSHOT-SAFE (r16): only the clusters containing a tombstoned
    * row are rewritten (survivors land under a fresh `fold_v<N>/`
    * tree, never an in-place partition overwrite), the commit is the
    * manifest+state swap, every consumed tombstone batch and legacy
    * tombstone file rides the new manifest's removed lists for lagged,
    * retention-aware GC — a probe pinned on the old state keeps its
    * whole file set, mask included. Deltas fold first (a tombstoned
    * row's data file in a delta dir must not outlive its mask).
    * Returns true when a compaction ran. */
  def compactLayout(
      spark: SparkSession,
      layout: Layout,
      maxTombstoneFraction: Double = 0.1,
      idCol: String = "vec_id"): Boolean =
      graft.io.MutableStore.withWriterLock(layout.dir, "compactLayout") {
    val dir = layout.dir
    compactDeltas(spark, layout, idCol = idCol) // reentrant under the lease
    val s = snapOf(dir)
    val mask = maskOf(spark, dir, s, idCol)
    if (mask.isEmpty) return false
    val tomb = mask.get.localCheckpoint()
    val base = baseScanOf(spark, dir, s, None)
    val nTomb = tomb.count()
    if (nTomb == 0L || nTomb.toDouble / math.max(base.count(), 1L) <= maxTombstoneFraction)
      return false
    val st = graft.io.MutableStore.state(dir)
    val (protectedRefs, _) = graft.io.MutableStore.splitPriors(dir, st.priors)
    val vNew = (Seq(s.v,
      graft.io.MutableStore.maxOnDiskVersion(dir, Seq(foldDirPrefix))) ++
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .map(_.getName)
        .flatMap(manifestVersionOf))
      .max + 1
    gcLayout(dir, st, protectedRefs)
    val affectedClusters = base.join(broadcast(tomb), Seq(idCol), "left_semi")
      .select("cluster").distinct().collect().map(_.getInt(0)).toSeq.sorted
    val oldFiles = s.manifestV.map(readManifest(dir, _).files)
      .getOrElse(legacyBaseFiles(dir))
    val (oldTouched, untouched) =
      oldFiles.partition(p => affectedClusters.contains(clusterOfPath(p)))
    val newFiles: Seq[String] =
      if (affectedClusters.isEmpty) Seq.empty
      else {
        val survivors = baseScanOf(spark, dir, s, Some(affectedClusters))
          .join(broadcast(tomb), Seq(idCol), "left_anti")
        val building = java.nio.file.Paths.get(dir, s"_building_$foldDirPrefix$vNew")
        graft.io.MutableStore.deleteDir(building)
        survivors.write.mode("overwrite").partitionBy("cluster")
          .parquet(building.toString)
        java.nio.file.Files.move(building,
          java.nio.file.Paths.get(dir, s"$foldDirPrefix$vNew"))
        val root = java.nio.file.Paths.get(dir)
        Option(new java.io.File(dir, s"$foldDirPrefix$vNew").listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
          .flatMap(c => Option(c.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
            .map(f => root.relativize(f.toPath).toString))
          .toSeq
      }
    // consumed masks (tag dirs + legacy flat files) ride the removed
    // lists — pinned probes keep anti-joining them until retention GC
    val tombRel = java.nio.file.Paths.get(dir)
    val legacyRemoved = legacyTombFiles(dir)
      .map(p => tombRel.relativize(java.nio.file.Paths.get(p)).toString)
    writeManifest(dir, vNew, Manifest(
      files = untouched ++ newFiles,
      removed = oldTouched ++ legacyRemoved,
      removedDirs = s.tombTags.map(t => s"$tombstoneDirName/$tombTagPrefix$t")))
    // fold/consumed bookkeeping pruned to what still EXISTS on disk
    // (mirrors compactDeltas): once lagged GC collected a folded delta
    // or dead tombstone dir, carrying its tag forward only grows the
    // state json without bound across delete/compact cycles
    def deltaOnDisk(t: String): Boolean =
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s"$deltaDirPrefix$t"))
    def tombOnDisk(t: String): Boolean =
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, tombstoneDirName, s"$tombTagPrefix$t"))
    graft.io.MutableStore.commitState(dir, vNew,
      folded = s.folded.filter(deltaOnDisk).toSeq.sorted,
      deadTombs = (s.deadTombs.filter(tombOnDisk) ++ s.tombTags).toSeq.sorted,
      live = s.live,
      liveTombs = Seq.empty,
      priors = graft.io.MutableStore.pushPrior(dir, protectedRefs,
        graft.io.MutableStore.SnapRef(s.v, s.live, s.tombTags)))
    true
  }

  /** BATCH probe of a persisted layout — a query table served by ONE
    * partition-pruned scan: each query's probed clusters are ranked
    * driver-side (the query table is a batch, not a corpus — bounded
    * collect), the scan reads the UNION of everyone's clusters once
    * (`cluster IN` partition pruning), a broadcast pair-predicate
    * restricts each query's candidates to its OWN probed clusters, and
    * per-query top-k runs through the bounded TopKAggregator (map-side
    * partial: shuffle is |partitions|·|Q|·k, never |scan|·|Q|). At
    * scale this amortizes the probe IO across the batch — N separate
    * probes re-read every shared cluster N times; this reads each
    * exactly once. Returns (query_id, vec_id, dist, rank).
    *
    * DELTA-AWARE like the single-query probe: streamed `_delta_*` legs
    * join the scan pruned by the same union of probed clusters (they
    * share the cluster-partitioned disk layout), and the tombstone
    * anti-join applies to the whole union — a vector appended by the
    * last micro-batch is batch-probeable immediately. */
  def searchLayoutBatch(
      spark: SparkSession,
      layout: Layout,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      qIdCol: String = "query_id",
      qEmbCol: String = "q_embedding",
      idCol: String = "vec_id"): DataFrame = {
    import spark.implicits._
    val qRows = queries.select(col(qIdCol).cast("long"), col(qEmbCol)).collect()
    require(qRows.map(_.getLong(0)).distinct.length == qRows.length,
      "duplicate query ids in the batch")
    val probed: Seq[(Long, Seq[Float], Seq[Int])] = qRows.toIndexedSeq.map { r =>
      val emb = r.getSeq[Float](1)
      (r.getLong(0), emb, probeClustersOf(layout.centroids, emb.toArray, nprobe))
    }
    val union = probed.flatMap(_._3).distinct
    val scan = pinned(layout.dir) { s =>
      val basePruned = baseScanOf(spark, layout.dir, s, Some(union))
      val raw = deltaScanOf(spark, layout.dir, s, Some(union)) match {
        case Some(d) =>
          basePruned.unionByName(
            d.select(basePruned.columns.map(col).toIndexedSeq: _*))
        case None => basePruned
      }
      applyMask(raw, maskOf(spark, layout.dir, s, idCol), idCol)
    }
    val qDf = probed.toDF(qIdCol, qEmbCol, "q_clusters")
    graft.ops.VectorSearch.knnJoinAgg(qDf, scan, k,
      qIdCol = qIdCol, qEmbCol = qEmbCol, idCol = idCol,
      pairPredicate = Some(array_contains(col("q_clusters"), col("cluster"))))
  }

  /** Probe a persisted layout: centroid ranking driver-side, `cluster IN`
    * partition pruning, exact kernel within the probed inverted lists
    * (tombstoned rows excluded — see [[deleteFromLayout]]). */
  def searchLayout(
      spark: SparkSession,
      layout: Layout,
      query: Array[Float],
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val clusters = probeClustersOf(layout.centroids, query, nprobe)
    pinned(layout.dir) { s =>
      VectorSearch.knnExact(
        applyMask(baseScanOf(spark, layout.dir, s, Some(clusters)),
          maskOf(spark, layout.dir, s, idCol), idCol),
        query.toSeq, k, idCol, embCol)
    }
  }

  /** Per-JVM coarse-quantizer graphs, keyed by (layout dir, centroid
    * content) — centroids are immutable per build, so a rebuilt layout
    * keys differently; bounded by wholesale clear. */
  private val coarseGraphs =
    new java.util.concurrent.ConcurrentHashMap[String, graft.index.Hnsw.SmallGraph]()

  /** Cluster probe via an HNSW graph over the CENTROIDS — the FAISS
    * `IVF*_HNSW` composition: [[probeClustersOf]]'s linear centroid
    * argmin is fine at nlist = 8, but a production coarse quantizer at
    * nlist ~10⁶ (the 100 TB setting: √n lists over 10¹² vectors) needs
    * sublinear centroid search, and this is exactly how FAISS does it.
    * The graph builds once per layout (driver-side, nlist nodes) and
    * caches; search is the deterministic beam walk with the same
    * (dist, index) tie-break as the exact argmin. With ef ≥ nlist the
    * walk visits every (connected) centroid, so the choice matches
    * [[probeClustersOf]] up to the float32 cast of the stored double
    * centroids — an argmin flip needs two centroids within float
    * epsilon of the query, which k-means separation rules out in
    * practice and the hash gate pins per dataset. */
  def probeClustersHnsw(
      layout: Layout,
      query: Array[Float],
      nprobe: Int,
      hp: graft.index.Hnsw.Params = graft.index.Hnsw.Params(m = 8, efConstruction = 64, parts = 1),
      efSearch: Int = 64): Seq[Int] = {
    val key = layout.dir + "#" +
      java.util.Arrays.deepHashCode(layout.centroids.asInstanceOf[Array[AnyRef]])
    var g = coarseGraphs.get(key)
    if (g == null) {
      g = graft.index.Hnsw.smallGraph(
        layout.centroids.zipWithIndex
          .map { case (c, i) => (i.toLong, c.map(_.toFloat)) }.toSeq, hp)
      if (coarseGraphs.size >= 64) coarseGraphs.clear()
      coarseGraphs.put(key, g)
    }
    g.searchKnn(query, nprobe, efSearch).map(_._2.toInt)
  }

  /** [[searchLayout]] with the HNSW coarse quantizer choosing the
    * probed clusters — the data scan is the identical partition-pruned
    * path. */
  def searchLayoutHnswCoarse(
      spark: SparkSession,
      layout: Layout,
      query: Array[Float],
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val clusters = probeClustersHnsw(layout, query, nprobe)
    pinned(layout.dir) { s =>
      VectorSearch.knnExact(
        applyMask(baseScanOf(spark, layout.dir, s, Some(clusters)),
          maskOf(spark, layout.dir, s, idCol), idCol),
        query.toSeq, k, idCol, embCol)
    }
  }

  /** Hybrid (filtered) probe of a partitioned layout: the metadata
    * predicate rides the SAME scan as the cluster probe, so IO is
    * multiplicative — `nprobe/nlist` of the partitions (partition
    * pruning) × the predicate's row-group selectivity (parquet
    * `PushedFilters`). The reference has no filtered search at all; a
    * post-filter over [[searchLayout]]'s top-k would be WRONG (it
    * returns fewer than k survivors), so the filter must sit under the
    * top-k, where Catalyst pushes it into the scan. */
  def searchLayoutWhere(
      spark: SparkSession,
      layout: Layout,
      query: Array[Float],
      k: Int,
      nprobe: Int,
      predicate: Column,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val clusters = probeClustersOf(layout.centroids, query, nprobe)
    pinned(layout.dir) { s =>
      VectorSearch.knnExact(
        applyMask(baseScanOf(spark, layout.dir, s, Some(clusters))
            .filter(predicate),
          maskOf(spark, layout.dir, s, idCol), idCol),
        query.toSeq, k, idCol, embCol)
    }
  }
}
