package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** The VERSIONED-STORE lifecycle — the tombstone + versioned atomic
  * compaction shape every incremental store in this engine follows,
  * written once here: the posting stores ([[graft.text.InvertedIndex]]
  * BM25/positional/trigram), SQ8 codes ([[graft.index.Sq]]), HNSW
  * layouts ([[graft.index.Hnsw]]), binary signatures
  * ([[graft.index.Binary]]), the dedup hash, signature and shingle
  * stores ([[graft.dedup.Dedup]]), the fuzzy signature store
  * ([[graft.ops.FuzzyJoin]]) and the IVF layout ([[graft.index.Ivf]],
  * whose manifests and manifest-driven base GC plug into the
  * layout's base-GC slot). A family supplies a layout and a fold —
  * a [[Layout]] (where its state json and its base/delta/tombstone
  * legs live) and a function writing the new base from the pinned
  * legs; the core owns the snapshot read ([[snapOf]]), the mutation
  * commit ([[commitMutation]]), the compaction frame ([[compact]]),
  * lagged GC, expiry ([[expire]]), the replay reset
  * ([[dropMutations]]), tags and rollback, and the compaction-policy
  * feeds.
  *
  * A family hands out its layout through one `private[graft]`
  * accessor (`Sq.layoutOf(dir)`, `Dedup.flatOf(dir)`,
  * `Ivf.storeOf(dir)`, …) and declares none of the lifecycle again:
  * callers — the CDC sinks, the declared queries, the specs — apply
  * [[deltaTags]], [[deltaBytes]], [[baseBytes]], [[dropMutations]],
  * [[expire]], [[tagSnapshot]], [[dropTag]], [[rollbackTo]] and
  * [[rollbackToTag]] to that handle.
  *
  *  - mutations are TAG-KEYED dirs (idempotent overwrite under
  *    at-least-once redelivery): `delta_<tag>` appends,
  *    `_tombstones/<tag>` deletes recording the LEGS they cover
  *    (base + delta tags live at delete time — a later append is not
  *    covered, so delete-then-re-add revives);
  *  - probes mask each leg with only its covering tombstones
  *    (broadcast anti-joins; the no-mutation fast path is the store's
  *    original scan);
  *  - compaction folds deltas + consumed tombstones into a FRESH
  *    version path (built under an `_`-prefixed temp — invisible to
  *    recursive listings even half-written — then renamed in; a
  *    version path is NEVER reused, so cached file listings cannot
  *    alias fresh data), and COMMITS with one atomic replace of the
  *    state json carrying the version pointer + folded + consumed
  *    lists; GC is LAGGED behind [[gcRetention]] prior commits;
  *  - every mutation/compaction flow holds the store's WRITER LEASE
  *    ([[withWriterLock]]) — the single-writer contract is enforced,
  *    not documented: a second writer fails loudly instead of
  *    silently dropping a live tag in an interleaved
  *    read-modify-write, and the commit primitives themselves refuse
  *    to run outside a lease.
  */
private[graft] object MutableStore {

  val stateName = "_graft_store_state.json"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // ------------------------------------------------------ writer lease
  //
  // The protocol is SINGLE-WRITER per store: every mutation/compaction
  // is a read(state) → write(legs) → commit(state) cycle, and two of
  // them interleaving would silently drop a live tag from the committed
  // lists. The lease makes the contract ENFORCED rather than
  // documented: a mutation flow runs inside [[withWriterLock]], which
  // atomically creates a sibling `__writer_lock` file (CREATE_NEW — the
  // filesystem arbitrates between processes); a second writer fails
  // LOUDLY instead of losing an update. Reentrant within a thread
  // (compactions call commit primitives), and a crashed writer's stale
  // lock is stolen after `ttlMs` via an atomic rename (exactly one
  // stealer can win the move).
  //
  // The lease is FENCED: the lock file's first line is a unique token
  // minted at acquisition, and every state-committing primitive
  // re-reads the lock immediately before its atomic write and requires
  // the token to match ([[assertWriter]]). A writer stalled past the
  // TTL whose lock was stolen therefore CANNOT commit over the
  // stealer's state — its next commit (and its ownership-checked
  // release) fails loudly with "lease stolen" instead of silently
  // winning the last-write race. A LIVE slow writer never expires at
  // all: a daemon heartbeat renews the lock's mtime every ttl/3 while
  // the body runs (only while the on-disk token is still its own).

  // lockKey -> fencing token minted at acquisition
  private val held = new ThreadLocal[scala.collection.mutable.Map[String, String]] {
    override def initialValue() = scala.collection.mutable.Map.empty[String, String]
  }

  private lazy val heartbeatPool = {
    val p = new java.util.concurrent.ScheduledThreadPoolExecutor(1, (r: Runnable) => {
      val t = new Thread(r, "graft-writer-lease-heartbeat")
      t.setDaemon(true)
      t
    })
    p.setRemoveOnCancelPolicy(true)
    p
  }

  /** TEST HOOK — simulates a FULL process stall (STW GC pause,
    * frozen container): with heartbeats suppressed a sleeping writer's
    * lease ages exactly like a dead one, which is the scenario the
    * fencing exists for. Production never touches this. */
  @volatile private[graft] var heartbeatEnabled: Boolean = true

  private def lockPath(dir: String): java.nio.file.Path = {
    val d = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    d.getParent.resolve(d.getFileName.toString + "__writer_lock")
  }

  /** The fencing token currently on disk at `lock` (first line of the
    * lock file); None when the lock is absent/unreadable. */
  private def diskToken(lock: java.nio.file.Path): Option[String] =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(lock), "UTF-8")
      val nl = s.indexOf('\n')
      Some(if (nl < 0) s else s.substring(0, nl))
    } catch { case _: Throwable => None }

  /** Fails loudly when a state-committing primitive runs OUTSIDE a
    * writer lease — the guard that keeps every mutation path wired
    * through [[withWriterLock]] (a new flow that forgets the lease
    * breaks its own spec instead of silently racing). When the lease
    * IS held for `dir`, FENCES it: re-reads the lock file and requires
    * the on-disk token to still be the one this writer minted, so a
    * writer stalled past the TTL whose lock was stolen cannot commit
    * over the stealer's state (the lost-update the lease exists to
    * prevent). */
  private def assertWriter(what: String, dir: String): Unit = {
    val holds = held.get()
    if (holds.isEmpty)
      throw new IllegalStateException(
        s"$what outside a writer lease — every mutation/compaction flow " +
          "must run inside MutableStore.withWriterLock(dir) " +
          "(single-writer protocol, enforced)")
    val lock = lockPath(dir)
    holds.get(lock.toString).foreach { token =>
      val cur = diskToken(lock)
      if (!cur.contains(token))
        throw new IllegalStateException(
          s"$what: writer lease for $dir was STOLEN while held (fencing token " +
            s"mismatch: minted $token, on disk ${cur.getOrElse("<absent>")}) — " +
            "this writer stalled past the lease TTL and another writer took " +
            "over; refusing to commit over the new holder's state")
    }
  }

  /** Run `body` holding the store's writer lease. Default TTL 10 min;
    * a LIVE writer never expires (heartbeat renewal every ttl/3), so
    * the TTL only governs how long a CRASHED/STALLED writer's debris
    * can wedge the store before a steal. */
  def withWriterLock[A](
      dir: String, owner: String = "", ttlMs: Long = 10L * 60L * 1000L)(body: => A): A = {
    val lock = lockPath(dir)
    val key = lock.toString
    if (held.get().contains(key)) return body // reentrant
    val token = java.util.UUID.randomUUID().toString
    var attempts = 0
    var acquired = false
    while (!acquired) {
      try {
        java.nio.file.Files.createDirectories(lock.getParent)
        val tag = token + "\n" +
          s"$owner@${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}" +
          s" thread=${Thread.currentThread().getId} since=${System.currentTimeMillis()}"
        java.nio.file.Files.write(lock, tag.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age =
            try System.currentTimeMillis() -
              java.nio.file.Files.getLastModifiedTime(lock).toMillis
            catch { case _: Throwable => Long.MaxValue } // vanished → retry create
          if (age > ttlMs) {
            // expired (crashed/stalled writer whose heartbeat died
            // with it): steal via atomic move to a unique debris name —
            // of N concurrent stealers exactly one move succeeds,
            // everyone then races CREATE_NEW again. The evicted
            // writer, if it ever resumes, is FENCED OUT: its token is
            // gone from disk, so its commits and release fail loudly.
            val debris = lock.resolveSibling(
              s"${lock.getFileName}_expired_${System.nanoTime()}")
            try {
              java.nio.file.Files.move(lock, debris)
              java.nio.file.Files.deleteIfExists(debris)
            } catch { case _: Throwable => () }
            attempts += 1
            if (attempts > 8)
              throw new IllegalStateException(
                s"could not acquire the writer lease at $lock after $attempts steals")
          } else {
            val holder =
              try new String(java.nio.file.Files.readAllBytes(lock), "UTF-8")
                .linesIterator.drop(1).mkString(" ")
              catch { case _: Throwable => "<unreadable>" }
            throw new IllegalStateException(
              s"store $dir already has a live writer ($holder) — the mutable-store " +
                s"protocol is single-writer; lease expires ${ttlMs - age} ms from now")
          }
      }
    }
    held.get().put(key, token)
    // heartbeat: renew the lock mtime every ttl/3 while the body runs,
    // but ONLY while the on-disk token is still ours — a stolen lock
    // is the stealer's to renew. A truly stalled process stalls its
    // heartbeat with it (same JVM), which is exactly when expiry+steal
    // should win.
    val period = math.max(1L, ttlMs / 3L)
    val hb = heartbeatPool.scheduleAtFixedRate(() => {
      if (heartbeatEnabled && diskToken(lock).contains(token))
        try java.nio.file.Files.setLastModifiedTime(lock,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
        catch { case _: Throwable => () }
    }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    var bodyOk = false
    try {
      val r = body
      bodyOk = true
      r
    } finally {
      hb.cancel(false)
      held.get().remove(key)
      // OWNERSHIP-CHECKED release: delete the lock only when the
      // on-disk token is still ours. If the lease was stolen, the file
      // is the NEW holder's live lock — deleting it would admit a
      // third concurrent writer.
      if (diskToken(lock).contains(token)) {
        try java.nio.file.Files.deleteIfExists(lock) catch { case _: Throwable => () }
      } else if (bodyOk) {
        throw new IllegalStateException(
          s"writer lease for $dir was STOLEN while held (stalled past the " +
            s"$ttlMs ms TTL) — another writer took over mid-flight; any state " +
            "this writer read may be superseded. NOT deleting the new " +
            "holder's lock.")
      } else {
        // body already failed (typically the fenced commit) — keep
        // that exception as the primary signal, but never touch the
        // stealer's lock.
        log.warn("writer lease for {} was stolen while held; leaving the new holder's lock in place", dir)
      }
    }
  }

  /** Committed state: current base version (0 = legacy/initial
    * layout), folded delta tags, consumed tombstone tags, and — when
    * the store has taken a mutation since the protocol landed — the
    * COMMITTED live delta / live tombstone tag lists (the
    * snapshot-pinned-probe contract: a mutation is live exactly when
    * the state names it; `None` = legacy store, resolve by listing).
    * One [[state]] call is ONE atomic read of the json — a probe that
    * derives its whole leg set from a single State can never see a
    * torn mix of two commits. */
  final case class State(v: Int, folded: Set[String], deadTombs: Set[String],
      live: Option[Seq[String]] = None, liveTombs: Option[Seq[String]] = None,
      priors: Seq[String] = Seq.empty)

  def state(dir: String): State =
    readState(java.nio.file.Paths.get(dir, stateName), flat = true)._1

  /** ONE atomic read of a state json (`flat`: the store's own
    * [[stateName]], where every writer stamps "v"; otherwise a
    * family's fingerprint sidecar, where a missing "v" is a
    * never-compacted store). An absent file is the empty v=0 state; an
    * EXISTING file that fails to parse is a loud error, not a silent
    * fallback: degrading to v=0 would resolve the legacy base path
    * (`codes` instead of `codes_v<N>`) — serving the WRONG data.
    * Unreachable under atomic writes + the writer lease, so reaching it
    * means the store dir was corrupted externally. */
  private def readState(p: java.nio.file.Path, flat: Boolean)
      : (State, Option[com.fasterxml.jackson.databind.JsonNode]) = {
    if (!java.nio.file.Files.exists(p)) return (State(0, Set.empty, Set.empty), None)
    try {
      val n = mapper.readTree(java.nio.file.Files.readString(p))
      import scala.jdk.CollectionConverters._
      def opt(k: String) = if (n.has(k))
        Some(n.get(k).elements().asScala.map(_.asText()).toSeq.sorted) else None
      require(n.isObject && (n.hasNonNull("v") || !flat),
        s"state file $p carries no version field")
      (State(if (n.hasNonNull("v")) n.get("v").asInt() else 0,
        opt("folded").getOrElse(Nil).toSet, opt("deadTombs").getOrElse(Nil).toSet,
        opt("live"), opt("liveTombs"), opt("priors").getOrElse(Seq.empty)), Some(n))
    } catch { case e: Throwable =>
      throw new IllegalStateException(
        s"corrupt store state at $p — refusing to fall back to the legacy " +
          "v=0 layout, which could resolve a superseded base path", e)
    }
  }

  /** COMMIT a mutation into the state file's live-tag lists — creating
    * the file (v = 0, empty fold lists) for a store that never
    * compacted. The write is one atomic replace, so probes reading the
    * state see the old or new commit, never a tear. Single-writer like
    * every mutation. */
  def commitLiveLists(
      dir: String, live: Seq[String], liveTombs: Seq[String]): Unit = {
    val l = flatLayout(dir, "MutableStore")
    commitLegs(l, readState(l.statePath, l.flat)._2, Nil, live, liveTombs)
  }

  /** One mutation commit: `fields` (raw json) and the live lists in
    * one atomic write of the state json. A flat store's state is
    * created (v = 0, empty fold lists) by its first commit; a sidecar
    * family's commit is a no-op until the store is ensured. */
  private def commitLegs(l: Layout, node: Option[com.fasterxml.jackson.databind.JsonNode],
      fields: Seq[(String, String)], live: Seq[String], liveTombs: Seq[String]): Unit = {
    assertWriter(s"commitMutation(${l.dir})", l.dir)
    requireCleanTags(live ++ liveTombs, s"commitMutation(${l.dir})")
    if (node.isDefined || l.flat) {
      val fresh = node.isEmpty
      if (fresh) java.nio.file.Files.createDirectories(l.statePath.getParent)
      writeState(l.statePath, node, (if (fresh) Seq("v" -> "0") else Nil) ++ fields,
        (if (fresh) Seq("folded" -> Nil, "deadTombs" -> Nil) else Nil) ++
          Seq("live" -> live, "liveTombs" -> liveTombs): _*)
    }
  }

  // ------------------------------------------- the family plug-in
  //
  // A family is DATA: a [[Layout]] naming where its state json and its
  // legs live. Everything a store does between two commits — resolve a
  // snapshot, commit a mutation, compact, collect, expire, reset —
  // runs here against that layout, so the protocol's invariants
  // (single state read, never-reused versions, lagged GC,
  // folded/consumed tags never re-committed) hold for every family by
  // construction instead of by copy.

  /** Where a store family keeps its state and legs.
    *
    *  - `family` names the store's Spark jobs (`<primitive> at
    *    <family>.scala`) and `dir` is its writer-lease key;
    *  - `statePath` is the committed state json: the store's own
    *    [[stateName]] (`flat`: a file without "v" is corrupt) or the
    *    family's fingerprint sidecar (a missing "v" is a
    *    never-compacted store);
    *  - base version N > 0 of part i is `<versionRoot>/<versionPrefixes(i)><N>`,
    *    built under `<versionRoot>/_building_<prefix><N>`; the
    *    never-compacted base reads `base0`, and `v0Base` lists its data
    *    (the debris a versioned commit leaves behind, and the v0 base
    *    bytes);
    *  - the delta leg of `tag` is `<root>/<deltaPrefix><tag>` for each
    *    of the `deltaRoots` (one per part, listed through the first);
    *    a tombstone is `<tombRoot>/<tombPrefix><tag>`;
    *  - a marker file names the leg's stats json, written LAST — the
    *    legacy listing counts a leg only once it exists. A tombstone's
    *    stats carry the legs it `covered` (base only when absent) and,
    *    with a delta's, the mergeable fingerprint terms;
    *  - `baseGc`, when set, is the family's own base GC (given the
    *    snapshot and the protected priors) in place of [[versionGc]]
    *    — the IVF layout, whose versions share files through their
    *    manifests, collects what each manifest superseded;
    *  - `baseSize`, when set, is the byte size of committed base
    *    version N > 0 in place of the size of its `basePaths` — the
    *    IVF layout, whose version is the file list its manifest names
    *    (a `_fold_v<N>` tree holds only the clusters that fold
    *    rewrote). */
  final case class Layout(
      family: String,
      dir: String,
      statePath: java.nio.file.Path,
      flat: Boolean,
      versionRoot: String,
      versionPrefixes: Seq[String],
      base0: Seq[String],
      v0Base: () => Seq[java.nio.file.Path],
      deltaRoots: Seq[String],
      deltaPrefix: String,
      deltaMarker: Option[String],
      tombRoot: String,
      tombPrefix: String,
      tombMarker: Option[String],
      baseGc: Option[(Snap, Seq[SnapRef]) => Unit] = None,
      baseSize: Option[Int => Long] = None) {
    def basePaths(v: Int): Seq[String] =
      if (v > 0) versionPrefixes.map(p => s"$versionRoot/$p$v") else base0
    def deltaDirs(tag: String): Seq[String] = deltaRoots.map(r => s"$r/$deltaPrefix$tag")
    def tombDir(tag: String): String = s"$tombRoot/$tombPrefix$tag"
    def deltaStats(tag: String): com.fasterxml.jackson.databind.JsonNode =
      mapper.readTree(java.nio.file.Files.readString(
        java.nio.file.Paths.get(deltaDirs(tag).head, deltaMarker.get)))
  }

  /** The FLAT layout (the dedup hash/signature stores and the fuzzy
    * store): seed files at the dir root until the first compaction
    * commits `base_v<N>`, `delta_<tag>` legs at the root,
    * `_tombstones/<tag>` with a covered-legs `_stats.json`. */
  def flatLayout(dir: String, family: String): Layout =
    Layout(family, dir, java.nio.file.Paths.get(dir, stateName), flat = true,
      dir, Seq("base_v"), Seq(dir),
      () => entries(dir).filterNot { p =>
        val nm = p.getFileName.toString
        nm.startsWith("_") || nm.startsWith(".") || nm.startsWith("delta_") ||
          nm.startsWith("base_v")
      },
      Seq(dir), "delta_", None, s"$dir/_tombstones", "", Some("_stats.json"))

  /** The entries of a directory (empty when it does not exist). */
  def entries(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return Seq.empty
    val s = java.nio.file.Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    } finally s.close()
  }

  /** Tags of the `<prefix><tag>` leg dirs under `root` (with `marker`
    * present when given) — the legacy listing resolution. */
  private def listed(root: String, prefix: String, marker: Option[String]): Seq[String] =
    entries(root).filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(prefix) &&
        marker.forall(m => java.nio.file.Files.exists(p.resolve(m))))
      .map(_.getFileName.toString.stripPrefix(prefix))

  /** One live tombstone batch: the legs it covers and its stats json. */
  final case class Tomb(tag: String, covered: Set[String],
      stats: Option[com.fasterxml.jackson.databind.JsonNode])

  /** One committed SNAPSHOT: the atomic state read plus the live legs
    * it names — the committed `live`/`liveTombs` lists, or the legacy
    * listing (minus folded/consumed tags) for a state written before
    * them. A probe that derives its whole leg set from one Snap can
    * never see a torn mix of two commits: per-tag stats jsons are
    * immutable once written, and lagged GC keeps every dir a snapshot
    * names readable through the commits its retention protects. */
  final case class Snap(st: State, node: Option[com.fasterxml.jackson.databind.JsonNode],
      live: Seq[String], tombs: Seq[Tomb]) {
    def v: Int = st.v
    def tombTags: Seq[String] = tombs.map(_.tag)
    def ref: SnapRef = SnapRef(v, live, tombTags)
  }

  /** (a) The SNAPSHOT READ — one state read, then the legs it names. */
  def snapOf(l: Layout): Snap = {
    val (st, node) = readState(l.statePath, l.flat)
    val (live, tombs) = liveTagsOf(l, st)
    Snap(st, node, live, tombs.map(tombOf(l, _)))
  }

  /** The committed base's read paths (one state read). */
  def basePaths(l: Layout): Seq[String] = l.basePaths(readState(l.statePath, l.flat)._1.v)

  private def liveTagsOf(l: Layout, st: State): (Seq[String], Seq[String]) = (
    st.live.getOrElse(listed(l.deltaRoots.head, l.deltaPrefix, l.deltaMarker)
      .filterNot(st.folded)),
    st.liveTombs.getOrElse(listed(l.tombRoot, l.tombPrefix, l.tombMarker)
      .filterNot(st.deadTombs)))

  /** A retained prior's (or a tag's) reference set as a snapshot — the
    * time-travel read path. */
  def snapAt(l: Layout, ref: SnapRef): Snap =
    Snap(State(ref.v, Set.empty, Set.empty, Some(ref.live), Some(ref.tombs)), None,
      ref.live, ref.tombs.map(tombOf(l, _)))

  private def tombOf(l: Layout, tag: String): Tomb = {
    val stats = l.tombMarker.map(m => mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(l.tombDir(tag), m))))
    import scala.jdk.CollectionConverters._
    Tomb(tag, stats.filter(_.has("covered"))
      .map(_.get("covered").elements().asScala.map(_.asText()).toSet)
      .getOrElse(Set("base")), stats)
  }

  /** (b) The MUTATION COMMIT: a freshly written delta (or tombstone)
    * leg is live once the state names it. A tag the state already
    * FOLDED (or CONSUMED) is a redelivered batch whose rows are in the
    * base (whose terms were subtracted) — its rewritten dir is debris
    * for the next GC, never re-committed (double count). `fields` are
    * raw-json values (a family's shifted fingerprint terms) committed
    * in the SAME atomic write as the leg — one commit point, so a
    * redelivery after a crash can never apply them twice. A flat
    * store's state is created on its first mutation; a sidecar
    * family's commit is a no-op until the store is ensured.
    * Single-writer. */
  def commitMutation(l: Layout, tag: String, tomb: Boolean,
      fields: Seq[(String, String)] = Nil): Unit = {
    val (st, node) = readState(l.statePath, l.flat)
    if (!(if (tomb) st.deadTombs else st.folded).contains(tag)) {
      val (live, tombs) = liveTagsOf(l, st)
      commitLegs(l, node, fields,
        if (tomb) live else (live :+ tag).distinct, if (tomb) (tombs :+ tag).distinct else tombs)
    }
  }

  /** A base-resident mutation with no leg (the IVF layout's v0 root
    * append): commits only `fields`, the live legs as they are. */
  def commitFields(l: Layout, fields: Seq[(String, String)]): Unit = {
    val (st, node) = readState(l.statePath, l.flat)
    val (live, tombs) = liveTagsOf(l, st)
    commitLegs(l, node, fields, live, tombs)
  }

  /** The legs a tombstone written NOW covers: base + the live delta
    * tags, minus `excludeCovered` — a CDC batch passes its OWN tag, so
    * a same-batch delete+re-add leaves the re-add live (adds win within
    * a batch) and a redelivery, whose crashed attempt's delta may
    * already sit on disk, cannot mask its own appends. A delta
    * appended LATER is not covered, so delete-then-re-add revives. */
  def coveredLegs(l: Layout, excludeCovered: Set[String]): Seq[String] =
    "base" +: deltaTags(l).filterNot(excludeCovered)

  /** What a family's fold gets: the pinned snapshot, the delta tags it
    * folds, the tombstones it consumes and one build dir per base
    * part (an underscore temp the frame renames in). */
  final case class Fold(layout: Layout, snap: Snap, tags: Seq[String],
      consumed: Seq[Tomb], building: Seq[String]) {
    /** The mergeable sidecar terms of the new base: the base's (count,
      * bit-xor hash, decimal hsum) plus the folded deltas' minus the
      * consumed tombstones' — bit-equal to a fresh fingerprint of the
      * folded corpus, so a later ensure over it REUSES. `extra` are
      * additive build-time stats (the BM25 nDocs/sumDl), merged the
      * same way. Raw json values, ready for the commit. */
    def mergedTerms(extra: Seq[String] = Nil): Seq[(String, String)] = {
      val base = snap.node.getOrElse(throw new IllegalStateException(
        s"no committed sidecar at ${layout.statePath}"))
      val terms = (base, 1) +: (tags.map(t => (layout.deltaStats(t), 1)) ++
        consumed.map(t => (t.stats.get, -1)))
      def sum(k: String) = terms.map { case (n, s) => s * n.get(k).asLong() }.sum
      Seq("count" -> sum("count").toString,
        "hash" -> terms.map(_._1.get("hash").asLong()).reduce(_ ^ _).toString,
        "hsum" -> ("\"" + terms.map { case (n, s) => BigInt(n.get("hsum").asText()) * s }
          .sum + "\"")) ++ extra.map(k => k -> sum(k).toString)
    }
  }

  /** (c) The COMPACTION FRAME, under the writer lease with its jobs
    * named `<primitive> at <family>.scala`: fold the live deltas (minus
    * `excludeTags` — a redelivered batch's own tag) and, when
    * `foldsTombs`, every tombstone whose covered legs all fold now or
    * folded earlier. In order: allocate the next version past every
    * on-disk one (committed or crashed-attempt debris — a version path
    * is NEVER reused, so a cached listing can never alias fresh data),
    * run the LAGGED GC of what the retention policy no longer protects
    * (before the fold lists its inputs), let the family's `fold` write
    * the new base into `_building_` temps (invisible to recursive
    * listings even half-written), rename them in, and COMMIT with one
    * atomic state write: the fold's fields (merged fingerprint), the
    * version pointer, the folded/consumed lists (kept while their dirs
    * remain), the surviving live legs, and the pre-compaction snapshot
    * pushed onto `priors`. No GC after the commit: a probe pinned on
    * the old snapshot keeps every dir it named. A part whose temp the
    * fold did not create (an IVF fold that rewrote no cluster) is
    * skipped at the rename. `force` commits even with nothing to fold
    * (the IVF batch append, and a reclaim of legacy mask files).
    * Returns whether it committed. */
  def compact(spark: SparkSession, l: Layout, primitive: String,
      excludeTags: Set[String], foldsTombs: Boolean = true, force: Boolean = false)(
      fold: Fold => Seq[(String, String)]): Boolean =
    writing(spark, l.dir, l.family, primitive) {
      val s = snapOf(l)
      val tags = s.live.filterNot(excludeTags)
      if (!force && tags.isEmpty && (!foldsTombs || s.tombs.isEmpty)) false
      else {
        val vNew = math.max(s.v, maxOnDiskVersion(l.versionRoot, l.versionPrefixes)) + 1
        val (prot, _) = splitPriors(l.dir, s.st.priors)
        gc(l, s, prot)
        val consumed = if (!foldsTombs) Nil else s.tombs.filter(_.covered.forall(c =>
          c == "base" || tags.contains(c) || !s.live.contains(c)))
        def temp(pre: String) = l.versionPrefixes.map(p =>
          java.nio.file.Paths.get(l.versionRoot, s"$pre$p$vNew"))
        temp("_building_").foreach(deleteDir)
        val fields = fold(Fold(l, s, tags, consumed, temp("_building_").map(_.toString)))
        temp("_building_").zip(temp("")).foreach { case (b, t) =>
          if (java.nio.file.Files.exists(b)) java.nio.file.Files.move(b, t)
        }
        def onDisk(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
        val gone = consumed.map(_.tag).toSet
        assertWriter(s"compact(${l.dir})", l.dir)
        writeState(l.statePath, s.node, fields :+ ("v" -> vNew.toString),
          "folded" -> (s.st.folded.filter(t => onDisk(l.deltaDirs(t).head)).toSeq ++ tags),
          "deadTombs" -> (s.st.deadTombs.filter(t => onDisk(l.tombDir(t))).toSeq ++ gone),
          "live" -> s.live.filterNot(tags.contains),
          "liveTombs" -> s.tombTags.filterNot(gone),
          "priors" -> pushPrior(l.dir, prot, s.ref))
        true
      }
    }

  /** (d) The LAGGED GC: superseded base versions, crashed-attempt
    * `_building_` debris, the v0 base once a versioned base is
    * committed, folded deltas and consumed tombstones — minus anything
    * the CURRENT snapshot or a retention-protected prior still names
    * (retention 1 = a pinned probe outlives exactly one concurrent
    * commit). Runs at the START of a compaction (or a standalone
    * expiry), never at a commit's own end. A layout's `baseGc` slot
    * replaces the base part (the `_building_` debris, version dirs and
    * v0 base) with the family's own. */
  private def gc(l: Layout, s: Snap, prot: Seq[SnapRef]): Unit = {
    l.baseGc.fold(versionGc(l, s, prot))(_(s, prot))
    val keepDelta = s.live.toSet ++ prot.flatMap(_.live)
    val keepTombs = s.tombTags.toSet ++ prot.flatMap(_.tombs)
    s.st.folded.filterNot(keepDelta).flatMap(l.deltaDirs)
      .foreach(d => deleteDir(java.nio.file.Paths.get(d)))
    s.st.deadTombs.filterNot(keepTombs)
      .foreach(t => deleteDir(java.nio.file.Paths.get(l.tombDir(t))))
  }

  /** The default base GC: `_building_` debris, every version dir
    * neither current nor protected, and the v0 base once no kept
    * snapshot reads it. */
  private def versionGc(l: Layout, s: Snap, prot: Seq[SnapRef]): Unit = {
    val keepV = Set(s.v) ++ prot.map(_.v)
    entries(l.versionRoot).filter { p =>
      val nm = p.getFileName.toString
      l.versionPrefixes.exists(pre => nm.startsWith(s"_building_$pre") ||
        (nm.matches(java.util.regex.Pattern.quote(pre) + "\\d+") &&
          !keepV(nm.substring(pre.length).toInt)))
    }.foreach(deleteDir)
    if (!keepV(0)) l.v0Base().foreach(deleteDir)
  }

  /** (d) STANDALONE snapshot expiry — the Iceberg `expireSnapshots`
    * analogue (r16 VERDICT task 2). Lagged GC normally runs only at
    * the START of the next compaction, so a store that stops
    * compacting retains superseded versions, fold trees and debris
    * forever. This maintenance entry point takes the writer lease,
    * applies the store's retention policy ([[splitPriors]]), runs the
    * layout's lagged GC with ONLY the still-protected priors
    * (collecting everything the due priors were keeping alive, plus
    * crashed-attempt debris), and commits the pruned priors list with
    * one atomic patch of the state json — NO content commit, NO
    * version bump. A pinned view within retention survives (its prior
    * stays protected). Returns the number of prior snapshots expired;
    * 0 for a store with no committed state. */
  def expire(l: Layout): Int =
    if (!java.nio.file.Files.exists(l.statePath)) 0
    else withWriterLock(l.dir, "expireSnapshots") {
      val s = snapOf(l)
      val (prot, due) = splitPriors(l.dir, s.st.priors)
      gc(l, s, prot)
      patchStringArrays(l.statePath, "priors" -> prot.map(encodeRef).sorted)
      due.length
    }

  /** (d) The REPLAY RESET: drop every delta and tombstone dir and empty
    * the committed leg lists, returning the store to the BASE snapshot
    * its state attests (base data untouched). Harnesses that re-run a
    * delete/append scenario against a persisted store call it first:
    * without it, a re-run's tombstone would cover the PREVIOUS run's
    * re-append delta and mask it. Single-writer. */
  def dropMutations(l: Layout): Unit = withWriterLock(l.dir, "dropMutations") {
    listed(l.deltaRoots.head, l.deltaPrefix, None).flatMap(l.deltaDirs)
      .foreach(d => deleteDir(java.nio.file.Paths.get(d)))
    listed(l.tombRoot, l.tombPrefix, None)
      .foreach(t => deleteDir(java.nio.file.Paths.get(l.tombDir(t))))
    patchStringArrays(l.statePath,
      "live" -> Nil, "liveTombs" -> Nil, "folded" -> Nil, "deadTombs" -> Nil)
  }

  /** (d) The compaction-policy feeds: the live delta tags (the count
    * feed and probe fan-out), live delta bytes, and base bytes (the
    * committed version — through the layout's `baseSize` when set —
    * or the v0 data). */
  def deltaTags(l: Layout): Seq[String] = liveTagsOf(l, readState(l.statePath, l.flat)._1)._1
  def deltaBytes(l: Layout): Long =
    deltaTags(l).flatMap(l.deltaDirs).map(d => duBytes(java.nio.file.Paths.get(d))).sum
  def baseBytes(l: Layout): Long = {
    val v = readState(l.statePath, l.flat)._1.v
    if (v > 0) l.baseSize.fold(l.basePaths(v).map(p => duBytes(java.nio.file.Paths.get(p))).sum)(_(v))
    else l.v0Base().map(duBytes).sum
  }

  /** The FLAT-layout leg-masked read, shared by every flat store (the
    * dedup hash/signature stores, the fuzzy store, each shingle part):
    * part `part` of the snapshot's base plus its live delta legs (minus
    * `excludeTags`), minus each tombstone's `<tombData>` key rows on
    * the legs it covers (one broadcast anti-join on (leg, `maskKeys`);
    * with no tombstones the v0 read is the original single recursive
    * scan). At v0 the recursive scan skips crashed-attempt version
    * dirs and — with a committed live list — whitelists the delta legs
    * the state names (an uncommitted crashed append is not live). */
  def readFlat(spark: SparkSession, l: Layout, s: Snap, excludeTags: Set[String],
      tombData: String, maskKeys: Seq[String], part: Int = 0): DataFrame = {
    val file = input_file_name()
    val raw =
      if (s.v == 0) {
        val noGhost = spark.read.option("recursiveFileLookup", "true")
          .parquet(l.base0(part))
          .where(!file.rlike(l.versionPrefixes.map(p => s"/$p\\d+/").mkString("|")))
        def leg(t: String) = file.contains(s"/${l.deltaPrefix}$t/")
        s.st.live match {
          case Some(liveTags) =>
            noGhost.where(!file.rlike(s"/${l.deltaPrefix}[^/]+/") ||
              liveTags.filterNot(excludeTags).map(leg).reduceOption(_ || _).getOrElse(lit(false)))
          case None =>
            (excludeTags ++ s.st.folded).toSeq.sorted.foldLeft(noGhost)((acc, t) => acc.where(!leg(t)))
        }
      } else {
        val base = spark.read.parquet(l.basePaths(s.v)(part))
        s.live.filterNot(excludeTags).foldLeft(base) { (acc, t) =>
          acc.unionAll(spark.read.schema(base.schema).parquet(l.deltaDirs(t)(part)))
        }
      }
    if (s.tombs.isEmpty) raw
    else {
      val keys = s.tombs.map { t =>
        spark.read.parquet(s"${l.tombDir(t.tag)}/$tombData")
          .withColumn("_leg", explode(lit(t.covered.toSeq.sorted.toArray)))
      }.reduce(_ unionAll _)
      // the leg is per-row scan context: derive it before the join
      raw.withColumn("_leg",
          when(file.rlike(s"/${l.deltaPrefix}[^/]+/"),
            regexp_extract(file, s"/${l.deltaPrefix}([^/]+)/", 1)).otherwise(lit("base")))
        .join(broadcast(keys), "_leg" +: maskKeys, "left_anti")
        .select(raw.columns.map(col).toIndexedSeq: _*)
    }
  }

  /** The flat-layout compaction (hash, signature, shingle and fuzzy
    * stores): every base part rewritten from its leg-masked
    * [[readFlat]] minus the excluded deltas, which stay live legs with
    * their own tombstone coverage. */
  def compactFlat(spark: SparkSession, l: Layout, primitive: String,
      excludeTags: Set[String], tombData: String, maskKeys: Seq[String]): Unit =
    compact(spark, l, primitive, excludeTags) { f =>
      f.building.zipWithIndex.foreach { case (b, part) =>
        readFlat(spark, l, f.snap, excludeTags, tombData, maskKeys, part)
          .write.mode("overwrite").parquet(b)
      }
      Nil
    }

  /** Write a tombstone's stats json (LAST — a tombstone is live only
    * once it exists). `covered` = base + the live delta tags NOW. */
  def writeTombStats(dir: String, tag: String, covered: Seq[String]): Unit = {
    assertWriter(s"writeTombStats($dir, $tag)", dir)
    requireCleanTags(Seq(tag), s"writeTombStats($dir)")
    Artifact.writeAtomic(
      java.nio.file.Paths.get(dir, "_tombstones", tag, "_stats.json"),
      covered.map(t => "\"" + t + "\"")
        .mkString("""{"covered":[""", ",", "]}"))
  }

  /** Atomically commit a flat store's state: version pointer +
    * folded/consumed lists + live legs + priors. Every other field of
    * an existing state json is carried over as it is. */
  def commitState(dir: String, v: Int, folded: Seq[String], deadTombs: Seq[String],
      live: Seq[String] = Seq.empty, liveTombs: Seq[String] = Seq.empty,
      priors: Seq[String] = Seq.empty): Unit = {
    assertWriter(s"commitState($dir)", dir)
    requireCleanTags(live ++ liveTombs, s"commitState($dir)")
    val p = java.nio.file.Paths.get(dir, stateName)
    writeState(p, readState(p, flat = true)._2, Seq("v" -> v.toString),
      "folded" -> folded, "deadTombs" -> deadTombs, "live" -> live,
      "liveTombs" -> liveTombs, "priors" -> priors)
  }

  /** Recursive delete of a store dir or file; an absent path is a no-op. */
  def deleteDir(p: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.exists(p)) return
    val walk = java.nio.file.Files.walk(p)
    // Files.walk holds directory fds — close even when a delete throws
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally walk.close()
  }

  /** Recursive file copy of `src` into `dst` (created as needed;
    * existing files are replaced). */
  def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Highest `<prefix><N>` version on disk (committed or debris) — the
    * next version must skip past BOTH. A version is a dir or, for the
    * IVF layout's legacy single-json manifests, a `<prefix><N>.json`
    * file. */
  def maxOnDiskVersion(dir: String, prefixes: Seq[String]): Int = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return 0
    val s = java.nio.file.Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .flatMap(nm => prefixes.collectFirst {
          // strip the PREFIX, not "leading non-digits" — a prefix may
          // itself contain digits (e.g. a `graft_bm25del_x_v` stem)
          case p if nm.matches(java.util.regex.Pattern.quote(p) + "\\d+(\\.json)?") =>
            nm.substring(p.length).stripSuffix(".json").toInt
        })
        .foldLeft(0)(math.max)
    } finally s.close()
  }

  // -------------------------------------------------- GC retention
  //
  // Lagged GC generalized from "exactly one commit" to a RETENTION
  // KNOB (the Iceberg snapshot-expiry analogue): every compaction
  // commit pushes the PRE-compaction snapshot's reference set
  // (version + live delta tags + live tombstone tags) onto the
  // sidecar's `priors` list, and the NEXT compaction's GC protects the
  // newest `gcRetention - 1` entries, dropping only the refs of older
  // ones (minus anything a protected/current snapshot still names).
  // Default 1 = the engine's historical behavior: a pinned probe
  // survives exactly one concurrent commit. Retention R = a probe
  // survives R consecutive commits.

  /** How many PRIOR compaction commits a pinned probe must survive —
    * the PROCESS-WIDE default (the maintenance writer's policy, like
    * spark.sql.shuffle.partitions); set >1 when long-running probes
    * overlap a compaction-heavy mutation stream. A PER-STORE policy
    * ([[setGcRetention]]) overrides it. */
  @volatile var gcRetention: Int = 1

  private def retentionFile(dir: String): java.nio.file.Path = {
    val d = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    d.getParent.resolve(d.getFileName.toString + "__gc_retention")
  }

  /** PERSIST a per-store retention policy (a sibling sidecar, so it
    * survives processes and applies to whichever maintenance writer
    * compacts next); None clears back to the process default. */
  def setGcRetention(dir: String, n: Option[Int]): Unit = n match {
    case Some(v) =>
      require(v >= 1, s"retention must be >= 1, got $v")
      Artifact.writeAtomic(retentionFile(dir), v.toString)
    case None =>
      java.nio.file.Files.deleteIfExists(retentionFile(dir))
  }

  /** PERSIST a TIME-based per-store retention policy (the Iceberg
    * snapshot-expiry TTL form): a prior snapshot's refs stay
    * GC-protected until `ttlMs` has passed since the commit that
    * superseded it — the natural knob when the bound is "probes never
    * run longer than X", independent of how often compactions land. */
  def setGcRetentionTtl(dir: String, ttlMs: Long): Unit = {
    require(ttlMs >= 0, s"ttl must be >= 0, got $ttlMs")
    Artifact.writeAtomic(retentionFile(dir), s"ttl:$ttlMs")
  }

  /** `dir`'s governing policy: Left(n prior commits) or Right(ttl ms).
    * Per-store file when set, the process default otherwise. */
  def gcPolicyOf(dir: String): Either[Int, Long] = {
    val p = retentionFile(dir)
    if (!java.nio.file.Files.exists(p)) Left(gcRetention)
    else
      try {
        val s = java.nio.file.Files.readString(p).trim
        if (s.startsWith("ttl:")) Right(math.max(0L, s.stripPrefix("ttl:").toLong))
        else Left(math.max(1, s.toInt))
      } catch {
        case e: Throwable => throw new IllegalStateException(
          s"corrupt per-store retention policy at $p", e)
      }
  }

  /** The commit-count retention governing `dir` (TTL policies have no
    * single count; callers needing one use [[gcPolicyOf]]). */
  def gcRetentionOf(dir: String): Int =
    gcPolicyOf(dir).swap.getOrElse(gcRetention)

  /** One retained prior snapshot's reference set. `supersededAtMs` is
    * the wall-clock of the commit that retired it (feeds the TTL
    * policy; 0 for entries written before the stamp existed — they
    * expire immediately under TTL, the conservative legacy bound). */
  final case class SnapRef(v: Int, live: Seq[String], tombs: Seq[String],
      supersededAtMs: Long = 0L)

  /** The documented tag invariant, ENFORCED: mutation tags become dir
    * names (`delta_<tag>`) and ride the '|'/','-delimited prior-ref
    * encoding — a tag containing either delimiter (or a path
    * separator, or control chars) would corrupt the priors encoding
    * and wedge every later compaction in [[decodeRef]]. Checked at
    * every commit primitive (the choke point all mutation entry
    * points funnel through) and again at [[encodeRef]]. */
  def requireCleanTags(tags: Iterable[String], what: String): Unit =
    tags.foreach { t =>
      require(t.nonEmpty && !t.exists(c =>
        c == '|' || c == ',' || c == '/' || c == '\\' || c.isControl),
        s"$what: mutation tag ${if (t.isEmpty) "<empty>" else s"'$t'"} is not a " +
          "clean batch id — tags must be non-empty and free of '|', ',', path " +
          "separators and control characters (they name leg dirs and ride the " +
          "prior-snapshot ref encoding)")
    }

  /** `priors` entries are strings (they ride the same sorted
    * string-array sidecar machinery as every other committed list);
    * tags are sanitized batch ids, never containing '|' or ','
    * ([[requireCleanTags]] enforces it at every commit primitive and
    * here). The leading zero-padded version keeps the sorted array
    * NEWEST-LAST, so decode order is deterministic. */
  def encodeRef(r: SnapRef): String = {
    requireCleanTags(r.live ++ r.tombs, s"encodeRef(v=${r.v})")
    f"${r.v}%09d|${r.live.mkString(",")}|${r.tombs.mkString(",")}|${r.supersededAtMs}"
  }

  def decodeRef(s: String): SnapRef = {
    val parts = s.split("\\|", -1)
    require(parts.length == 3 || parts.length == 4,
      s"malformed prior-snapshot ref: $s")
    def tags(x: String) = if (x.isEmpty) Seq.empty[String] else x.split(",").toSeq
    SnapRef(parts(0).toInt, tags(parts(1)), tags(parts(2)),
      if (parts.length == 4) parts(3).toLong else 0L)
  }

  /** TIME-TRAVEL resolution (the `VERSION AS OF` analogue, r16
    * VERDICT task 4): the reference set of RETAINED prior version
    * `version` — the snapshot exactly as it was when the superseding
    * commit retired it (its base version, live delta tags and live
    * tombstone tags; the retention machinery keeps those files on
    * disk). Loud error naming the readable versions when `version` is
    * not retained — raise the GC retention policy to keep more. */
  def priorRefOf(dir: String, st: State, version: Int): SnapRef =
    st.priors.map(decodeRef).find(_.v == version).getOrElse {
      val readable = (st.priors.map(decodeRef(_).v) :+ st.v).sorted
      throw new IllegalArgumentException(
        s"version $version of $dir is not readable — retained versions: " +
          s"${readable.mkString(", ")} (current: ${st.v}). A prior version " +
          "stays readable while the GC retention policy protects it " +
          "(setGcRetention / setGcRetentionTtl).")
    }

  /** Every version of `dir` readable right now: the current committed
    * version plus the retention-protected priors, ascending. */
  def retainedVersions(dir: String): Seq[Int] = {
    val st = state(dir)
    (st.priors.map(decodeRef(_).v) :+ st.v).sorted
  }

  // ------------------------------------------------------ snapshot tags
  //
  // NAMED snapshot tags (the Iceberg tag analogue): a tag names an
  // EXACT committed snapshot — the full reference set (version + live
  // delta tags + live tombstone tags) AT TAG TIME, not just the
  // version number. The distinction matters because mutations between
  // compactions commit live legs without bumping the version: the
  // version-keyed time-travel read can only replay a version's
  // RETIREMENT state (the legs live when the superseding commit
  // retired it), while a tag pins "what I see NOW" — deltas committed
  // after the tag are not in it. A tag EXEMPTS its version's prior
  // refs from the retention policy, so the tagged snapshot's files
  // survive every compaction GC, the priors cap, and the standalone
  // expiry until the tag is dropped (sound because the tag-time live
  // set is always a subset of the retirement live set — live lists
  // only grow between compactions). Tags live in an in-store sidecar
  // (`_graft_store_tags.json`, atomic replace under the writer lease;
  // the `_` prefix keeps it invisible to every data-file GC sweep).
  // The bound on kept-forever priors is the number of tags — a
  // user-controlled, auditable list, not a silent cap.

  val tagsName = "_graft_store_tags.json"

  private def tagsPath(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(dir, tagsName)

  /** The store's named snapshot tags: tag name -> the exact reference
    * set captured at tag time. */
  def snapshotTags(dir: String): Map[String, SnapRef] = {
    val p = tagsPath(dir)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    try {
      val n = mapper.readTree(java.nio.file.Files.readString(p)).get("tags")
      import scala.jdk.CollectionConverters._
      n.fields().asScala.map(e => e.getKey -> decodeRef(e.getValue.asText())).toMap
    } catch { case e: Throwable =>
      throw new IllegalStateException(s"corrupt snapshot tags at $p", e)
    }
  }

  private def taggedVersions(dir: String): Set[Int] =
    snapshotTags(dir).values.map(_.v).toSet

  private def writeTags(dir: String, tags: Map[String, SnapRef]): Unit =
    Artifact.writeAtomic(tagsPath(dir),
      tags.toSeq.sortBy(_._1)
        .map { case (k, r) => s""""$k":"${encodeRef(r)}"""" }
        .mkString("""{"tags":{""", ",", "}}"))

  /** The CURRENT snapshot's full reference set (committed lists; the
    * layout's legacy listing otherwise) — what a tag of the current
    * version captures, and what a rollback pushes as the from-prior. */
  private def currentRef(l: Layout, st: State): SnapRef = {
    val (live, tombs) = liveTagsOf(l, st)
    SnapRef(st.v, live, tombs, System.currentTimeMillis())
  }

  /** TAG a snapshot with `name`: the CURRENT one by default (capturing
    * its exact reference set — deltas committed after the tag are NOT
    * in it), or a retained prior `version` (capturing its retirement
    * state, the only reference set a prior has). The tagged version is
    * then exempt from the retention policy until [[dropTag]]. Loud
    * errors: nothing committed yet, an unretained version (naming what
    * IS readable), a name collision on a different snapshot
    * (re-tagging the identical snapshot is an idempotent no-op), a
    * dirty name. Returns the tagged version.
    *
    * GDPR note: a tag pins its capture against EVERY reclaim path —
    * tagged reads keep serving rows a later takedown tombstoned, and
    * tagged files survive the compaction that physically removes them.
    * A complete legal erasure must drop (or re-pin post-scrub) the
    * store's tags; [[graft.ops.Takedown]] warns loudly when it scrubs
    * a tagged store. */
  def tagSnapshot(l: Layout, name: String, version: Option[Int] = None): Int = {
    val dir = l.dir
    withWriterLock(dir, s"tagSnapshot($name)") {
      require(name.matches("[A-Za-z0-9_.-]+"),
        s"tagSnapshot($dir): tag name '$name' is not a clean slug " +
          "([A-Za-z0-9_.-]+) — it rides the tags sidecar json")
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, stateName)),
        s"tagSnapshot($dir, $name): the store has no committed state — " +
          "nothing to tag yet")
      val st = state(dir)
      val ref = version.filter(_ != st.v) match {
        case None => currentRef(l, st)
        case Some(v) =>
          st.priors.map(decodeRef).find(_.v == v).getOrElse {
            val readable = (st.priors.map(decodeRef(_).v) :+ st.v).sorted
            throw new IllegalArgumentException(
              s"tagSnapshot($dir, $name): version $v is not retained — " +
                s"readable versions: ${readable.mkString(", ")}")
          }
      }
      val cur = snapshotTags(dir)
      cur.get(name) match {
        case Some(old)
            if old.v != ref.v || old.live != ref.live || old.tombs != ref.tombs =>
          throw new IllegalArgumentException(
            s"tag '$name' already names version ${old.v} of $dir — dropTag " +
              "first (re-tagging the IDENTICAL snapshot is a no-op)")
        case Some(_) => ()
        case None => writeTags(dir, cur + (name -> ref))
      }
      ref.v
    }
  }

  /** Drop a tag; the version's refs then age out under the normal
    * retention policy (collected at the next compaction's GC or a
    * standalone [[expire]]). Returns whether the tag
    * existed. */
  def dropTag(l: Layout, name: String): Boolean =
    withWriterLock(l.dir, s"dropTag($name)") {
      val cur = snapshotTags(l.dir)
      if (!cur.contains(name)) false
      else { writeTags(l.dir, cur - name); true }
    }

  /** Resolve a tag to the exact reference set it captured — loud error
    * naming the tags that DO exist. */
  def resolveTag(dir: String, name: String): SnapRef =
    snapshotTags(dir).getOrElse(name, {
      val have = snapshotTags(dir).keys.toSeq.sorted
      throw new IllegalArgumentException(
        s"no snapshot tag '$name' on $dir — tags: " +
          (if (have.isEmpty) "<none>" else have.mkString(", ")))
    })

  /** ROLLBACK the store to retained `version` — the WRITE companion of
    * the time-travel read (the Iceberg rollback analogue): commits a
    * state whose version pointer and live delta/tombstone lists replay
    * the retained prior's reference set. NO data is copied or deleted
    * — the files are exactly the ones the retention machinery already
    * keeps on disk (which is why only a RETAINED version can be the
    * target; loud error naming what is readable otherwise). The
    * rolled-back-FROM snapshot is pushed onto the priors list,
    * commit-stamped, so an immediate roll-FORWARD is the same call
    * with the old version — until the normal retention policy ages it
    * out ([[tagSnapshot]] it first to keep the window open
    * indefinitely). The version pointer moves BACK, but never-reuse
    * allocation keeps that safe: the next compaction skips every
    * on-disk version dir ([[maxOnDiskVersion]]), so a rolled-back
    * store never rebuilds into a path a cached listing could alias.
    * Applies to any family resolving through committed live lists +
    * the shared state json (the flat hash/sig/fuzzy stores and the IVF
    * layout, whose per-version manifests are immutable). Out of scope,
    * deliberately: the posting store (catalog-table state) and the
    * SQ8/HNSW/binary sidecar families — their sidecars carry MERGED
    * corpus stats (count/hash/hsum) that a prior's (v, live, tombs)
    * ref cannot reconstruct; a rollback there needs retained
    * per-version stat snapshots first. (The GC-side tag protection in
    * [[splitPriors]] is already family-generic — it reads the tags
    * sidecar for whichever dir it is given — but [[tagSnapshot]]
    * requires the shared state json, where the read/restore paths
    * exist.) Returns the
    * version rolled back FROM (== `version` when already there:
    * no-op). */
  def rollbackTo(l: Layout, version: Int): Int =
    withWriterLock(l.dir, s"rollback($version)") {
      val st = state(l.dir)
      if (st.v == version) version
      else rollbackToRef(l, st, priorRefOf(l.dir, st, version))
    }

  /** [[rollbackTo]] by TAG name — restores the tag's EXACT captured
    * snapshot (tag-time live legs, not the version's retirement
    * state). A tag of the current version rolls back only when it is
    * byte-identical to the current reference set (otherwise deltas
    * landed after the tag and a loud error asks for a compaction
    * first — a rollback must never orphan live legs silently). */
  def rollbackToTag(l: Layout, name: String): Int = {
    val dir = l.dir
    withWriterLock(dir, s"rollbackToTag($name)") {
      val ref = resolveTag(dir, name)
      val st = state(dir)
      val cur = currentRef(l, st)
      if (ref.v == st.v) {
        if (ref.live.sorted == cur.live.sorted &&
          ref.tombs.sorted == cur.tombs.sorted) st.v
        else throw new IllegalArgumentException(
          s"rollbackToTag($dir, $name): the tag names the CURRENT version " +
            s"${st.v} but legs committed after the tag differ " +
            s"(tagged live=${ref.live.mkString(",")} vs now=" +
            s"${cur.live.mkString(",")}) — compact first, then roll back to " +
            "the retired prior")
      } else {
        require(st.priors.map(decodeRef(_).v).contains(ref.v),
          s"rollbackToTag($dir, $name): tagged version ${ref.v} is no longer " +
            "retained (was the tag's snapshot expired externally?)")
        rollbackToRef(l, st, ref)
      }
    }
  }

  /** The rollback commit itself (caller holds the lease and resolved a
    * RETAINED target ref): replay the ref's reference set, drop the
    * target version from the priors, push the from-snapshot as a new
    * commit-stamped prior. Every other field of the state json is
    * carried over as it is — the IVF layout's fingerprint terms
    * included: they attest the from-snapshot's corpus, not the
    * target's (a prior ref records no terms). */
  private def rollbackToRef(l: Layout, st: State, ref: SnapRef): Int = {
    val fromRef = currentRef(l, st)
    val rest = st.priors.filterNot(p => decodeRef(p).v == ref.v)
    commitState(l.dir, ref.v,
      folded = st.folded.toSeq, deadTombs = st.deadTombs.toSeq,
      live = ref.live, liveTombs = ref.tombs,
      priors = rest :+ encodeRef(fromRef))
    st.v
  }

  /** Hard cap on retained priors under a TTL policy — bounds the
    * sidecar list if compactions land faster than snapshots expire.
    * Tagged priors are EXEMPT (their bound is the tag list). */
  private val maxTtlPriors = 64

  /** Split a committed `priors` list (any order on disk) into the
    * retention-PROTECTED newest entries and the DUE-for-GC rest,
    * under `dir`'s governing policy (N prior commits, or TTL since
    * the superseding commit). An unstamped entry (supersededAtMs=0 —
    * committed under a keep-N policy before the store switched to
    * TTL) is PROTECTED and stamped now, not expired: treating the
    * missing stamp as epoch would make the very act of switching
    * policies drop protection the old policy was providing to pinned
    * probes. The stamp persists through the caller's [[pushPrior]]
    * re-encode, so the entry then ages out under the TTL normally. */
  def splitPriors(dir: String, priors: Seq[String]): (Seq[SnapRef], Seq[SnapRef]) = {
    val taggedVs = taggedVersions(dir)
    val (tagged, refs) =
      priors.map(decodeRef).sortBy(-_.v).partition(r => taggedVs.contains(r.v))
    def withTagged(split: (Seq[SnapRef], Seq[SnapRef])) =
      (tagged ++ split._1, split._2)
    withTagged(gcPolicyOf(dir) match {
      case Left(n) =>
        val keep = math.max(0, n - 1)
        (refs.take(keep), refs.drop(keep))
      case Right(ttl) =>
        val now = System.currentTimeMillis()
        val stamped = refs.map(r =>
          if (r.supersededAtMs == 0L) r.copy(supersededAtMs = now) else r)
        val (young, old) = stamped.partition(r => now - r.supersededAtMs <= ttl)
        if (young.length > maxTtlPriors)
          // the engine's no-silent-caps rule: say WHAT the cap dropped
          log.warn(
            "TTL retention at {} protects {} priors but the sidecar cap is {} — " +
              "sending the oldest {} (versions {}) to GC early; compact less " +
              "often or shorten the TTL to stay under the cap",
            dir, Integer.valueOf(young.length), Integer.valueOf(maxTtlPriors),
            Integer.valueOf(young.length - maxTtlPriors),
            young.drop(maxTtlPriors).map(_.v).mkString(","))
        (young.take(maxTtlPriors), old ++ young.drop(maxTtlPriors))
    })
  }

  /** The `priors` list a compaction COMMITS: the pre-compaction
    * snapshot pushed on top of the still-protected entries (GC at this
    * compaction's start already dropped the rest), commit-stamped for
    * the TTL policy. Tagged priors never fall off the cap — a
    * compaction burst cannot push a named snapshot out of the list. */
  def pushPrior(
      dir: String, protectedRefs: Seq[SnapRef], pre: SnapRef): Seq[String] = {
    val stamped =
      if (pre.supersededAtMs > 0L) pre
      else pre.copy(supersededAtMs = System.currentTimeMillis())
    val cap = gcPolicyOf(dir) match {
      case Left(n) => math.max(1, n)
      case Right(_) => maxTtlPriors
    }
    val taggedVs = taggedVersions(dir)
    val (tagged, rest) = protectedRefs.partition(r => taggedVs.contains(r.v))
    ((stamped +: rest).take(cap) ++ tagged).distinct.map(encodeRef).sorted
  }

  /** Recursive on-disk byte size — the numerator/denominator feeds of
    * the size-ratio compaction policies. */
  def duBytes(path: java.nio.file.Path): Long = {
    if (!java.nio.file.Files.exists(path)) return 0L
    val walk = java.nio.file.Files.walk(path)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
    } finally walk.close()
  }

  /** Atomically PATCH string-array fields of an existing json file
    * (read → set → one atomic replace) — the MUTATION-COMMIT primitive
    * of the snapshot-pinned-probe protocol: an append/delete records
    * its tag in the owning sidecar's `live`/`liveTombs` list AFTER its
    * leg dir is fully written, so a mutation is live exactly when the
    * committed state names it and a probe resolves its WHOLE leg set
    * from ONE sidecar read (no directory listing can be torn against a
    * concurrent commit). Single-writer like every mutation; a crash
    * between the leg write and this patch leaves the leg invisible —
    * at-least-once redelivery rewrites both. No-op when the file does
    * not exist (never-ensured store → legacy listing resolution). */
  def patchStringArrays(
      path: java.nio.file.Path, updates: (String, Seq[String])*): Unit = {
    assertWriter(s"patchStringArrays($path)",
      path.toAbsolutePath.normalize.getParent.toString)
    updates.collect { case (k, vs) if k == "live" || k == "liveTombs" =>
      requireCleanTags(vs, s"patchStringArrays($path, $k)") }
    if (java.nio.file.Files.exists(path))
      writeState(path, Some(mapper.readTree(java.nio.file.Files.readString(path))),
        Nil, updates: _*)
  }

  /** One atomic replace of a state json: `node` (or an empty object)
    * with the raw-json `fields` set and the string-array `lists`
    * replaced (sorted); every other field is carried over. */
  private def writeState(path: java.nio.file.Path,
      node: Option[com.fasterxml.jackson.databind.JsonNode],
      fields: Seq[(String, String)], lists: (String, Seq[String])*): Unit = {
    val n = node.fold(mapper.createObjectNode())(_.deepCopy[com.fasterxml.jackson.databind.JsonNode]()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
    fields.foreach { case (k, raw) => n.set[com.fasterxml.jackson.databind.JsonNode](k, mapper.readTree(raw)) }
    lists.foreach { case (k, vs) =>
      val arr = n.putArray(k)
      vs.sorted.foreach(arr.add)
    }
    Artifact.writeAtomic(path, n.toString)
  }

  /** Names the Spark jobs `body` starts `<primitive> at <family>.scala`
    * — the per-source-file call-site buckets traces attribute store
    * work by. */
  def named[A](spark: SparkSession, family: String, primitive: String)(body: => A): A =
    withCallSite(spark, s"$primitive at $family.scala")(body)

  /** [[named]] under the store's writer lease. */
  def writing[A](spark: SparkSession, dir: String, family: String, primitive: String)(
      body: => A): A =
    withWriterLock(dir, primitive)(named(spark, family, primitive)(body))

  /** Runs `body` with the Spark jobs it starts named `site` (e.g.
    * `appendDelta at Ivf.scala` — the call site the UI, the event log
    * and job listeners show), then restores the caller's call site.
    * Inside a foreachBatch sink every job otherwise reads as the
    * stream's `start` call. */
  def withCallSite[A](spark: SparkSession, site: String)(body: => A): A = {
    val sc = spark.sparkContext
    val keys = Seq("callSite.short", "callSite.long")
    val saved = keys.map(sc.getLocalProperty)
    keys.foreach(sc.setLocalProperty(_, site))
    try body finally keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** First parquet data file of a leg directory, descending into its
    * `k=v` partition dirs (name order); None when the leg holds none —
    * an empty partitioned write leaves only `_SUCCESS`. */
  def sampleDataFile(dir: String): Option[String] = {
    def walk(d: java.io.File): Option[java.io.File] = {
      val kids = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .sortBy(_.getName)
      kids.find(f => f.isFile && f.getName.endsWith(".parquet")).orElse(
        kids.iterator.filter(f => f.isDirectory && f.getName.contains("="))
          .flatMap(walk).nextOption())
    }
    walk(new java.io.File(dir)).map(_.getPath)
  }

  /** A parquet read planned with the schema Spark's non-merging
    * inference would pick: the footer of ONE data file (`sample`),
    * read here on the driver. Inference reads exactly one footer too,
    * but as a Spark job per read. `partitions` are the
    * directory-encoded columns, which discovery appends after the file
    * columns. Nothing is cached beyond the call. */
  def readParquetPinned(
      spark: SparkSession, paths: Seq[String], sample: String,
      partitions: Seq[StructField] = Seq.empty,
      basePath: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(sample)
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    // inference's own per-file step: the stored Spark schema, else the
    // converted parquet one
    val fileSchema = ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(p, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    val reader = spark.read.schema(StructType(fileSchema.fields ++ partitions))
    basePath.fold(reader)(reader.option("basePath", _)).parquet(paths: _*)
  }
}
