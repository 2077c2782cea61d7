package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Shared machinery of the MUTABLE-STORE protocol — the tombstone +
  * versioned-atomic-compaction shape every incremental store in this
  * engine follows (posting tables, SQ8 codes, binary signatures, the
  * dedup hash/shingle stores, the fuzzy signature store):
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

  def state(dir: String): State = {
    val p = java.nio.file.Paths.get(dir, stateName)
    if (!java.nio.file.Files.exists(p))
      return State(0, Set.empty, Set.empty)
    // an EXISTING state file that fails to parse is a loud error, not a
    // silent fallback: degrading to State(0, ...) would resolve the
    // legacy base path (`dir` instead of `dir_v<N>`) — serving the
    // WRONG data. Unreachable under atomic writes + the writer lease,
    // so reaching it means the store dir was corrupted externally.
    try {
      val n = mapper.readTree(java.nio.file.Files.readString(p))
      import scala.jdk.CollectionConverters._
      def set(k: String) = if (n.has(k))
        n.get(k).elements().asScala.map(_.asText()).toSet else Set.empty[String]
      def opt(k: String) = if (n.has(k))
        Some(n.get(k).elements().asScala.map(_.asText()).toSeq.sorted) else None
      // every writer stamps "v" — a parseable file without it is as
      // corrupt as an unparseable one
      require(n.hasNonNull("v"), s"state file $p carries no version field")
      State(n.get("v").asInt(),
        set("folded"), set("deadTombs"), opt("live"), opt("liveTombs"),
        opt("priors").getOrElse(Seq.empty))
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
    assertWriter(s"commitLiveLists($dir)", dir)
    requireCleanTags(live ++ liveTombs, s"commitLiveLists($dir)")
    val p = java.nio.file.Paths.get(dir, stateName)
    if (java.nio.file.Files.exists(p))
      patchStringArrays(p, "live" -> live, "liveTombs" -> liveTombs)
    else {
      def arr(s: Seq[String]) = s.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      java.nio.file.Files.createDirectories(p.getParent)
      Artifact.writeAtomic(p,
        s"""{"v":0,"folded":[],"deadTombs":[],"live":${arr(live)},"liveTombs":${arr(liveTombs)}}""")
    }
  }

  def tombRoot(dir: String): String = s"$dir/_tombstones"

  /** One live tombstone batch and the legs it covers. */
  final case class Tomb(tag: String, covered: Set[String])

  def liveTombs(dir: String): Seq[Tomb] = liveTombsOf(dir, state(dir))

  /** Live tombstones resolved against ONE already-read state — the
    * committed liveTombs list when the state carries it, the legacy
    * listing (minus deadTombs) otherwise. Per-tag stats jsons are
    * immutable once written (tag-keyed overwrite rewrites identical
    * content), so reading them after the one state read cannot tear. */
  def liveTombsOf(dir: String, st: State): Seq[Tomb] =
    liveTombTagsOf(dir, st).map { tag =>
      val n = mapper.readTree(java.nio.file.Files.readString(
        java.nio.file.Paths.get(tombRoot(dir), tag, "_stats.json")))
      import scala.jdk.CollectionConverters._
      Tomb(tag, n.get("covered").elements().asScala.map(_.asText()).toSet)
    }

  /** Live tombstone TAGS against one already-read state — committed
    * list when present, legacy listing (minus deadTombs) otherwise. */
  def liveTombTagsOf(dir: String, st: State): Seq[String] =
    st.liveTombs.getOrElse {
      val root = java.nio.file.Paths.get(tombRoot(dir))
      if (!java.nio.file.Files.exists(root)) Seq.empty[String]
      else {
        val s = java.nio.file.Files.list(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(p => java.nio.file.Files.exists(p.resolve("_stats.json")))
            .map(_.getFileName.toString).filterNot(st.deadTombs).toSeq.sorted
        } finally s.close()
      }
    }

  /** Write a tombstone's stats json (LAST — a tombstone is live only
    * once it exists). `covered` = base + the live delta tags NOW. */
  def writeTombStats(dir: String, tag: String, covered: Seq[String]): Unit = {
    assertWriter(s"writeTombStats($dir, $tag)", dir)
    requireCleanTags(Seq(tag), s"writeTombStats($dir)")
    Artifact.writeAtomic(
      java.nio.file.Paths.get(tombRoot(dir), tag, "_stats.json"),
      covered.map(t => "\"" + t + "\"")
        .mkString("""{"covered":[""", ",", "]}"))
  }

  /** Atomically commit a new store state (a compaction's commit point:
    * version pointer + folded/consumed lists + the surviving live
    * legs). */
  def commitState(dir: String, v: Int, folded: Seq[String], deadTombs: Seq[String],
      live: Seq[String] = Seq.empty, liveTombs: Seq[String] = Seq.empty,
      priors: Seq[String] = Seq.empty): Unit = {
    assertWriter(s"commitState($dir)", dir)
    requireCleanTags(live ++ liveTombs, s"commitState($dir)")
    def arr(s: Seq[String]) = s.map("\"" + _ + "\"").mkString("[", ",", "]")
    Artifact.writeAtomic(
      java.nio.file.Paths.get(dir, stateName),
      s"""{"v":$v,"folded":${arr(folded.sorted)},"deadTombs":${arr(deadTombs.sorted)},"live":${arr(live.sorted)},"liveTombs":${arr(liveTombs.sorted)},"priors":${arr(priors.sorted)}}""")
  }

  /** The source leg of a store row, derived from its file path. */
  def legOf: Column =
    when(input_file_name().rlike("/delta_[^/]+/"),
      regexp_extract(input_file_name(), "/delta_([^/]+)/", 1))
      .otherwise(lit("base"))

  def deleteDir(p: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.exists(p)) return
    val walk = java.nio.file.Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally walk.close()
  }

  /** Highest `<prefix><N>` version dir on disk (committed or debris) —
    * the next version must skip past BOTH. */
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
          case p if nm.matches(java.util.regex.Pattern.quote(p) + "\\d+") =>
            nm.substring(p.length).toInt
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
    * legacy listing fallback otherwise) — what a tag of the current
    * version captures, and what a rollback pushes as the from-prior. */
  private def currentRef(dir: String, st: State): SnapRef =
    SnapRef(st.v, st.live.getOrElse(flatDeltaTagsOf(dir, st)),
      liveTombTagsOf(dir, st), System.currentTimeMillis())

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
  def tagSnapshot(dir: String, name: String, version: Option[Int] = None): Int =
    withWriterLock(dir, s"tagSnapshot($name)") {
      require(name.matches("[A-Za-z0-9_.-]+"),
        s"tagSnapshot($dir): tag name '$name' is not a clean slug " +
          "([A-Za-z0-9_.-]+) — it rides the tags sidecar json")
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, stateName)),
        s"tagSnapshot($dir, $name): the store has no committed state — " +
          "nothing to tag yet")
      val st = state(dir)
      val ref = version.filter(_ != st.v) match {
        case None => currentRef(dir, st)
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

  /** Drop a tag; the version's refs then age out under the normal
    * retention policy (collected at the next compaction's GC or a
    * standalone [[expireSnapshotsWith]]). Returns whether the tag
    * existed. */
  def dropTag(dir: String, name: String): Boolean =
    withWriterLock(dir, s"dropTag($name)") {
      val cur = snapshotTags(dir)
      if (!cur.contains(name)) false
      else { writeTags(dir, cur - name); true }
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
    * sidecar for whichever dir it is given — but [[tagSnapshot]] is
    * only exposed where the read/restore paths exist.) Returns the
    * version rolled back FROM (== `version` when already there:
    * no-op). */
  def rollbackTo(dir: String, version: Int): Int =
    withWriterLock(dir, s"rollback($version)") {
      val st = state(dir)
      if (st.v == version) version
      else rollbackToRef(dir, st, priorRefOf(dir, st, version))
    }

  /** [[rollbackTo]] by TAG name — restores the tag's EXACT captured
    * snapshot (tag-time live legs, not the version's retirement
    * state). A tag of the current version rolls back only when it is
    * byte-identical to the current reference set (otherwise deltas
    * landed after the tag and a loud error asks for a compaction
    * first — a rollback must never orphan live legs silently). */
  def rollbackToTag(dir: String, name: String): Int =
    withWriterLock(dir, s"rollbackToTag($name)") {
      val ref = resolveTag(dir, name)
      val st = state(dir)
      val cur = currentRef(dir, st)
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
        rollbackToRef(dir, st, ref)
      }
    }

  /** The rollback commit itself (caller holds the lease and resolved a
    * RETAINED target ref): replay the ref's reference set, drop the
    * target version from the priors, push the from-snapshot as a new
    * commit-stamped prior. */
  private def rollbackToRef(dir: String, st: State, ref: SnapRef): Int = {
    val fromRef = currentRef(dir, st)
    val rest = st.priors.filterNot(p => decodeRef(p).v == ref.v)
    commitState(dir, ref.v,
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

  /** STANDALONE snapshot expiry — the Iceberg `expireSnapshots`
    * analogue (r16 VERDICT task 2). Lagged GC normally runs only at
    * the START of the next compaction, so a store that stops
    * compacting retains superseded versions, fold trees and debris
    * forever. This maintenance entry point takes the writer lease,
    * applies the store's retention policy ([[splitPriors]]), runs the
    * family's lagged-GC `gc` with ONLY the still-protected priors
    * (collecting everything the due priors were keeping alive, plus
    * crashed-attempt debris), and commits the pruned priors list with
    * one atomic patch of the state/sidecar json — NO content commit,
    * NO version bump. A pinned view within retention survives (its
    * prior stays protected); each family exposes its own
    * `expireSnapshots(dir)` wrapper supplying its dir-layout-specific
    * GC. Returns the number of prior snapshots expired. */
  def expireSnapshotsWith(
      dir: String, statePath: java.nio.file.Path, priors: Seq[String],
      gc: Seq[SnapRef] => Unit): Int =
    withWriterLock(dir, "expireSnapshots") {
      val (prot, due) = splitPriors(dir, priors)
      gc(prot)
      if (java.nio.file.Files.exists(statePath))
        patchStringArrays(statePath, "priors" -> prot.map(encodeRef).sorted)
      due.length
    }

  /** Live delta tags of a FLAT-layout store against one read state —
    * committed list when present, root `delta_*` listing minus folded
    * otherwise (the legacy resolution every flat family uses). */
  def flatDeltaTagsOf(dir: String, st: State): Seq[String] =
    st.live.getOrElse {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(root)) Seq.empty
      else {
        val s = java.nio.file.Files.list(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("delta_")).map(_.stripPrefix("delta_"))
            .filterNot(st.folded).toSeq.sorted
        } finally s.close()
      }
    }

  /** The shared FLAT-layout lagged GC (base_v<N> + delta_<tag> at the
    * dir root, `_tombstones/<tag>`): collect superseded base versions,
    * crashed-attempt debris, legacy v0 root files once a versioned
    * base is committed, folded deltas and consumed tombstones — minus
    * anything the CURRENT state or a protected prior still names.
    * Factored out of the hash/fuzzy compactions so the standalone
    * [[expireSnapshotsWith]] shares one implementation. */
  def gcFlatPrior(dir: String, st: State, protectedRefs: Seq[SnapRef]): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return
    val tombs = liveTombTagsOf(dir, st)
    val keepBases = (Set(st.v) ++ protectedRefs.map(_.v)).map(v => s"base_v$v")
    val keepDelta = flatDeltaTagsOf(dir, st).toSet ++ protectedRefs.flatMap(_.live)
    val keepTombs = tombs.toSet ++ protectedRefs.flatMap(_.tombs)
    val gc = java.nio.file.Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      gc.iterator().asScala
        .filter { p =>
          val nm = p.getFileName.toString
          nm.startsWith("_building_") ||
            (nm.matches("base_v\\d+") && !keepBases.contains(nm)) ||
            (st.v > 0 && !protectedRefs.exists(_.v == 0) &&
              !nm.startsWith("_") && !nm.startsWith(".") &&
              !nm.startsWith("delta_") && !nm.startsWith("base_v"))
        }
        .toSeq.foreach(deleteDir)
    } finally gc.close()
    st.folded.filterNot(keepDelta).foreach(t =>
      deleteDir(java.nio.file.Paths.get(dir, s"delta_$t")))
    st.deadTombs.filterNot(keepTombs).foreach(t =>
      deleteDir(java.nio.file.Paths.get(tombRoot(dir), t)))
  }

  /** [[expireSnapshotsWith]] for the FLAT-layout stores (the dedup
    * hash/sig stores and the fuzzy store share this exact layout). */
  def expireFlatSnapshots(dir: String): Int = {
    val p = java.nio.file.Paths.get(dir, stateName)
    if (!java.nio.file.Files.exists(p)) return 0 // never committed: nothing retained
    val st = state(dir)
    expireSnapshotsWith(dir, p, st.priors, prot => gcFlatPrior(dir, st, prot))
  }

  /** A tombstone is consumed when every covered leg is the base, is
    * folding now, or folded earlier (its dir is gone). */
  def consumedTombs(tombs: Seq[Tomb], folding: Seq[String], liveNow: Set[String]): Seq[Tomb] =
    tombs.filter(_.covered.forall(c =>
      c == "base" || folding.contains(c) || !liveNow.contains(c)))

  /** A sorted string-array field of a committed state/sidecar json —
    * None when the FIELD is absent (a sidecar written before the
    * committed-live-leg protocol; callers then fall back to the legacy
    * directory-listing resolution). */
  def optStringSeq(
      node: Option[com.fasterxml.jackson.databind.JsonNode],
      key: String): Option[Seq[String]] =
    node.filter(_.has(key)).map { n =>
      import scala.jdk.CollectionConverters._
      n.get(key).elements().asScala.map(_.asText()).toSeq.sorted
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

  /** Base bytes of a FLAT-layout store (seed files at the dir root, or
    * the committed `base_v<N>` dir after a compaction). */
  def flatBaseBytes(dir: String): Long = {
    val st = state(dir)
    if (st.v > 0) duBytes(java.nio.file.Paths.get(dir, s"base_v${st.v}"))
    else {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(root)) return 0L
      val s = java.nio.file.Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter { p =>
            val nm = p.getFileName.toString
            !nm.startsWith("delta_") && !nm.startsWith("base_v") &&
              !nm.startsWith("_") && !nm.startsWith(".")
          }
          .map(duBytes).sum
      } finally s.close()
    }
  }

  /** Live delta bytes of a flat-layout store. */
  def flatDeltaBytes(dir: String, liveTags: Seq[String]): Long =
    liveTags.map(t => duBytes(java.nio.file.Paths.get(dir, s"delta_$t"))).sum

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
    if (!java.nio.file.Files.exists(path)) return
    val node = mapper.readTree(java.nio.file.Files.readString(path))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    updates.foreach { case (k, vs) =>
      val arr = node.putArray(k)
      vs.sorted.foreach(arr.add)
    }
    Artifact.writeAtomic(path, node.toString)
  }

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
