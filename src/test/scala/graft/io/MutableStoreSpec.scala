package graft.io

import org.scalatest.funsuite.AnyFunSuite

/** Direct unit coverage of the shared mutable-store protocol helpers —
  * the primitives every store family's snapshot contract rests on. */
class MutableStoreSpec extends AnyFunSuite {

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("mstore")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("maxOnDiskVersion strips the PREFIX, not leading non-digits (digit-bearing stems)") {
    val dir = tmp()
    // a stem containing digits — the shape that parsed wrong before:
    // "bm25del_x_v3" stripped of ^\D+ left "25del_x_v3", not "3"
    Seq("bm25del_x_v3", "bm25del_x_v11", "bm25del_x_v2").foreach(n =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, n)))
    assert(MutableStore.maxOnDiskVersion(dir, Seq("bm25del_x_v")) == 11)
    // non-matching names and other prefixes are ignored
    assert(MutableStore.maxOnDiskVersion(dir, Seq("other_v")) == 0)
    assert(MutableStore.maxOnDiskVersion(dir, Seq("bm25del_x_v", "other_v")) == 11)
  }

  test("commitLiveLists creates the state for a never-compacted store, then patches in place") {
    val dir = tmp()
    assert(MutableStore.state(dir) ==
      MutableStore.State(0, Set.empty, Set.empty, None, None))
    MutableStore.withWriterLock(dir) {
      MutableStore.commitLiveLists(dir, Seq("b1"), Seq.empty)
      val s1 = MutableStore.state(dir)
      assert(s1.v == 0 && s1.live == Some(Seq("b1")) && s1.liveTombs == Some(Seq()))
      MutableStore.commitLiveLists(dir, Seq("b1", "b2"), Seq("t1"))
      val s2 = MutableStore.state(dir)
      assert(s2.live == Some(Seq("b1", "b2")) && s2.liveTombs == Some(Seq("t1")))
      // a compaction's full commit carries version + fold lists + live legs
      MutableStore.commitState(dir, v = 1, folded = Seq("b1", "b2"),
        deadTombs = Seq("t1"), live = Seq.empty, liveTombs = Seq.empty)
    }
    val s3 = MutableStore.state(dir)
    assert(s3.v == 1 && s3.folded == Set("b1", "b2") &&
      s3.deadTombs == Set("t1") &&
      s3.live == Some(Seq()) && s3.liveTombs == Some(Seq()))
  }

  test("patchStringArrays replaces fields atomically and no-ops on a missing file") {
    val dir = tmp()
    MutableStore.withWriterLock(dir) {
      val missing = java.nio.file.Paths.get(dir, "nope.json")
      MutableStore.patchStringArrays(missing, "live" -> Seq("x")) // must not create
      assert(!java.nio.file.Files.exists(missing))
      val p = java.nio.file.Paths.get(dir, "s.json")
      Artifact.writeAtomic(p, """{"v":3,"keep":"me","live":["a"]}""")
      MutableStore.patchStringArrays(p, "live" -> Seq("b", "a"), "liveTombs" -> Seq.empty)
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(p))
      assert(n.get("v").asInt() == 3 && n.get("keep").asText() == "me",
        "untouched fields survive the patch")
      assert(n.get("live").toString == """["a","b"]""", "arrays are sorted")
      assert(n.get("liveTombs").size() == 0)
    }
  }

  test("writer lease: a state-committing primitive OUTSIDE a lease fails loudly") {
    val dir = tmp()
    val e = intercept[IllegalStateException] {
      MutableStore.commitLiveLists(dir, Seq("b1"), Seq.empty)
    }
    assert(e.getMessage.contains("writer lease"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, MutableStore.stateName)),
      "the rejected commit must not have written anything")
  }

  test("writer lease: two interleaved writers — the second fails loudly, naming the holder") {
    val dir = tmp()
    // writer A holds the lease on another thread and parks inside it
    val aInside = new java.util.concurrent.CountDownLatch(1)
    val aRelease = new java.util.concurrent.CountDownLatch(1)
    val a = new Thread(() => MutableStore.withWriterLock(dir, "writerA") {
      aInside.countDown(); aRelease.await()
    })
    a.start()
    assert(aInside.await(10, java.util.concurrent.TimeUnit.SECONDS))
    // writer B (this thread) must be rejected, not silently interleave
    val e = intercept[IllegalStateException] {
      MutableStore.withWriterLock(dir, "writerB") { fail("must not run") }
    }
    assert(e.getMessage.contains("single-writer") && e.getMessage.contains("writerA"))
    aRelease.countDown(); a.join()
    // released: the next writer acquires normally
    MutableStore.withWriterLock(dir, "writerB") {
      MutableStore.commitLiveLists(dir, Seq("ok"), Seq.empty)
    }
    assert(MutableStore.state(dir).live == Some(Seq("ok")))
  }

  test("writer lease: a crashed writer's stale lock is stolen after the TTL") {
    val dir = tmp()
    val d = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    val lock = d.getParent.resolve(d.getFileName.toString + "__writer_lock")
    java.nio.file.Files.write(lock, "crashed@dead-jvm".getBytes("UTF-8"))
    // fresh lock blocks
    intercept[IllegalStateException] {
      MutableStore.withWriterLock(dir, "b") { fail("must not run") }
    }
    // age it past the TTL → the next writer steals and proceeds
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 11L * 60L * 1000L))
    var ran = false
    MutableStore.withWriterLock(dir, "b") { ran = true }
    assert(ran, "expired lease must be stolen, not wedge the store forever")
    assert(!java.nio.file.Files.exists(lock), "lease released on exit")
  }

  test("writer lease: reentrant within a thread (compactions call commit primitives)") {
    val dir = tmp()
    MutableStore.withWriterLock(dir, "outer") {
      MutableStore.withWriterLock(dir, "inner") {
        MutableStore.commitLiveLists(dir, Seq("x"), Seq.empty)
      }
      // inner exit must NOT release the outer hold
      MutableStore.commitLiveLists(dir, Seq("x", "y"), Seq.empty)
    }
    assert(MutableStore.state(dir).live == Some(Seq("x", "y")))
  }

  test("FENCED lease: a writer stalled past the TTL cannot commit over the stealer's state, and must not delete the stealer's live lock") {
    val dir = tmp()
    val d = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    val lock = d.getParent.resolve(d.getFileName.toString + "__writer_lock")
    MutableStore.heartbeatEnabled = false // simulate a FULL process stall (STW pause)
    try {
      val ttl = 400L
      val aAcquired = new java.util.concurrent.CountDownLatch(1)
      val proceedA = new java.util.concurrent.CountDownLatch(1)
      val aErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val a = new Thread(() =>
        try MutableStore.withWriterLock(dir, "slowA", ttlMs = ttl) {
          aAcquired.countDown()
          proceedA.await() // the stall: B steals + commits meanwhile
          MutableStore.commitLiveLists(dir, Seq("fromA"), Seq.empty)
        } catch { case t: Throwable => aErr.set(t) })
      a.start()
      assert(aAcquired.await(10, java.util.concurrent.TimeUnit.SECONDS))
      Thread.sleep(ttl + 200) // age A's lock past the TTL (its heartbeat is stalled)
      // B steals the expired lease, commits, and stays INSIDE its hold
      // while A resumes — A's fenced commit must fail loudly and A's
      // release must leave B's live lock untouched
      MutableStore.withWriterLock(dir, "stealerB", ttlMs = ttl) {
        MutableStore.commitLiveLists(dir, Seq("fromB"), Seq.empty)
        proceedA.countDown()
        a.join(10000)
        assert(!a.isAlive)
        val e = aErr.get()
        assert(e != null && e.isInstanceOf[IllegalStateException] &&
          e.getMessage.contains("STOLEN"),
          s"A's post-steal commit must fail loudly, got: $e")
        assert(java.nio.file.Files.exists(lock),
          "A's release must NOT delete B's live lock")
        assert(MutableStore.state(dir).live == Some(Seq("fromB")),
          "B's committed state survives — no lost update")
      }
      assert(!java.nio.file.Files.exists(lock), "B's own release still works")
    } finally MutableStore.heartbeatEnabled = true
  }

  test("FENCED lease: an evicted writer's RELEASE fails loudly even when its body never committed") {
    val dir = tmp()
    MutableStore.heartbeatEnabled = false
    try {
      val ttl = 400L
      val aAcquired = new java.util.concurrent.CountDownLatch(1)
      val proceedA = new java.util.concurrent.CountDownLatch(1)
      val aErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val a = new Thread(() =>
        try MutableStore.withWriterLock(dir, "slowA", ttlMs = ttl) {
          aAcquired.countDown(); proceedA.await(); 42 // no commit — body succeeds
        } catch { case t: Throwable => aErr.set(t) })
      a.start()
      assert(aAcquired.await(10, java.util.concurrent.TimeUnit.SECONDS))
      Thread.sleep(ttl + 200)
      MutableStore.withWriterLock(dir, "stealerB", ttlMs = ttl) {
        MutableStore.commitLiveLists(dir, Seq("fromB"), Seq.empty)
      } // B released — A's token is gone from disk either way
      proceedA.countDown()
      a.join(10000)
      val e = aErr.get()
      assert(e != null && e.getMessage.contains("STOLEN"),
        s"the ownership-checked release must fail loudly on a stolen lease, got: $e")
      assert(MutableStore.state(dir).live == Some(Seq("fromB")))
    } finally MutableStore.heartbeatEnabled = true
  }

  test("heartbeat renewal: a LIVE slow writer never expires — a concurrent writer is rejected, not admitted via steal") {
    val dir = tmp()
    val ttl = 600L // heartbeat every ttl/3 = 200 ms renews the mtime
    val aAcquired = new java.util.concurrent.CountDownLatch(1)
    val proceedA = new java.util.concurrent.CountDownLatch(1)
    val a = new Thread(() => MutableStore.withWriterLock(dir, "liveSlowA", ttlMs = ttl) {
      aAcquired.countDown(); proceedA.await()
      MutableStore.commitLiveLists(dir, Seq("fromA"), Seq.empty)
    })
    a.start()
    assert(aAcquired.await(10, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(ttl + 300) // well past the TTL of an UNRENEWED lock
    val e = intercept[IllegalStateException] {
      MutableStore.withWriterLock(dir, "writerB", ttlMs = ttl) { fail("must not run") }
    }
    assert(e.getMessage.contains("live writer"),
      s"a heartbeat-renewed lease must read as live, not expired: ${e.getMessage}")
    proceedA.countDown(); a.join(10000)
    assert(MutableStore.state(dir).live == Some(Seq("fromA")),
      "the live slow writer's commit lands — it was never evicted")
  }

  test("mutation tags are validated at the commit primitives (the priors-encoding invariant)") {
    val dir = tmp()
    MutableStore.withWriterLock(dir) {
      val e = intercept[IllegalArgumentException] {
        MutableStore.commitLiveLists(dir, Seq("bad|tag"), Seq.empty)
      }
      assert(e.getMessage.contains("clean batch id"))
      intercept[IllegalArgumentException] {
        MutableStore.commitLiveLists(dir, Seq("ok"), Seq("worse,tomb"))
      }
      intercept[IllegalArgumentException] {
        MutableStore.writeTombStats(dir, "a/b", Seq("base"))
      }
      intercept[IllegalArgumentException] {
        MutableStore.commitState(dir, 1, Seq.empty, Seq.empty, live = Seq(""))
      }
      // encodeRef guards itself too (defense in depth for direct callers)
      intercept[IllegalArgumentException] {
        MutableStore.encodeRef(MutableStore.SnapRef(1, Seq("x|y"), Seq.empty))
      }
      // clean tags still commit
      MutableStore.commitLiveLists(dir, Seq("batch-0.A_ok"), Seq.empty)
    }
    assert(MutableStore.state(dir).live == Some(Seq("batch-0.A_ok")))
  }

  test("TTL policy: an unstamped prior (keep-N era) is PROTECTED and stamped, not expired on policy switch") {
    val dir = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    MutableStore.setGcRetentionTtl(dir, 60L * 1000L)
    try {
      val unstamped = MutableStore.SnapRef(3, Seq("a"), Seq("t")) // supersededAtMs = 0
      val (prot, due) = MutableStore.splitPriors(dir, Seq(MutableStore.encodeRef(unstamped)))
      assert(due.isEmpty && prot.length == 1,
        "switching keep-N -> TTL must not drop protection the old policy provided")
      assert(prot.head.supersededAtMs > 0L,
        "the entry is stamped NOW so it ages out under the TTL from here")
    } finally MutableStore.setGcRetention(dir, None)
  }

  test("TTL policy: the 64-prior sidecar cap sends the OLDEST overflow to GC (and logs the truncation loudly)") {
    val dir = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    MutableStore.setGcRetentionTtl(dir, 60L * 60L * 1000L) // all young
    try {
      val now = System.currentTimeMillis()
      val refs = (1 to 70).map(v =>
        MutableStore.encodeRef(MutableStore.SnapRef(v, Seq(s"t$v"), Seq.empty, now)))
      // the warn log fires here (manual check: "sidecar cap is 64");
      // the TESTABLE contract is the split itself
      val (prot, due) = MutableStore.splitPriors(dir, refs)
      assert(prot.length == 64, "the cap bounds the protected list")
      assert(prot.map(_.v).min == 7 && prot.map(_.v).max == 70,
        "the NEWEST 64 stay protected")
      assert(due.map(_.v).sorted == (1 to 6), "the oldest overflow goes to GC")
    } finally MutableStore.setGcRetention(dir, None)
  }

  test("an existing-but-unparsable state file throws loudly instead of degrading to v=0") {
    val dir = tmp()
    val p = java.nio.file.Paths.get(dir, MutableStore.stateName)
    java.nio.file.Files.writeString(p, "{torn gar[bage")
    val e = intercept[IllegalStateException] { MutableStore.state(dir) }
    assert(e.getMessage.contains("corrupt store state"))
    // parseable but versionless is equally corrupt (every writer stamps v)
    java.nio.file.Files.writeString(p, """{"live":["a"]}""")
    intercept[IllegalStateException] { MutableStore.state(dir) }
  }

  test("a legacy state json (no live fields) reads as None — listing fallback stays reachable") {
    val dir = tmp()
    Artifact.writeAtomic(java.nio.file.Paths.get(dir, MutableStore.stateName),
      """{"v":2,"folded":["a"],"deadTombs":["t"]}""")
    val st = MutableStore.state(dir)
    assert(st.v == 2 && st.folded == Set("a") && st.deadTombs == Set("t"))
    assert(st.live.isEmpty && st.liveTombs.isEmpty)
  }

  test("baseBytes: root files at v=0, the committed version dir afterwards") {
    val dir = tmp()
    val store = MutableStore.flatLayout(dir, "Spec")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-0.parquet"), "12345678")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "delta_x"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "delta_x", "f.parquet"), "ddd")
    assert(MutableStore.baseBytes(store) == 8L,
      "v0 base = root files only (delta/underscore dirs excluded)")
    assert(MutableStore.deltaBytes(store) == 3L)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "base_v2"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "base_v2", "p.parquet"), "22")
    MutableStore.withWriterLock(dir) {
      MutableStore.commitState(dir, 2, Seq.empty, Seq.empty)
    }
    assert(MutableStore.baseBytes(store) == 2L,
      "after a commit the base is the committed version dir")
  }
}
