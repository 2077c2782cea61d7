package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Corpus with planted duplicates:
  //  - 1 and 2 are byte-identical after normalization (exact dups)
  //  - 3 is 1 with one word changed (near-dup)
  //  - 4 and 5 are unrelated
  private lazy val docs = Seq(
    (1L, "spark shuffles data across the cluster for wide operations like join and group by"),
    (2L, "Spark  shuffles data across the cluster for wide operations like join and group by"),
    (3L, "spark shuffles data across the network for wide operations like join and group by"),
    (4L, "completely different text about cooking pasta with tomato sauce and fresh basil leaves"),
    (5L, "unrelated words concerning mountain hiking trails weather forecasts and camping equipment")
  ).toDF("doc_id", "text")

  test("exactDupGroups finds the planted identical pair only") {
    val groups = Dedup.exactDupGroups(docs).as[(String, Long, Seq[Long])].collect()
    assert(groups.length == 1)
    assert(groups.head._3 == Seq(1L, 2L))
  }

  test("dedupExact keeps the lowest-id representative") {
    val kept = Dedup.dedupExact(docs).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("minHashNearDups surfaces exact and near dups, not unrelated pairs") {
    val pairs = Dedup.minHashNearDups(docs, maxJaccardDist = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) || Set(a, b).contains(5L) })
  }

  test("simHashCol: identical texts share a signature; hamming small for near-dups") {
    val sigs = docs.select($"doc_id", Dedup.simHashCol("text").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    val hammingNear = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val hammingFar = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(hammingNear < hammingFar)
  }

  test("simHashNearDups finds the exact pair at hamming 0") {
    val pairs = Dedup.simHashNearDups(docs, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L)).nonEmpty })
  }

  test("simHashBandPairs is complete: every pair within maxHamming is a candidate") {
    // synthetic signatures: base, and flips of h bits for h = 1..8
    val base = 0x0F0F33CC55AA9966L
    def flip(v: Long, bits: Seq[Int]): Long = bits.foldLeft(v)((x, b) => x ^ (1L << b))
    val rng = new scala.util.Random(23)
    val rows = (1 to 8).map { h =>
      (h.toLong, flip(base, Seq.fill(h)(rng.nextInt(64)).distinct.take(h)))
    } :+ (0L, base)
    val sigs = rows.toDF("doc_id", "sig")
    for (maxH <- Seq(1, 3, 7)) {
      val cands = Dedup.simHashBandPairs(sigs, maxH)
        .as[(Long, Long)].collect().toSet
      rows.combinations(2).foreach { case Seq((idA, sigA), (idB, sigB)) =>
        val hamming = java.lang.Long.bitCount(sigA ^ sigB)
        if (hamming <= maxH) {
          val pair = (math.min(idA, idB), math.max(idA, idB))
          assert(cands.contains(pair),
            s"pair $pair at hamming $hamming missing from candidates at maxHamming=$maxH")
        }
      }
    }
  }

  test("ngramJaccardPairs: planted near-dup scores high, unrelated pairs absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.3)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((1L, 2L)) == 1.0) // identical after normalization
    assert(pairs.contains((1L, 3L)))
    assert(pairs((1L, 3L)) > 0.3 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L)).nonEmpty })
  }

  test("ngramJaccardPairs maxShingleDf drops hot shingles (skew guard)") {
    // a shingle present in every doc would join all pairs; with cap 1 no
    // candidate pairs survive
    val clones = (1L to 6L).map(i => (i, s"common shingle text plus unique$i word$i suffix$i")).toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(clones, n = 3, minJaccard = 0.0, maxShingleDf = 1L)
    assert(capped.count() == 0)
  }

  test("minHashNearDups recall >= 0.9 vs exact n-gram Jaccard on fixture docs") {
    val fixture = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    // ground truth: exact Jaccard >= 0.5 over the same 3-gram shingles
    val truth = Dedup.ngramJaccardPairs(fixture, n = 3, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = Dedup.minHashNearDups(fixture, maxJaccardDist = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture has no near-dup pairs at j >= 0.5 — test is vacuous")
    val recall = truth.intersect(found).size.toDouble / truth.size
    info(s"minhash recall vs exact jaccard: $recall over ${truth.size} true pairs")
    assert(recall >= 0.9)
    // precision is exact by construction: candidates are re-verified
    assert(found.subsetOf(truth) || found.diff(truth).isEmpty)
  }

  test("winnowing: a copied passage inside otherwise-different docs is detected") {
    val passage = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (1L, s"intro text alpha beta gamma. $passage and then some closing words"),
      (2L, s"completely different opening lines here. $passage with another ending entirely"),
      (3L, "no shared passage at all just original content about cooking pasta dishes"),
      (4L, "another fully original document describing mountain hiking gear and trails"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(corpus, minShared = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).intersect(Set(3L, 4L)).nonEmpty })
  }

  test("winnowing guarantee: substring matches of length >= w+k-1 share a fingerprint") {
    import graft.text.TextAnalysis
    val k = 8; val w = 4
    val shared = "abcdefghijklmnopq" // length 17 >= w+k-1 = 11
    val df = Seq((1L, s"xxxxx$shared yyyy"), (2L, s"zz $shared wwwwww"))
      .toDF("doc_id", "text")
    val fps = df.select($"doc_id", TextAnalysis.winnowFingerprints($"text", k, w).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty)
  }

  test("embeddingNearDups finds planted near-identical vectors") {
    val base = Array.fill(16)(0.25f)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val vecs = Seq(
      (1L, unit(base)),
      (2L, unit(base.clone())),                                      // identical
      (3L, unit(base.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x })), // near
      (4L, unit(Array.tabulate(16)(i => if (i % 2 == 0) 1f else -1f))) // far
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(vecs, minCosine = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("crossCorpusOverlap flags docs sharing shingles with the benchmark side only") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),       // = bench doc
      (2L, "alpha beta gamma delta epsilon other words"),// shares 5-gram prefix? (4-gram n=4 test)
      (3L, "totally unrelated content with no overlap at all")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("bench_id", "text")
    val hits = Dedup.crossCorpusOverlap(corpus, bench, n = 4, minShared = 1L)
      .select("doc_id", "bench_id", "n_shared")
      .as[(Long, Long, Long)].collect().toSet
    // doc 1 shares all three 4-grams; doc 2 shares the first two; doc 3 none
    assert(hits == Set((1L, 100L, 3L), (2L, 100L, 2L)))
  }

  test("crossCorpusOverlapBloom reproduces the exact overlap answer bit-for-bit") {
    // a corpus big enough that the bloom prefilter is doing real work:
    // 60 filler docs with disjoint shingles + the planted-overlap trio
    val filler = (1000L until 1060L).map(i =>
      (i, s"filler${i}a filler${i}b filler${i}c filler${i}d filler${i}e filler${i}f"))
    val corpus = (Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon other words"),
      (3L, "totally unrelated content with no overlap at all")
    ) ++ filler).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("bench_id", "text")
    val exact = Dedup.crossCorpusOverlap(corpus, bench, n = 4, minShared = 1L)
      .select("doc_id", "bench_id", "n_shared")
      .as[(Long, Long, Long)].collect().toSet
    val bloom = Dedup.crossCorpusOverlapBloom(corpus, bench, n = 4, minShared = 1L)
      .select("doc_id", "bench_id", "n_shared")
      .as[(Long, Long, Long)].collect().toSet
    assert(bloom == exact)
    assert(exact == Set((1L, 100L, 3L), (2L, 100L, 2L)))
  }

  test("crossCorpusOverlapBloom honors the hot-shingle cap with full-corpus counts") {
    // the same 4-gram appears in 3 corpus docs AND the bench; with
    // maxShingleDf = 2 the cap must kill it — proving the df count the
    // bloom path sees is the full-corpus count, not a post-filter one
    val corpus = Seq(
      (1L, "hot gram one two extra a"),
      (2L, "hot gram one two extra b"),
      (3L, "hot gram one two extra c")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "hot gram one two")).toDF("bench_id", "text")
    val capped = Dedup.crossCorpusOverlapBloom(corpus, bench, n = 4, minShared = 1L,
        maxShingleDf = 2L)
      .count()
    assert(capped == 0L)
    val uncapped = Dedup.crossCorpusOverlapBloom(corpus, bench, n = 4, minShared = 1L,
        maxShingleDf = 10L)
      .count()
    assert(uncapped == 3L)
  }

  test("crossCorpusOverlapBloom equals exact on random corpora (property)") {
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "lam", "mu")
    (0 until 5).foreach { seed =>
      val rnd = new scala.util.Random(1000 + seed)
      def sentence(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")
      val corpus = (0L until 40L).map(i => (i, sentence(6 + rnd.nextInt(6)))).toDF("doc_id", "text")
      val bench = (0L until 6L).map(i => (100L + i, sentence(6 + rnd.nextInt(6)))).toDF("bench_id", "text")
      // a 12-word vocabulary makes shingle collisions (and hot shingles
      // near the cap) common — the regime where an off-by-one in the
      // df-count interaction would show
      val exact = Dedup.crossCorpusOverlap(corpus, bench, n = 3, minShared = 1L,
          maxShingleDf = 3L)
        .select("doc_id", "bench_id", "n_shared")
        .as[(Long, Long, Long)].collect().toSet
      val bloom = Dedup.crossCorpusOverlapBloom(corpus, bench, n = 3, minShared = 1L,
          maxShingleDf = 3L, fpp = 0.2)
        .select("doc_id", "bench_id", "n_shared")
        .as[(Long, Long, Long)].collect().toSet
      assert(bloom == exact, s"seed $seed: bloom=$bloom exact=$exact")
    }
  }

  test("connectedComponents labels transitive chains with the component min id") {
    // 1-2, 2-3 (chain — 1~3 only transitively), 10-11 separate, 20-21-22
    // via a hub; nodes outside any pair must not appear
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents closes a long path graph (pointer jumping)") {
    // path 100-101-...-120: diameter 20, worst case for pure propagation;
    // pointer jumping must still close it within the iteration cap
    val pairs = (100L until 120L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(cc.size == 21 && cc.values.forall(_ == 100L))
  }

  test("connectedComponents runs no propagation round on near-dup-shaped pairs") {
    // stars centered on their minimum id (an original and its copies)
    // and 3-cliques: the fused initialization already labels every node
    // with its component minimum, so the closure is the initialization
    // plus one agreement test
    val stars = Seq(100L, 200L, 300L).flatMap(c => (1L to 4L).map(i => (c, c + i)))
    val cliques = Seq(1000L, 2000L).flatMap(b => Seq((b, b + 1), (b, b + 2), (b + 1, b + 2)))
    var cc: DataFrame = null
    val jobs = SparkTestSession.jobsOf(info) {
      cc = Dedup.connectedComponents((stars ++ cliques).toDF("id_a", "id_b"))
    }
    // pair checkpoint, label aggregation and its checkpoint, one
    // agreement test; a round adds 11 jobs (the path below runs 17)
    assert(jobs.size <= 6,
      s"the zero-round closure ran ${jobs.size} Spark jobs, budget 6:\n${jobs.mkString("\n")}")
    val expected = stars.map { case (c, l) => l -> c }.toMap ++ Seq(100L, 200L, 300L).map(c => c -> c) ++
      cliques.flatMap { case (a, b) => Seq(a, b) }.map(v => v -> (v / 1000L * 1000L))
    assert(cc.as[(Long, Long)].collect().toMap == expected)
    // the path 1-2-3-4 disagrees at the start: one round, one more test
    val pathJobs = SparkTestSession.jobsOf(info) {
      Dedup.connectedComponents(Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b"))
    }
    assert(pathJobs.size > jobs.size, "a closure that needs a round must cost more jobs")
  }

  test("connectedComponents on an empty pair set returns no rows") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  test("clusterArtifact: build-once reuse on matching fingerprint, rebuild on change") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ca_test").toString
    val direct = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.3, maxShingleDf = 500L)
          .select("id_a", "id_b"))
      .withColumnRenamed("id", "doc_id")
      .as[(Long, Long)].collect().toSet
    val built = Dedup.clusterArtifact(docs, dir, n = 3, minJaccard = 0.3,
      maxShingleDf = 500L).as[(Long, Long)].collect().toSet
    assert(built == direct && built.nonEmpty)
    // matching fingerprint: the second call must serve the parquet as-is
    val sidecar = java.nio.file.Paths.get(dir, "_fingerprint.json")
    val stamp = java.nio.file.Files.getLastModifiedTime(sidecar)
    val reused = Dedup.clusterArtifact(docs, dir, n = 3, minJaccard = 0.3,
      maxShingleDf = 500L).as[(Long, Long)].collect().toSet
    assert(reused == built)
    assert(java.nio.file.Files.getLastModifiedTime(sidecar) == stamp,
      "sidecar rewritten on a fingerprint match — artifact was rebuilt")
    // changed corpus: stale clusters must NOT be served
    val changed = docs.union(Seq(
      (6L, "spark shuffles data across the cluster for wide operations like join and group by"))
      .toDF("doc_id", "text"))
    val rebuilt = Dedup.clusterArtifact(changed, dir, n = 3, minJaccard = 0.3,
      maxShingleDf = 500L).as[(Long, Long)].collect().toSet
    assert(rebuilt != built && rebuilt.exists(_._1 == 6L))
  }

  test("clusterArtifact: other build params on the same dir rebuild, never serve stale clusters") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ca_params").toString
    def direct(minJaccard: Double) = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = minJaccard, maxShingleDf = 500L)
          .select("id_a", "id_b"))
      .withColumnRenamed("id", "doc_id")
      .as[(Long, Long)].collect().toSet
    val loose = Dedup.clusterArtifact(docs, dir, n = 3, minJaccard = 0.3,
      maxShingleDf = 500L).as[(Long, Long)].collect().toSet
    assert(loose == direct(0.3))
    // at 0.9 the one-word near-dup (3) leaves the {1, 2, 3} cluster
    val strict = direct(0.9)
    assert(strict != loose, "premise: the two thresholds cluster differently")
    val second = Dedup.clusterArtifact(docs, dir, n = 3, minJaccard = 0.9,
      maxShingleDf = 500L).as[(Long, Long)].collect().toSet
    assert(second == strict, "same docs and dir, new minJaccard: the first call's clusters were served")
  }

  test("connectedComponents matches a union-find reference on random graphs") {
    unionFindTrials(identity)
  }

  test("connectedComponents matches a union-find reference with edges spread over 4 partitions") {
    unionFindTrials(_.repartition(4))
  }

  private def unionFindTrials(spread: DataFrame => DataFrame): Unit = {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val nNodes = 60 + trial * 20
      val edges = Seq.fill(90)((rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val nodes = edges.flatMap(t => Seq(t._1, t._2)).distinct
      val expected = {
        val minOfRoot = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
        nodes.map(n => n -> minOfRoot(find(n))).toMap
      }
      val got = Dedup.connectedComponents(spread(edges.toDF("id_a", "id_b")))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial: distributed labels diverge from union-find")
    }
  }

  test("crossEmbeddingNearDups traces benchmark copies to their corpus origins") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 200L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2f - 1f)))
    val bench = (0L until 5L).map(i => (i + 500L, corpus(i.toInt)._2)) :+
      (600L, Array.fill(16)(rnd.nextFloat() * 2f - 1f)) // clean benchmark item
    val pairs = Dedup.crossEmbeddingNearDups(
        corpus.toDF("vec_id", "embedding"), bench.toDF("vec_id", "embedding"),
        minCosine = 0.999)
      .select("corpus_id", "probe_id").as[(Long, Long)].collect().toSet
    assert(pairs == (0L until 5L).map(i => (i, i + 500L)).toSet,
      s"expected exactly the 5 planted contamination pairs, got $pairs")
  }

  test("semanticNearDups finds every exact-copy pair; cluster scoping drops nothing exact") {
    val rnd = new scala.util.Random(42)
    val base = (0L until 300L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2f - 1f)))
    // exact copies of ids 0..9 at +1000; a jittered near-copy of 10 at +2000
    val copies = (0L until 10L).map(i => (i + 1000L, base(i.toInt)._2))
    val jitter = base(10)._2.map(v => v + 1e-4f)
    val corpus = (base ++ copies :+ (2010L, jitter)).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticNearDups(corpus, nClusters = 6, minCosine = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exactExpected = (0L until 10L).map(i => (i, i + 1000L)).toSet
    assert(exactExpected.subsetOf(pairs),
      s"missing exact pairs: ${exactExpected -- pairs}")
    // the jittered pair sits at cos ≈ 1-1e-9; with this seed it shares a
    // cluster and must surface (deterministic: fixed seeds end to end)
    assert(pairs.contains((10L, 2010L)))
    // nothing else in a random corpus reaches 0.999
    assert(pairs == exactExpected + ((10L, 2010L)))
  }

  test("chunkDedup keeps the first corpus-wide occurrence of every chunk") {
    // chunkTokens=2: doc0 "alpha beta"+"delta"; doc1 "alpha beta"+"gamma";
    // doc2 duplicates doc0 entirely; doc3 = one chunk equal to doc1's 2nd
    val corpus = Seq(
      (0L, "alpha beta delta"),
      (1L, "alpha beta gamma"),
      (2L, "alpha beta delta"),
      (3L, "gamma")
    ).toDF("doc_id", "text")
    val r = Dedup.chunkDedup(corpus, chunkTokens = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(r == Seq(
      (0L, 2L, 2L, "alpha beta delta"), // first occurrence of both chunks
      (1L, 2L, 1L, "gamma"),            // "alpha beta" already seen in doc0
      (2L, 2L, 0L, ""),                 // full duplicate of doc0 → nothing left
      (3L, 1L, 0L, "")))                // its only chunk first appeared in doc1
  }

  test("chunkDedup is identity on a corpus with no repeated chunks") {
    // every chunk unique → nothing dropped, reassembly must reproduce
    // the normalized text byte-for-byte
    val corpus = (0L to 30L)
      .map(i => (i, (0 until 7).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val r = Dedup.chunkDedup(corpus, chunkTokens = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(r.forall { case (_, nChunks, nKept, _) => nChunks == 3 && nKept == 3 })
    val rebuilt = r.map(t => t._1 -> t._4).toMap
    (0L to 30L).foreach { i =>
      val expected = (0 until 7).map(j => s"w${i}_$j").mkString(" ")
      assert(rebuilt(i) == expected, s"doc $i reassembly diverged")
    }
  }

  test("chunkDedup is invariant to physical partitioning") {
    val corpus = (0L to 40L)
      .map(i => (i, s"tok${i % 7} filler common shared words here tok${i % 3} tail$i"))
      .toDF("doc_id", "text")
    val a = Dedup.chunkDedup(corpus, chunkTokens = 3)
      .orderBy("doc_id").collect().toSeq
    val b = Dedup.chunkDedup(corpus.repartition(13), chunkTokens = 3)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("chunkDedup keeps one row per input doc even for NULL and empty text") {
    val corpus = Seq(
      (0L, "alpha beta gamma"),
      (1L, null.asInstanceOf[String]), // NULL text → (id, 0, 0, '')
      (2L, ""),                        // empty text → same
      (3L, "alpha beta gamma")         // full dup of doc0
    ).toDF("doc_id", "text")
    val r = Dedup.chunkDedup(corpus, chunkTokens = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(r == Seq(
      (0L, 1L, 1L, "alpha beta gamma"),
      (1L, 0L, 0L, ""),
      (2L, 0L, 0L, ""),
      (3L, 1L, 0L, "")))
  }

  test("chunkDedup rejects ids outside the occ_key packing range loudly") {
    val corpus = Seq((1L << 43, "some words here")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.chunkDedup(corpus, chunkTokens = 3).collect()
    }
    // Spark wraps the assert_true failure; the point is it THROWS rather
    // than silently wrapping the packed key and flipping first-occurrence
    assert(e.getMessage != null)
  }

  test("SemDeDup k-vs-n policy: candidate work grows linearly with the corpus, not quadratically") {
    import graft.index.Ivf
    val rnd = new scala.util.Random(7)
    def corpus(n: Int) = (0 until n)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val target = 50L
    // Σ|c|² over the policy's k = ⌈n/target⌉ clusters — the exact number
    // of within-cluster candidate pairs semanticNearDups will compare
    def candidateWork(n: Int): (Long, Long) = {
      val df = corpus(n)
      val k = Dedup.semDedupClusters(n, target)
      val sizes = Ivf.assign(Ivf.fit(df, k, maxIter = 5), df)
        .groupBy("cluster").count().select("count").as[Long].collect()
      (sizes.map(c => c * c).sum, sizes.max)
    }
    val (work1, _) = candidateWork(400)
    val (work2, max2) = candidateWork(1600)
    // 4× the corpus under the policy ⇒ ≈4× the pairs (k-means skew gives
    // slack); a FIXED k would give 16×
    val ratio = work2.toDouble / work1.toDouble
    assert(ratio < 8.0, s"candidate work grew superlinearly: $work1 -> $work2 (x$ratio)")
    // and no cluster grows with n: max stays O(target), far under n
    assert(max2 <= 10 * target, s"a cluster scaled with the corpus: $max2")
  }

  test("duplicatedSpans: cross-doc spans merge, within-doc repeats don't count") {
    import spark.implicits._
    // docs 1 & 2 share "a b c d" (n=4) twice in doc 1 at overlapping
    // alignments; doc 3 repeats its own 4-gram but shares nothing
    val df = Seq(
      (1L, "x a b c d e a b c d y"), // shared gram at pos 1 and 6
      (2L, "p q a b c d e r s t"),   // shared grams: "a b c d"(2), "b c d e"(3)
      (3L, "m n o m n o m n o m n"), // self-repeats only
      (4L, "entirely different words here now")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(df, n = 4).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: tokens 11; shared 4-grams with doc 2: "a b c d" at pos 1
    // and 6, "b c d e" at pos 2 → spans [1,4],[2,5],[6,9] → union
    // [1,5] ∪ [6,9] = 9 tokens
    assert(out(1L).getAs[Long]("n_tokens") == 11L)
    assert(out(1L).getAs[Long]("dup_tokens") == 9L,
      s"expected merged coverage 9, got ${out(1L).getAs[Long]("dup_tokens")}")
    assert(out(1L).getAs[Boolean]("flagged")) // 9/11 > 0.5
    // doc 2: spans at pos 2 and 3 → union [2,6] = 5 of 10 tokens; the
    // micro-quantized fraction is exactly 500000 → flagged
    assert(out(2L).getAs[Long]("dup_tokens") == 5L)
    assert(out(2L).getAs[Long]("dup_frac_q") == 500000L)
    // doc 3: its 4-grams repeat within the doc only — not duplicated
    // ACROSS documents, so nothing counts
    assert(out(3L).getAs[Long]("dup_tokens") == 0L,
      "within-doc repetition must not count as cross-doc duplication")
    assert(out(4L).getAs[Long]("dup_tokens") == 0L && !out(4L).getAs[Boolean]("flagged"))

    // the removal half: covered tokens are cut, survivors keep order
    val scrubbed = Dedup.scrubDuplicatedSpans(df, n = 4).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1 keeps positions 0 and 10: "x y"
    assert(scrubbed(1L).getAs[String]("clean_text") == "x y")
    assert(scrubbed(1L).getAs[Long]("kept_tokens") == 2L)
    // doc 2 cuts union [2,6]: "p q r s t" survives
    assert(scrubbed(2L).getAs[String]("clean_text") == "p q r s t")
    // untouched docs come back verbatim (normalized)
    assert(scrubbed(3L).getAs[String]("clean_text") == "m n o m n o m n o m n")
    assert(scrubbed(4L).getAs[Long]("kept_tokens")
      == scrubbed(4L).getAs[Long]("n_tokens"))
  }
}
