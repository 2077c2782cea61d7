package graft.text

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The end-to-end curation chain on a corpus with one planted rejection
  * per stage: wrong language, low quality, exact duplicate, and a
  * transitive near-duplicate chain that only the component closure
  * collapses to one survivor. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val keepA =
    "the quick brown fox jumps over the lazy dog and runs far into the quiet forest"
  private val keepB =
    "a completely different story is told here with ships and harbors and the open sea wind"

  private lazy val docs = Seq(
    (1L, keepA),                                  // survives everything
    (2L, "  " + keepA.replace(" ", "  ") + " "),  // exact dup of 1 after normalization
    (3L, "el la de que con el la de que con el perro grande corre"), // wrong language
    (4L, Seq.fill(10)("the buffalo").mkString(" ")), // English but low quality (diversity 0.1)
    (5L, keepB),                                  // near-dup cluster, min id — kept
    (6L, keepB.replace("ships", "boats")),        // ~5
    (7L, keepB.replace("ships", "boats").replace("wind", "storm")) // ~6, transitively ~5
  ).toDF("doc_id", "text")

  test("curate keeps one representative per stage-violating group") {
    val kept = Curation.curate(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 5L))
  }

  test("kept ids do not depend on input partitions or the AQE partition floor") {
    // ~300 English-like docs, every third with a near copy: shingle
    // shuffles of a few hundred KB, which the engine's 64 KB floor
    // splits into more tasks than Spark's 1 MB default does
    val rnd = new scala.util.Random(11)
    val syll = for (c <- "bcdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    val vocab = IndexedSeq.fill(3000)(Seq.fill(2 + rnd.nextInt(2))(syll(rnd.nextInt(syll.length))).mkString)
    val stop = IndexedSeq("the", "a", "and", "of", "to", "in", "is", "with")
    def word() = if (rnd.nextInt(4) == 0) stop(rnd.nextInt(stop.length)) else vocab(rnd.nextInt(vocab.length))
    val originals = (0 until 220).map(_ => Seq("the", word(), "of") ++ Seq.fill(80 + rnd.nextInt(40))(word()))
    val copies = originals.zipWithIndex.collect { case (ws, i) if i % 3 == 0 =>
      ws.map(w => if (rnd.nextInt(20) == 0) vocab(rnd.nextInt(vocab.length)) else w)
    }
    val corpus = (originals ++ copies).zipWithIndex
      .map { case (ws, i) => ((i * 7919L) % 1000003L, ws.mkString(" ")) }
      .toDF("doc_id", "text")
    val cores = spark.sparkContext.defaultParallelism
    // (kept ids, tasks run) of one pass over `parts` input partitions
    def curate(parts: Int): (Set[Long], Int) = {
      var kept = Set.empty[Long]
      val tasks = SparkTestSession.tasksOf {
        kept = Curation.curate(corpus.repartition(parts)).select("doc_id").as[Long].collect().toSet
      }
      (kept, tasks)
    }
    val atDefault = Seq(1, cores).map(curate)
    val withFloor = SparkTestSession.withSetupSession(Seq(1, cores).map(curate))
    info(s"tasks at Spark's floor ${atDefault.map(_._2)}, at the engine's ${withFloor.map(_._2)}")
    val kept = atDefault.head._1
    assert(kept.size == originals.size, "one doc per near-copy family must survive")
    (atDefault ++ withFloor).foreach { case (k, _) => assert(k == kept) }
    // the floor is exercised: it splits shuffles into more tasks
    atDefault.zip(withFloor).foreach { case ((_, d), (_, f)) => assert(f > d) }
  }

  test("curate at a permissive quality threshold still drops dups and language") {
    val kept = Curation.curate(docs, minQuality = 0.0)
      .select("doc_id").as[Long].collect().toSet
    // 4 survives the quality gate now; the dup groups still collapse
    assert(kept == Set(1L, 4L, 5L))
  }
}
