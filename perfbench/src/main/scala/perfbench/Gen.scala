package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. The same seed gives the same inputs on every
  * JVM: all randomness comes from `SplittableRandom`, and vector
  * coordinates are multiples of 1/256, so they are exact in float32,
  * float64 and their shortest decimal form. */
object Gen {

  def gaussian(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble() // (0, 1]
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  /** Clustered float32 vectors: `centers` Gaussian blobs in `dim`
    * dimensions. */
  final class Vectors(seed: Long, dim: Int, centers: Int, sigma: Double = 0.3) {
    private val centerOf: Array[Array[Double]] = {
      val r = new SplittableRandom(seed)
      Array.fill(centers, dim)(r.nextDouble() * 2.0 - 1.0)
    }
    def draw(r: SplittableRandom): Array[Float] = {
      val c = centerOf(r.nextInt(centers))
      Array.tabulate(dim)(j => (math.round((c(j) + gaussian(r) * sigma) * 256.0) / 256.0).toFloat)
    }
  }

  /** Squared L2 in float64, accumulated left to right over the float32
    * elements: the arithmetic graft's distance kernels use. */
  def l2Sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { val d = a(j).toDouble - b(j).toDouble; s += d * d; j += 1 }
    s
  }

  /** Exact top-k of `q` over `(id, vector)` rows, ordered by (distance, id). */
  def topK(rows: Iterable[(Long, Array[Float])], q: Array[Float], k: Int): Seq[(Long, Double)] = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)] // max-heap on (dist, id)
    rows.foreach { case (id, v) =>
      val d = l2Sq(q, v)
      if (heap.size < k) heap.enqueue((d, id))
      else if (d < heap.head._1 || (d == heap.head._1 && id < heap.head._2)) {
        heap.dequeue(); heap.enqueue((d, id))
      }
    }
    heap.toSeq.sorted.map { case (d, id) => (id, d) }
  }

  // ------------------------------------------------------------ documents

  /** graft's English stop words and per-language marker tokens; made-up
    * vocabulary words never collide with them. */
  private val Stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for", "with")
  private val EnMarkers = Seq("the", "and", "of", "is", "with")
  private val EsMarkers = Seq("el", "la", "de", "que", "con")
  private val Reserved = (Stop ++ EsMarkers ++
    Seq("der", "die", "und", "ist", "mit", "le", "et", "est", "avec")).toSet

  final case class Doc(id: Long, text: String)

  /** A curation corpus and the ids a correct curation keeps.
    *
    * Families of English-like documents (an original, exact copies that
    * differ only in case and whitespace, near copies with about 8% of the
    * words replaced) plus junk that the language or quality gate drops
    * (Spanish-marker text, marker-free gibberish, short stop-word runs).
    * Ids are assigned in shuffled order, so the kept member of a family
    * is its lowest id, wherever it sits. */
  final class Corpus(val docs: IndexedSeq[Doc], val expectedKept: Set[Long],
      val families: Int, val junk: Int)

  def corpus(seed: Long, nDocs: Int): Corpus = {
    val r = new SplittableRandom(seed)
    val syll = for (c <- "bcdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    val vocab = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < 6000) {
        val w = (0 until 2 + r.nextInt(2)).map(_ => syll(r.nextInt(syll.length))).mkString +
          (if (r.nextInt(3) == 0) "n" else "")
        if (!Reserved.contains(w)) seen += w
      }
      seen.toIndexedSeq
    }
    def word(): String = vocab(r.nextInt(vocab.length))
    // starts "the ... of": two English markers whatever else is drawn, so
    // the language gate can never call an English document undetermined
    def english(): IndexedSeq[String] =
      IndexedSeq("the", word(), "of") ++
        IndexedSeq.fill(77 + r.nextInt(61))(if (r.nextInt(4) == 0) Stop(r.nextInt(Stop.length)) else word())
    def exactCopy(ws: IndexedSeq[String]): String = r.nextInt(3) match {
      case 0 => ws.mkString(" ").toUpperCase
      case 1 => "  " + ws.mkString("  ") + "\n"
      case _ => ws.grouped(12).map(_.mkString(" ")).mkString("\n")
    }
    def nearCopy(ws: IndexedSeq[String]): IndexedSeq[String] = {
      val out = ws.toArray
      val content = ws.indices.filterNot(i => Stop.contains(ws(i)))
      (0 until math.max(1, ws.length * 8 / 100)).foreach { _ =>
        val i = content(r.nextInt(content.length))
        var w = word()
        while (w == out(i)) w = word()
        out(i) = w
      }
      out.toIndexedSeq
    }
    def junkDoc(kind: Int): String = kind match {
      case 0 => Seq.fill(70)(if (r.nextInt(10) < 3) EsMarkers(r.nextInt(5)) else word()).mkString(" ")
      case 1 => Seq.fill(90)(word()).mkString(" ")
      case _ => Seq.fill(8 + r.nextInt(5))(EnMarkers(r.nextInt(5))).mkString(" ")
    }
    // Copy counts follow a fixed pattern, not the seed: the number and
    // shape of duplicate clusters set how much work dedup does, and that
    // must not change from one seed to the next.
    val copyPattern = IndexedSeq(0, 0, 0, 0, 1, 0, 0, 0, 0, 2, 0, 0, 0, 1, 0, 0, 0, 0, 1, 0)

    // (family, text, tokens of gate-passing docs); family -1 is junk
    val drafts = mutable.ArrayBuffer.empty[(Int, String, IndexedSeq[String])]
    val nJunk = nDocs / 20
    (0 until nJunk).foreach(i => drafts += ((-1, junkDoc(i % 3), IndexedSeq.empty)))
    var fam = 0
    while (drafts.length < nDocs) {
      val ws = english()
      drafts += ((fam, ws.mkString(" "), ws))
      (0 until copyPattern(fam % 20)).foreach(_ => drafts += ((fam, exactCopy(ws), ws)))
      (0 until copyPattern((fam * 7 + 3) % 20)).foreach { _ =>
        val n = nearCopy(ws); drafts += ((fam, n.mkString(" "), n))
      }
      fam += 1
    }
    val kept = drafts.take(nDocs)
    // Fisher-Yates: ids follow the shuffled order
    val order = Array.tabulate(kept.length)(identity)
    for (i <- order.indices.reverse) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val docs = order.indices.map(i => Doc(i + 1L, kept(order(i))._2))
    val familyOf = order.indices.map(i => kept(order(i))._1)
    val tokensOf = order.indices.map(i => kept(order(i))._3)

    // Accidental near duplicates across families would change the kept
    // set; find any pair with 3-gram Jaccard >= 0.3 and merge its families.
    val parent = mutable.Map.empty[Int, Int]
    def find(f: Int): Int = { val p = parent.getOrElse(f, f); if (p == f) f else { val q = find(p); parent(f) = q; q } }
    val shingles = tokensOf.map(ws => ws.sliding(3).map(_.mkString(" ")).toSet)
    val byShingle = mutable.Map.empty[String, mutable.ArrayBuffer[Int]]
    docs.indices.filter(familyOf(_) >= 0).foreach(i =>
      shingles(i).foreach(s => byShingle.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += i))
    val candidates = byShingle.valuesIterator.flatMap { ds =>
      for (a <- ds.iterator; b <- ds.iterator if a < b && familyOf(a) != familyOf(b)) yield (a, b)
    }.toSet
    candidates.foreach { case (a, b) =>
      val inter = (shingles(a) & shingles(b)).size.toDouble
      if (inter / (shingles(a).size + shingles(b).size - inter) >= 0.3)
        parent(find(familyOf(a))) = find(familyOf(b))
    }
    val expected = docs.indices.filter(familyOf(_) >= 0)
      .groupBy(i => find(familyOf(i))).values.map(is => is.map(docs(_).id).min).toSet
    new Corpus(docs, expected, fam, nJunk)
  }
}
