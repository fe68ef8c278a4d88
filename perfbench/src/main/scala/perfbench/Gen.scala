package perfbench

import scala.util.Random

/** One point of a collection, as the benchmark knows it: the source of
  * both the rows handed to the library and the brute-force answers.
  */
final case class Pt(id: Long, vec: Array[Double], text: String, user: Long,
                    site: String, lang: String, seq: Long)

/** One raw document of a curation corpus. */
final case class Doc(id: Long, text: String, lang: String, source: String)

/** A corpus with its planted defects counted: `lowQuality` docs fail the
  * quality gate, `exactDups` copy another doc's text, `nearDups` extend
  * another doc's text by one word.
  */
final case class Corpus(docs: Seq[Doc], lowQuality: Int, exactDups: Int, nearDups: Int)

/** Seeded input generators. The library only ever sees their output. */
object Gen {
  val Dim = 64
  val Sites: IndexedSeq[String] = (0 until 20).map(i => s"site$i")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es", "it")

  /** Inverse-CDF sampler of ranks 0..n-1 with P(r) ∝ 1/(r+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(rnd: Random): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val vocab = new Zipf(400, 1.0)
  def word(rnd: Random): String = s"w${vocab.next(rnd)}"
  def text(rnd: Random, minWords: Int, maxWords: Int): String =
    Seq.fill(minWords + rnd.nextInt(maxWords - minWords + 1))(word(rnd)).mkString(" ")

  /** A tenant's points sit around two of `nClusters` shared centres, so
    * its neighbours share inverted lists the way real embeddings do.
    */
  final case class Collection(points: Array[Pt],
                              tenantOfRank: Array[Long], tenantZipf: Zipf,
                              byUser: Map[Long, Array[Pt]]) {
    /** A tenant drawn by data volume: big tenants are asked most. */
    def tenant(rnd: Random): Long = tenantOfRank(tenantZipf.next(rnd))
  }

  def collection(seed: Long, nPoints: Int, nTenants: Int,
                 nClusters: Int = 32): Collection = {
    val rnd = new Random(seed)
    val centres = Array.fill(nClusters, Dim)(rnd.nextGaussian() * 3.0)
    val home = Array.fill(nTenants, 2)(rnd.nextInt(nClusters))
    val tenantOfRank = rnd.shuffle((0 until nTenants).map(_.toLong)).toArray
    val zipf = new Zipf(nTenants, 1.0)
    val pts = Array.tabulate(nPoints) { i =>
      val rank = zipf.next(rnd)
      val c = centres(home(rank)(rnd.nextInt(2)))
      Pt(i.toLong, Array.tabulate(Dim)(d => c(d) + rnd.nextGaussian()),
        text(rnd, 6, 14), tenantOfRank(rank),
        Sites(rnd.nextInt(Sites.size)), Langs(rnd.nextInt(Langs.size)), i.toLong)
    }
    Collection(pts, tenantOfRank, zipf, pts.groupBy(_.user))
  }

  /** A query near one of the tenant's own points. */
  def queryNear(rnd: Random, p: Pt): Array[Double] =
    p.vec.map(_ + rnd.nextGaussian() * 0.5)

  /** `nBase` distinct documents plus planted defects, ids shuffled. */
  def corpus(seed: Long, nBase: Int): Corpus = {
    val rnd = new Random(seed)
    def uniqueText(n: Int): String = Seq.fill(n)(s"t${rnd.nextInt(20000)}").mkString(" ")
    val base = Seq.fill(nBase)(uniqueText(40 + rnd.nextInt(21)))
    val nDefect = nBase / 10
    val order = rnd.shuffle(base.indices.toList)
    val exact = order.take(nDefect).map(base)
    val near = order.slice(nDefect, 2 * nDefect).map(i => s"${base(i)} t${rnd.nextInt(20000)}")
    val lowQ = Seq.fill(nDefect)(uniqueText(3))
    val texts = rnd.shuffle(base ++ exact ++ near ++ lowQ)
    val docs = texts.zipWithIndex.map { case (t, i) =>
      Doc(i.toLong, t, Langs(rnd.nextInt(Langs.size)), s"web${rnd.nextInt(6)}")
    }
    Corpus(docs, nDefect, nDefect, nDefect)
  }
}

/** Brute-force answers computed in the harness, outside any timing, with
  * the library kernels' arithmetic (same fold order, so same doubles).
  */
object Twin {
  def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); sa += a(i) * a(i); sb += b(i) * b(i); i += 1 }
    s / (math.sqrt(sa) * math.sqrt(sb))
  }

  /** Euclidean top-k, ties by id: (id, distance). */
  def topL2(cands: Iterable[Pt], q: Array[Double], k: Int): Seq[(Long, Double)] =
    cands.iterator.map(p => (p.id, l2(q, p.vec))).toSeq
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** Cosine top-k, ties by id: (id, similarity). */
  def topCos(cands: Iterable[Pt], q: Array[Double], k: Int): Seq[(Long, Double)] =
    cands.iterator.map(p => (p.id, cosine(q, p.vec))).toSeq
      .sortBy { case (id, c) => (-c, id) }.take(k)

  /** Whole-word match of every term, as the filter's text condition
    * reads single-space separated text.
    */
  def hasWords(text: String, words: Seq[String]): Boolean = {
    val padded = s" $text "
    words.forall(w => padded.contains(s" $w "))
  }

  /** Same ids in the same order, scores equal to 1e-9 relative. */
  def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((gi, gs), (wi, ws)) =>
      gi == wi && math.abs(gs - ws) <= 1e-9 * math.max(1.0, math.abs(ws))
    }
}
