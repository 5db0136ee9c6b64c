package perfbench

import scala.collection.mutable
import scala.util.Random

/** One generated chunk: a 20–40-word window plus its `source`/`lang` metadata. */
final case class ChunkSpec(text: String, source: String, lang: String) {
  def metadata: Map[String, String] = Map("source" -> source, "lang" -> lang)
}

/**
 * Seeded synthetic text. The vocabulary is fixed; the seed only picks the
 * windows, so every seed draws from the same word distribution. Words are
 * Zipf-skewed, which (with a 64-dim hashing embedder) yields the many exact
 * score ties real short texts produce.
 */
object Corpus {
  val Sources: Array[String] = Array("web", "news", "wiki", "forum", "books")
  val Langs: Array[String] = Array("en", "de", "fr", "es")

  private val syllables: IndexedSeq[String] =
    for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"

  val vocab: Array[String] = {
    val r = new Random(7L)
    val words = mutable.LinkedHashSet.empty[String]
    while (words.size < 4000)
      words += Seq.fill(2 + r.nextInt(3))(syllables(r.nextInt(syllables.size))).mkString
    words.toArray
  }

  private val cdf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / math.pow(i + 1.0, 0.9))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  def word(r: Random): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
  }

  def window(r: Random): String = Seq.fill(20 + r.nextInt(21))(word(r)).mkString(" ")

  def chunk(r: Random): ChunkSpec =
    ChunkSpec(window(r), Sources(r.nextInt(Sources.length)), Langs(r.nextInt(Langs.length)))
}

/** The inputs of one run: library chunks and held-out query texts. */
final class Corpus(seed: Long, nChunks: Int, nQueries: Int) {
  private val r = new Random(seed)
  val chunks: Array[ChunkSpec] = Array.fill(nChunks)(Corpus.chunk(r))
  val queries: Array[String] = {
    val taken = chunks.iterator.map(_.text).toSet
    Iterator.continually(Corpus.window(r)).filterNot(taken).take(nQueries).toArray
  }
  val queryVecs: Array[Array[Float]] = queries.map(RefEmbed(_))
}

/**
 * An independent copy of graft's default text embedder (64-dim signed
 * feature hashing, seed 42, L2-normalized), so the benchmark checks the
 * program's embeddings instead of trusting them.
 */
object RefEmbed {
  val Dim = 64
  private val Seed = 42L

  private def tokenHash(token: String): Long = {
    var h = Seed
    var i = 0
    while (i < token.length) { h = h * 31 + token.charAt(i); i += 1 }
    var z = h + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def apply(text: String): Array[Float] = {
    val v = new Array[Float](Dim)
    text.toLowerCase.split("\\W+").foreach { tok =>
      if (tok.nonEmpty) {
        val h = tokenHash(tok)
        v(java.lang.Math.floorMod(h, Dim.toLong).toInt) += (if ((h >>> 62 & 1L) == 0L) 1.0f else -1.0f)
      }
    }
    var norm = 0.0
    v.foreach(x => norm += x.toDouble * x)
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm)).toFloat
      var i = 0
      while (i < Dim) { v(i) *= inv; i += 1 }
    }
    v
  }

  /** Cosine in the same operation order as graft's `cosine_sim`, so equal inputs give equal bits. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

final case class Entry(text: String, emb: Array[Float], meta: Map[String, String])

/**
 * What the benchmark believes one library holds, updated when a write is
 * acknowledged. The one client is serial, so every search sees exactly
 * these rows.
 */
final class LibraryState(val indexType: String, val id: String, val docId: String) {
  val rows: mutable.HashMap[String, Entry] = mutable.HashMap.empty
}

/** One parsed search hit. */
final case class Hit(id: String, docId: String, text: String, emb: Array[Float],
    meta: Map[String, String], score: Double, distance: Double)

/** Correctness checks on search responses; each returns the failures it found. */
object Check {
  val K = 10
  private val Eps = 1e-9

  /** Exact top-k of the library's rows under the filter: score desc, then id asc. */
  def topK(state: LibraryState, q: Array[Float], filter: Option[(String, String)]): IndexedSeq[(String, Double)] =
    state.rows.iterator
      .filter { case (_, e) => filter.forall { case (k, v) => e.meta.get(k).contains(v) } }
      .map { case (id, e) => (id, RefEmbed.cosine(e.emb, q)) }
      .toIndexedSeq
      .sortBy { case (id, s) => (-s, id) }
      .take(K)

  /** Checks that need no knowledge of the library's current contents. */
  def selfContained(hits: Seq[Hit], q: Array[Float], state: LibraryState,
      filter: Option[(String, String)]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (hits.size > K) errs += s"${hits.size} results for k=$K"
    if (hits.map(_.id).distinct.size != hits.size) errs += "duplicate ids"
    hits.foreach { h =>
      if (h.score.isNaN || h.distance.isNaN) errs += s"NaN score for ${h.id}"
      else if (math.abs(h.score - RefEmbed.cosine(h.emb, q)) > Eps)
        errs += s"score ${h.score} of ${h.id} is not the cosine of its embedding"
      if (!java.util.Arrays.equals(h.emb, RefEmbed(h.text))) errs += s"embedding of ${h.id} is not its text's"
      if (h.docId != state.docId) errs += s"${h.id} is not in library ${state.id}"
      filter.foreach { case (k, v) =>
        if (!h.meta.get(k).contains(v)) errs += s"${h.id} fails filter $k=$v"
      }
    }
    hits.sliding(2).foreach {
      case Seq(a, b) =>
        val ordered = a.score > b.score || (a.score == b.score && a.id < b.id)
        if (!ordered) errs += s"order broken at ${a.id} / ${b.id}"
      case _ =>
    }
    errs.toSeq
  }

  /** Checks against the known contents; returns (failures, tie-aware recall). */
  def againstState(hits: Seq[Hit], q: Array[Float], state: LibraryState,
      filter: Option[(String, String)]): (Seq[String], Double) = {
    val errs = mutable.ArrayBuffer.empty[String]
    val expected = topK(state, q, filter)
    def passes(e: Entry) = filter.forall { case (k, v) => e.meta.get(k).contains(v) }
    hits.foreach { h =>
      state.rows.get(h.id) match {
        case None => errs += s"${h.id} is not a live chunk of the library"
        case Some(e) if !passes(e) => errs += s"${h.id} fails the filter in the stored state"
        case Some(e) if math.abs(RefEmbed.cosine(e.emb, q) - h.score) > Eps =>
          errs += s"${h.id} scored against a stale embedding"
        case _ =>
      }
    }
    val cutoff = expected.lastOption.map(_._2).getOrElse(Double.PositiveInfinity)
    val hitsAtCutoff = hits.count(_.score >= cutoff - Eps)
    val recall = if (expected.isEmpty) 1.0 else hitsAtCutoff.toDouble / expected.size
    if (state.indexType == "exact") {
      if (hits.size != expected.size) errs += s"exact returned ${hits.size}, expected ${expected.size}"
      hits.zip(expected).foreach { case (h, (id, s)) =>
        if (math.abs(h.score - s) > Eps) errs += s"exact score ${h.score} where brute force has $s"
        // equal scores must break ties by id; only a sub-epsilon near-tie may swap ids
        else if (h.id != id && h.score == s)
          errs += s"exact returned ${h.id} where brute force has $id"
      }
    }
    (errs.toSeq, recall)
  }
}
