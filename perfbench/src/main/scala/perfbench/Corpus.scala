package perfbench

import java.text.Normalizer

import scala.collection.mutable

/** One generated document: id, text and a 32-dimensional embedding. */
final case class Doc(id: Long, text: String, emb: Array[Float])

/** Seeded text and vector generation shared by the corpus workloads,
  * plus the independent references their checks use: shingle sets,
  * exact Jaccard and cosine in plain Scala, on the engine's documented
  * semantics (NFC plus control-character strip for cleaning; lower
  * case, whitespace split and distinct word 3-grams for shingles). */
final class TextGen(seed: Long) {
  val Dim = 32
  private val rnd = new scala.util.Random(seed)
  private val syllables = Vector("ka", "lo", "mi", "ter", "van", "dos", "pre", "quo", "sil",
    "run", "bel", "cor", "fa", "gen", "hu", "jis", "mar", "nel", "pol", "rez", "sta", "tun",
    "vel", "wex", "zor", "bri", "cla", "dre", "flo", "gru")
  private def word(r: scala.util.Random, syl: Int): String = {
    val w = (1 to syl).map(_ => syllables(r.nextInt(syllables.length))).mkString
    // one word in twenty carries a composed accent, so NFC matters
    if (r.nextInt(20) == 0) w.patch(1, "é", 1) else w
  }
  /** English-like vocabulary (words of 2-3 syllables) and a disjoint
    * "other language" one (4 syllables); neither holds a stopword. */
  val english: Vector[String] = Vector.fill(3000)(word(rnd, 2 + rnd.nextInt(2))).distinct
  val other: Vector[String] = Vector.fill(800)(word(rnd, 4)).distinct
  val stop = Vector("the", "a", "an", "and", "of", "to", "in", "is")

  /** Opens with "the" and holds "and" mid-way, so every English text
    * passes the two-stopword language test whatever else it draws. */
  def englishText(r: scala.util.Random, nTok: Int): String =
    Vector.tabulate(nTok) { i =>
      if (i == 0) "the" else if (i == nTok / 2) "and"
      else if (r.nextInt(7) == 0) stop(r.nextInt(stop.length))
      else english(r.nextInt(english.length))
    }.mkString(" ")

  def otherText(r: scala.util.Random, nTok: Int): String =
    Vector.fill(nTok)(other(r.nextInt(other.length))).mkString(" ")

  /** Replace `k` distinct token positions (never the two stopwords
    * that keep the text English) with different vocabulary words. */
  def edit(r: scala.util.Random, text: String, k: Int): String = {
    val toks = text.split(" ")
    r.shuffle(toks.indices.filter(i => i != 0 && i != toks.length / 2).toVector).take(k).foreach { i =>
      var w = toks(i)
      while (w == toks(i)) w = english(r.nextInt(english.length))
      toks(i) = w
    }
    toks.mkString(" ")
  }

  def embedding(r: scala.util.Random): Array[Float] = Array.fill(Dim)(r.nextGaussian().toFloat)
}

object TextRef {
  /** NFC canonical composition, then drop C0 controls except tab and
    * newline, DEL and C1 controls. */
  def clean(s: String): String =
    Normalizer.normalize(s, Normalizer.Form.NFC).filterNot { c =>
      (c < 0x20 && c != '\t' && c != '\n') || (c >= 0x7f && c <= 0x9f)
    }

  def shingles(s: String, n: Int = 3): Set[String] = {
    val toks = s.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
    if (toks.length < n) Set.empty else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a intersect b).size.toDouble / (a union b).size

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i).toDouble; na += a(i) * a(i).toDouble; nb += b(i) * b(i).toDouble; i += 1 }
    d / math.sqrt(na * nb)
  }

  /** Members of each connected component other than its minimum id. */
  def clusterRemovals(pairs: Iterable[(Long, Long)]): Set[Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.filter(x => find(x) != x).toSet
  }
}
