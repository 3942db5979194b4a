package journeybench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded documents and questions of the Engine workloads. The vocabulary
  * is fixed; every draw from it comes from the run's seed, so the same seed
  * gives the same inputs. Documents are about 300 characters of
  * Zipf-distributed words, the size of the sf0.1 `documents` rows. */
object Corpus {

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "po", "da",
    "fi", "gu", "he", "ja", "ko", "le", "ma", "nu", "or", "pi", "qu", "ra", "se", "tu", "ul",
    "ve", "wi", "xa", "yo")

  val Vocab: Array[String] = {
    val r = new SplittableRandom(20240101L)
    val words = mutable.LinkedHashSet.empty[String]
    while (words.size < 800)
      words += Iterator.fill(1 + r.nextInt(3))(Syllables(r.nextInt(Syllables.length))).mkString
    words.toArray
  }

  private val cumulative: Array[Double] = {
    val w = Vocab.indices.map(i => 1.0 / math.pow(i + 1, 0.9))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cumulative, r.nextDouble())
    Vocab(math.min(if (i >= 0) i else -i - 1, Vocab.length - 1))
  }

  /** One document of 260-340 characters. */
  def text(r: SplittableRandom): String = {
    val target = 260 + r.nextInt(81)
    val sb = new StringBuilder
    while (sb.length < target) { if (sb.nonEmpty) sb += ' '; sb ++= word(r) }
    sb.toString
  }

  /** A question: a run of 6-10 consecutive words of `doc`. */
  def question(r: SplittableRandom, doc: String): String = {
    val ws = doc.split(' ')
    val len = math.min(ws.length, 6 + r.nextInt(5))
    val from = r.nextInt(ws.length - len + 1)
    ws.slice(from, from + len).mkString(" ")
  }
}
