package e2ebench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Seeded input generator. The program sees only what this writes.
  *
  * A document is a run of paragraphs joined by a blank line. Every
  * paragraph is 80 to 140 characters long and opens with a tag that names
  * its document, position and version (`d17p3v0`), so:
  *  - the recursive chunker at 150/30 returns each paragraph as one chunk
  *    (a paragraph plus the next one is over 150 characters, and a paragraph
  *    is longer than the 30-character overlap), so the chunk count of a
  *    document is its paragraph count;
  *  - every chunk text in the corpus is unique, also across edits.
  */
final case class Doc(id: String, version: Int, paragraphs: Vector[String]) {
  def text: String = paragraphs.mkString("\n\n")
}

final class Corpus(seed: Long) {
  private val rnd = new scala.util.Random(seed)

  /** A fixed vocabulary of pronounceable words, drawn from the seed. */
  private val vocab: Vector[String] = {
    val on = Vector("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "br", "st", "tr")
    val nu = Vector("a", "e", "i", "o", "u", "ai", "ou")
    Vector.fill(3000) {
      (1 to 1 + rnd.nextInt(3)).map(_ => on(rnd.nextInt(on.size)) + nu(rnd.nextInt(nu.size))).mkString
    }.distinct
  }

  private def paragraph(tag: String): String = {
    val target = 80 + rnd.nextInt(61) // 80..140 characters
    val sb = new StringBuilder(tag)
    var done = false
    while (!done) {
      val w = vocab(rnd.nextInt(vocab.size))
      if (sb.length + 1 + w.length + 1 > target) done = true
      else sb.append(' ').append(w)
    }
    while (sb.length < 79) sb.append(" a")
    sb.append('.').toString
  }

  private def doc(n: Int, paras: Int): Doc = {
    val id = f"d$n%06d"
    Doc(id, 0, Vector.tabulate(paras)(p => paragraph(s"${id}p${p}v0")))
  }

  /** Documents `from` until `from + count`. Paragraph counts cycle through
    * minParas..maxParas by document number, so the corpus size does not
    * depend on the seed; the seed only places them and writes the words.
    */
  def docs(from: Int, count: Int, minParas: Int, maxParas: Int): Vector[Doc] = {
    val counts = rnd.shuffle(Vector.tabulate(count)(i => minParas + (from + i) % (maxParas - minParas + 1)))
    Vector.tabulate(count)(i => doc(from + i, counts(i)))
  }

  /** A new version of `d`: every paragraph rewritten, same paragraph count. */
  def edit(d: Doc): Doc = {
    val v = d.version + 1
    Doc(d.id, v, Vector.tabulate(d.paragraphs.size)(p => paragraph(s"${d.id}p${p}v$v")))
  }

  /** `n` distinct indices out of `0 until size`. */
  def pick(size: Int, n: Int): Vector[Int] = rnd.shuffle((0 until size).toVector).take(n)

  /** A question made of a shuffled half of one paragraph's words: its hit
    * depends on the embedder, so no check asserts it.
    */
  def looseQuestion(d: Doc): String = {
    val words = d.paragraphs(rnd.nextInt(d.paragraphs.size)).stripSuffix(".").split(' ').toVector
    rnd.shuffle(words).take(math.max(2, words.size / 2)).mkString(" ")
  }
}

object Corpus {
  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
