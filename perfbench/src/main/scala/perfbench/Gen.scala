package perfbench

import scala.collection.mutable.ArrayBuffer

/** Seeded workload inputs. Everything the engine receives is built here from
  * the run's `--seed`, so one seed gives byte-identical inputs on every run.
  *
  * The corpus mirrors the shape of the `documents` fixture at sf0.1 (5,000
  * docs; `doc_id`, `text`, `lang`, `source` over 20 sources, `n_chars`;
  * ~116k BM25 postings) but draws its words Zipf-distributed from a 2,000-word
  * vocabulary instead of the fixture's 31 words. With 31 words every document
  * is a near-duplicate of every other one, so clustering collapses into one
  * cluster and planted matches cannot be told apart from noise.
  */
final case class Doc(id: Long, text: String, lang: String, source: String)

final class Gen(seed: Long) {
  private val vocab: Array[String] = {
    val r = new scala.util.Random(seed ^ 0x5eedL)
    val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "qu", "de", "bi", "go", "fu", "ha", "je", "wy", "xo", "ce")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < Gen.VocabSize) {
      val n = 2 + r.nextInt(3)
      seen += (0 until n).map(_ => syll(r.nextInt(syll.length))).mkString
    }
    seen.toArray
  }

  // Zipf cumulative weights over the vocabulary
  private val cdf: Array[Double] = {
    val w = Array.tabulate(Gen.VocabSize)(i => math.pow(i + 1.0, -Gen.ZipfExponent))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }

  private def word(r: scala.util.Random): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
  }

  def text(r: scala.util.Random): String =
    Array.fill(Gen.MinTokens + r.nextInt(Gen.MaxTokens - Gen.MinTokens + 1))(word(r))
      .mkString(" ")

  private val langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  /** `n` documents with ids `firstId until firstId + n`, from stream `stream`. */
  def docs(n: Int, firstId: Long = 0L, stream: Long = 1L): Vector[Doc] = {
    val r = new scala.util.Random(seed * 31 + stream)
    Vector.tabulate(n) { i =>
      Doc(firstId + i, text(r), langs(r.nextInt(langs.length)), s"src${r.nextInt(Gen.Sources)}")
    }
  }

  /** Token drop, adjacent swap and duplicate: 1 to 3 edits of one text. */
  def perturb(t: String, r: scala.util.Random): String = {
    val toks = ArrayBuffer.from(t.split(" "))
    (0 until 1 + r.nextInt(3)).foreach { _ =>
      val i = r.nextInt(toks.length)
      r.nextInt(3) match {
        case 0 if toks.length > 2 => toks.remove(i)
        case 1 if i + 1 < toks.length => val x = toks(i); toks(i) = toks(i + 1); toks(i + 1) = x
        case _ => toks.insert(i, toks(i))
      }
    }
    toks.mkString(" ")
  }

  /** `n` perturbed copies of distinct documents: (perturbed id, source doc). */
  def perturbations(corpus: Vector[Doc], n: Int, firstId: Long): Vector[(Doc, Long)] = {
    val r = new scala.util.Random(seed * 31 + 7)
    r.shuffle(corpus).take(n).zipWithIndex.map { case (d, i) =>
      (d.copy(id = firstId + i, text = perturb(d.text, r)), d.id)
    }
  }

  /** A unit vector near `v`: Gaussian noise of scale `sigma` per lane. */
  def noised(v: Array[Double], sigma: Double, r: scala.util.Random): Array[Double] = {
    val out = v.map(_ + r.nextGaussian() * sigma)
    val n = math.sqrt(out.map(x => x * x).sum)
    out.map(_ / n)
  }
}

object Gen {
  val VocabSize = 2000
  /** Flat enough that unrelated documents stay far apart under the hash embedder. */
  val ZipfExponent = 0.6
  val MinTokens = 10
  val MaxTokens = 38
  val Sources = 20
}
