package perfbench

import scala.collection.mutable

/** Independent expected outputs, in plain Scala: no Spark and no program
  * code, so a defect shared by the program and its own helpers cannot hide.
  */
object Oracle {

  /** The reference's cleaning: delete every character outside `[a-zA-Z0-9 ]`. */
  def clean(s: String): String =
    s.filter(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == ' ')

  /** The file's lines as a line reader sees them: split on `\n`, with a
    * final `\n` ending the last line rather than starting an empty one.
    */
  def lines(text: String): Seq[String] =
    if (text.isEmpty) Nil
    else {
      val parts = text.split("\n", -1).toSeq
      if (text.endsWith("\n")) parts.init else parts
    }

  final case class TextResult(counts: Map[String, Long], postings: Map[String, Seq[Long]])

  /** Word count and inverted index with the reference's offset quirks: a
    * blank line adds 1 to the running offset and is dropped; any other line
    * adds its cleaned length; within a line each emitted word advances the
    * offset by its length + 1, and empty tokens from runs of spaces do not.
    */
  def mapReduce(text: String): TextResult = {
    val counts = mutable.HashMap[String, Long]()
    val posts = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
    var offset = 0L
    lines(text).foreach { raw =>
      if (raw.isEmpty) offset += 1
      else {
        val c = clean(raw)
        var off = offset
        c.split(" ", -1).filter(_.nonEmpty).foreach { w =>
          counts(w) = counts.getOrElse(w, 0L) + 1
          posts.getOrElseUpdate(w, mutable.ArrayBuffer[Long]()) += off
          off += w.length + 1
        }
        offset += c.length
      }
    }
    TextResult(counts.toMap, posts.map { case (w, p) => w -> p.sorted.toSeq }.toMap)
  }

  /** For each query, the ids of the `k` corpus vectors with the highest
    * cosine to it, ties by id.
    */
  def exactTopK(queries: Seq[Array[Float]], corpus: Seq[(Long, Array[Float])],
                k: Int): Seq[Seq[Long]] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val ids = corpus.map(_._1).toArray
    val vs = corpus.map(_._2).toArray
    val norms = vs.map(norm)
    queries.map { q =>
      val qn = norm(q)
      val cos = Array.tabulate(vs.length) { i =>
        val v = vs(i)
        var dot = 0.0
        var j = 0
        while (j < v.length) { dot += q(j).toDouble * v(j); j += 1 }
        dot / (qn * norms(i))
      }
      cos.indices.sortBy(i => (-cos(i), ids(i))).take(k).map(ids(_))
    }
  }
}
