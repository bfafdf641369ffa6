package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Seeded input generators. Everything here is a function of the seed, so
  * the same seed gives byte-identical files (GenSpec checks this by hash).
  */
object Gen {

  final case class Doc(doc_id: Long, text: String)
  final case class Vec(vec_id: Long, embedding: Array[Float])

  /** Zipf(s) over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double, rnd: Random) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** `n` distinct lower-case words of 2 to 9 letters. */
  def words(rnd: Random, n: Int): IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n)
      seen += Iterator.fill(2 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString
    seen.toIndexedSeq
  }

  private val Punct = Array(".", ",", ";", ":", "!", "?", "\"", "'s", ")")

  /** The paper's input: a text file with the reference's quirks — blank
    * lines, lines of spaces or of punctuation only, punctuation and
    * non-ASCII letters inside words, runs of spaces, digits, mixed case,
    * and a last line with no newline. `lines` sets the size.
    */
  def corpus(seed: Long, lines: Int): String = {
    val rnd = new Random(seed)
    val vocab = words(rnd, 20000).zipWithIndex.map { case (w, i) =>
      if (i % 23 == 0) w.capitalize
      else if (i % 31 == 0) w + (i % 1000)
      else if (i % 37 == 0) (1900 + i % 130).toString
      else w
    }
    val zipf = new Zipf(vocab.size, 1.05, rnd)
    val sb = new StringBuilder
    for (i <- 0 until lines) {
      val u = rnd.nextDouble()
      val last = i == lines - 1
      if (u < 0.05 && !last) () // blank line
      else if (u < 0.06 && !last) sb ++= " " * (1 + rnd.nextInt(4))
      else if (u < 0.07 && !last) sb ++= "-- * --"
      else {
        val k = 2 + rnd.nextInt(16)
        for (j <- 0 until k) {
          if (j > 0) sb ++= (if (rnd.nextDouble() < 0.06) " " * (2 + rnd.nextInt(2)) else " ")
          val w = vocab(zipf.next())
          val d = rnd.nextDouble()
          if (d < 0.03) sb ++= "(" ++= w
          else if (d < 0.05) sb ++= w.take(1) ++= "é" ++= w.drop(1)
          else if (d < 0.06) sb ++= w ++= "-" ++= vocab(zipf.next())
          else if (d < 0.16) sb ++= w ++= Punct(rnd.nextInt(Punct.length))
          else sb ++= w
        }
      }
      if (!last) sb += '\n'
    }
    sb.toString
  }

  private def doc(rnd: Random, vocab: IndexedSeq[String], zipf: Zipf,
                  minWords: Int, maxWords: Int): Array[String] =
    Array.fill(minWords + rnd.nextInt(maxWords - minWords + 1))(vocab(zipf.next()))

  /** A near copy: `edits` words replaced at random positions. */
  private def nearCopy(rnd: Random, vocab: IndexedSeq[String], zipf: Zipf,
                       ws: Array[String], edits: Int): Array[String] = {
    val c = ws.clone()
    (0 until edits).foreach(_ => c(rnd.nextInt(c.length)) = vocab(zipf.next()))
    c
  }

  /** Streaming ingest input: a base corpus and `batches` batches of
    * `perBatch` documents, of which `dups` per batch repeat a document of
    * the base or of an earlier batch — half as exact copies, half with
    * one word replaced. Returns (base, batches, planted dup id → exact?).
    */
  def ingest(seed: Long, base: Int, batches: Int, perBatch: Int,
             dups: Int): (Seq[Doc], Seq[Seq[Doc]], Map[Long, Boolean]) = {
    val rnd = new Random(seed)
    val vocab = words(rnd, 30000)
    val zipf = new Zipf(vocab.size, 1.0, rnd)
    var nextId = 0L
    def fresh(ws: Array[String]) = { nextId += 1; Doc(nextId - 1, ws.mkString(" ")) }
    val baseDocs = Seq.fill(base)(fresh(doc(rnd, vocab, zipf, 60, 120)))
    val pool = scala.collection.mutable.ArrayBuffer[Doc](baseDocs: _*)
    val planted = scala.collection.mutable.Map[Long, Boolean]()
    val out = (0 until batches).map { _ =>
      val originals = Seq.fill(perBatch - dups)(fresh(doc(rnd, vocab, zipf, 60, 120)))
      val copies = Seq.fill(dups) {
        val src = pool(rnd.nextInt(pool.length)).text.split(" ")
        val exact = rnd.nextBoolean()
        val d = fresh(if (exact) src else nearCopy(rnd, vocab, zipf, src, 1))
        planted(d.doc_id) = exact
        d
      }
      pool ++= originals
      rnd.shuffle(originals ++ copies)
    }
    (baseDocs, out, planted.toMap)
  }

  /** Unit vectors in tight groups of about ten around `n / 10` seeded
    * points, which themselves scatter around `centres` seeded centres; plus
    * `queries` held-out vectors drawn the same way (ids from 1e9).
    */
  def vectors(seed: Long, n: Int, dim: Int, centres: Int, queries: Int): (Seq[Vec], Seq[Vec]) = {
    val rnd = new Random(seed)
    val big = Array.fill(centres, dim)(rnd.nextGaussian())
    val groups = Array.fill(math.max(1, n / 10)) {
      big(rnd.nextInt(centres)).map(_ + 0.5 * rnd.nextGaussian())
    }
    def draw(id: Long): Vec = {
      val g = groups(rnd.nextInt(groups.length))
      val v = g.map(_ + 0.15 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Vec(id, v.map(x => (x / norm).toFloat))
    }
    (Seq.tabulate(n)(i => draw(i.toLong)), Seq.tabulate(queries)(i => draw(1000000000L + i)))
  }

  def writeText(path: Path, text: String): Unit = Files.write(path, text.getBytes(UTF_8))

  /** Writes `rows` as `files` parquet files under `dir`, split in order. */
  def writeRows[T <: Product : ClassTag : TypeTag](spark: SparkSession, rows: Seq[T], dir: Path,
                                                   files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files))
      .write.mode("overwrite").parquet(dir.toString)
}
