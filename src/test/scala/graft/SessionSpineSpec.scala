package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.functions.{HilbertIndex, PolyHash}

/** The engine's two spines: ONE function table feeds every session's SQL
  * functions, and ONE factory (`Engine.session`) builds every session.
  */
class SessionSpineSpec extends SparkSpec {

  /** One SQL call per table entry and the value it must produce. */
  private val samples: Map[String, (String, Any)] = Map(
    "poly_hash" -> ("poly_hash('abc')", PolyHash.hash("abc")),
    "cosine_sim" -> ("cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F))", 1.0),
    "dot_product" -> ("dot_product(array(2.0F, 3.0F), array(4.0F, 5.0F))", 23.0),
    "shingle_hashes" -> ("size(shingle_hashes('a b c d'))", 2),
    "tokenize_with_offsets" -> ("tokenize_with_offsets('ab cd', 0)[1].off", 3L),
    "lsh_bucket" ->
      ("lsh_bucket(array(0.5F, 1.5F, 2.5F, 0.5F), 4, 4, 7) BETWEEN 0 AND 15", true),
    "word_ngrams" -> ("size(word_ngrams('a b c', 2))", 2),
    // e + COMBINING ACUTE (65 CC 81) composes to U+00E9 (C3 A9)
    "nfc_normalize" -> ("hex(nfc_normalize(decode(unhex('65CC81'), 'UTF-8')))", "C3A9"),
    "winnowed_fingerprints" ->
      ("size(winnowed_fingerprints('the quick brown fox jumps over', 2, 2)) > 0", true),
    "jaro_winkler" -> ("jaro_winkler('martha', 'marhta')", 0.9611111111111111),
    // unrestricted transposition: CA -> AC -> ABC
    "damerau_levenshtein" -> ("damerau_levenshtein('CA', 'ABC')", 2),
    "l2_distance" -> ("l2_distance(array(3.0F, 0.0F), array(0.0F, 4.0F))", 5.0),
    "hilbert_index" -> ("hilbert_index(3L, 4L, 6)", HilbertIndex.xy2d(6, 3L, 4L)))

  test("the function table declares 13 distinct names, each with a sample") {
    val names = GraftExtensions.functions.map(_._1)
    assert(names.size == 13)
    assert(names.distinct.size == names.size)
    assert(names.toSet == samples.keySet)
  }

  test("every table function resolves and evaluates from SQL in an " +
    "extensions-only session") {
    // newSession: builtins plus the extension's functions, no temp functions
    val s = spark.newSession()
    GraftExtensions.functions.foreach { case (name, _, _) =>
      val (sql, expected) = samples(name)
      val got = s.sql(s"SELECT $sql").head().get(0)
      assert(got == expected, s"$name: $sql gave $got, expected $expected")
    }
  }

  test("only Engine.scala calls the session builder") {
    // split so this file's own source does not match
    val needle = ("SparkSession" + """\s*\.\s*builder""").r
    val root = Paths.get(System.getProperty("user.dir"))
    val dirs = Seq("src/main/scala", "src/test/scala").map(root.resolve)
    dirs.foreach(d => assert(Files.isDirectory(d), s"$d not found"))
    def scalaFiles(d: Path): Seq[Path] =
      Using.resource(Files.walk(d))(_.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList)
    val hits = dirs.flatMap(scalaFiles).flatMap { f =>
      val text = Files.readString(f)
      needle.findAllMatchIn(text).map { m =>
        val lineStart = text.lastIndexOf('\n', m.start) + 1
        (f.getFileName.toString, text.substring(lineStart, m.start).trim)
      }
    }
    assert(hits.count(_._1 == "Engine.scala") == 1, hits)
    // the two exempt mentions: a Scaladoc usage example and an error
    // message, i.e. a comment line or a string literal
    val exempt = Set("GraftExtensions.scala", "GraftChangeFeedStream.scala")
    hits.filterNot(_._1 == "Engine.scala").foreach { case (file, prefix) =>
      assert(exempt(file), s"$file builds its own SparkSession")
      assert(prefix.startsWith("*") || prefix.startsWith("\""),
        s"$file names the session builder outside a comment or string")
    }
  }
}
