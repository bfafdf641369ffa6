package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The same seed must give byte-identical input files; another seed must not. */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.Engine.session(master = "local[2]", shufflePartitions = 2,
    appName = "perfbench-gen-spec")
  private val root = Files.createTempDirectory("perfbench-gen-spec")

  override def afterAll(): Unit = {
    spark.stop()
    graft.io.FsUtil.deleteRecursively(root.toString)
  }

  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  /** Digest of every input file, keyed by its directory (part-file names
    * carry a random id, so only the contents are compared).
    */
  private def inputs(workload: String, seed: Long, run: Int): Seq[(String, String)] = {
    val work = Files.createDirectories(root.resolve(s"$workload-$seed-$run"))
    val ctx = new Ctx(spark, work, seed)
    workload match {
      case "mapreduce-text" => new MapReduceText(ctx).generate()
      case "ann-query" => new AnnQuery(ctx).generate()
      case "stream-ingest" => new StreamIngest(ctx).generate()
    }
    val in = work.resolve("in")
    Files.walk(in).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .map(p => (in.relativize(p.getParent).toString, sha(Files.readAllBytes(p))))
      .sorted
  }

  for (w <- Seq("mapreduce-text", "ann-query", "stream-ingest")) {
    test(s"$w inputs are a function of the seed") {
      val a = inputs(w, 11, 1)
      assert(a.nonEmpty)
      assert(a == inputs(w, 11, 2))
      assert(a != inputs(w, 12, 1))
    }
  }

  test("the text corpus keeps the reference's quirks") {
    val text = Gen.corpus(5, 2000)
    val lines = Oracle.lines(text)
    assert(!text.endsWith("\n") && lines.last.nonEmpty)
    assert(lines.contains(""))
    assert(lines.exists(l => l.nonEmpty && l.trim.isEmpty))
    assert(lines.exists(_.contains("  ")))
    assert(text.exists(_ > 127) && text.exists(_.isDigit) && text.exists(c => ",.!?".contains(c)))
  }
}
