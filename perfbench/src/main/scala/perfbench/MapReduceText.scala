package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import graft.api.JobConfig
import graft.io.TextRecords

/** The paper's workload: word count, then inverted index, each dispatched
  * from a reference-shaped `input_info.json` through `JobConfig.run` and
  * written with the reference's result sink (one JSON object per job).
  */
final class MapReduceText(ctx: Ctx) extends ClosedLoop[(Path, Path)](ctx) {
  private val Lines = 5000
  private val Jobs = Seq("word_count", "inverted_index")
  private val in = ctx.dir("in")
  private val out = ctx.dir("out")
  private val corpus = in.resolve("corpus.txt")
  private var expected: Oracle.TextResult = _
  private var verified: Option[Seq[String]] = None // digests of checked outputs
  private var recall, precision = 0.0

  def generate(): Unit = {
    val text = Gen.corpus(ctx.seed, Lines)
    Gen.writeText(corpus, text)
    expected = Oracle.mapReduce(text)
    Jobs.foreach { job =>
      Files.writeString(in.resolve(s"input_info_$job.json"),
        s"""{"input_file_location": "corpus.txt", "mapper_file": "mapper_$job.py", """ +
          s""""reducer_file": "reducer_$job.py", "no_of_mappers": "3", """ +
          s""""no_of_reducers": "3", "project_id": "perfbench"}""")
    }
  }

  def op(i: Int): (Path, Path) = {
    val Seq(wc, ii) = Jobs.map { job =>
      val dest = out.resolve(s"$job.json")
      ctx.tracer.span(s"jobs.$job") {
        val df = JobConfig.run(ctx.spark, in.resolve(s"input_info_$job.json").toString)
        TextRecords.writeJsonObject(df, dest.toString)
      }
      dest
    }
    (wc, ii)
  }

  private def digest(p: Path): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString

  /** The first result is compared entry by entry with the oracle; later
    * ones must be byte-identical to it.
    */
  def check(i: Int, r: (Path, Path)): Unit = {
    val digests = Seq(digest(r._1), digest(r._2))
    if (!verified.contains(digests)) {
      val counts = MapReduceText.parseObject(Files.readString(r._1)).map { case (k, v) => k -> v.toLong }
      val posts = MapReduceText.parseObject(Files.readString(r._2)).map { case (k, v) =>
        k -> v.stripPrefix("[").stripSuffix("]").split(",").filter(_.nonEmpty).map(_.toLong).toSeq
      }
      val want = expected.counts.size + expected.postings.size
      val got = counts.size + posts.size
      val hits = counts.count { case (k, v) => expected.counts.get(k).contains(v) } +
        posts.count { case (k, v) => expected.postings.get(k).contains(v) }
      recall = hits.toDouble / want
      precision = if (got == 0) 0.0 else hits.toDouble / got
      if (hits != want || got != want)
        throw new IllegalStateException(
          s"text jobs: $hits of $want expected entries match, $got entries written")
      verified = Some(digests)
    }
  }

  override def probe(): Unit = (0 until 3).foreach { _ =>
    val records = ctx.tracer.span("io.text_records.read") {
      TextRecords.read(ctx.spark, corpus.toString, 3)
    }
    ctx.tracer.span("io.text_records.records") {
      records.write.format("noop").mode("overwrite").save()
    }
  }

  def quality(): Quality = {
    val written = Jobs.map(j => Files.size(out.resolve(s"$j.json"))).sum
    Quality(recall, precision, written.toDouble / Files.size(corpus))
  }
}

object MapReduceText {

  /** Parses the result sink's `{"key": value, ...}` object. Keys are
    * cleaned words (no quotes or escapes); values are numbers or arrays
    * of numbers written without spaces.
    */
  def parseObject(s: String): Seq[(String, String)] = {
    val body = s.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) Nil
    else body.split(", \"").map { e =>
      val kv = e.stripPrefix("\"")
      val q = kv.indexOf("\": ")
      require(q > 0, s"malformed entry: $e")
      kv.substring(0, q) -> kv.substring(q + 3)
    }.toSeq
  }
}
