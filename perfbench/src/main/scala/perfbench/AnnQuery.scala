package perfbench

import org.apache.spark.sql.DataFrame

import graft.ext.SimilaritySearch
import graft.io.Sources

/** Similarity search: one client sends one-vector top-10 queries, each
  * after the previous result is back, through a persisted IVF-PQ index.
  */
final class AnnQuery(ctx: Ctx) extends ClosedLoop[Seq[(Int, Long, Double)]](ctx) {
  private val N = 5000
  private val Dim = 64
  private val Centres = 32
  private val Queries = 64
  private val K = 10
  // 8-bit product-quantization codes; the index's default of 16 codewords
  // left recall@10 near 0.3 and varying by a quarter from seed to seed
  private val Ksub = 256
  private val vecDir = ctx.dir("in").resolve("vectors")
  private val index = ctx.dir("index").resolve("ivfpq").toString
  private var truth = Map.empty[Long, Set[Long]]
  private var queries = IndexedSeq.empty[Gen.Vec]
  private var expected = Map.empty[Long, Seq[(Int, Long, Double)]]
  private var recall, precision = 0.0

  def generate(): Unit = {
    val (c, q) = Gen.vectors(ctx.seed, N, Dim, Centres, Queries)
    Gen.writeRows(ctx.spark, c, vecDir, 4)
    queries = q.toIndexedSeq
    val top = Oracle.exactTopK(queries.map(_.embedding), c.map(v => v.vec_id -> v.embedding), K)
    truth = queries.map(_.vec_id).zip(top.map(_.toSet)).toMap
  }

  override def setUpRuns: Int = 3

  override def setUp(): Unit = writeIndex()

  private def writeIndex(): Unit = ctx.tracer.span("ext.similarity.index_write") {
    SimilaritySearch.writeIvfPqIndex(Sources.readParquet(ctx.spark, vecDir.toString), index,
      ksub = Ksub)
  }

  private def queryFrame(vs: Seq[Gen.Vec]): DataFrame = {
    import ctx.spark.implicits._
    vs.toDF()
  }

  private def rows(df: DataFrame): Map[Long, Seq[(Int, Long, Double)]] =
    df.collect().toSeq
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"))))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).sortBy(_._1) }

  /** One batched call answers every query once: its rows are what each
    * one-vector query must return, and they give recall against exact
    * cosine top-10 by brute force.
    */
  override def warmUp(): Unit = {
    expected = rows(SimilaritySearch.ivfPqTopKFromIndex(queryFrame(queries), index, K))
    val overlaps = queries.map { q =>
      val got = expected.getOrElse(q.vec_id, Nil).map(_._2)
      (got.count(truth(q.vec_id)), got.size)
    }
    recall = overlaps.map(_._1).sum.toDouble / (K * queries.size)
    precision = overlaps.map(_._1).sum.toDouble / math.max(1, overlaps.map(_._2).sum)
    super.warmUp()
  }

  def op(i: Int): Seq[(Int, Long, Double)] = {
    val q = queries(i % Queries)
    val df = ctx.tracer.span("ext.similarity.query_call") {
      SimilaritySearch.ivfPqTopKFromIndex(queryFrame(Seq(q)), index, K)
    }
    ctx.tracer.span("ext.similarity.query_exec")(rows(df)).getOrElse(q.vec_id, Nil)
  }

  def check(i: Int, r: Seq[(Int, Long, Double)]): Unit = {
    val q = queries(i % Queries).vec_id
    if (r.size != K || r != expected(q))
      throw new IllegalStateException(s"ann-query: query $q returned $r, expected ${expected(q)}")
  }

  override def probe(): Unit = writeIndex()

  def quality(): Quality =
    Quality(recall, precision, Ctx.bytesUnder(java.nio.file.Paths.get(index)).toDouble / (N * Dim * 4L))
}
