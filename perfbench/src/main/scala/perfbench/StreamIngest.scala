package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.ext.Dedup
import graft.io.Sources
import graft.ops.VersionedTable

/** The write path: a Structured Streaming query drains a backlog of staged
  * document batches (AvailableNow, one file per trigger, so each trigger
  * starts when the previous one is done). Each batch is deduplicated
  * against a persisted MinHash band index, its survivors are appended to
  * a versioned table and registered in the index; every 4th batch
  * compacts the index. A round drains the whole backlog into a fresh table
  * and index; each micro-batch is one operation.
  */
final class StreamIngest(ctx: Ctx) extends Workload {
  private val Base = 500
  private val Backlog = 4
  private val PerBatch = 100
  private val Dups = 10
  private val WarmBatches = 1
  private val CompactEvery = 4
  private val Threshold = 0.8
  private val in = ctx.dir("in")
  private val stage = in.resolve("stage")
  private val warmStage = in.resolve("stage-warm")
  private var batchIds = IndexedSeq.empty[Set[Long]]
  private var planted = Map.empty[Long, Boolean]
  private var inputBytes = 0L
  private var round = 0
  private var recall, precision = 0.0
  private var stored = 0.0
  private var dataFiles = 0

  private def roundDir(r: Int): Path = ctx.work.resolve(s"round-$r")
  private def table(r: Int) = roundDir(r).resolve("table").toString
  private def index(r: Int) = roundDir(r).resolve("index").toString

  def generate(): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val (base, batches, plantedIds) = Gen.ingest(ctx.seed, Base, Backlog, PerBatch, Dups)
    Gen.writeRows(spark, base, in.resolve("base"), 1)
    // one write lays out every batch as its own file
    val tmp = in.resolve("batches")
    batches.zipWithIndex.flatMap { case (ds, b) => ds.map(d => (b, d.doc_id, d.text)) }
      .toDF("batch", "doc_id", "text").coalesce(1)
      .write.partitionBy("batch").parquet(tmp.toString)
    Files.createDirectories(stage)
    Files.createDirectories(warmStage)
    batches.indices.foreach { b =>
      val part = Files.list(tmp.resolve(s"batch=$b")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = stage.resolve(f"batch-$b%03d.parquet")
      Files.move(part, dest)
      // distinct modification times fix the order the file source takes them in
      dest.toFile.setLastModified(1000000000000L + b * 1000L)
      if (b < WarmBatches)
        Files.copy(dest, warmStage.resolve(dest.getFileName)).toFile
          .setLastModified(1000000000000L + b * 1000L)
    }
    graft.io.FsUtil.deleteRecursively(tmp.toString)
    batchIds = batches.map(_.map(_.doc_id).toSet).toIndexedSeq
    planted = plantedIds
    inputBytes = Ctx.bytesUnder(stage) + Ctx.bytesUnder(in.resolve("base"))
    spark.streams.addListener(ctx.listeners.streams)
  }

  /** A fresh table and index holding the base corpus. */
  override def setUp(): Unit = {
    round += 1
    if (round > 1) graft.io.FsUtil.deleteRecursively(roundDir(round - 1).toString)
    val base = Sources.readParquet(ctx.spark, in.resolve("base").toString)
    VersionedTable.init(base, table(round))
    Dedup.writeBandIndex(base, "text", "doc_id", index(round))
  }

  override def setUpRuns: Int = 3

  /** Drains the files of `from` into round `r`; returns the ids each
    * batch dropped.
    */
  private def drain(from: Path, r: Int): Map[Long, Set[Long]] = {
    val spark = ctx.spark
    val dropped = mutable.Map[Long, Set[Long]]()
    val schema = spark.read.parquet(in.resolve("base").toString).schema
    val body = (batch: DataFrame, batchId: Long) =>
      ctx.tracer.span("ingest.batch", r * 1000 + batchId.toInt) {
        batch.persist()
        val dups = ctx.tracer.span("ext.dedup.join_indexed") {
          Dedup.nearDupJoinIndexed(batch, spark, index(r), "text", "doc_id", Threshold)
            .select("da").distinct().collect().map(_.getLong(0)).toSet
        }
        val survivors = batch.where(!col("doc_id").isin(dups.toSeq.map(Long.box): _*))
        ctx.tracer.span("ops.versioned_table.append") { VersionedTable.append(survivors, table(r)) }
        ctx.tracer.span("ext.dedup.append_index") {
          Dedup.appendToBandIndexIdempotent(survivors, "text", "doc_id", index(r), batchId)
        }
        if ((batchId + 1) % CompactEvery == 0)
          ctx.tracer.span("ext.dedup.compact_index")(Dedup.compactBandIndex(spark, index(r)))
        batch.unpersist()
        dropped.synchronized(dropped(batchId) = dups)
      }
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(from.toString)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", roundDir(r).resolve("checkpoint").toString)
      .foreachBatch(body).start()
    try q.awaitTermination() finally q.stop()
    dropped.synchronized(dropped.toMap)
  }

  override def warmUp(): Unit = {
    setUp()
    drain(warmStage, round)
  }

  /** Whole rounds, at least one, until the deadline: every round ingests
    * the same backlog, so quality figures do not depend on speed.
    */
  def run(deadlineNs: Long): Unit =
    do {
      setUp()
      val r = round
      val before = ctx.listeners.triggers.size
      val outcome = scala.util.Try(drain(stage, r)).flatMap(d => scala.util.Try(check(r, d)))
      ctx.listeners.drain(ctx.spark)
      val times = ctx.listeners.triggers.asScala.drop(before).toMap
      (0 until Backlog).foreach { b =>
        ctx.record(r * 1000 + b, outcome.toEither.flatMap { _ =>
          times.get(b.toLong).map(_.toDouble)
            .toRight(new IllegalStateException(s"no progress event for batch $b"))
        })
      }
    } while (System.nanoTime() < deadlineNs)

  private def check(r: Int, dropped: Map[Long, Set[Long]]): Unit = {
    def fail(msg: String) = throw new IllegalStateException(s"stream-ingest round $r: $msg")
    if (dropped.keySet != (0L until Backlog).toSet) fail(s"batches ${dropped.keySet.toSeq.sorted}")
    dropped.foreach { case (b, ids) =>
      val mine = batchIds(b.toInt)
      if (!ids.subsetOf(mine)) fail(s"batch $b dropped ids it does not hold")
      if (!ids.forall(planted.contains)) fail(s"batch $b dropped an original document")
      if (!mine.filter(id => planted.get(id).contains(true)).subsetOf(ids))
        fail(s"batch $b admitted an exact duplicate")
    }
    val all = dropped.values.flatten.toSet
    val expected = (0L until Base.toLong).toSet ++ batchIds.flatten.filterNot(all)
    val rows = VersionedTable.read(ctx.spark, table(r)).select("doc_id").collect().map(_.getLong(0))
    if (rows.length != expected.size || rows.toSet != expected)
      fail(s"table holds ${rows.length} rows, expected ${expected.size}")
    recall = all.count(planted.contains).toDouble / planted.size
    precision = if (all.isEmpty) 0.0 else all.count(planted.contains).toDouble / all.size
    stored = (Ctx.bytesUnder(Path.of(table(r))) + Ctx.bytesUnder(Path.of(index(r)))).toDouble / inputBytes
    dataFiles = VersionedTable.manifestFiles(table(r), VersionedTable.latestVersion(table(r))).size
  }

  def quality(): Quality = Quality(recall, precision, stored)

  override def layerCounts(): Map[String, Double] = {
    val traced = ctx.ops.filter(_.traced).map(o => o.id -> o.ms).toMap
    val bodies = ctx.tracer.spans.filter(s => s.name == "ingest.batch" && traced.contains(s.op))
    Map("ops.versioned_table.data_files" -> dataFiles.toDouble,
      "streaming.trigger_ms" -> Stats.mean(traced.values.toSeq),
      "streaming.overhead_ms" -> Stats.mean(bodies.map(s => traced(s.op) - s.durNs / 1e6)))
  }
}
