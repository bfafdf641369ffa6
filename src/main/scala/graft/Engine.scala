package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * The reference's "cluster lifecycle" (`/root/reference/driver.py:86-154` —
  * GCP VM provisioning, scp code shipping, XML-RPC endpoints) is entirely
  * subsumed by Spark's cluster manager; the only engine-side concern left is
  * session configuration. Defaults are tuned for the local[32] test rig but
  * every choice is the one you'd make on a 1000-executor cluster too:
  *
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
  *  - shuffle.partitions sized to cores locally; on a real cluster this is
  *    overridden by AQE's target advisory size anyway.
  *  - UTC session timezone so timestamp semantics match the DuckDB oracle.
  *
  * This is the only place a session is built: Bench, Verify, the tools,
  * the test trait and perfbench all call [[session]] (SessionSpineSpec
  * guards it), and the engine's SQL functions arrive through the
  * extension's one table, [[GraftExtensions.functions]].
  */
object Engine {
  def session(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Register every fixture table as a temp view so plain
    * `spark.sql("SELECT ... FROM lineitem")` works — the engine's SQL
    * entry point over a scale-factor directory.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    graft.io.Tables.all.foreach { t =>
      graft.io.Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }
}
