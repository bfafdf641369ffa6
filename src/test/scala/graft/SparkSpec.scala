package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (spark_guide.md: one lazy session, not per
  * test), built by the engine's one session factory so tests run the
  * exact config Verify and Bench run.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session(
    master = "local[4]", shufflePartitions = 4, appName = getClass.getSimpleName)

  val sf0001 = "/root/testdata/sf0.001"

  /** The committed reference-shaped corpus and its `input_info.json`
    * (src/test/resources/reference), read from the test classpath. */
  lazy val referenceDir: String =
    java.nio.file.Paths.get(getClass.getResource("/reference").toURI).toString
}
