package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite via lazy val. Each
  * test ends the way each query ends in Bench or Verify: the session's
  * cached frames are dropped, so no test inherits another's cache.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  override protected def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally spark.catalog.clearCache()

  /** Recursive temp-fixture delete (children before parents); missing
    * paths are fine. The one cleanup idiom for every spec that stages
    * parquet/checkpoint dirs under /tmp.
    */
  def deleteRecursively(dir: java.nio.file.Path): Unit =
    if (dir != null && java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
