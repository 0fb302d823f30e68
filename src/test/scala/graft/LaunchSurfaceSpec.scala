package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan of `src/main` that keeps the launch surface in one place:
  * one `SparkSession.builder` call (Harness), environment reads only in
  * the mains that own them, and `spark.graft.*` key strings only in
  * GraftConf.
  */
class LaunchSurfaceSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(Path, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private def name(p: Path): String = p.getFileName.toString

  private def filesMatching(needle: String): Seq[String] =
    sources.filter(_._2.contains(needle)).map(s => name(s._1)).sorted

  test("src/main has exactly one SparkSession.builder, in Harness") {
    val sites = sources.flatMap { case (p, src) =>
      "SparkSession.builder".r.findAllMatchIn(src).map(_ => name(p))
    }
    assert(sites === Seq("Harness.scala"))
  }

  test("engine packages never read the environment") {
    val readers = sources.filter { case (_, src) =>
      src.contains("sys.env") || src.contains("System.getenv")
    }
    val engine = readers.filter(_._1.getParent != root.resolve("graft"))
    assert(engine.isEmpty, engine.map(_._1).mkString(", "))
    assert(readers.map(r => name(r._1)).sorted ===
      Seq("Bench.scala", "Harness.scala", "PlanProbe.scala"))
  }

  test("each SPARK_GRAFT_* variable is read at one site, shared ones in Harness") {
    val read = """\.(?:get|getOrElse)\(\s*"(SPARK_GRAFT_[A-Z_]+)"""".r
    val sites = sources.flatMap { case (p, src) =>
      read.findAllMatchIn(src).map(m => m.group(1) -> name(p))
    }
    val own = Map("SPARK_GRAFT_PASSES" -> "Bench.scala",
      "SPARK_GRAFT_BENCH_OUT" -> "Bench.scala",
      "SPARK_GRAFT_PLAN_OUT" -> "PlanProbe.scala")
    assert(sites.map(_._1).distinct.size === sites.size, sites.mkString(", "))
    assert(sites.size === 13, sites.map(_._1).sorted.mkString(", "))
    sites.foreach { case (v, file) =>
      assert(file === own.getOrElse(v, "Harness.scala"), s"$v read in $file")
    }
  }

  test("spark.graft.* key strings appear only in GraftConf") {
    assert(filesMatching("\"spark.graft.") === Seq("GraftConf.scala"))
  }
}
