package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan of `src/main` that keeps the launch surface in one place:
  * one `SparkSession.builder` call (Harness), environment reads only in
  * the mains that own them, `spark.graft.*` key strings only in
  * GraftConf, and cached state released only by the callers'
  * `catalog.clearCache()` and `Artifacts.clearAll()`. It also keeps
  * every code fragment in one place: no six code lines are copied.
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

  test("the star-contraction CC engine is called only from Dedup (behind the size switch)") {
    // private[graft] still admits graft.queries; query code must go
    // through Dedup.connectedComponents, which delegates past 50M pairs
    assert(filesMatching("connectedComponentsDistributed(") === Seq("Dedup.scala"))
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

  test("no run of 6 code lines appears twice in src/main (copy lint)") {
    // lines are stripped; blank lines, comment lines and lines of only
    // brackets, commas and semicolons are skipped. A copied fragment
    // belongs in one definition (Helpers, or the module that owns it).
    val window = 6
    def code(l: String): Boolean = l.nonEmpty && !l.startsWith("//") &&
      !l.startsWith("*") && !l.startsWith("/**") && !l.forall("()[]{},;".contains(_))
    val starts = sources.flatMap { case (p, src) =>
      val kept = src.linesIterator.zipWithIndex
        .map { case (l, i) => (l.strip, i + 1) }
        .filter(l => code(l._1)).toSeq
      kept.sliding(window).filter(_.size == window)
        .map(w => w.map(_._1) -> s"${root.relativize(p)}:${w.head._2}")
    }
    val copies = starts.groupBy(_._1).values.filter(_.size > 1)
      .map(_.map(_._2).mkString(" = ")).toSeq.sorted
    if (copies.nonEmpty) fail(copies.mkString("copied windows:\n", "\n", ""))
  }

  test("registry runners clear the cache; no hand-rolled cache release") {
    val runners = sources.filter { case (_, src) =>
      src.contains("Harness.selected") || src.contains("SparkEntry.queries(")
    }
    assert(runners.nonEmpty)
    runners.foreach { case (p, src) =>
      assert(src.contains("catalog.clearCache()"), s"${name(p)} never clears the cache")
    }
    for (needle <- Seq("QueryExecutionListener", "WeakReference", "ThreadLocal",
        "def clearCache"))
      assert(filesMatching(needle).isEmpty, s"$needle in ${filesMatching(needle)}")
  }
}
