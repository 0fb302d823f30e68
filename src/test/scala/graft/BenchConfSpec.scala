package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the launch parses — the SPARK_GRAFT_CONF passthrough, the
  * numeric launch variables, SkewGen's flags — and the locale-proof
  * number formatting in the bench artifact. Every failure mode here is
  * silent or misattributed until runtime (a MatchError mid-bench, a
  * Spark error that names no variable, a flag quietly ignored, or a
  * decimal comma producing an unparseable artifact under a non-ROOT
  * locale).
  */
class BenchConfSpec extends AnyFunSuite {

  test("semicolon-separated key=value pairs parse in order") {
    assert(Harness.parseConf("a=1;spark.graft.x=y z; c==v ") ===
      Seq("a" -> "1", "spark.graft.x" -> "y z", "c" -> "=v"))
  }

  test("empty segments are tolerated, an empty string parses to nothing") {
    assert(Harness.parseConf(";;a=1;;") === Seq("a" -> "1"))
    assert(Harness.parseConf("") === Seq.empty)
  }

  test("a pair without '=' (or with an empty key) fails loudly, naming the entry") {
    val e = intercept[IllegalArgumentException](Harness.parseConf("a=1;oops"))
    assert(e.getMessage.contains("'oops'"))
    val e2 = intercept[IllegalArgumentException](Harness.parseConf("=v"))
    assert(e2.getMessage.contains("'=v'"))
  }

  test("steal formatting is locale-independent") {
    // Harness.num4 pins Locale.ROOT internally, so asserting the output
    // directly IS the locale test — no JVM-global setDefault, which
    // under sbt's parallel suites could transiently flake any
    // concurrently-running locale-sensitive formatting. The pinned
    // expectations (dot decimal separator, 4 digits) are exactly what
    // a de_DE default would break if the ROOT pin were ever dropped:
    // String.format without it renders 0,1235.
    assert(Harness.num4(0.1234567) === "0.1235")
    assert(Harness.num4(-1.0) === "-1.0000")
  }

  test("artifact string fields escape quotes, backslashes, and control chars") {
    assert(Harness.jsonStr("""a\b"c""") === """a\\b\"c""")
    assert(Harness.jsonStr("x\ny\tz") === "x\\u000ay\\u0009z")
    assert(Harness.jsonStr("plain=value;k2=v2") === "plain=value;k2=v2")
  }

  test("a bad numeric launch variable fails at harness start, naming it") {
    val cpus = intercept[IllegalArgumentException](
      Harness.settings(Map("SPARK_GRAFT_CPUS" -> "abc")))
    assert(cpus.getMessage.contains("SPARK_GRAFT_CPUS"), cpus.getMessage)
    val parts = intercept[IllegalArgumentException](
      Harness.settings(Map("SPARK_GRAFT_PARTS" -> "0")))
    assert(parts.getMessage.contains("SPARK_GRAFT_PARTS"), parts.getMessage)
    val ok = Harness.settings(Map("SPARK_GRAFT_CPUS" -> "6"))
    assert((ok.master, ok.parts) === ("local[6]", 6))
    assert(Harness.settings(Map("SPARK_GRAFT_PARTS" -> " 64 ")).parts === 64)
    val passes = intercept[IllegalArgumentException](
      Harness.positiveInt("SPARK_GRAFT_PASSES", "5", max = 4))
    assert(passes.getMessage.contains("SPARK_GRAFT_PASSES"), passes.getMessage)
  }

  test("SkewGen rejects an unknown flag, naming it") {
    val e = intercept[IllegalArgumentException](SkewGen.main(Array("in", "out", "order")))
    assert(e.getMessage.contains("unknown flag(s) order;") &&
      e.getMessage.contains("[orders] [parts]"),
      e.getMessage)
  }
}
