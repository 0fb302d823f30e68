package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the SPARK_GRAFT_CONF passthrough parse and the locale-proof
  * number formatting in the bench artifact — both failure modes here
  * are silent-until-runtime (a MatchError mid-bench, or a decimal
  * comma producing an unparseable artifact under a non-ROOT locale).
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
    // Harness.num pins Locale.ROOT internally, so asserting the output
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
}
