package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CONF` parsing: well-formed pairs pass through, malformed
  * segments fail naming the segment. */
class BenchConfSpec extends AnyFunSuite {

  test("key=value pairs parse in order; values keep their '='") {
    assert(Bench.parseConf("a.b=1;c.d=x=y;e=") ==
      Seq("a.b" -> "1", "c.d" -> "x=y", "e" -> ""))
    assert(Bench.parseConf("a=1;") == Seq("a" -> "1"))
    assert(Bench.parseConf("") == Nil)
  }

  test("a segment with an empty key, no '=' or a blank in the key is rejected") {
    for ((spec, seg) <- Seq("=v" -> "=v", "a=1;typo" -> "typo", "a=1;;b=2" -> "",
                            "a =1" -> "a =1")) {
      val e = intercept[IllegalArgumentException](Bench.parseConf(spec))
      assert(e.getMessage.contains(s"'$seg'"), s"$spec: ${e.getMessage}")
    }
  }
}
