package graft

import org.scalatest.funsuite.AnyFunSuite

/** MicroBench arm parsing — pure argument handling, no session. */
class MicroBenchSpec extends AnyFunSuite {

  test("an arm is a query name with optional comma-separated k=v settings") {
    assert(MicroBench.parseArm("q114_triangles") ==
      MicroBench.Arm("q114_triangles", "q114_triangles", Nil))
    assert(MicroBench.parseArm("q114_triangles@a=1,b=2") ==
      MicroBench.Arm("q114_triangles@a=1,b=2", "q114_triangles",
        Seq("a" -> "1", "b" -> "2")))
    // only the first '=' splits: values may carry their own
    assert(MicroBench.parseArm("q114_triangles@k=x=y").settings == Seq("k" -> "x=y"))
  }

  test("an unknown query or a setting without '=' is rejected") {
    val unknown = intercept[IllegalArgumentException](
      MicroBench.parseArm("q999_nope@a=1"))
    assert(unknown.getMessage.contains("unknown query 'q999_nope'"))
    val malformed = intercept[IllegalArgumentException](
      MicroBench.parseArm("q114_triangles@a=1,b"))
    assert(malformed.getMessage.contains("malformed setting 'b'"))
    intercept[IllegalArgumentException](MicroBench.parseArm("q114_triangles@"))
    intercept[IllegalArgumentException](MicroBench.parseArm("q114_triangles@=1"))
  }
}
