package graft

import java.nio.file.Files

/** Verify's failure contract: a query that throws is named in the
  * returned failure list instead of being swallowed. */
class VerifySpec extends SparkSpec {

  test("dump returns the name of a query that fails") {
    val out = Files.createTempDirectory("graft_verify").toString
    val name = "q1_pricing_summary"
    val missing = Files.createTempDirectory("graft_verify_src").resolve("absent").toString
    assert(Verify.dump(spark, missing, out, Some(Set(name))) == Seq(name))
  }
}
