package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** `Verify`'s subset argument comes from the command line: a subset that
  * names no query, or a query that does not exist, is refused before any
  * session starts, instead of writing an empty dump the correctness check
  * would pass. */
class VerifySpec extends AnyFunSuite {

  test("Verify rejects an empty or unknown query subset") {
    val out = Files.createTempDirectory("graft_verify_subset").resolve("out")
    Seq("", ",", " , ").foreach { subset =>
      val e = intercept[IllegalArgumentException](Verify.main(Array("sf", out.toString, subset)))
      assert(e.getMessage.contains("empty query subset"), subset)
    }
    val e = intercept[IllegalArgumentException] {
      Verify.main(Array("sf", out.toString, "q4_hourly_rollup,no_such_query"))
    }
    assert(e.getMessage.contains("unknown queries: no_such_query"))
    assert(!Files.exists(out))
  }
}
