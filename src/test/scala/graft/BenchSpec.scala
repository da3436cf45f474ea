package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's environment knobs fail fast with the variable's name. */
class BenchSpec extends AnyFunSuite {

  test("count knobs: default when unset, whole numbers >= 1, named errors otherwise") {
    assert(Bench.positiveCount(Map.empty, "SPARK_GRAFT_AB_ROUNDS", 3) === 3)
    assert(Bench.positiveCount(Map("SPARK_GRAFT_AB_ROUNDS" -> " 2 "),
      "SPARK_GRAFT_AB_ROUNDS", 3) === 2)
    for (bad <- Seq("0", "-3", "x", "1.5", "")) {
      val e = intercept[IllegalArgumentException](Bench.positiveCount(
        Map("SPARK_GRAFT_WINDOW_TRIES" -> bad), "SPARK_GRAFT_WINDOW_TRIES", 6))
      assert(e.getMessage.contains("SPARK_GRAFT_WINDOW_TRIES"), bad)
    }
  }
}
