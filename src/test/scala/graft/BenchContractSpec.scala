package graft

import org.scalatest.funsuite.AnyFunSuite

/** The fields [[Bench]] writes into its one-line JSON contract. */
class BenchContractSpec extends AnyFunSuite {
  test("the contract line's parallelism fields stay valid JSON for a non-numeric cpus value") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree("{" + Bench.parallelismJson("*", 4, "local[*]") + "}")
    assert(json.get("cpus").asText == "*" && json.get("default_parallelism").asInt == 4)
    assert(Bench.parallelismJson("8", 8, "local[8]").startsWith("\"cpus\":8,"))
  }

  test("SparkEntry.lifecycleGates names only live query keys") {
    val drifted = SparkEntry.lifecycleGates.diff(SparkEntry.queries.keySet)
    assert(drifted.isEmpty, s"lifecycleGates drifted: ${drifted.toSeq.sorted}")
  }

  test("a session width is a positive number or '*', which is the available processors") {
    assert(Sessions.parseWidth("8") == 8)
    assert(Sessions.parseWidth("*") == Runtime.getRuntime.availableProcessors())
    Seq("0", "-2", "x", "").foreach { w =>
      val e = intercept[IllegalArgumentException](Sessions.parseWidth(w))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$w'"), e.getMessage)
    }
  }
}
