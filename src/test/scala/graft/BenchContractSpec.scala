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
}
