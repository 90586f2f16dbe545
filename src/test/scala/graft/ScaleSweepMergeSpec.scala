package graft

import org.scalatest.funsuite.AnyFunSuite

class ScaleSweepMergeSpec extends AnyFunSuite {

  test("targeted-run rows merge by (decade, query); untouched rows survive") {
    val dir = java.nio.file.Files.createTempDirectory("sweepmerge")
    val path = dir.resolve("SCALESWEEP.json")
    java.nio.file.Files.writeString(path,
      """{"reps":2,"cpus":"8","generated_utc":"old","decade2_excluded":[],
        |"sweeps":[{"decade":"sf0.1->sf1","rows":[
        |  {"query":"q1","t_lo":1.0,"t_hi":2.0,"exponent":0.3},
        |  {"query":"q2","t_lo":1.0,"t_hi":9.9,"exponent":1.0}]}]}""".stripMargin)
    val run =
      """{"reps":3,"cpus":"8","generated_utc":"new","decade2_excluded":[],
        |"sweeps":[
        |  {"decade":"sf0.1->sf1","rows":[{"query":"q2","t_lo":1.0,"t_hi":2.0,"exponent":0.3}]},
        |  {"decade":"sf1->sf10","rows":[{"query":"q3","t_lo":1.0,"t_hi":3.0,"exponent":0.5}]}]}""".stripMargin
    val merged = ScaleSweep.mergeArtifact(path, run)
    import com.fasterxml.jackson.databind.ObjectMapper
    val m = new ObjectMapper().readTree(merged)
    assert(m.get("reps").asInt === 3)
    assert(m.get("generated_utc").asText === "new")
    val sweeps = m.get("sweeps")
    assert(sweeps.size === 2)
    val d1 = sweeps.get(0)
    assert(d1.get("decade").asText === "sf0.1->sf1")
    assert(d1.get("rows").size === 2)
    // q1 untouched, q2 replaced by the rerun
    assert(d1.get("rows").get(0).get("exponent").asDouble === 0.3)
    assert(d1.get("rows").get(1).get("exponent").asDouble === 0.3)
    val d2 = sweeps.get(1)
    assert(d2.get("decade").asText === "sf1->sf10")
    assert(d2.get("rows").get(0).get("query").asText === "q3")
    // a missing artifact passes the run through unchanged
    assert(ScaleSweep.mergeArtifact(dir.resolve("absent.json"), run) === run)
  }

  test("not_swept and a third decade merge into a base that predates them") {
    val dir = java.nio.file.Files.createTempDirectory("sweepmerge2")
    val path = dir.resolve("SCALESWEEP.json")
    // base from before the not_swept field / sf10->sf100 decade existed
    java.nio.file.Files.writeString(path,
      """{"reps":2,"cpus":"8","generated_utc":"old","decade2_excluded":[],
        |"sweeps":[{"decade":"sf0.1->sf1","rows":[
        |  {"query":"q1","t_lo":1.0,"t_hi":2.0,"exponent":0.3}]}]}""".stripMargin)
    val run =
      """{"reps":2,"cpus":"8","generated_utc":"new",
        |"decade2_excluded":[{"query":"qx","reason":"output-bound"}],
        |"not_swept":[{"query":"qy","reason":"events byte-copied"}],
        |"sweeps":[
        |  {"decade":"sf10->sf100","rows":[{"query":"q255","t_lo":0.6,"t_hi":8.8,"exponent":1.1}]}]}""".stripMargin
    val merged = ScaleSweep.mergeArtifact(path, run)
    import com.fasterxml.jackson.databind.ObjectMapper
    val m = new ObjectMapper().readTree(merged)
    // old decade survives untouched, the new decade appends
    assert(m.get("sweeps").size === 2)
    assert(m.get("sweeps").get(0).get("rows").get(0).get("query").asText === "q1")
    assert(m.get("sweeps").get(1).get("decade").asText === "sf10->sf100")
    // run-level provenance fields come from this run
    assert(m.get("not_swept").get(0).get("query").asText === "qy")
    assert(m.get("decade2_excluded").get(0).get("query").asText === "qx")
  }

  test("a run on another core count is refused, not merged under the artifact's label") {
    val dir = java.nio.file.Files.createTempDirectory("sweepmerge3")
    val path = dir.resolve("SCALESWEEP.json")
    val base = """{"reps":2,"cpus":8,"generated_utc":"old",
      |"sweeps":[{"decade":"sf0.1->sf1","rows":[{"query":"q1","exponent":0.3}]}]}""".stripMargin
    java.nio.file.Files.writeString(path, base)
    val run = """{"reps":2,"cpus":4,"generated_utc":"new",
      |"sweeps":[{"decade":"sf0.1->sf1","rows":[{"query":"q2","exponent":0.4}]}]}""".stripMargin
    val e = intercept[ScaleSweep.CoresMismatch](ScaleSweep.mergeArtifact(path, run))
    assert(e.getMessage.contains("SPARK_GRAFT_CPUS=8"))
    assert(java.nio.file.Files.readString(path) === base)
  }
}
