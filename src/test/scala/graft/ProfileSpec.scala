package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[Profile]] on two small queries: the JSON it writes, its plan files,
  * and compiled-code reuse across warm runs.
  */
class ProfileSpec extends AnyFunSuite with Matchers {

  private val sf = "/root/testdata/sf0.001"
  private val names = Seq("q_broadcast_enrich", "q_denorm_orders_lines")
  private val fields = Seq("cold_s", "warm_s", "jobs", "stage_tasks", "task_cpu_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "compiles", "plan")
  private val planFields = Seq("exchange_hash", "exchange_single", "broadcast_exchange",
    "scans", "joins")

  test("one complete row and one plan file per query; warm runs compile nothing") {
    val dir = Files.createTempDirectory("graft-profile")
    val out = dir.resolve("PROFILE.json")
    Profile.write(TestSpark.spark, sf, names.reverse, out, Some(dir.resolve("plans")))

    val json = new ObjectMapper().readTree(out.toFile)
    json.get("sf").asText shouldBe sf
    json.get("cpus").asInt should be > 0
    json.get("warm_runs").asInt shouldBe Profile.WarmRuns
    val queries = json.get("queries")
    queries.fieldNames.asScala.toSeq shouldBe names
    names.foreach { n =>
      withClue(s"$n: ") {
        val row = queries.get(n)
        row.fieldNames.asScala.toSeq shouldBe fields
        row.get("plan").fieldNames.asScala.toSeq shouldBe planFields
        (fields.filterNot(Set("stage_tasks", "plan")).map(row.get) ++
          planFields.map(row.get("plan").get)).foreach(_.isNumber shouldBe true)
        row.get("jobs").asInt should be >= 1
        row.get("stage_tasks").size should be >= 1
        row.get("plan").get("scans").asInt should be >= 1
        // a warm run plans the same shapes as the cold one, so the codegen
        // cache already holds every class it needs
        row.get("compiles").asLong shouldBe 0L
        Files.readString(dir.resolve(s"plans/$n.txt")) should include("== Physical Plan ==")
      }
    }
    queries.get("q_broadcast_enrich").get("plan").get("broadcast_exchange").asInt should be >= 1
    Files.list(dir.resolve("plans")).count() shouldBe names.size
  }

  test("an unknown query name is refused before anything runs") {
    val dir = Files.createTempDirectory("graft-profile")
    val e = intercept[IllegalArgumentException] {
      Profile.write(TestSpark.spark, sf, Seq("q_no_such_query"), dir.resolve("P.json"), None)
    }
    e.getMessage should include("q_no_such_query")
    Files.exists(dir.resolve("P.json")) shouldBe false
  }
}
