package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The DuckDB oracles are spliced from shared SQL fragments; these checks
  * catch a broken splice on the JVM, without running DuckDB.
  */
class OracleCoverageSpec extends AnyFunSuite with Matchers {

  private val oracles = SparkEntry.oracleSql

  test("every query has an oracle and every oracle a query") {
    oracles.keySet shouldBe SparkEntry.queries.keySet
    oracles.size shouldBe 137
  }

  test("every oracle is one SELECT or WITH statement") {
    val bad = oracles.filterNot { case (_, sql) =>
      val head = sql.dropWhile(c => c.isWhitespace || c == '(')
      head.startsWith("SELECT") || head.startsWith("WITH")
    }
    bad.keys shouldBe empty
  }

  test("no oracle holds an unexpanded fragment or an unstripped margin") {
    oracles.filter(_._2.contains("${")).keys shouldBe empty
    // a line opening with one `|` is a margin a fragment kept; `||` is concat
    val margin = "(?m)^\\s*\\|(?!\\|)".r
    oracles.filter { case (_, sql) => margin.findFirstIn(sql).isDefined }.keys shouldBe empty
  }
}
