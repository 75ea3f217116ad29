package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The (query, oracle) registry, the measurement mains' shared query
  * selector, and the oracle_sql.json the driver's DuckDB compare loads.
  * No SparkSession needed. */
class RegistrySpec extends AnyFunSuite {

  test("registry: unique names, a non-blank oracle each, q1_agg runs first") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct === names)
    assert(SparkEntry.byName.keys.toSeq === names)
    val blank = SparkEntry.registry.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries without an oracle: $blank")
    assert(names.head === "q1_agg")
    val sql = "SELECT 1"
    val e = intercept[IllegalArgumentException](Query.registry(
      Query("a", (s, d) => s.emptyDataFrame, sql),
      Query("b", (s, d) => s.emptyDataFrame, sql),
      Query("a", (s, d) => s.emptyDataFrame, sql)))
    assert(e.getMessage.contains("duplicate query names: a"))
  }

  test("selector: trims names, keeps registry order, defaults to everything") {
    assert(Harness.select(Some(" cmf_ford, q1_agg ")).map(_.name) ===
      Seq("q1_agg", "cmf_ford"))
    assert(Harness.select(None) === SparkEntry.registry)
  }

  test("selector: an unknown name or an all-empty list fails, naming the entries") {
    val typo = intercept[IllegalArgumentException](
      Harness.select(Some("q1_agg, cmf_frod,q_nope")))
    assert(typo.getMessage.contains("cmf_frod, q_nope"), typo.getMessage)
    val empty = intercept[IllegalArgumentException](Harness.select(Some(" , ,")))
    assert(empty.getMessage.contains("' , ,'"), empty.getMessage)
  }

  test("oracle JSON parses back to the registry's name -> SQL map") {
    val hostile = "SELECT 'a\tb\r\nc' AS \"q\\\"\", '\u0001' AS x"
    val pairs = SparkEntry.registry.map(q => q.name -> q.oracleSql) :+
      ("zz_hostile" -> hostile)
    val parsed = new ObjectMapper().readValue(Verify.oracleJson(pairs),
      classOf[java.util.LinkedHashMap[String, String]]).asScala
    assert(parsed.keys.toSeq === pairs.map(_._1))
    assert(parsed.toMap === pairs.toMap)
    assert(parsed("zz_hostile") === hostile)
  }
}
