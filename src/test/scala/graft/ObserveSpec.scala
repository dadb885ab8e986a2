package graft

import graft.etl.Etl
import graft.operators.Observe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Observe-based flow metrics (the NiFi LogAttribute equivalent): counters
  * ride the existing action, no second scan.
  */
class ObserveSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("parseMetrics counts input, unparseable and bad-coord rows in one pass") {
    val wireJson = Seq(
      """{"id":"1","icao":"AAAA","name":"alpha","lat":"10","lon":"20"}""",
      """{"id":"2","name":"no-icao","lat":"-5","lon":"7"}""",
      """{"id":"3","icao":"CCCC","name":"bad","lat":"bogus","lon":"7"}""",
      """{"id":"4","icao":"DDDD","name":"empty","lat":"","lon":"7"}""",
      """{"id":"5","icao":"EEEE","name":"trunc","lat":"1""",
      """{"id":"6","icao":"FFFF","name":"zeta","lat":"-89","lon":"179"}""",
      """{"id":"7","icao":"GGGG","name":"lonbad","lat":"4","lon":"junk"}""")
    val wire = wireJson.toDF("s").select(encode($"s", "UTF-8").as("value"))
    val observed = Observe.parseMetrics(Etl.parse(wire))
    val cleaned = Etl.clean(observed)
    // the action the metrics ride on must execute cleaned's own
    // queryExecution (collect/write do; count() plans its own aggregate)
    assert(cleaned.collect().length == 3)
    val m = Observe.metricsOf(cleaned, "graft_parse").get
    assert(m("rows_in") == 7L)
    assert(m("rows_unparseable") == 1L) // truncated JSON → all-null struct
    assert(m("rows_bad_coord") == 2L)   // "bogus" lat + "junk" lon ('' is its own case)
  }

  test("rowCount metric equals the action's row count without a second scan") {
    val df = Observe.rowCount(Tables.documents(spark, TestSpark.sf), "docs")
    val n = df.collect().length.toLong
    assert(Observe.metricsOf(df, "docs").get("rows") == n)
    assert(Observe.metricsOf(df, "nope").isEmpty)
  }
}
