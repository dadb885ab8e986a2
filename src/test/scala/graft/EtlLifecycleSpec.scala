package graft

import java.nio.file.Files

import graft.etl.Etl
import graft.sinks.Sinks
import graft.sources.{HttpSource, KafkaWire}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end lifecycle tests (SURVEY.md §3.1): wire → parse → clean →
  * stats → sink → read-back verify, covering the adapters that need no
  * external broker: F3/A2 (runBatch), K1/S3 (JDBC via embedded Derby),
  * K3-surrogate (wireParquet), S1-surrogate (KafkaWire.surrogate), S4
  * (HttpSource against an in-process loopback HTTP server).
  */
class EtlLifecycleSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // Derby writes derby.log to derby.system.home; keep it out of the repo.
  System.setProperty("derby.system.home", Stage.scratch("graft-derby-").toString)

  private val wireJson = Seq(
    """{"id":"1","icao":"AAAA","name":"alpha","lat":"10","lon":"20"}""",
    """{"id":"2","name":"no-icao","lat":"-5","lon":"7"}""",      // icao absent
    """{"id":"3","icao":"CCCC","name":"bad","lat":"bogus","lon":"7"}""",
    """{"id":"4","icao":"DDDD","name":"empty","lat":"","lon":"7"}""",
    """{"id":"5","icao":"EEEE","name":"trunc","lat":"1""",       // invalid JSON
    """{"id":"6","icao":"FFFF","name":"zeta","lat":"-89","lon":"179"}""")

  private def wireOf(json: Seq[String]) = json.toDF("s").select(encode($"s", "UTF-8").as("value"))
  private def wire = wireOf(wireJson)

  test("runBatch: count-gate → parse → clean → stats → sink → read-back (parquet)") {
    val out = Stage.scratch("graft-lifecycle-").toString + "/cleaned"
    val (nClean, nStats) = Etl.runBatch(spark, wire,
      df => df.write.mode("overwrite").parquet(out))
    assert(nClean == 3)   // ids 1, 2, 6 survive
    assert(nStats == 1)
    val back = spark.read.parquet(out)
    assert(back.count() == nClean)
    assert(back.columns.toSet == Set("id", "name", "icao", "latitude", "longitude"))
    val stats = Etl.stats(back).collect()(0)
    assert(stats.getAs[Long]("n_rows") == 3)
    assert(stats.getAs[Long]("n_ids") == 3)
    assert(stats.getAs[Double]("min_lat") == -89.0)
    assert(stats.getAs[Double]("max_lat") == 10.0)
  }

  test("runBatch short-circuits on empty input without invoking the sink (F3)") {
    var sinkCalls = 0
    val empty = wire.filter(lit(false))
    val (nClean, nStats) = Etl.runBatch(spark, empty, _ => sinkCalls += 1)
    assert((nClean, nStats) == ((0L, 0L)))
    assert(sinkCalls == 0)
  }

  test("runBatch runs exactly one Spark job before it calls the sink") {
    val counter = new TestSpark.JobCounter
    var jobsBeforeSink = -1
    val (nClean, nStats) =
      try Etl.runBatch(spark, wire, _ => jobsBeforeSink = counter.jobs)
      finally counter.close()
    assert((nClean, nStats) == ((3L, 1L)))
    assert(jobsBeforeSink == 1)
  }

  test("runBatch gates on wire rows: an all-dirty batch still reaches the sink") {
    val dirty = wireOf(wireJson.slice(2, 5)) // ids 3-5: bad coord, '' coord, truncated
    var sunk = Seq.empty[Long]
    val (nClean, nStats) = Etl.runBatch(spark, dirty, df => sunk :+= df.count())
    assert((nClean, nStats) == ((0L, 1L)))
    assert(sunk == Seq(0L))
  }

  test("Etl.stats is one row over empty input (runBatch's stats row count)") {
    assert(Etl.stats(Etl.clean(Etl.parse(wire.filter(lit(false))))).collect().length == 1)
  }

  test("JDBC overwrite write + single-task read-back against embedded Derby (K1/S3)") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val cleaned = Etl.clean(Etl.parse(wire))
    Sinks.jdbcWrite(cleaned, url, "airports", driver)
    // overwrite must replace, not append: write twice, expect one copy
    Sinks.jdbcWrite(cleaned, url, "airports", driver)
    val back = Sinks.jdbcRead(spark, url, "airports", driver)
    assert(back.count() == 3)
    val rows = back.select("id", "icao", "latitude", "longitude").collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getDouble(2), r.getDouble(3))).toSet
    assert(rows == Set(
      ("1", Some("AAAA"), 10.0, 20.0),
      ("2", None, -5.0, 7.0),
      ("6", Some("FFFF"), -89.0, 179.0)))
  }

  test("KafkaWire.surrogate produces the exact Kafka source schema and parse recovers rows (S1)") {
    val df = Seq(("1", """{"id":"1","lat":"4","lon":"5"}"""), ("2", """{"id":"2","lat":"6","lon":"7"}"""))
      .toDF("k", "v")
    val sur = KafkaWire.surrogate(df, "k", "v", "airports")
    // exact field names + types; surrogate nullability may only be
    // stricter (literal columns are statically non-nullable)
    assert(sur.schema.map(f => (f.name, f.dataType)) ==
      KafkaWire.wireSchema.map(f => (f.name, f.dataType)))
    sur.schema.zip(KafkaWire.wireSchema).foreach { case (s, w) =>
      assert(!s.nullable || w.nullable, s"${s.name} weaker than wire schema")
    }
    val offsets = sur.select("offset").as[Long].collect().sorted
    assert(offsets.sameElements(Array(0L, 1L)))
    val parsed = Etl.parse(sur).select("id", "lat").as[(String, String)].collect().toSet
    assert(parsed == Set(("1", "4"), ("2", "6")))
  }

  test("toWire → wireParquet → read-back → parse is the identity on clean rows (K3/P10)") {
    val cleanedWire = wireJson.filter(_.contains("\"icao\"")).filter(!_.endsWith("\"1"))
      .toDF("s").select(encode($"s", "UTF-8").as("value"))
    val parsed = Etl.parse(cleanedWire)
    val wired = Etl.toWire(parsed, "id", Seq("id", "icao", "name", "lat", "lon"))
    val path = Stage.scratch("graft-wire-").toString + "/wire"
    Sinks.wireParquet(wired, path)
    val back = spark.read.parquet(path)
    assert(back.columns.toSeq == Seq("key", "value"))
    val reparsed = Etl.parse(back.select(encode($"value", "UTF-8").as("value")))
    assert(reparsed.collect().toSet == parsed.collect().toSet)
  }

  test("HttpSource.fetch + fromBody + splitItems against a loopback server (S4/NiFi ingest)") {
    val body = """{"items":[
      {"id":"7","icao":"GGGG","name":"eta","lat":"1","lon":"2"},
      {"id":"8","name":"theta","lat":"3","lon":"4"}]}"""
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenHeader: Option[String] = None
    server.createContext("/api/airports", (ex: com.sun.net.httpserver.HttpExchange) => {
      seenHeader = Option(ex.getRequestHeaders.getFirst("x-api-key"))
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/api/airports"
      val fetched = HttpSource.fetch(url, Map("x-api-key" -> "k123"))
      assert(seenHeader.contains("k123"))
      val items = Etl.splitItems(HttpSource.fromBody(spark, fetched), "body")
      val got = items.select("id", "icao", "name").collect()
        .map(r => (r.getString(0), Option(r.getString(1)), r.getString(2))).toSet
      assert(got == Set(("7", Some("GGGG"), "eta"), ("8", None, "theta")))
    } finally server.stop(0)
  }

  test("compactParquet bounds file count and rows per file") {
    val dir = Stage.scratch("graft-compact-").toString + "/docs"
    val docs = Tables.documents(spark, TestSpark.sf)
    graft.sinks.Sinks.compactParquet(docs, dir, numFiles = 3, maxRecordsPerFile = 100)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    val n = docs.count()
    // 3 partitions × ceil(rows-per-partition / 100) files, all data intact
    assert(files.length >= 3 && files.length <= 3 * (n / 100 + 1).toInt, s"${files.length} files")
    assert(spark.read.parquet(dir).count() == n)
  }

  test("HttpSource.fromFile reads a fixture body (S4 fixture leg)") {
    val f = Stage.scratch("graft-page-").resolve("page.json")
    Files.writeString(f, """{"items":[{"id":"9","name":"iota","lat":"0","lon":"0"}]}""")
    val items = Etl.splitItems(HttpSource.fromFile(spark, f.toString), "body")
    assert(items.select("id").as[String].collect().toSeq == Seq("9"))
  }
}
