package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Observability (SURVEY.md §2.10, NiFi `LogAttribute` ×4): flow-level
  * metrics without a second scan.
  *
  * NiFi logs per-flowfile attributes on success/failure routes; the Spark
  * equivalent is `Dataset.observe` — named aggregate metrics collected as a
  * side effect of whatever action already runs, delivered via
  * `QueryExecutionListener` (batch) or `StreamingQueryProgress` (streams).
  * Zero extra passes, zero extra shuffles: the metrics ride the existing
  * job, exactly like LogAttribute rides the flow.
  *
  * [[parseMetrics]] instruments the reference's parse/clean boundary: rows
  * in, rows surviving the validity filter, rows dropped by each cause
  * (malformed JSON → all-null struct; bad coords → null after cast). The
  * dead-letter split the NiFi flow routes to LogAttribute becomes two
  * counters on the main pipeline.
  */
object Observe {

  /** Attach ingest metrics to a parsed-and-cleaned pipeline stage. `parsed`
    * must still carry the raw `lat`/`lon` string columns (pre-clean). */
  def parseMetrics(parsed: DataFrame, name: String = "graft_parse"): DataFrame = {
    def badCoord(c: String) =
      col(c).isNotNull && col(c) =!= "" && col(c).cast("double").isNull
    parsed.observe(
      name,
      count(lit(1)).as("rows_in"),
      // all five schema fields null ⇔ from_json returned a null struct
      count(when(col("id").isNull && col("icao").isNull && col("name").isNull
        && col("lat").isNull && col("lon").isNull, 1)).as("rows_unparseable"),
      count(when(badCoord("lat") || badCoord("lon"), 1)).as("rows_bad_coord"))
  }

  /** Generic row counter on any stage (the `LogAttribute` success route). */
  def rowCount(df: DataFrame, name: String): DataFrame =
    df.observe(name, count(lit(1)).as("rows"))

  /** Named metric columns on an already-run observation, fetched from the
    * DataFrame's collected metrics map (batch path). The action must have
    * run *this* DataFrame's own queryExecution — collect/write/foreach do;
    * `count()` does not (it plans its own aggregate), and a production
    * pipeline would normally read these from a QueryExecutionListener
    * instead. Returns a map of metric name → value, all-zero until the
    * action runs. */
  def metricsOf(df: DataFrame, name: String): Option[Map[String, Any]] = {
    val row = df.queryExecution.observedMetrics.get(name)
    row.map(r => r.schema.fieldNames.zip(r.toSeq).toMap)
  }
}
