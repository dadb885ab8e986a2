package graft.queries

import graft.{QueryDef, Stage, Tables}
import graft.streaming.Streams
import graft.etl.Etl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity ETL pack (SURVEY.md §2.1-2.5, §2.10).
  *
  * The Kafka wire fixture is derived deterministically from the shared
  * `customer` parquet with pure string ops, so DuckDB replays it
  * bit-for-bit — no extra fixture files needed. The derivation injects
  * exactly the malformed shapes FIXTURES.md §1 calls for:
  *   - `c_custkey % 7 == 0`  → empty-string `lat`
  *   - `c_custkey % 11 == 0` → `icao` key absent entirely (NiFi
  *     `Null Value=false` behavior)
  *   - `c_custkey % 13 == 0` → non-numeric `lat` ("bogus")
  *   - `c_custkey % 17 == 0` → syntactically invalid JSON (truncated)
  * Coordinates are integer-valued strings so no float formatting crosses
  * the engine boundary.
  */
object EtlPack {

  // ---- fixture: Kafka-message JSON wire derived from `customer` ----------

  /** Valid JSON body per customer (field order matches Etl.airportSchema
    * so to_json re-serialization is the identity on clean rows). */
  private def jsonBody = {
    val k = col("c_custkey")
    val latS = when(k % 7 === 0, lit(""))
      .when(k % 13 === 0, lit("bogus"))
      .otherwise((k % 180 - 90).cast("string"))
    val lonS = (k % 360 - 180).cast("string")
    val icaoPart = when(k % 11 === 0, lit(""))
      .otherwise(concat(lit(",\"icao\":\""), upper(substring(md5(col("c_name")), 1, 4)), lit("\"")))
    concat(
      lit("{\"id\":\""), k.cast("string"), lit("\""),
      icaoPart,
      lit(",\"name\":\""), col("c_name"), lit("\""),
      lit(",\"lat\":\""), latS, lit("\""),
      lit(",\"lon\":\""), lonS, lit("\"}"))
  }

  /** Wire DataFrame with a BINARY `value` column (exercises the
    * CAST(value AS STRING) Kafka-value path, P1). %17 rows are truncated
    * to invalid JSON. */
  private def wire(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    Tables.customer(s, d)
      .select(encode(
        when(k % 17 === 0, substring(jsonBody, 1, 20)).otherwise(jsonBody),
        "UTF-8").as("value"))
  }

  /** DuckDB replay of the same wire (string form; the binary leg is
    * Spark-only, semantically CAST(encode(s)) == s). */
  // NOTE: no line here may start with '|' or '||' — these fragments are
  // embedded in outer stripMargin strings, which would eat a leading pipe.
  private val WIRE_SQL =
    """wire AS (
      |  SELECT CASE WHEN c_custkey % 17 = 0 THEN substring(j, 1, 20) ELSE j END AS value
      |  FROM (
      |    SELECT c_custkey,
      |      concat('{"id":"', CAST(c_custkey AS VARCHAR), '"',
      |        CASE WHEN c_custkey % 11 = 0 THEN ''
      |             ELSE concat(',"icao":"', upper(substring(md5(c_name), 1, 4)), '"') END,
      |        ',"name":"', c_name, '"',
      |        ',"lat":"', CASE WHEN c_custkey % 7 = 0 THEN ''
      |                         WHEN c_custkey % 13 = 0 THEN 'bogus'
      |                         ELSE CAST(c_custkey % 180 - 90 AS VARCHAR) END, '"',
      |        ',"lon":"', CAST(c_custkey % 360 - 180 AS VARCHAR), '"}') AS j
      |    FROM customer))""".stripMargin

  /** DuckDB replay of Etl.parse: permissive JSON extract (invalid JSON →
    * all-null row; missing key → null). */
  private val PARSED_SQL =
    s"""$WIRE_SQL,
       |parsed AS (
       |  SELECT CASE WHEN json_valid(value) THEN json_extract_string(value, '$$.id') END AS id,
       |         CASE WHEN json_valid(value) THEN json_extract_string(value, '$$.icao') END AS icao,
       |         CASE WHEN json_valid(value) THEN json_extract_string(value, '$$.name') END AS name,
       |         CASE WHEN json_valid(value) THEN json_extract_string(value, '$$.lat') END AS lat,
       |         CASE WHEN json_valid(value) THEN json_extract_string(value, '$$.lon') END AS lon
       |  FROM wire)""".stripMargin

  /** DuckDB replay of Etl.clean ('' or non-numeric coord → null, then
    * validity filter). */
  private val CLEANED_SQL =
    s"""$PARSED_SQL,
       |cleaned AS (
       |  SELECT id, name, icao,
       |         CASE WHEN lat IS NOT NULL AND lat <> '' THEN TRY_CAST(lat AS DOUBLE) END AS latitude,
       |         CASE WHEN lon IS NOT NULL AND lon <> '' THEN TRY_CAST(lon AS DOUBLE) END AS longitude
       |  FROM parsed
       |  WHERE latitude IS NOT NULL AND longitude IS NOT NULL)""".stripMargin

  def all: Seq[QueryDef] = Seq(

    // ---- q30: parse + clean (P1,P2,P3,P4,P5,P6,P7,F1,F2) -------------------
    QueryDef(
      "q30_etl_parse_clean",
      s"""WITH $CLEANED_SQL
         |SELECT id, name, icao, latitude, longitude
         |FROM cleaned
         |ORDER BY id""".stripMargin) { (s, d) =>
      Etl.clean(Etl.parse(wire(s, d))).orderBy("id")
    },

    // ---- q31: the reference's A1 global stats over the cleaned table -------
    QueryDef(
      "q31_etl_stats",
      s"""WITH $CLEANED_SQL
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(DISTINCT id) AS BIGINT) AS n_ids,
         |  CAST(SUM(CAST(latitude AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_lat,
         |  CAST(SUM(CAST(longitude AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_lon,
         |  MIN(latitude) AS min_lat,
         |  MAX(latitude) AS max_lat
         |FROM cleaned""".stripMargin) { (s, d) =>
      Etl.stats(Etl.clean(Etl.parse(wire(s, d))))
    },

    // ---- q36: the full §3.1 lifecycle as a checked entry -------------------
    // Drives Etl.runBatch (F3 count-gate, A2 counts, persist) with a
    // parquet sink (K1-surrogate durable write), then answers from the
    // READ-BACK table — the oracle checking this row-for-row means the
    // write+read-back leg round-tripped losslessly, the reference's own
    // self-verification step (spark_airports_final.py:91-101) as a gate.
    QueryDef(
      "q36_etl_lifecycle",
      s"""WITH $CLEANED_SQL
         |SELECT id, name, icao, latitude, longitude
         |FROM cleaned
         |ORDER BY id""".stripMargin) { (s, d) =>
      val out = Stage.cleared("graft-q36-", d).toString + "/airports"
      val (nClean, _) = Etl.runBatch(s, wire(s, d),
        df => df.write.mode("overwrite").parquet(out))
      val back = s.read.parquet(out)
      assert(back.count() == nClean, "read-back count != cleaned count")
      back.orderBy("id")
    },

    // ---- q32: NiFi ingest emulation — page → SplitJson → to_json wire ------
    // Builds OpenAIP-style {"items":[...]} pages from the valid wire rows,
    // explodes $.items[*] (§2.10 SplitJson), re-serializes each item with
    // to_json(struct(...)) (P10) keyed by id (K3 shape). On clean data the
    // split→reserialize chain is the identity, which the oracle states
    // directly.
    QueryDef(
      "q32_etl_wire_roundtrip",
      s"""WITH $WIRE_SQL
         |SELECT json_extract_string(value, '$$.id') AS key, value
         |FROM wire
         |WHERE json_valid(value)
         |  AND json_extract_string(value, '$$.icao') IS NOT NULL
         |ORDER BY key""".stripMargin) { (s, d) =>
      val k = col("c_custkey")
      val pages = Tables.customer(s, d)
        .filter(k % 17 =!= 0)                       // invalid rows never leave NiFi
        .select((k / lit(100)).cast("long").as("page"), k.as("sortk"), jsonBody.as("j"))
        .groupBy("page")
        .agg(concat(lit("{\"items\":["),
          concat_ws(",", transform(array_sort(collect_list(struct(col("sortk"), col("j")))),
            x => x.getField("j"))),
          lit("]}")).as("body"))
      Etl.toWire(
        Etl.splitItems(pages, "body").filter(col("icao").isNotNull),
        "id", Seq("id", "icao", "name", "lat", "lon"))
        .orderBy("key")
    },

    // ---- q132: JSONL source ingest parity ----------------------------------
    // Training corpora ship as newline-delimited JSON; this pins the jsonl
    // ingest path end-to-end: stage `documents` as multi-file jsonl (the
    // engine's own to_json write — once per JVM), read it back through
    // `spark.read.schema(...).json` (explicit schema: no inference scan,
    // no type drift — the 100 TB discipline), and aggregate per source
    // with a 52-bit-md5 content checksum. The oracle computes the SAME
    // aggregate from the parquet table, so any loss in the JSON round
    // trip — escaping, unicode, nulls, integer widths — breaks the hash.
    QueryDef("q132_jsonl_source", FidelityOracle) { (s, d) =>
      fidelityAgg(s.read.schema(DocsSchema).json(stagedDocs(s, d, "json")))
    },

    // ---- q137: CSV source ingest parity ------------------------------------
    // Same fidelity contract for the messiest wire format. The fixture
    // text is clean, so the staged CSV plants a per-row `probe` column
    // holding a comma, escaped quotes AND an embedded newline (keyed by
    // doc_id so no two rows collide); the read-back must reassemble every
    // multi-line quoted field exactly — n_probe_bad counts reconstruction
    // mismatches and the oracle pins it at constant 0. CSV's failure
    // modes (mis-split rows, stripped quotes, type coercion) land either
    // there or in the per-source checksum.
    QueryDef(
      "q137_csv_source",
      FidelityOracle.replace(
        "AS text_checksum",
        "AS text_checksum,\n  CAST(0 AS BIGINT) AS n_probe_bad")) { (s, d) =>
      val docs = s.read.schema(DocsSchema + ", probe STRING")
        .option("header", "true").option("multiLine", "true")
        .csv(stagedDocs(s, d, "csv"))
      fidelityAgg(docs,
        sum(when(col("probe") =!= CsvProbe, 1L).otherwise(0L)).as("n_probe_bad"))
    },

    // ---- q268: binaryFile source + parquet physical-structure probe --------
    // The raw-bytes ingest path (`spark.read.format("binaryFile")`) that
    // multimodal shards and foreign blobs arrive through, pointed at the
    // engine's OWN staged parquet so the probe has ground truth on two
    // independent axes: (1) physical — every staged file must carry the
    // PAR1 head/tail magic and a footer-length word that fits inside the
    // file (read little-endian from the 8 trailing bytes, the q267
    // byte-walk discipline on a REAL file rather than a planted blob);
    // (2) logical — the same staged directory read back as parquet must
    // reproduce the q132/q137/q138 fidelity checksum. A writer bug shows
    // up on exactly one axis: corrupt framing breaks (1), value/encoding
    // drift breaks (2).
    //
    // 100 TB shape: binaryFile is a normal FileFormat scan — file-parallel,
    // column-pruned to (length, content) — and the probe touches 12 bytes
    // per file; the file-level rollup is 4 rows crossed onto the
    // per-source aggregate.
    QueryDef(
      "q268_binaryfile_parquet_probe",
      FidelityOracle.replace(
        "AS text_checksum",
        """AS text_checksum,
          |  CAST(4 AS BIGINT) AS n_files,
          |  CAST(4 AS BIGINT) AS n_magic_ok,
          |  CAST(4 AS BIGINT) AS n_footer_sane""".stripMargin)) { (s, d) =>
      val dir = stagedDocs(s, d, "parquet")
      val bin = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet").load(dir)
        .select(col("length").cast("long").as("blen"), col("content"))
      // LE32 footer length from the 8 trailing bytes [len-8 .. len-5] —
      // t8 is plain hex, so the shared Bytes readers apply (ADVICE r16)
      val tail8 = hex(expr("substring(content, blen - 7, 8)"))
      val probed = bin
        .withColumn("t8", tail8)
        .withColumn("magic_ok",
          hex(substring(col("content"), 1, 4)) === "50415231" &&
            Bytes.sigAt(col("t8"), lit(5L), 4) === "50415231")
        .withColumn("flen", Bytes.le4At(col("t8"), lit(1L)))
        .withColumn("footer_sane", col("flen") + 8L < col("blen"))
      val fileSummary = probed.agg(
        count(lit(1)).as("n_files"),
        sum(when(col("magic_ok"), 1L).otherwise(0L)).as("n_magic_ok"),
        sum(when(col("magic_ok") && col("footer_sane"), 1L).otherwise(0L))
          .as("n_footer_sane"))
      fidelityAgg(s.read.schema(DocsSchema).parquet(dir))
        .crossJoin(broadcast(fileSummary))
        .orderBy("source")
    },

    // ---- q138: ORC source ingest parity ------------------------------------
    // Spark's second native columnar format: the same contract proves the
    // reader/writer pair preserves types and content byte-for-byte, so a
    // corpus can migrate parquet↔ORC without a semantic diff.
    QueryDef("q138_orc_source", FidelityOracle) { (s, d) =>
      fidelityAgg(s.read.schema(DocsSchema).orc(stagedDocs(s, d, "orc")))
    },

    // ---- q286: JSON schema-drift census over an ingest wire -----------------
    // The audit that catches producer-side schema changes BEFORE a typed
    // pipeline silently nulls them (the failure mode q30's permissive
    // parse tolerates and q246's typed variant hides): per FIELD, how
    // many wire records carry it, with what JSON token class, against
    // the declared schema. Keys are discovered by the real JSON parser
    // (json_object_keys / json_keys — new fields surface by themselves);
    // the token class probes the raw wire at the key's position (first
    // value char: '"' string, t/f bool, n null, else number). Planted
    // drift: %7 records carry id as a STRING token, %9 omit txt, %11
    // null it, %5 add an undeclared `extra` field — each lands in a
    // different census cell.
    //
    // 100 TB shape: per-record key explode (bounded by fields/record) +
    // ONE keyed count per (field, class) — partial-agg friendly; the
    // declared-schema join is a literal broadcast.
    QueryDef(
      "q286_json_schema_drift", Q286_ORACLE) { (s, d) =>
      driftFinalize(s, driftCounts(driftWire(Tables.documents(s, d))))
    },

    // ---- q290: streaming JSON schema-drift gate -----------------------------
    // q286 maintained as records stream in — the gate a live ingest runs
    // so a producer deploy that changes the wire is caught within a
    // micro-batch, not at the next full audit. The census is a count
    // grid (sums — a commutative monoid), so each batch persists its own
    // ≤ fields×1 increment idempotently (batch-dir overwrite under
    // at-least-once batch replay) and the gate's answer
    // sum-merges the stored increments before the declared-schema join.
    // Hash-matches batch q286's oracle VERBATIM however ingest was
    // batched (the q105/q130/q180/q216 shared-oracle pairing).
    QueryDef(
      "q290_stream_schema_drift", Q286_ORACLE) { (s, d) =>
      val srcDir = TextDedupPack.stagedDocBatches(s, d)
      val store = Stage.cleared("graft-q290-drift-", d)
      Streams.replay(s, srcDir, ())((_, batch, batchId) =>
        Stage.append(store.toString, batchId,
          driftCounts(driftWire(batch))))
      val merged = s.read.parquet(store.toString)
        .groupBy("field")
        .agg(sum(col("n_present")).as("n_present"),
          sum(col("n_string")).as("n_string"),
          sum(col("n_bool")).as("n_bool"),
          sum(col("n_null")).as("n_null"),
          sum(col("n_number")).as("n_number"))
      driftFinalize(s, merged)
    },

    // ---- q299: parquet schema-evolution census (mergeSchema) ----------------
    // The lakehouse mechanics q286 (wire drift) and q272 (deletion
    // vectors) don't cover: a corpus directory written by two producer
    // GENERATIONS — the second adds a `score` column — read back as ONE
    // table with mergeSchema, the legacy generation's missing column
    // surfacing as nulls. The census a migration runs before backfilling:
    // per source, how many rows are legacy vs scored, and the scored
    // mass. Staging is the q132 fidelity discipline (engine's own writer,
    // partition-style generation dirs g=1/g=2, one copy per JVM+sf); the
    // oracle replays the deterministic generation split and the score
    // from `documents` directly, so a mergeSchema bug (dropped column,
    // misaligned nulls, type clash) breaks rows or hash.
    //
    // 100 TB shape: schema merge is a FOOTER union, not a data pass;
    // census is one keyed agg with map-side partials.
    QueryDef(
      "q299_schema_evolution_census",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_legacy,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_scored,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1
        |    THEN n_chars % 97 + doc_id % 13 ELSE 0 END) AS BIGINT)
        |    AS score_sum
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      val dir = stagedEvolution(s, d)
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("score").isNull, 1L).otherwise(0L)).as("n_legacy"),
          sum(when(col("score").isNotNull, 1L).otherwise(0L)).as("n_scored"),
          sum(coalesce(col("score"), lit(0L))).as("score_sum"))
        .orderBy("source")
    },

    // ---- q278: XML source ingest parity -------------------------------------
    // Spark 4's built-in XML file source (the spark-xml lineage) under the
    // same fidelity contract as q132/q137/q138: stage `documents` as
    // row-tagged XML with the engine's own writer, read back with an
    // explicit schema, and the per-source checksum must survive the
    // element round trip (entity escaping, integer widths, unicode). The
    // fixture text carries no surrounding whitespace, so the reader's
    // default space trimming is exercised as a no-op — documented here
    // because a corpus that DOES pad must set ignoreSurroundingSpaces.
    QueryDef("q278_xml_source", FidelityOracle) { (s, d) =>
      fidelityAgg(s.read.schema(DocsSchema).option("rowTag", "doc")
        .format("xml").load(stagedDocs(s, d, "xml")))
    },

    // ---- q246: the §2.9 VARIANT's stats report ------------------------------
    // The second batch job (`spark-jars/spark_airports_final.py:40-70`)
    // differs from the canonical one in four graded ways, all exercised
    // here: (1) typed parse — lat/lon DoubleType INSIDE from_json, no
    // cleaning step (`:40-44`; bad/missing coords silently null, cf.
    // EtlSpec "typed-parse variant"); (2) the distinct key is
    // countDistinct("icao"), not "id" (`:58`); (3) stats delivery is
    // collect()[0] to the driver (`:65`) — reproduced literally: ONE
    // bounded row crosses to the driver and the report is assembled
    // there, the A2-action shape; (4) the report is the driver's
    // f-string prints (`:66-70`), emitted as (line, report) rows with
    // the variant's own %.4f formatting. Because the NiFi wire quotes
    // coords (which the typed path nulls — pinned by EtlSpec), this
    // fixture carries lat/lon as JSON NUMBER tokens: the wire the typed
    // variant is designed for. %7 rows omit `lat` (the null path), %11
    // omit `icao`, %17 are truncated to invalid JSON — which still COUNT
    // in total_records, exactly as the variant's count over df_parsed
    // counts from_json's all-null rows.
    //
    // Determinism: coords are integer-valued doubles, so every partial
    // sum is exact in IEEE whatever the partition order, and avg =
    // exact_integer_sum / count is one shared rounding. The %.4f
    // rendering can't straddle a half-tie: avg has exact denominator
    // 3 after reduction (10^4/n_customer ∈ {20/3, 2/3, ...·10^k}), so
    // the 5th decimal is never exactly 5 and Java HALF_UP == C
    // round-half-even on every reachable value.
    QueryDef(
      "q246_etl_variant_stats",
      s"""WITH $VARIANT_WIRE_SQL,
         |parsed AS (
         |  SELECT CASE WHEN json_valid(value) THEN json_extract_string(value, '$$.icao') END AS icao,
         |         CASE WHEN json_valid(value) THEN TRY_CAST(json_extract_string(value, '$$.lat') AS DOUBLE) END AS lat,
         |         CASE WHEN json_valid(value) THEN TRY_CAST(json_extract_string(value, '$$.lon') AS DOUBLE) END AS lon
         |  FROM vwire),
         |st AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS total_records,
         |         CAST(COUNT(DISTINCT icao) AS BIGINT) AS unique_airports,
         |         AVG(lat) AS avg_lat, AVG(lon) AS avg_lon,
         |         MIN(lat) AS min_lat, MAX(lat) AS max_lat
         |  FROM parsed)
         |SELECT line, report FROM (
         |  SELECT CAST(1 AS BIGINT) AS line,
         |    concat('Total enregistrements: ', CAST(total_records AS VARCHAR)) AS report FROM st
         |  UNION ALL SELECT 2, concat('Aeroports uniques: ', CAST(unique_airports AS VARCHAR)) FROM st
         |  UNION ALL SELECT 3, concat('Latitude moyenne: ', printf('%.4f', avg_lat)) FROM st
         |  UNION ALL SELECT 4, concat('Longitude moyenne: ', printf('%.4f', avg_lon)) FROM st
         |  UNION ALL SELECT 5, concat('Latitude min/max: ', printf('%.4f', min_lat),
         |    ' / ', printf('%.4f', max_lat)) FROM st)
         |ORDER BY line""".stripMargin) { (s, d) =>
      import s.implicits._
      val parsed = Etl.parse(variantWire(s, d), Etl.airportSchemaTyped)
      // the variant's collect()[0]: one bounded row to the driver
      val st = parsed.agg(
        count(lit(1)).as("total_records"),
        countDistinct(col("icao")).as("unique_airports"),
        avg(col("lat")).as("avg_lat"),
        avg(col("lon")).as("avg_lon"),
        min(col("lat")).as("min_lat"),
        max(col("lat")).as("max_lat")).collect()(0)
      def f4(i: Int) = String.format(java.util.Locale.ROOT, "%.4f",
        Double.box(st.getDouble(i)))
      Seq(
        (1L, s"Total enregistrements: ${st.getLong(0)}"),
        (2L, s"Aeroports uniques: ${st.getLong(1)}"),
        (3L, s"Latitude moyenne: ${f4(2)}"),
        (4L, s"Longitude moyenne: ${f4(3)}"),
        (5L, s"Latitude min/max: ${f4(4)} / ${f4(5)}"))
        .toDF("line", "report").orderBy("line")
    }
  )

  /** q246's wire: same derivation as [[jsonBody]] but lat/lon as JSON
    * NUMBER tokens (the shape the typed schema parses), `lat` absent on
    * %7 rows, `icao` absent on %11, %17 truncated to invalid JSON. */
  private def variantWire(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    val icaoPart = when(k % 11 === 0, lit(""))
      .otherwise(concat(lit(",\"icao\":\""), upper(substring(md5(col("c_name")), 1, 4)), lit("\"")))
    val latPart = when(k % 7 === 0, lit(""))
      .otherwise(concat(lit(",\"lat\":"), (k % 180 - 90).cast("string")))
    val body = concat(
      lit("{\"id\":\""), k.cast("string"), lit("\""),
      icaoPart,
      lit(",\"name\":\""), col("c_name"), lit("\""),
      latPart,
      lit(",\"lon\":"), (k % 360 - 180).cast("string"), lit("}"))
    Tables.customer(s, d)
      .select(encode(
        when(k % 17 === 0, substring(body, 1, 20)).otherwise(body),
        "UTF-8").as("value"))
  }

  /** DuckDB replay of [[variantWire]]. */
  private val VARIANT_WIRE_SQL =
    """vwire AS (
      |  SELECT CASE WHEN c_custkey % 17 = 0 THEN substring(j, 1, 20) ELSE j END AS value
      |  FROM (
      |    SELECT c_custkey,
      |      concat('{"id":"', CAST(c_custkey AS VARCHAR), '"',
      |        CASE WHEN c_custkey % 11 = 0 THEN ''
      |             ELSE concat(',"icao":"', upper(substring(md5(c_name), 1, 4)), '"') END,
      |        ',"name":"', c_name, '"',
      |        CASE WHEN c_custkey % 7 = 0 THEN ''
      |             ELSE concat(',"lat":', CAST(c_custkey % 180 - 90 AS VARCHAR)) END,
      |        ',"lon":', CAST(c_custkey % 360 - 180 AS VARCHAR), '}') AS j
      |    FROM customer))""".stripMargin

  /** q286/q290's shared oracle (see q286's comment). */
  private val Q286_ORACLE =
      """WITH wire AS (
        |  SELECT doc_id,
        |    concat('{"id":',
        |      CASE WHEN doc_id % 7 = 0
        |        THEN concat('"', CAST(doc_id AS VARCHAR), '"')
        |        ELSE CAST(doc_id AS VARCHAR) END,
        |      ',"src":"', source, '"',
        |      CASE WHEN doc_id % 9 = 0 THEN ''
        |           WHEN doc_id % 11 = 0 THEN ',"txt":null'
        |           ELSE concat(',"txt":"',
        |             regexp_replace(substring(text, 1, 40), '[^a-z ]', '', 'g'),
        |             '"') END,
        |      CASE WHEN doc_id % 5 = 0 THEN ',"extra":true' ELSE '' END,
        |      '}') AS j
        |  FROM documents),
        |ks AS (
        |  SELECT doc_id, j, unnest(json_keys(j)) AS k FROM wire),
        |cls AS (
        |  SELECT k,
        |    substring(j, strpos(j, concat('"', k, '":')) + length(k) + 3, 1)
        |      AS ch
        |  FROM ks),
        |cen AS (
        |  SELECT k AS field, COUNT(*) AS n_present,
        |    SUM(CASE WHEN ch = '"' THEN 1 ELSE 0 END) AS n_string,
        |    SUM(CASE WHEN ch IN ('t', 'f') THEN 1 ELSE 0 END) AS n_bool,
        |    SUM(CASE WHEN ch = 'n' THEN 1 ELSE 0 END) AS n_null,
        |    SUM(CASE WHEN ch NOT IN ('"', 't', 'f', 'n') THEN 1 ELSE 0 END)
        |      AS n_number
        |  FROM cls GROUP BY k),
        |dec AS (SELECT * FROM (VALUES ('id', 'number'), ('src', 'string'),
        |        ('txt', 'string')) AS t(field, declared_type))
        |SELECT c.field, CAST(c.n_present AS BIGINT) AS n_present,
        |  CAST(c.n_number AS BIGINT) AS n_number,
        |  CAST(c.n_string AS BIGINT) AS n_string,
        |  CAST(c.n_bool AS BIGINT) AS n_bool,
        |  CAST(c.n_null AS BIGINT) AS n_null,
        |  d.declared_type,
        |  CAST(CASE WHEN d.field IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_new,
        |  CAST(CASE WHEN d.field IS NULL THEN 0
        |    ELSE c.n_present - c.n_null -
        |      (CASE WHEN d.declared_type = 'number' THEN c.n_number
        |            WHEN d.declared_type = 'string' THEN c.n_string
        |            ELSE 0 END) END AS BIGINT) AS n_type_drift
        |FROM cen c LEFT JOIN dec d ON d.field = c.field
        |ORDER BY c.field""".stripMargin

  /** q286/q290's wire: JSON per doc with planted drift classes (%7 id as
    * STRING token, %9 txt omitted, %11 txt null, %5 undeclared `extra`). */
  private def driftWire(docs: DataFrame): DataFrame = {
    val j = concat(
      lit("{\"id\":"),
      when(col("doc_id") % 7 === 0,
        concat(lit("\""), col("doc_id").cast("string"), lit("\"")))
        .otherwise(col("doc_id").cast("string")),
      lit(",\"src\":\""), col("source"), lit("\""),
      when(col("doc_id") % 9 === 0, "")
        .when(col("doc_id") % 11 === 0, ",\"txt\":null")
        // [a-z ]-restricted slice (ADVICE r16): a raw text slice could
        // embed a quote (invalid wire JSON) or a literal '"extra":' that
        // the first-occurrence token probe would misclassify; restricting
        // the embedded value keeps the planted wire valid with unambiguous
        // key positions whatever the fixture text contains
        .otherwise(concat(lit(",\"txt\":\""),
          regexp_replace(substring(col("text"), 1, 40),
            "[^a-z ]", ""), lit("\""))),
      when(col("doc_id") % 5 === 0, ",\"extra\":true").otherwise(""),
      lit("}"))
    docs.select(col("doc_id"), j.as("j"))
  }

  /** Per-field (presence, token-class) count grid — keys via the real
    * JSON parser, class probed at the key's wire position. Sums, hence
    * mergeable across micro-batches (q290). */
  private def driftCounts(wire: DataFrame): DataFrame = {
    val ks = wire.select(col("j"),
      explode(json_object_keys(col("j"))).as("k"))
    val cls = ks.select(col("k"),
      expr("substring(j, position(concat('\"', k, '\":') IN j)" +
        " + length(k) + 3, 1)").as("ch"))
    cls.groupBy(col("k").as("field")).agg(
      count(lit(1)).as("n_present"),
      sum(when(col("ch") === "\"", 1L).otherwise(0L)).as("n_string"),
      sum(when(col("ch").isin("t", "f"), 1L).otherwise(0L)).as("n_bool"),
      sum(when(col("ch") === "n", 1L).otherwise(0L)).as("n_null"),
      sum(when(!col("ch").isin("\"", "t", "f", "n"), 1L).otherwise(0L))
        .as("n_number"))
  }

  /** Declared-schema join + drift arithmetic over a count grid. */
  private def driftFinalize(s: SparkSession, cen: DataFrame): DataFrame = {
    val dec = s.createDataFrame(Seq(
      ("id", "number"), ("src", "string"), ("txt", "string")))
      .toDF("dfield", "declared_type")
    cen.join(broadcast(dec), col("field") === col("dfield"), "left")
      .select(col("field"), col("n_present"), col("n_number"),
        col("n_string"), col("n_bool"), col("n_null"),
        col("declared_type"),
        when(col("dfield").isNull, 1L).otherwise(0L).as("is_new"),
        when(col("dfield").isNull, 0L).otherwise(
          col("n_present") - col("n_null") -
            when(col("declared_type") === "number", col("n_number"))
              .when(col("declared_type") === "string", col("n_string"))
              .otherwise(0L)).as("n_type_drift"))
      .orderBy("field")
  }

  /** The shared source-fidelity contract (q132/q137/q138): per-source
    * counts + token mass + a 52-bit-md5 content checksum. The oracle
    * computes the SAME aggregate from the parquet table, so any loss in
    * a staged format's round trip — escaping, unicode, nulls, integer
    * widths — breaks the hash. */
  private val FidelityOracle =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok_sum,
      |  CAST(SUM(('0x' || substring(md5(text), 1, 13))::BIGINT) AS BIGINT)
      |    AS text_checksum
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Explicit read schema for every staged format — no inference scan,
    * no type drift (the 100 TB discipline). */
  private val DocsSchema =
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"

  /** q137's planted CSV stress: comma + escaped quotes + embedded newline,
    * keyed by doc_id. Used identically at stage-write and read-verify. */
  private def CsvProbe: org.apache.spark.sql.Column =
    concat(lit("x,\"quoted\"\nline:"), col("doc_id").cast("string"))

  private def fidelityAgg(docs: DataFrame,
                          extra: org.apache.spark.sql.Column*): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("chars_sum"),
      sum(size(split(col("text"), " ")).cast("long")).as("tok_sum"),
      sum(conv(substring(md5(col("text")), 1, 13), 16, 10).cast("long"))
        .as("text_checksum")) ++ extra
    docs.groupBy("source").agg(aggs.head, aggs.tail: _*).orderBy("source")
  }

  /** q299's two-generation staged corpus: g=1 carries the legacy schema
    * (even doc_ids), g=2 (odd doc_ids) adds the `score` column — one copy
    * per (JVM, sf dir) (cf. [[stagedDocs]]). */
  private def stagedEvolution(s: SparkSession, d: String): String =
    Stage.once("graft-stage-evolved-", d) {
      val dir = Stage.scratch("graft-stage-evolved-")
      val base = Tables.documents(s, d)
      base.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/g=1")
      base.filter(col("doc_id") % 2 === 1)
        .withColumn("score",
          col("n_chars").cast("long") % 97L + col("doc_id") % 13L)
        .write.mode("overwrite").parquet(s"$dir/g=2")
      dir.toString
    }

  /** One staged multi-file copy of `documents` per (sf dir, format),
    * written once per JVM by the engine's own writer (cf.
    * TextDedupPack.stagedDocBatches). CSV writes a header and quotes as
    * needed — exactly what the q137 read-back must survive. */
  private def stagedDocs(s: SparkSession, d: String, format: String): String =
    Stage.once(s"graft-stage-$format-", d) {
      val dir = Stage.scratch(s"graft-stage-$format-")
      val base = Tables.documents(s, d).repartition(4)
      format match {
        case "json" => base.write.mode("overwrite").json(dir.toString)
        case "csv" => base.withColumn("probe", CsvProbe)
          .write.mode("overwrite").option("header", "true").csv(dir.toString)
        case "orc" => base.write.mode("overwrite").orc(dir.toString)
        case "parquet" => base.write.mode("overwrite").parquet(dir.toString)
        case "xml" => base.write.mode("overwrite").option("rowTag", "doc")
          .format("xml").save(dir.toString)
      }
      dir.toString
    }
}
