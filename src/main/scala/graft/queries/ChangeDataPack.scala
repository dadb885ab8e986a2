package graft.queries

import graft.{QueryDef, Stage, Tables}
import graft.streaming.Streams
import graft.operators.Changes
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Change-data pack: changelog compaction and SCD2 history over the events
  * table — the maintenance operators behind the reference's
  * write-the-whole-table-per-run JDBC step
  * (`/root/reference/spark_airports_final.py:96-104`), re-expressed as the
  * shapes that survive 100 TB: compact a keyed changelog with one partial
  * aggregation, keep attribute history as validity intervals.
  */
object ChangeDataPack {

  def all: Seq[QueryDef] = Seq(

    // ---- q105: CDC changelog compaction — latest row per key ---------------
    // Spark runs the aggregation form (max_by over a struct ordinal: partial
    // map-side combine, the shuffle carries one candidate per key per
    // partition). The oracle runs the window form (row_number DESC = 1,
    // full shuffle+sort). Two different algorithms, same answer.
    QueryDef(
      "q105_cdc_compaction",
      """SELECT user_id, event_type, ts AS last_ts, value AS last_value,
        |  n_versions
        |FROM (
        |  SELECT user_id, event_type, ts, value,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id, event_type) AS BIGINT)
        |      AS n_versions,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      Changes.latestByKey(
        Tables.events(s, d).select("user_id", "event_type", "ts", "event_id", "value"),
        keys = Seq("user_id", "event_type"), ord = Seq("ts", "event_id"))
        .select(col("user_id"), col("event_type"),
          col("ts").as("last_ts"), col("value").as("last_value"),
          col("n_versions"))
        .orderBy("user_id", "event_type")
    },

    // ---- q146: CDC compaction with delete tombstones -----------------------
    // Real change streams (Debezium et al.) carry deletes: a key whose
    // LATEST change is a tombstone must vanish from current state, not
    // surface its last pre-delete row. The op column derives portably
    // from the fixture (event_id % 10 = 0 → 'd'); compaction is the same
    // single max_by aggregation as q105 with op riding in the payload,
    // then one filter — the tombstone keys' history still compacts (and
    // counts) before being dropped, exactly how a lakehouse MERGE applies
    // WHEN MATCHED AND op='d' THEN DELETE.
    QueryDef(
      "q146_cdc_deletes",
      """SELECT user_id, event_type, ts AS last_ts, value AS last_value,
        |  n_versions
        |FROM (
        |  SELECT user_id, event_type, ts, value,
        |    CASE WHEN event_id % 10 = 0 THEN 'd' ELSE 'u' END AS op,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id, event_type) AS BIGINT)
        |      AS n_versions,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND op <> 'd'
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val log = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
          col("value"),
          when(col("event_id") % 10 === 0, lit("d")).otherwise(lit("u")).as("op"))
      Changes.latestByKey(log,
        keys = Seq("user_id", "event_type"), ord = Seq("ts", "event_id"))
        .filter(col("op") =!= "d")
        .select(col("user_id"), col("event_type"),
          col("ts").as("last_ts"), col("value").as("last_value"),
          col("n_versions"))
        .orderBy("user_id", "event_type")
    },

    // ---- q106: SCD type-2 intervals — attribute history per key ------------
    // Per-user event_type timeline compressed to change rows, each carrying
    // its validity interval [valid_from, valid_to) and a version number.
    // All three window passes share one (key, ord) partitioning; (ts,
    // event_id) totally orders each user's timeline so ties cannot
    // reorder between engines.
    QueryDef(
      "q106_scd2_intervals",
      """WITH ordered AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |changes AS (
        |  SELECT user_id, event_type, ts, event_id FROM ordered
        |  WHERE prev_type IS NULL OR event_type <> prev_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS valid_to,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS BIGINT) AS version_no
        |FROM changes
        |ORDER BY user_id, version_no""".stripMargin) { (s, d) =>
      Changes.scd2(
        Tables.events(s, d).select("user_id", "event_type", "ts", "event_id"),
        key = "user_id", attr = "event_type", tsCol = "ts",
        ord = Seq("ts", "event_id"))
        .orderBy("user_id", "version_no")
    },

    // ---- q116: streaming incremental CDC compaction (per-batch MERGE) -----
    // The deploy shape of q105: the changelog arrives as micro-batches and
    // each batch MERGEs into a persistent compacted state table — compact
    // the batch (one partial agg), union with current state, re-compact,
    // write the next state version (ping-pong versions; a lakehouse MERGE
    // in parquet terms). Compaction is associative-commutative (a max
    // over (ts, event_id) plus a version-count sum), so ANY batch split
    // yields the same final table — which is exactly what the oracle
    // pins: the same window-form SQL as batch q105, hash-exact. State is
    // O(|keys|) regardless of changelog length; each merge touches state
    // + one batch, never the history.
    QueryDef(
      "q116_stream_cdc_merge",
      """SELECT user_id, event_type, ts AS last_ts, value AS last_value,
        |  n_versions
        |FROM (
        |  SELECT user_id, event_type, ts, value,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id, event_type) AS BIGINT)
        |      AS n_versions,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val srcDir = TemporalPack.stagedEventBatches(s, d)
      // the returned plan lazily reads the final version: no eager delete
      val store = Stage.cleared("graft-q116-state-", d)
      val latest = Streams.replay(s, srcDir, Option.empty[String])((prev, batch, batchId) => {
        val compactBatch = Changes.latestByKey(
          batch.select("user_id", "event_type", "ts", "event_id", "value"),
          keys = Seq("user_id", "event_type"), ord = Seq("ts", "event_id"))
        val merged = prev match {
          case Some(p) =>
            Changes.mergeCompacted(
              batch.sparkSession.read.parquet(p).unionByName(compactBatch),
              keys = Seq("user_id", "event_type"), ord = Seq("ts", "event_id"))
          case None => compactBatch
        }
        val next = s"$store/v$batchId"
        merged.write.mode("overwrite").parquet(next)
        Some(next)
      })
      s.read.parquet(latest.get)
        .select(col("user_id"), col("event_type"),
          col("ts").as("last_ts"), col("value").as("last_value"),
          col("n_versions"))
        .orderBy("user_id", "event_type")
    },

    // ---- q117: snapshot diff — reconcile two compaction points -------------
    // Time-travel reconciliation over the changelog: compact the state as
    // of a cutoff (T1) and at the end (T2), then classify every T2 key as
    // added (absent at T1), updated (a newer version arrived), or
    // unchanged — the audit every incremental pipeline needs to prove a
    // merge did what it claims. Both snapshots are single partial-agg
    // compactions; the diff is one keyed left join of two |keys|-sized
    // tables, never the changelog.
    QueryDef(
      "q117_snapshot_diff",
      """WITH s1 AS (
        |  SELECT user_id, event_type, ts, event_id FROM (
        |    SELECT user_id, event_type, ts, event_id,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00')
        |  WHERE rn = 1),
        |s2 AS (
        |  SELECT user_id, event_type, ts, event_id FROM (
        |    SELECT user_id, event_type, ts, event_id,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events)
        |  WHERE rn = 1)
        |SELECT s2.event_type,
        |  CASE WHEN s1.user_id IS NULL THEN 'added'
        |       WHEN s1.event_id <> s2.event_id THEN 'updated'
        |       ELSE 'unchanged' END AS status,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys
        |FROM s2 LEFT JOIN s1
        |  ON s1.user_id = s2.user_id AND s1.event_type = s2.event_type
        |GROUP BY 1, 2
        |ORDER BY s2.event_type, status""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select("user_id", "event_type", "ts", "event_id")
      def snap(df: org.apache.spark.sql.DataFrame) =
        Changes.latestByKey(df, keys = Seq("user_id", "event_type"),
          ord = Seq("ts", "event_id"))
      val s1 = snap(e.filter(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp")))
        .select(col("user_id").as("u1"), col("event_type").as("t1"),
          col("event_id").as("e1"))
      val s2 = snap(e)
      s2.join(s1, col("user_id") === col("u1") && col("event_type") === col("t1"),
        "left")
        .select(col("event_type"),
          when(col("u1").isNull, "added")
            .when(col("e1") =!= col("event_id"), "updated")
            .otherwise("unchanged").as("status"))
        .groupBy("event_type", "status")
        .agg(count(lit(1)).as("n_keys"))
        .orderBy("event_type", "status")
    },

    // ---- q178: incremental materialized-view maintenance -------------------
    // The delta-refresh contract behind every warehouse rollup: a monthly
    // revenue MV maintained by merging the BASE view's partial-aggregate
    // state with a new delta batch's partials — count/decimal-sum/min/max
    // are all commutative monoids, so merge = union partials + one re-agg,
    // and the base rows are NEVER rescanned. At 100 TB that is the whole
    // point: refresh cost scales with the delta, not the table. The split
    // is deterministic (orderkey % 10 = 0 plays the arriving delta), and
    // the query emits the MERGED view joined against a direct full
    // recompute with a per-month `consistent` flag — the mergeability
    // claim itself is what the oracle hash-checks. Decimal partial sums
    // (exact, associative) keep merged == direct bit-for-bit; the cast to
    // DOUBLE happens once, after the merge.
    QueryDef(
      "q178_incremental_mv",
      """WITH p AS (
        |  SELECT date_trunc('month', o_orderdate) AS m,
        |    o_orderkey % 10 = 0 AS is_delta,
        |    COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS sdec,
        |    MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
        |  FROM orders GROUP BY 1, 2),
        |merged AS (
        |  SELECT m, SUM(n) AS n, SUM(sdec) AS sdec, MIN(mn) AS mn, MAX(mx) AS mx
        |  FROM p GROUP BY m),
        |direct AS (
        |  SELECT date_trunc('month', o_orderdate) AS m, COUNT(*) AS n,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS sdec,
        |    MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
        |  FROM orders GROUP BY 1)
        |SELECT merged.m AS month,
        |  CAST(merged.n AS BIGINT) AS n_orders,
        |  CAST(merged.sdec AS DOUBLE) AS revenue,
        |  merged.mn AS min_price, merged.mx AS max_price,
        |  CAST(CASE WHEN merged.n = direct.n AND merged.sdec = direct.sdec
        |       AND merged.mn = direct.mn AND merged.mx = direct.mx
        |       THEN 1 ELSE 0 END AS BIGINT) AS consistent
        |FROM merged JOIN direct ON merged.m = direct.m
        |ORDER BY month""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      // cast to DATE: DuckDB's date_trunc('month', ...) is a DATE, Spark's
      // a TIMESTAMP — the driver hash is type-sensitive
      def partials(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).as("sdec"),
          min(col("o_totalprice")).as("mn"),
          max(col("o_totalprice")).as("mx"))
      val orders = Tables.orders(s, d)
      val base = partials(orders.filter(col("o_orderkey") % 10 =!= 0))
      val delta = partials(orders.filter(col("o_orderkey") % 10 === 0))
      val merged = base.unionByName(delta)
        .groupBy("m")
        .agg(sum(col("n")).as("n"), sum(col("sdec")).as("sdec"),
          min(col("mn")).as("mn"), max(col("mx")).as("mx"))
      val direct = partials(orders)
        .select(col("m"), col("n").as("dn"), col("sdec").as("dsdec"),
          col("mn").as("dmn"), col("mx").as("dmx"))
      merged.join(direct, "m")
        .select(col("m").as("month"),
          col("n").as("n_orders"),
          col("sdec").cast("double").as("revenue"),
          col("mn").as("min_price"), col("mx").as("max_price"),
          when(col("n") === col("dn") && col("sdec") === col("dsdec")
            && col("mn") === col("dmn") && col("mx") === col("dmx"), 1L)
            .otherwise(0L).as("consistent"))
        .orderBy("month")
    },

    // ---- q272: positional deletion-vector build + merge-on-read apply ------
    // The lakehouse delete path (Iceberg v2 positional deletes / Delta
    // deletion vectors — public specs): deletes are recorded as (file,
    // position) WITHOUT rewriting data files, packed into per-file
    // bitmaps, and applied at read time. Modeled exactly: lineitem is
    // laid out as 16 "files" (l_orderkey mod), a row's position is its
    // rank within the file (unique (l_orderkey, l_linenumber) order), and
    // the planted delete set is md5-derived (~10%). The DV is packed 32
    // positions per BIGINT word — build is ONE keyed agg (positions are
    // unique, so SUM of 2^bit == OR) — and the merge-on-read scan applies
    // it with a (file_id, word_idx) equi-join + an integer bit test
    // ((word div 2^bit) mod 2 — non-negative, so div == //). The output
    // cross-checks the applied result against the plant: deleted_applied
    // must equal file_rows − live_rows, and live_qty_sum is the exact
    // decimal mass that survives.
    //
    // 100 TB shape: the DV table is ~rows/32 words ONLY for files that
    // have deletes; the apply join is keyed on (file, word) — co-partition
    // with the scan and it's map-side. No row-level anti-join against a
    // positional list (32× more rows), no file rewrite.
    QueryDef(
      "q272_deletion_vectors",
      """WITH pos AS (
        |  SELECT l_orderkey % 16 AS file_id, l_quantity,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey % 16
        |      ORDER BY l_orderkey, l_linenumber) - 1 AS pos,
        |    ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
        |      CAST(l_linenumber AS VARCHAR)), 1, 13))::BIGINT % 10 = 0 AS del
        |  FROM lineitem),
        |dv AS (
        |  SELECT file_id, pos // 32 AS widx,
        |    SUM((1::BIGINT << CAST(pos % 32 AS INT))) AS word
        |  FROM pos WHERE del GROUP BY 1, 2),
        |applied AS (
        |  SELECT p.file_id, p.l_quantity,
        |    CASE WHEN dv.word IS NULL THEN 0
        |         ELSE (dv.word // (1::BIGINT << CAST(p.pos % 32 AS INT))) % 2
        |    END AS dead
        |  FROM pos p LEFT JOIN dv
        |    ON dv.file_id = p.file_id AND dv.widx = p.pos // 32),
        |files AS (
        |  SELECT file_id, COUNT(*) AS file_rows,
        |    SUM(1 - dead) AS live_rows,
        |    SUM(dead) AS deleted_applied,
        |    SUM(CASE WHEN dead = 0
        |      THEN CAST(l_quantity AS DECIMAL(18,4)) ELSE 0 END) AS lq
        |  FROM applied GROUP BY 1),
        |words AS (
        |  SELECT file_id, COUNT(*) AS dv_words, SUM(word) AS dv_mass
        |  FROM dv GROUP BY 1),
        |planted AS (
        |  SELECT file_id, COUNT(*) AS n_planted FROM pos WHERE del GROUP BY 1)
        |SELECT f.file_id, CAST(f.file_rows AS BIGINT) AS file_rows,
        |  CAST(f.live_rows AS BIGINT) AS live_rows,
        |  CAST(f.deleted_applied AS BIGINT) AS deleted_applied,
        |  CAST(f.lq AS DOUBLE) AS live_qty_sum,
        |  CAST(w.dv_words AS BIGINT) AS dv_words,
        |  CAST(w.dv_mass AS BIGINT) AS dv_mass,
        |  CAST(CASE WHEN f.deleted_applied = p.n_planted THEN 1 ELSE 0 END
        |    AS BIGINT) AS roundtrip_ok
        |FROM files f JOIN words w ON w.file_id = f.file_id
        |JOIN planted p ON p.file_id = f.file_id
        |ORDER BY f.file_id""".stripMargin) { (s, d) =>
      val wf = Window.partitionBy("file_id")
        .orderBy("l_orderkey", "l_linenumber")
      val pos = Tables.lineitem(s, d)
        .select((col("l_orderkey") % 16).as("file_id"),
          col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
        .withColumn("pos", row_number().over(wf).cast("long") - 1)
        .withColumn("del",
          conv(substring(md5(concat(col("l_orderkey").cast("string"),
            lit("-"), col("l_linenumber").cast("string"))), 1, 13), 16, 10)
            .cast("long") % 10 === 0)
      val dv = pos.filter(col("del"))
        .groupBy(col("file_id"), expr("pos div 32").as("widx"))
        .agg(sum(expr("shiftleft(1L, cast(pos % 32 as int))")).as("word"))
      val dvR = dv.select(col("file_id").as("dv_fid"),
        col("widx"), col("word"))
      val applied = pos.join(dvR,
          col("file_id") === col("dv_fid") &&
            col("widx") === expr("pos div 32"),
          "left")
        .select(col("file_id"), col("l_quantity"),
          when(col("word").isNull, 0L)
            .otherwise(expr(
              "(word div shiftleft(1L, cast(pos % 32 as int))) % 2"))
            .as("dead"))
      val files = applied.groupBy("file_id").agg(
        count(lit(1)).as("file_rows"),
        sum(lit(1L) - col("dead")).as("live_rows"),
        sum(col("dead")).as("deleted_applied"),
        sum(when(col("dead") === 0L,
          col("l_quantity").cast(DecimalType(18, 4)))
          .otherwise(lit(0).cast(DecimalType(18, 4)))).as("lq"))
      val words = dv.groupBy("file_id").agg(
        count(lit(1)).as("dv_words"), sum(col("word")).as("dv_mass"))
      val planted = pos.filter(col("del"))
        .groupBy("file_id").agg(count(lit(1)).as("n_planted"))
      files.join(words, Seq("file_id")).join(planted, Seq("file_id"))
        .select(col("file_id"), col("file_rows"), col("live_rows"),
          col("deleted_applied"),
          col("lq").cast("double").as("live_qty_sum"),
          col("dv_words"), col("dv_mass"),
          when(col("deleted_applied") === col("n_planted"), 1L)
            .otherwise(0L).as("roundtrip_ok"))
        .orderBy("file_id")
    }
  )
}
