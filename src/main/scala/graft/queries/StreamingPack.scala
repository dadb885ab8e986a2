package graft.queries

import graft.{QueryDef, Tables}
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Streaming pack (SURVEY.md §2.7): the reference's streaming semantics run
  * through the REAL streaming engine (a file stream → StateStore-backed agg →
  * memory sink, Trigger.AvailableNow), then compared to batch oracles —
  * batch/stream duality means the final complete-mode table must equal the
  * batch answer over the same data.
  */
object StreamingPack {

  def all: Seq[QueryDef] = Seq(

    // ---- q33: A3/K2 — streaming global COUNT(*), complete mode -------------
    QueryDef(
      "q33_stream_count",
      "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events") { (s, d) =>
      Streams.runCompleteToMemory(
        s, Streams.globalCount(Streams.eventsStream(s, d)), "mq33")
        .select(col("count").as("n"))
    },

    // ---- q34: event-time tumbling windows through the streaming engine -----
    QueryDef(
      "q34_stream_hourly",
      """SELECT DATE_TRUNC('hour', ts) AS hr, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY DATE_TRUNC('hour', ts), event_type
        |ORDER BY hr, event_type""".stripMargin) { (s, d) =>
      Streams.runCompleteToMemory(
        s, Streams.hourlyCounts(Streams.eventsStream(s, d)), "mq34")
        .select(col("w.start").as("hr"), col("event_type"), col("n"))
        .orderBy("hr", "event_type")
    },

    // ---- q37: append-mode + watermark — the state-bounding shape -----------
    // Emits exactly the finalized windows: end <= watermark, where the
    // final-batch watermark is max event time minus the 1 h delay
    // (equality with batch asserted in StreamingSpec; semantics replayed
    // by the oracle's max-ts cutoff).
    QueryDef(
      "q37_stream_hourly_append",
      """WITH mx AS (SELECT max(ts) AS m FROM events)
        |SELECT DATE_TRUNC('hour', ts) AS hr, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events, mx
        |WHERE DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR <= m - INTERVAL 1 HOUR
        |GROUP BY DATE_TRUNC('hour', ts), event_type
        |ORDER BY hr, event_type""".stripMargin) { (s, d) =>
      Streams.runToMemory(
        s, Streams.hourlyCountsAppend(Streams.eventsStream(s, d), "1 hour"),
        "mq37", mode = "append")
        .select(col("w.start").as("hr"), col("event_type"), col("n"))
        .orderBy("hr", "event_type")
    },

    // ---- q142: sliding-window streaming counts (append + watermark) --------
    // The hopping-window semantic q34/q37's tumbling windows don't cover:
    // window('1 hour', '15 minutes') puts every event in exactly 4
    // overlapping windows, each finalized independently once the
    // watermark passes its end. The oracle states the closed form: the 4
    // window starts are the event's 900 s grid floor minus k·900 (k<4),
    // emitted iff start+3600 ≤ max(ts)−3600 (q37's append rule). Window
    // starts ride as epoch BIGINTs — DuckDB's to_timestamp is
    // tz-sensitive, integers are not.
    QueryDef(
      "q142_stream_sliding",
      """WITH mx AS (SELECT CAST(FLOOR(EPOCH(max(ts))) AS BIGINT) AS m FROM events),
        |w AS (
        |  SELECT ((CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 900) * 900) - k.k * 900 AS ws,
        |    event_type
        |  FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k)
        |SELECT ws, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM w, mx
        |WHERE ws + 3600 <= m - 3600
        |GROUP BY ws, event_type
        |ORDER BY ws, event_type""".stripMargin) { (s, d) =>
      Streams.runToMemory(
        s, Streams.slidingCountsAppend(
          Streams.eventsStream(s, d), "1 hour", "15 minutes", "1 hour"),
        "mq142", mode = "append")
        .select(col("w.start").cast("long").as("ws"), col("event_type"), col("n"))
        .orderBy("ws", "event_type")
    },

    // ---- q44: exactly-once dedup over an at-least-once stream --------------
    // Two readers of the same source unioned = every event delivered twice
    // (the Kafka at-least-once shape); dropDuplicatesWithinWatermark
    // restores exactly-once and evicts seen-key state behind the watermark.
    // The oracle is simply the distinct source — duplicates must vanish.
    QueryDef(
      "q44_stream_dedup",
      """SELECT event_id, user_id, event_type
        |FROM events
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val twice = Streams.eventsStream(s, d).unionByName(Streams.eventsStream(s, d))
      Streams.runToMemory(
        s, Streams.dedupWithinWatermark(twice, "event_id")
          .select(col("event_id"), col("user_id"), col("event_type")),
        "mq44", mode = "append")
        .orderBy("event_id")
    },

    // ---- q59: stream-stream join — clicks within 30 min before purchase ---
    // Inner two-stream join with watermarks + event-time range condition
    // (state evicted behind the watermarks). For bounded input every
    // matching pair is emitted, so the oracle is the plain inequality
    // join.
    QueryDef(
      "q59_stream_stream_join",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
        |ORDER BY purchase_id, click_id""".stripMargin) { (s, d) =>
      def side(t: String, prefix: String) =
        Streams.eventsStream(s, d).filter(col("event_type") === t)
          .select(col("event_id").as(s"${prefix}_event_id"),
            col("user_id").as(s"${prefix}_user_id"), col("ts").as(s"${prefix}_ts"))
      Streams.runToMemory(
        s, Streams.streamStreamJoin(
          side("purchase", "p"), side("click", "c"),
          "p_user_id", "c_user_id", "p_ts", "c_ts", windowSec = 1800),
        "mq59", mode = "append")
        .select(col("p_event_id").as("purchase_id"),
          col("c_event_id").as("click_id"),
          col("p_user_id").as("user_id"))
        .orderBy("purchase_id", "click_id")
    },

    // ---- q110: stream-stream LEFT OUTER join — nulls on watermark expiry ---
    // The outer variant of q59 exercises a genuinely different state
    // machine: a purchase with no click in its window is NOT emitted when
    // seen — it sits in the join state until the global watermark (min of
    // both sides' per-stream watermarks) passes its event time, and only
    // then is it emitted null-extended. Bounded-input determinism: under
    // AvailableNow the final watermark is min(max(p.ts), max(c.ts)) − the
    // 1 h delay, so exactly the unmatched purchases OLDER than that flush;
    // younger unmatched purchases are still "awaiting a possible match"
    // when the stream drains and are correctly withheld. The oracle states
    // that rule in SQL — engine state semantics checked against a closed-
    // form predicate.
    QueryDef(
      "q110_stream_outer_join",
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click'),
        |wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
        |         - INTERVAL 1 HOUR AS w)
        |SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        |FROM p JOIN c ON c.user_id = p.user_id
        |  AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
        |UNION ALL
        |SELECT p.event_id, CAST(NULL AS BIGINT), p.user_id
        |FROM p, wm
        |WHERE p.ts < wm.w
        |  AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
        |    AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts)
        |ORDER BY purchase_id, click_id""".stripMargin) { (s, d) =>
      def side(t: String, prefix: String) =
        Streams.eventsStream(s, d).filter(col("event_type") === t)
          .select(col("event_id").as(s"${prefix}_event_id"),
            col("user_id").as(s"${prefix}_user_id"), col("ts").as(s"${prefix}_ts"))
      Streams.runToMemory(
        s, Streams.streamStreamJoin(
          side("purchase", "p"), side("click", "c"),
          "p_user_id", "c_user_id", "p_ts", "c_ts", windowSec = 1800,
          joinType = "left_outer"),
        "mq110", mode = "append")
        .select(col("p_event_id").as("purchase_id"),
          col("c_event_id").as("click_id"),
          col("p_user_id").as("user_id"))
        .orderBy("purchase_id", "click_id")
    },

    // ---- q114: native session-window streaming aggregation -----------------
    // The engine's own data-driven windows (q42 builds the same sessions
    // with hand-rolled flatMapGroupsWithState): session_window merges
    // per-event [ts, ts+gap) windows in the StateStore, closing a session
    // when the watermark passes its end (last event + gap). Same
    // withholding rule as q42 stated closed-form in the oracle — a
    // session flushes iff last_ms + gap ≤ final watermark (max ts − the
    // 30 min delay); note session_window splits on gaps ≥ gap where the
    // q42 rule splits on > — indistinguishable on microsecond data.
    QueryDef(
      "q114_stream_session_native",
      """WITH ord AS (
        |  SELECT user_id, ts, event_id, epoch_ms(ts) AS ms,
        |    CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000
        |         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |numbered AS (
        |  SELECT user_id, ts, ms,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        |  FROM ord),
        |wm AS (SELECT epoch_ms(max(ts)) - 1800000 AS w FROM events)
        |SELECT user_id, sess_start, n_events
        |FROM (
        |  SELECT user_id, MIN(ts) AS sess_start, MAX(ms) AS last_ms,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM numbered GROUP BY user_id, sess_no), wm
        |WHERE last_ms + 1800000 <= w
        |ORDER BY user_id, sess_start""".stripMargin) { (s, d) =>
      val sessions = Streams.eventsStream(s, d)
        .withWatermark("ts", "30 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
      Streams.runToMemory(s, sessions, "mq114", mode = "append")
        .select(col("user_id"), col("sw.start").as("sess_start"), col("n_events"))
        .orderBy("user_id", "sess_start")
    },

    // ---- q60: stream-static join — enrich the stream from a dimension ------
    // The static side needs no watermark/state: it is (re)read per
    // micro-batch and broadcast when small — the standard streaming
    // enrichment shape. Aggregate in complete mode so the final table
    // equals the batch join+agg.
    QueryDef(
      "q60_stream_static_join",
      """SELECT c.c_mktsegment AS mktsegment, CAST(COUNT(*) AS BIGINT) AS n
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY c.c_mktsegment
        |ORDER BY mktsegment""".stripMargin) { (s, d) =>
      // No forced broadcast: customer is |customers|-sized (unbounded at
      // deploy scale). The planner still broadcasts it here via parquet
      // file-size stats (autoBroadcastJoinThreshold), and degrades to a
      // shuffle join per micro-batch when the dim outgrows the threshold —
      // a compile-time hint would instead OOM the executors.
      val dim = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val joined = Streams.eventsStream(s, d)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("mktsegment"))
        .agg(count(lit(1)).as("n"))
      Streams.runCompleteToMemory(s, joined, "mq60")
        .orderBy("mktsegment")
    },

    // ---- q75: streaming near-dup flagging against a static signature table -
    // The streaming face of the MinHash-LSH dedup family: each arriving doc
    // computes its 16 portable minhashes + 4 band hashes entirely map-side
    // (per-row array functions — legal in a stream, no stateful agg), and a
    // (band, bh) equi-join against the broadcast static band-bucket index
    // flags candidate near-dups of earlier corpus docs. Stateless append
    // query; the pair-dedup happens in batch on the drained memory table.
    // The static (indexed) side carries the occupancy cap — a hot bucket
    // bounds every stream row's fan-out at maxBucket; the oracle replays
    // the cap on the same side only.
    QueryDef(
      "q75_stream_neardup", {
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
           |          WHERE len(string_split(text, ' ')) >= 3),
           |grams AS (SELECT DISTINCT doc_id,
           |    unnest(list_transform(range(1, len(t) - 1),
           |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
           |  FROM toks),
           |${TextDedupPack.minhashBandsSql},
           |statc AS (SELECT doc_id, band, bh FROM (
           |            SELECT doc_id, band, bh,
           |              COUNT(*) OVER (PARTITION BY band, bh) AS n
           |            FROM bands)
           |          WHERE n <= 100)
           |SELECT DISTINCT st.doc_id AS doc_id, sc.doc_id AS match_id
           |FROM bands st JOIN statc sc
           |  ON sc.band = st.band AND sc.bh = st.bh AND sc.doc_id < st.doc_id
           |ORDER BY doc_id, match_id""".stripMargin
      }) { (s, d) =>
      // spread BEFORE the signature map (Tables.documentsSpread rationale:
      // the fixture is one parquet split; unpinned repartitions get AQE-
      // coalesced back to one task at fixture volume); the stream side gets
      // the same explicit fan-out inline.
      val static = graft.operators.Occupancy.cap(
        graft.operators.Dedup.portableBandBuckets(
          Tables.documentsSpread(s, d), "doc_id", "text"),
        Seq("band", "bh"), 100)
        .select(col("doc_id").as("match_id"), col("band"), col("bh"))
      val streamBands = graft.operators.Dedup.portableBandBuckets(
        Streams.documentsStream(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
        "doc_id", "text")
      // No forced broadcast: the banded static side scales with the corpus
      // (|docs| × bands, even occupancy-capped) — let the planner's size
      // estimate decide; at deploy scale this becomes a shuffled join on
      // (band, bh), which is the correct shape for an unbounded index.
      val matches = streamBands
        .join(static, Seq("band", "bh"))
        .filter(col("match_id") < col("doc_id"))
        .select("doc_id", "match_id")
      Streams.runToMemory(s, matches, "mq75", mode = "append")
        .distinct()
        .orderBy("doc_id", "match_id")
    },

    // ---- q84: streaming quality gate — the q70 funnel on a live stream -----
    // Batch/stream duality for the training ops: the quality rules are pure
    // per-row DataFrame expressions (TrainingPack.qualityPassAll — the SAME
    // Column q73 filters with in batch), so pointing them at a stream
    // just works; the per-source pass/total counts aggregate in complete
    // mode through the real StateStore path. This is the live ingest-gate a
    // corpus pipeline runs ahead of its batch rebuild.
    QueryDef(
      "q84_stream_quality_gate",
      s"""WITH scored AS (
         |  SELECT source,
         |    ${TrainingPack.qualityExprsSql}
         |  FROM documents)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN ${TrainingPack.QualityCondSql} THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
         |FROM scored
         |GROUP BY source
         |ORDER BY source""".stripMargin) { (s, d) =>
      val agg = Streams.documentsStream(s, d)
        .select(col("source"), TrainingPack.qualityPassAll.as("ok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_pass"))
      Streams.runCompleteToMemory(s, agg, "mq84")
        .orderBy("source")
    },

    // ---- q42: streaming sessionization via flatMapGroupsWithState ----------
    // Custom keyed state (unaligned, data-driven session boundaries). The
    // oracle replays the exact emission rule: every session closed by a
    // later in-stream event, plus tail sessions whose event-time timeout
    // (last event + gap) falls below the final watermark (max ts, delay 0).
    QueryDef(
      "q42_stream_sessions",
      """WITH ord AS (
        |  SELECT user_id, ts, event_id, epoch_ms(ts) AS ms,
        |    CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
        |         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |numbered AS (
        |  SELECT user_id, ts, ms,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        |  FROM ord),
        |sess AS (
        |  SELECT user_id, sess_no, MIN(ts) AS sess_start, MAX(ms) AS last_ms,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM numbered GROUP BY user_id, sess_no),
        |wm AS (SELECT epoch_ms(max(ts)) AS w FROM events),
        |flagged AS (
        |  SELECT user_id, sess_start, n_events, last_ms,
        |    sess_no = MAX(sess_no) OVER (PARTITION BY user_id) AS is_tail
        |  FROM sess)
        |SELECT user_id, sess_start, n_events
        |FROM flagged, wm
        |WHERE NOT is_tail OR last_ms + 1800000 < w
        |ORDER BY user_id, sess_start""".stripMargin) { (s, d) =>
      Streams.runToMemory(
        s, Streams.sessionize(Streams.eventsStream(s, d)).toDF(),
        "mq42", mode = "append")
        .select(col("user_id"), col("sess_start"), col("n_events"))
        .orderBy("user_id", "sess_start")
    },

    // ---- q188: streaming record linkage against the master table -----------
    // q186's production shape: new entity records ARRIVE (dirty twins +
    // impostors planted map-side, each class its own reader of the
    // customer-topic surrogate, unioned) and must link against the STATIC
    // master table before ingest. The
    // u-probability model comes from the master side only (the estimable
    // side in production — you can't estimate value frequencies over
    // records that haven't arrived), reduced to one broadcast scalar row;
    // the blocking join is stream-static on the equality key (stateless,
    // append mode — no watermark needed) and scoring is map-side, so the
    // whole gate is a per-micro-batch map+join with NO streaming state.
    // The confusion matrix aggregates in batch on the drained sink — no
    // pair dedup: Trigger.AvailableNow processes each staged input file
    // exactly once, so the sink holds each candidate pair exactly once
    // (a replay-tolerant deployment would dropDuplicates on (id_a, id_b)
    // first) — and hash-checks against the closed-form oracle:
    // every planted twin must arrive at 'match', every impostor at
    // 'non_match' — same guarantees as q186 under the master-only model.
    QueryDef(
      "q188_stream_record_linkage",
      """WITH base AS (
        |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nation,
        |    c_mktsegment AS seg, CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band
        |  FROM customer),
        |newrec AS (
        |  SELECT c_custkey + 1000000 AS id,
        |    substring(c_name, 1, length(c_name) - 1) || 'Z' AS name,
        |    c_nationkey AS nation,
        |    CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment ELSE 'Z' || c_mktsegment END AS seg,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band
        |  FROM customer WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name, (c_nationkey + 1) % 25,
        |    'X' || c_mktsegment,
        |    CAST(FLOOR((10000.0 - c_acctbal) / 1000.0) AS BIGINT)
        |  FROM customer WHERE c_custkey % 7 = 3),
        |scal AS (
        |  SELECT CAST(n * (n - 1) AS BIGINT) AS uden, un, us, ub
        |  FROM (SELECT COUNT(*) AS n FROM base),
        |    (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS un
        |     FROM (SELECT COUNT(*) AS c FROM base GROUP BY nation)),
        |    (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS us
        |     FROM (SELECT COUNT(*) AS c FROM base GROUP BY seg)),
        |    (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS ub
        |     FROM (SELECT COUNT(*) AS c FROM base GROUP BY band))),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    a.nation = b.nation AS agr_n, a.seg = b.seg AS agr_s,
        |    a.band = b.band AS agr_b
        |  FROM base a JOIN newrec b
        |    ON substring(a.name, 1, length(a.name) - 1)
        |     = substring(b.name, 1, length(b.name) - 1)),
        |scored AS (
        |  SELECT
        |    CASE WHEN id_b - id_a = 1000000 AND id_a % 5 = 0
        |           AND id_a < 1000000 THEN 'twin'
        |         WHEN id_b - id_a = 2000000 AND id_a % 7 = 3
        |           AND id_a < 1000000 THEN 'impostor'
        |         ELSE 'background' END AS pair_class,
        |    (CASE WHEN agr_n THEN CAST(uden AS DOUBLE) / CAST(un AS DOUBLE) * (19.0 / 20.0)
        |          ELSE CAST(uden AS DOUBLE) / CAST(uden - un AS DOUBLE) * (1.0 / 20.0) END)
        |    * (CASE WHEN agr_s THEN CAST(uden AS DOUBLE) / CAST(us AS DOUBLE) * (4.0 / 5.0)
        |            ELSE CAST(uden AS DOUBLE) / CAST(uden - us AS DOUBLE) * (1.0 / 5.0) END)
        |    * (CASE WHEN agr_b THEN CAST(uden AS DOUBLE) / CAST(ub AS DOUBLE) * (9.0 / 10.0)
        |            ELSE CAST(uden AS DOUBLE) / CAST(uden - ub AS DOUBLE) * (1.0 / 10.0) END)
        |      AS lr
        |  FROM pairs, scal)
        |SELECT pair_class,
        |  CASE WHEN lr >= 40.0 THEN 'match' WHEN lr >= 1.0 THEN 'possible'
        |       ELSE 'non_match' END AS decision,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CAST(FLOOR(lr * 10000.0) AS BIGINT)) AS BIGINT) AS sum_score_bp,
        |  CAST(MIN(CAST(FLOOR(lr * 10000.0) AS BIGINT)) AS BIGINT) AS min_score_bp,
        |  CAST(MAX(CAST(FLOOR(lr * 10000.0) AS BIGINT)) AS BIGINT) AS max_score_bp
        |FROM scored
        |GROUP BY pair_class, decision
        |ORDER BY pair_class, decision""".stripMargin) { (s, d) =>
      import graft.operators.Linkage
      val master = Linkage.baseRecords(Tables.customer(s, d))
      val scal = Linkage.uModel(master)
      val masterK = master.select(Linkage.blockKey.as("k"),
        col("id").as("id_a"), col("nation").as("n_a"), col("seg").as("s_a"),
        col("band").as("b_a"))
      // arriving records: the two planted classes, each a map-side
      // projection of its own reader of the customer topic surrogate
      val arriving = Linkage.dirtyRecords(Streams.customerStream(s, d))
        .unionByName(Linkage.impostorRecords(Streams.customerStream(s, d)))
        .select(Linkage.blockKey.as("k"), col("id").as("id_b"),
          col("nation").as("n_b"), col("seg").as("s_b"), col("band").as("b_b"))
      // stream-static equi-join on the blocking key; u-model scalars ride
      // a broadcast single-row join (literal key — bounded by construction)
      val lr = Linkage.likelihoodRatio
      val scored = arriving
        .join(masterK, Seq("k"))
        .withColumn("j", lit(1))
        .join(broadcast(scal.withColumn("j", lit(1))), Seq("j"))
        .select(Linkage.pairClass.as("pair_class"),
          Linkage.decisionOf(lr).as("decision"),
          floor(lr * 10000.0).as("bp"))
      Linkage.confusion(
        Streams.runToMemory(s, scored, "mq188", mode = "append"))
    }
  )
}
