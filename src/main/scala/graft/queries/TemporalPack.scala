package graft.queries

import graft.{QueryDef, Stage, Tables}
import graft.streaming.Streams
import graft.operators.TemporalJoins
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Temporal-join pack: as-of and bounded range joins — operators Spark has
  * no built-in for, composed scale-safely (one equi-shuffle, no inequality
  * fan-out; see [[TemporalJoins]]). DuckDB has a native ASOF JOIN, which
  * makes a sharp oracle: two completely different algorithms must agree
  * row-for-row.
  */
object TemporalPack {

  /** Shared oracle for q176 (batch) and q180 (streaming): per-hour counts
    * are mergeable sums, so the incrementally-maintained hourly MV scored
    * once at the end must land on the byte-identical CUSUM verdict (the
    * q116-vs-q105 / q158-vs-q155 same-oracle trick, for drift detection). */
  private val CUSUM_SQL =
    """WITH c AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
      |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
      |k AS (
      |  SELECT event_type, COUNT(*) AS n_hours,
      |    (SUM(c) + COUNT(*) - 1) // COUNT(*) AS k
      |  FROM c GROUP BY event_type),
      |p AS (
      |  SELECT c.event_type, c.h, k.k, k.n_hours,
      |    SUM(c.c - k.k) OVER (PARTITION BY c.event_type ORDER BY c.h
      |      ROWS UNBOUNDED PRECEDING) AS pfx
      |  FROM c JOIN k USING (event_type)),
      |s AS (
      |  SELECT event_type, h, k, n_hours,
      |    pfx - LEAST(MIN(pfx) OVER (PARTITION BY event_type ORDER BY h
      |      ROWS UNBOUNDED PRECEDING), 0) AS s
      |  FROM p)
      |SELECT event_type,
      |  CAST(MAX(n_hours) AS BIGINT) AS n_hours,
      |  CAST(MAX(k) AS BIGINT) AS k_allowance,
      |  CAST(MAX(s) AS BIGINT) AS max_s,
      |  CAST(SUM(CASE WHEN s > 3 * k THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_hours,
      |  MIN(CASE WHEN s > 3 * k THEN h END) AS first_alarm_hour
      |FROM s GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Shared oracle for q45 (batch) and q285 (streaming): the as-of
    * enrichment against a STATIC dimension is per-row independent, so the
    * streamed form must land on the byte-identical result. */
  private val ASOF_SQL =
    """WITH o AS (
      |  SELECT o_custkey AS k, CAST(o_orderdate AS TIMESTAMP) AS ots,
      |    max(o_orderkey) AS okey,
      |    max_by(o_totalprice, o_orderkey) AS oprice
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id,
      |  o.okey AS last_orderkey, o.oprice AS last_totalprice
      |FROM events e
      |ASOF LEFT JOIN o ON e.user_id = o.k AND e.ts >= o.ots
      |ORDER BY e.event_id""".stripMargin

  /** q45/q285's deduped right side: one deterministic row per
    * (custkey, date) — the max orderkey wins. */
  private def asofOrders(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.orders(s, d)
      .groupBy(col("o_custkey").as("k"),
        col("o_orderdate").cast("timestamp").as("ots"))
      .agg(max(col("o_orderkey")).as("okey"),
        max_by(col("o_totalprice"), col("o_orderkey")).as("oprice"))

  /** The CUSUM scoring pass over an hourly-count relation
    * (event_type, h, c) — two keyed windows, all-integer; see q176. */
  private def cusumScore(hourly: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val allowance = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        // DIV, not `/`: Column./ on longs is DOUBLE division, and a
        // truncating cast of a double quotient can land one off the
        // exact integer ceiling at scale
        expr("(sum(c) + count(1) - 1) DIV count(1)").as("k"))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = hourly.join(broadcast(allowance), "event_type")
      .withColumn("pfx", sum(col("c") - col("k")).over(w))
      .withColumn("s", col("pfx") - least(min(col("pfx")).over(w), lit(0L)))
    cusum.groupBy("event_type")
      .agg(max(col("n_hours")).as("n_hours"),
        max(col("k")).as("k_allowance"),
        max(col("s")).as("max_s"),
        sum(when(col("s") > lit(3) * col("k"), 1L).otherwise(0L))
          .as("n_alarm_hours"),
        min(when(col("s") > lit(3) * col("k"), col("h")))
          .as("first_alarm_hour"))
      .orderBy("event_type")
  }

  /** `events` staged as 3 batches per sf dir, split by a hash of
    * event_id — the micro-batch replay source of q116, q180 and q285.
    * Written from the ts-normalized load so the stream side reads plain
    * zoned timestamps. */
  private[queries] def stagedEventBatches(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    Stage.batches("graft-events-src-", d, 3)(Tables.events(s, d)
      .withColumn("slot", pmod(xxhash64(col("event_id")), lit(3))))

  def all: Seq[QueryDef] = Seq(

    // ---- q45: as-of join — each event's most recent prior order ------------
    QueryDef(
      "q45_asof_join", ASOF_SQL) { (s, d) =>
      val o = asofOrders(s, d)
      TemporalJoins.asofJoin(
        Tables.events(s, d).select("event_id", "user_id", "ts"),
        "user_id", "ts", o, "k", "ots",
        struct(col("okey"), col("oprice")), asofCol = "__asof")
        .select(col("event_id"), col("user_id"),
          col("__asof.okey").as("last_orderkey"),
          col("__asof.oprice").as("last_totalprice"))
        .orderBy("event_id")
    },

    // ---- q46: range join — events within 1 h after each purchase -----------
    QueryDef(
      "q46_range_join",
      """SELECT a.event_id, CAST(COUNT(*) AS BIGINT) AS n_in_window
        |FROM events a
        |JOIN events b ON b.user_id = a.user_id
        |  AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 1 HOUR
        |WHERE a.event_type = 'purchase'
        |GROUP BY a.event_id
        |ORDER BY a.event_id""".stripMargin) { (s, d) =>
      val events = Tables.events(s, d)
      TemporalJoins.rangeJoinCount(
        events.filter(col("event_type") === "purchase"), "event_id",
        "user_id", "ts", events, "user_id", "ts", windowSec = 3600)
        .orderBy("event_id")
    },

    // ---- q176: CUSUM rate-drift detection via the prefix-sum identity ------
    // The classic one-sided CUSUM s_t = max(0, s_{t-1} + (x_t - k)) is a
    // sequential recurrence — the naive implementation is a per-key loop.
    // The identity s_t = P_t - min(0, min_{j<=t} P_j), with P the running
    // sum of (x_t - k), turns it into TWO keyed window functions (cumulative
    // sum + running min) — fully parallel across keys, no recursion, no UDF,
    // each key's series sorted only inside its own window partition.
    // Applied to the per-hour event-rate series per event_type: allowance
    // k = ceil(mean hourly count) (integer ceiling — exact cross-engine),
    // alarm when s exceeds 3k. All-integer math end-to-end; the output is
    // the per-type drift verdict (max excursion, alarm hours, first alarm).
    QueryDef("q176_cusum_drift", CUSUM_SQL) { (s, d) =>
      cusumScore(Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c")))
    },

    // ---- q180: streaming CUSUM — incremental hourly MV, scored on merge ----
    // The deployed form of q176: the hourly-count materialized view is
    // maintained incrementally from the stream (per-batch keyed count
    // partials — counts are a commutative monoid, so batch boundaries can
    // straddle hours freely), persisted idempotently (batch-dir overwrite of
    // the batch's own partition — a micro-batch retry can never double its
    // rows, cf. q130), and the CUSUM scoring pass runs over the merged MV.
    // Hash-checked against q176's byte-identical oracle: maintenance and
    // recompute must agree exactly. At 100 TB the stream never re-scans
    // history — refresh cost is the batch's, the scoring pass is
    // hours×types-sized.
    QueryDef("q180_stream_cusum", CUSUM_SQL) { (s, d) =>
      val srcDir = stagedEventBatches(s, d)
      val store = Stage.cleared("graft-q180-hourly-", d)
      Streams.replay(s, srcDir, ())((_, batch, batchId) =>
        Stage.append(store.toString, batchId,
          batch.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
            .agg(count(lit(1)).as("c"))))
      cusumScore(s.read.parquet(store.toString)
        .groupBy("event_type", "h").agg(sum(col("c")).as("c")))
    },

    // ---- q283: nearest as-of join with tolerance ----------------------------
    // The third as-of direction after backward (q45): NEAREST-within-
    // tolerance, the semantics pandas merge_asof(direction='nearest')
    // and kdb's wj ship — for each click, the closest purchase by the
    // same user within ±30 min, ties to the EARLIER purchase. Composed
    // from the two linear as-of passes ([[graft.operators.TemporalJoins
    // .asofJoin]] backward + the new asofJoinForward mirror — each ONE
    // exchange on the key, zero inequality fan-out), then pure scalar
    // arithmetic picks the nearer side. The right side is pre-deduped to
    // one row per (user, ts) (max event_id) so both engines' as-of tie
    // rules coincide. DuckDB replays with native ASOF JOIN in both
    // directions (>= and <=).
    //
    // 100 TB shape: two union-window passes over (clicks ∪ purchases)
    // partitioned by user — no range explosion, no nested-loop join;
    // the tolerance gate is a per-row comparison after the match.
    QueryDef(
      "q283_asof_nearest",
      """WITH p AS (
        |  SELECT user_id AS k, ts AS pts, MAX(event_id) AS pid
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click'),
        |b AS (
        |  SELECT c.event_id, c.user_id, c.ts, p.pts AS bpts, p.pid AS bpid
        |  FROM c ASOF LEFT JOIN p ON c.user_id = p.k AND c.ts >= p.pts),
        |f AS (
        |  SELECT c.event_id, p.pts AS fpts, p.pid AS fpid
        |  FROM c ASOF LEFT JOIN p ON c.user_id = p.k AND c.ts <= p.pts),
        |m AS (
        |  SELECT b.event_id, b.user_id, b.bpid, b.fpid2 AS fpid,
        |    CASE WHEN b.bpts IS NOT NULL THEN
        |      (epoch_us(b.ts) - epoch_us(b.bpts)) // 1000000 END AS pdt,
        |    CASE WHEN b.fpts2 IS NOT NULL THEN
        |      (epoch_us(b.fpts2) - epoch_us(b.ts)) // 1000000 END AS ndt
        |  FROM (SELECT b.*, f.fpts AS fpts2, f.fpid AS fpid2
        |        FROM b JOIN f ON f.event_id = b.event_id) b)
        |SELECT event_id, user_id,
        |  CAST(bpid AS BIGINT) AS prev_pid, CAST(pdt AS BIGINT) AS prev_dt_s,
        |  CAST(fpid AS BIGINT) AS next_pid, CAST(ndt AS BIGINT) AS next_dt_s,
        |  CAST(CASE
        |    WHEN pdt IS NOT NULL AND pdt <= 1800
        |      AND (ndt IS NULL OR ndt > 1800 OR pdt <= ndt) THEN bpid
        |    WHEN ndt IS NOT NULL AND ndt <= 1800 THEN fpid END AS BIGINT)
        |    AS nearest_pid,
        |  CAST(CASE
        |    WHEN pdt IS NOT NULL AND pdt <= 1800
        |      AND (ndt IS NULL OR ndt > 1800 OR pdt <= ndt) THEN -pdt
        |    WHEN ndt IS NOT NULL AND ndt <= 1800 THEN ndt END AS BIGINT)
        |    AS nearest_dt_s,
        |  CAST(CASE WHEN (pdt IS NOT NULL AND pdt <= 1800)
        |    OR (ndt IS NOT NULL AND ndt <= 1800) THEN 1 ELSE 0 END AS BIGINT)
        |    AS matched
        |FROM m
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("k"), col("ts").as("pts"))
        .agg(max(col("event_id")).as("pid"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val back = TemporalJoins.asofJoin(
        clicks, "user_id", "ts", purch, "k", "pts",
        struct(col("pts"), col("pid")), asofCol = "__b")
      val both = TemporalJoins.asofJoinForward(
        back, "user_id", "ts", purch, "k", "pts",
        struct(col("pts"), col("pid")), asofCol = "__f")
      val m = both.select(col("event_id"), col("user_id"),
        col("__b.pid").as("bpid"),
        when(col("__b.pts").isNotNull,
          expr("(unix_micros(ts) - unix_micros(__b.pts)) div 1000000"))
          .as("pdt"),
        col("__f.pid").as("fpid"),
        when(col("__f.pts").isNotNull,
          expr("(unix_micros(__f.pts) - unix_micros(ts)) div 1000000"))
          .as("ndt"))
      val prevWins = col("pdt").isNotNull && col("pdt") <= 1800 &&
        (col("ndt").isNull || col("ndt") > 1800 || col("pdt") <= col("ndt"))
      val nextWins = !prevWins && col("ndt").isNotNull && col("ndt") <= 1800
      m.select(col("event_id"), col("user_id"),
          col("bpid").as("prev_pid"), col("pdt").as("prev_dt_s"),
          col("fpid").as("next_pid"), col("ndt").as("next_dt_s"),
          when(prevWins, col("bpid")).when(nextWins, col("fpid"))
            .as("nearest_pid"),
          when(prevWins, -col("pdt")).when(nextWins, col("ndt"))
            .as("nearest_dt_s"),
          when(prevWins || nextWins, 1L).otherwise(0L).as("matched"))
        .orderBy("event_id")
    },

    // ---- q284: exponential time-decay score (truncated integer EWMA) -------
    // The recency-weighted engagement score a feature store maintains per
    // entity: with decay 1/2 per step, the user’s j-th-from-last event
    // contributes value·2⁻ʲ, truncated at 30 taps (2⁻³⁰ ≈ 1e-9 of the
    // head — the standard bounded-history form). The whole sum is EXACT
    // BIGINT arithmetic: cents(value)·2^(29−j) ≤ 3.3e4·2²⁹ per term, ≤ 30
    // terms — then ONE IEEE division by the constant 2²⁹·100 renders the
    // score. (A decimal accumulation of the un-truncated dyadic terms is
    // NOT cross-engine bit-stable: Spark’s double→decimal cast rounds via
    // the shortest string representation, DuckDB’s via the binary value —
    // they disagree below the 17th significant digit. Integer scaling
    // sidesteps the cast entirely.)
    //
    // 100 TB shape: one window rank + one keyed agg per user — the
    // per-entity fold a feature-store backfill runs; no recursion (the
    // closed form Σ vⱼ·2⁻ʲ IS the EWMA recurrence unrolled).
    QueryDef(
      "q284_ewma_decay",
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS i,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |t AS (
        |  SELECT user_id, event_id, i, n,
        |    CASE WHEN n - i <= 29 THEN
        |      CAST(round(value * 100) AS BIGINT)
        |        * CAST(power(2, 29 - (n - i)) AS BIGINT)
        |    ELSE 0 END AS sc
        |  FROM r)
        |SELECT user_id,
        |  CAST(MAX(n) AS BIGINT) AS n_events,
        |  CAST(MAX(CASE WHEN i = n THEN event_id END) AS BIGINT)
        |    AS last_event_id,
        |  CAST(SUM(sc) AS BIGINT) AS ewma_scaled,
        |  CAST(SUM(sc) AS DOUBLE) / 53687091200.0 AS ewma
        |FROM t
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wn = Window.partitionBy("user_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          row_number().over(w).cast("long").as("i"),
          count(lit(1)).over(wn).as("n"))
        .withColumn("sc", when(col("n") - col("i") <= 29,
          expr("cast(round(value * 100) as bigint)") *
            expr("cast(pow(2, 29 - (n - i)) as bigint)")).otherwise(0L))
        .groupBy("user_id")
        .agg(max(col("n")).as("n_events"),
          max(when(col("i") === col("n"), col("event_id")))
            .as("last_event_id"),
          sum(col("sc")).as("ewma_scaled"),
          (sum(col("sc")).cast("double") / 53687091200.0).as("ewma"))
        .orderBy("user_id")
    },

    // ---- q285: streaming as-of enrichment against a static dimension --------
    // q45 as the events stream in — the ingest-time enrichment every
    // event pipeline runs (attach the latest prior order to each event
    // as it ARRIVES). The right side is static, so the as-of result is
    // per-row independent: STATELESS per micro-batch (the q188/q279
    // stream-static gate shape — no StateStore, no watermark), each
    // batch runs the same single-exchange union-window as-of against the
    // deduped dimension, persists its disjoint verdict slice under
    // batch_id (idempotent batch-dir overwrite), and the final fold is a
    // plain union. Hash-matches batch q45's oracle VERBATIM no matter
    // how ingest was batched.
    //
    // 100 TB shape: per-batch cost is (batch ∪ dimension) windowed once —
    // flat per batch; at real volumes the dimension side is the bucketed
    // build side each batch probes.
    QueryDef(
      "q285_stream_asof", ASOF_SQL) { (s, d) =>
      val srcDir = stagedEventBatches(s, d)
      val store = Stage.cleared("graft-q285-asof-", d)
      val o = asofOrders(s, d)
      Streams.replay(s, srcDir, ())((_, batch, batchId) =>
        Stage.append(store.toString, batchId,
          TemporalJoins.asofJoin(
            Tables.normalizeTs(batch).select("event_id", "user_id", "ts"),
            "user_id", "ts", o, "k", "ots",
            struct(col("okey"), col("oprice")), asofCol = "__asof")
            .select(col("event_id"), col("user_id"),
              col("__asof.okey").as("last_orderkey"),
              col("__asof.oprice").as("last_totalprice"))))
      s.read.parquet(store.toString)
        .select("event_id", "user_id", "last_orderkey", "last_totalprice")
        .orderBy("event_id")
    },

    // ---- q291: point-in-time rolling features per event ---------------------
    // The feature-backfill pass a feature store runs: for EVERY event,
    // the user's trailing-7-day activity (count + exact cent-sum of
    // `value`) as of THAT event — point-in-time correct by construction
    // (the window frame ends at the current row, so no future leakage;
    // the training-serving-skew bug this pass exists to prevent), plus
    // the event index and seconds since the previous event. All three
    // features are one window pass per user: a numeric RANGE frame over
    // epoch-micros for the trailing aggregates (both engines define
    // RANGE frames over the sort value identically) and a ROWS lag for
    // the gap. Sums are exact BIGINT cents — no float aggregation.
    //
    // 100 TB shape: ONE exchange on user_id, then per-user sorted window
    // work; at real volumes this is the backfill shape (partition by
    // entity, time-sorted scan), never a self-join per event.
    QueryDef(
      "q291_rolling_features",
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(ROW_NUMBER() OVER w_rows AS BIGINT) AS event_idx,
        |  CAST((us - LAG(us) OVER w_rows) // 1000000 AS BIGINT)
        |    AS secs_since_prev,
        |  CAST(COUNT(*) OVER w_range AS BIGINT) AS cnt_7d,
        |  CAST(SUM(cents) OVER w_range AS BIGINT) AS sum_7d_cents
        |FROM e
        |WINDOW
        |  w_rows AS (PARTITION BY user_id ORDER BY us, event_id),
        |  w_range AS (PARTITION BY user_id ORDER BY us
        |    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      val wRows = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wRange = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-604800000000L, Window.currentRow)
      e.select(col("event_id"), col("user_id"),
          row_number().over(wRows).cast("long").as("event_idx"),
          expr("(us - lag(us) over (partition by user_id order by us, event_id))" +
            " div 1000000").as("secs_since_prev"),
          count(lit(1)).over(wRange).as("cnt_7d"),
          sum(col("cents")).over(wRange).as("sum_7d_cents"))
        .orderBy("event_id")
    }
  )
}
