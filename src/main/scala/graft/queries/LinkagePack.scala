package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

// Shared text-dedup primitives live in TextDedupPack and are visible
// package-wide; the linkage family consumes them unqualified via this import.
import TextDedupPack._

/** Record-linkage / entity-resolution operators — the LinkagePack family
  * split out of TextDedupPack along its family seam (r16, verdict item 7;
  * zero query renames): edit-distance similarity join (q170, PassJoin
  * k+1-segment blocking), sorted-neighborhood blocking (q177),
  * Fellegi–Sunter probabilistic linkage (q186), golden-record
  * survivorship (q190), and the linkage threshold sweep (q192).
  */
object LinkagePack {

  def all: Seq[QueryDef] = Seq(
    // ---- q170: edit-distance similarity join (PassJoin segments) -----------
    // Typo-cluster mining over the part-name dictionary: every unordered
    // name pair within edit distance 1, with how many parts each spelling
    // covers — the merge-or-flag decision table for entity normalization.
    // Algorithm: [[graft.operators.EditDistance.passJoin]] — k+1-segment
    // blocking with an equality candidate join and exact levenshtein
    // verify (100% recall by pigeonhole; EditDistanceSpec proves it
    // against brute force over random strings at k = 1 and 2). Distinct
    // from q107's deletion-neighborhood blocking: segments index k+1 short
    // keys per string instead of len+1 variants of len-1 chars, so the
    // index stays linear in dictionary bytes for long strings and k > 1.
    // The dictionary is distinct-aggregated FIRST (names, not rows, drive
    // the join: at 100 TB the part table shrinks to its name dictionary
    // before any pair work), and Spark/DuckDB `levenshtein` share plain
    // Levenshtein semantics, so the blocked result hash-matches the
    // brute-force oracle.
    QueryDef(
      "q170_edit_distance_join",
      """WITH dict AS (
        |  SELECT p_name AS name, COUNT(*) AS cnt FROM part GROUP BY p_name)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS ed,
        |  CAST(a.cnt AS BIGINT) AS parts_a, CAST(b.cnt AS BIGINT) AS parts_b
        |FROM dict a JOIN dict b
        |  ON a.name < b.name
        | AND abs(length(a.name) - length(b.name)) <= 1
        | AND levenshtein(a.name, b.name) <= 1
        |ORDER BY name_a, name_b""".stripMargin) { (s, d) =>
      val dict = Tables.part(s, d)
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("cnt"))
        .persist()
      val pairs = graft.operators.EditDistance.passJoin(dict, "name", "name", 1)
        .select(col("ida").as("name_a"), col("idb").as("name_b"), col("ed"))
      pairs
        .join(dict.select(col("name").as("name_a"), col("cnt").as("parts_a")), "name_a")
        .join(dict.select(col("name").as("name_b"), col("cnt").as("parts_b")), "name_b")
        .select("name_a", "name_b", "ed", "parts_a", "parts_b")
        .orderBy("name_a", "name_b")
    },

    // ---- q177: sorted-neighborhood blocking (sort-based candidate gen) -----
    // The third classic blocking family next to LSH (q28) and prefix
    // filtering (q131): normalize, SORT by a blocking key, and compare only
    // rows within a fixed window w of each other in sort order. Candidates
    // are linear in n·w instead of quadratic, and the sort is ONE balanced
    // range exchange (GlobalIds.assign — never a one-reducer ROW_NUMBER);
    // the window join is w cheap rank-equi-joins (rn+i = rn), not an
    // inequality fan-out. Candidates then face the SAME exact-Jaccard
    // verify as every other blocking path, so precision is exact by
    // construction and only recall depends on the key. Key = first 16
    // alphanumeric chars of the lowercased text — near-dups that share a
    // prefix sort adjacent.
    QueryDef(
      "q177_sorted_neighborhood",
      s"""WITH $GRAMS_SQL,
         |sorted AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY
         |      substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 16),
         |      doc_id) AS rn
         |  FROM documents),
         |cand AS (
         |  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
         |    GREATEST(a.doc_id, b.doc_id) AS doc_b
         |  FROM sorted a JOIN sorted b ON b.rn - a.rn BETWEEN 1 AND $SN_W),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
         |common AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS common
         |           FROM cand c
         |           JOIN grams g1 ON g1.doc_id = c.doc_a
         |           JOIN grams g2 ON g2.doc_id = c.doc_b AND g2.gram = g1.gram
         |           GROUP BY c.doc_a, c.doc_b)
         |SELECT doc_a, doc_b,
         |  common * 1.0 / (sa.n + sb.n - common) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val key = substring(
        regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 16)
      val sorted = graft.operators.GlobalIds.assign(
        Tables.documentsSpread(s, d).select(col("doc_id"), key.as("k")),
        Seq(col("k"), col("doc_id")), "rn")
        .select("doc_id", "rn")
        // both sides of the w rank-equi-joins scan it; localCheckpoint, not
        // persist — no cache entry; Stage.query frees the blocks (cf. GlobalIds)
        .localCheckpoint()
      val cand = sorted
        .select(col("doc_id").as("id_a"),
          explode(array((1 to SN_W).map(i => col("rn") + i): _*)).as("rn"))
        .join(sorted.withColumnRenamed("doc_id", "id_b"), "rn")
        .select(least(col("id_a"), col("id_b")).as("doc_a"),
          greatest(col("id_a"), col("id_b")).as("doc_b"))
        .distinct()
      val grams = sparkGrams(s, d)
      val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val common = cand
        .join(grams.select(col("doc_id").as("doc_a"), col("gram")), "doc_a")
        .join(grams.select(col("doc_id").as("doc_b"), col("gram")),
          Seq("doc_b", "gram"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      val jc = col("common") * lit(1.0) / (col("na") + col("nb") - col("common"))
      common
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), jc.as("jaccard"))
        .filter(jc >= 0.5)
        .orderBy("doc_a", "doc_b")
    },


    // ---- q186: Fellegi–Sunter probabilistic record linkage -----------------
    // The probabilistic scoring layer entity resolution runs AFTER blocking
    // (Fellegi & Sunter, "A theory for record linkage", JASA 1969 — public
    // literature): each candidate pair's field-agreement pattern is scored
    // by a likelihood ratio Π m_f/u_f (agree) · (1-m_f)/(1-u_f) (disagree),
    // where u_f — the chance two NON-matching records agree on field f —
    // is estimated EXACTLY from the data's value-frequency distribution
    // (u_f = Σ_v n_v(n_v-1) / N(N-1), pure BIGINT arithmetic), and m_f —
    // the chance true matches agree — is a model constant (19/20, 4/5,
    // 9/10 for nation/segment/balance-band). Ground truth is PLANTED on
    // the customer table (cf. q107/q179): every custkey%5==0 customer gets
    // a "dirty twin" at +1e6 (last name char replaced, attributes copied,
    // segment perturbed for half of them — a true match the scorer must
    // accept even with one field disagreeing) and every custkey%7==3 gets
    // an "impostor" at +2e6 (IDENTICAL name, all attributes changed — a
    // distinct entity sharing a name, which name-only matching would
    // falsely merge and the FS score must reject). Candidates come from
    // standard equality blocking on name-minus-last-char — the 4th classic
    // blocking family next to LSH (q28), prefix filtering (q131) and
    // sorted neighborhood (q177); lossless for BOTH planted classes by
    // construction (twins differ only in the last char, impostors not at
    // all). Output is the (pair_class × decision) confusion matrix with
    // exact basis-point score sums.
    //
    // Cross-engine bit-stability: LR is a product of three quotients of
    // exact BIGINT-derived doubles (< 2^53, conversion exact) evaluated in
    // fixed left-associative order — the q133 raw-IEEE-quotient
    // discipline — then floored to integer basis points.
    //
    // 100 TB shape: candidate generation is ONE keyed shuffle on the
    // blocking key (block-size skew is exactly what q171's profiler
    // pre-flights); the u-model is three keyed aggs reduced to one
    // broadcast scalar row; scoring is map-side expression work on
    // candidates. Nothing is quadratic in the table — only in block
    // occupancy, which the blocking key bounds.
    QueryDef(
      "q186_record_linkage",
      """WITH recs AS (
        |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nation,
        |    c_mktsegment AS seg, CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, substring(c_name, 1, length(c_name) - 1) || 'Z',
        |    c_nationkey,
        |    CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment ELSE 'Z' || c_mktsegment END,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)
        |  FROM customer WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name, (c_nationkey + 1) % 25,
        |    'X' || c_mktsegment,
        |    CAST(FLOOR((10000.0 - c_acctbal) / 1000.0) AS BIGINT)
        |  FROM customer WHERE c_custkey % 7 = 3),
        |scal AS (
        |  SELECT CAST(n * (n - 1) AS BIGINT) AS uden, un, us, ub
        |  FROM (SELECT COUNT(*) AS n FROM recs),
        |    (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS un
        |     FROM (SELECT COUNT(*) AS c FROM recs GROUP BY nation)),
        |    (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS us
        |     FROM (SELECT COUNT(*) AS c FROM recs GROUP BY seg)),
        |    (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS ub
        |     FROM (SELECT COUNT(*) AS c FROM recs GROUP BY band))),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    a.nation = b.nation AS agr_n, a.seg = b.seg AS agr_s,
        |    a.band = b.band AS agr_b
        |  FROM recs a JOIN recs b
        |    ON substring(a.name, 1, length(a.name) - 1)
        |     = substring(b.name, 1, length(b.name) - 1)
        |   AND a.id < b.id),
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
      val cust = Tables.customer(s, d)
      val recs = Linkage.baseRecords(cust)
        .unionByName(Linkage.dirtyRecords(cust))
        .unionByName(Linkage.impostorRecords(cust))
      val scal = Linkage.uModel(recs)
      def side(suf: String) = recs.select(Linkage.blockKey.as("k"),
        col("id").as(s"id_$suf"), col("nation").as(s"n_$suf"),
        col("seg").as(s"s_$suf"), col("band").as(s"b_$suf"))
      val pairs = side("a").join(side("b"), Seq("k"))
        .filter(col("id_a") < col("id_b"))
        .crossJoin(broadcast(scal))
      val lr = Linkage.likelihoodRatio
      Linkage.confusion(pairs.select(
        Linkage.pairClass.as("pair_class"),
        Linkage.decisionOf(lr).as("decision"),
        floor(lr * 10000.0).as("bp")))
    },

    // ---- q190: golden-record survivorship (entity-resolution capstone) -----
    // The step entity resolution exists FOR: q186's match decisions become
    // transitive clusters (operators.Components — the same O(log² n)
    // keyed-rounds CC as q67, here over the FS 'match' pairs), and each
    // cluster collapses to ONE golden record by explicit survivorship
    // rules: canonical id = min member id (the CC convention), nation from
    // the canonical record, segment by majority vote (tie → lexicographic
    // — a deterministic rule, not arg_max luck), band = max. Records that
    // match nothing survive as their own singleton cluster. The oracle
    // replays CC as a recursive-CTE closure (q67's trick, feasible at test
    // SFs) over the identical match set.
    //
    // 100 TB shape: matches are the FS-gated candidate pairs (linear via
    // blocking), CC is keyed rounds with measured widths, and survivorship
    // is two keyed aggs + one cluster-partitioned window (clusters are
    // near-dup-group-sized, never corpus-sized) + two joins back on
    // cluster_id. Nothing quadratic, no driver-side graph.
    QueryDef(
      "q190_golden_record",
      s"""WITH RECURSIVE recs AS (
         |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nation,
         |    c_mktsegment AS seg, CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band
         |  FROM customer
         |  UNION ALL
         |  SELECT c_custkey + 1000000, substring(c_name, 1, length(c_name) - 1) || 'Z',
         |    c_nationkey,
         |    CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment ELSE 'Z' || c_mktsegment END,
         |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)
         |  FROM customer WHERE c_custkey % 5 = 0
         |  UNION ALL
         |  SELECT c_custkey + 2000000, c_name, (c_nationkey + 1) % 25,
         |    'X' || c_mktsegment,
         |    CAST(FLOOR((10000.0 - c_acctbal) / 1000.0) AS BIGINT)
         |  FROM customer WHERE c_custkey % 7 = 3),
         |scal AS (
         |  SELECT CAST(n * (n - 1) AS BIGINT) AS uden, un, us, ub
         |  FROM (SELECT COUNT(*) AS n FROM recs),
         |    (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS un
         |     FROM (SELECT COUNT(*) AS c FROM recs GROUP BY nation)),
         |    (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS us
         |     FROM (SELECT COUNT(*) AS c FROM recs GROUP BY seg)),
         |    (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS ub
         |     FROM (SELECT COUNT(*) AS c FROM recs GROUP BY band))),
         |cpairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    a.nation = b.nation AS agr_n, a.seg = b.seg AS agr_s,
         |    a.band = b.band AS agr_b
         |  FROM recs a JOIN recs b
         |    ON substring(a.name, 1, length(a.name) - 1)
         |     = substring(b.name, 1, length(b.name) - 1)
         |   AND a.id < b.id),
         |matches AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b,
         |      (CASE WHEN agr_n THEN CAST(uden AS DOUBLE) / CAST(un AS DOUBLE) * (19.0 / 20.0)
         |            ELSE CAST(uden AS DOUBLE) / CAST(uden - un AS DOUBLE) * (1.0 / 20.0) END)
         |      * (CASE WHEN agr_s THEN CAST(uden AS DOUBLE) / CAST(us AS DOUBLE) * (4.0 / 5.0)
         |              ELSE CAST(uden AS DOUBLE) / CAST(uden - us AS DOUBLE) * (1.0 / 5.0) END)
         |      * (CASE WHEN agr_b THEN CAST(uden AS DOUBLE) / CAST(ub AS DOUBLE) * (9.0 / 10.0)
         |              ELSE CAST(uden AS DOUBLE) / CAST(uden - ub AS DOUBLE) * (1.0 / 10.0) END)
         |        AS lr
         |    FROM cpairs, scal)
         |  WHERE lr >= 40.0),
         |und AS (SELECT id_a AS u, id_b AS v FROM matches
         |        UNION ALL
         |        SELECT id_b AS u, id_a AS v FROM matches),
         |reach(u, v) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         |comp AS (SELECT u AS id, least(u, MIN(v)) AS cluster_id
         |         FROM reach GROUP BY u),
         |members AS (
         |  SELECT r.id, COALESCE(c.cluster_id, r.id) AS cluster_id,
         |    r.nation, r.seg, r.band
         |  FROM recs r LEFT JOIN comp c ON c.id = r.id),
         |segc AS (SELECT cluster_id, seg, COUNT(*) AS cnt
         |         FROM members GROUP BY cluster_id, seg),
         |segw AS (SELECT cluster_id, seg,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_id
         |                       ORDER BY cnt DESC, seg) AS rn
         |  FROM segc),
         |agg AS (SELECT cluster_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_members,
         |    CAST(MAX(band) AS BIGINT) AS band_max,
         |    CAST(SUM(CASE WHEN id >= 1000000 AND id < 2000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_twin_members,
         |    CAST(SUM(CASE WHEN id >= 2000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_impostor_members
         |  FROM members GROUP BY cluster_id)
         |SELECT a.cluster_id, a.n_members,
         |  CAST(r.nation AS BIGINT) AS canonical_nation,
         |  s.seg AS golden_seg, a.band_max,
         |  a.n_twin_members, a.n_impostor_members
         |FROM agg a
         |JOIN recs r ON r.id = a.cluster_id
         |JOIN segw s ON s.cluster_id = a.cluster_id AND s.rn = 1
         |ORDER BY a.cluster_id""".stripMargin) { (s, d) =>
      import graft.operators.{Components, Linkage}
      val cust = Tables.customer(s, d)
      val recs = Linkage.baseRecords(cust)
        .unionByName(Linkage.dirtyRecords(cust))
        .unionByName(Linkage.impostorRecords(cust))
      val scal = Linkage.uModel(recs)
      def side(suf: String) = recs.select(Linkage.blockKey.as("k"),
        col("id").as(s"id_$suf"), col("nation").as(s"n_$suf"),
        col("seg").as(s"s_$suf"), col("band").as(s"b_$suf"))
      val matches = side("a").join(side("b"), Seq("k"))
        .filter(col("id_a") < col("id_b"))
        .crossJoin(broadcast(scal))
        .filter(Linkage.likelihoodRatio >= 40.0)
        .select("id_a", "id_b")
      val comp = Components.connectedComponents(matches, "id_a", "id_b")
        .select(col("id").as("__cid"), col("component"))
      val members = recs
        .join(comp, col("id") === col("__cid"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("cluster_id"),
          col("nation"), col("seg"), col("band"))
      val segw = members.groupBy("cluster_id", "seg").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("cluster_id").orderBy(col("cnt").desc, col("seg"))))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("seg").as("golden_seg"))
      val agg = members.groupBy("cluster_id").agg(
        count(lit(1)).as("n_members"), max(col("band")).as("band_max"),
        sum(when(col("id") >= Linkage.TWIN_OFFSET &&
          col("id") < Linkage.IMPOSTOR_OFFSET, 1L).otherwise(0L))
          .as("n_twin_members"),
        sum(when(col("id") >= Linkage.IMPOSTOR_OFFSET, 1L).otherwise(0L))
          .as("n_impostor_members"))
      agg
        .join(recs.select(col("id").as("cluster_id"),
          col("nation").cast("long").as("canonical_nation")), "cluster_id")
        .join(segw, "cluster_id")
        .select(col("cluster_id"), col("n_members"), col("canonical_nation"),
          col("golden_seg"), col("band_max"), col("n_twin_members"),
          col("n_impostor_members"))
        .orderBy("cluster_id")
    },

    // ---- q192: linkage threshold sweep — precision/recall over the LR cut --
    // q186 decides at LR >= 40.0; this query makes that cutoff a MEASURED
    // choice instead of a magic constant (the q148 eval-harness pattern
    // applied to linkage): the same scored candidate pairs are evaluated
    // against a ladder of thresholds, with planted twins as ground-truth
    // positives and impostors+background as negatives, producing the
    // threshold → (tp, fp, fn, tn, precision, recall) table an operator
    // reads to place the cut. All-integer: scores are the floored basis
    // points q186 already emits, thresholds compare in basis points, and
    // precision/recall are floor-divided basis points — exactly
    // replayable (Spark `div` ≡ DuckDB `//` on non-negatives).
    //
    // 100 TB shape: one extra map-side cross join of the scored pairs
    // against a 9-row broadcast threshold list, then a 9-group
    // aggregation with map-side partial combine — the sweep costs one
    // pass over the candidates, nothing quadratic, no extra shuffle of
    // the pair stream beyond the 9-key agg exchange.
    QueryDef(
      "q192_linkage_threshold_sweep",
      """WITH recs AS (
        |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nation,
        |    c_mktsegment AS seg, CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, substring(c_name, 1, length(c_name) - 1) || 'Z',
        |    c_nationkey,
        |    CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment ELSE 'Z' || c_mktsegment END,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)
        |  FROM customer WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name, (c_nationkey + 1) % 25,
        |    'X' || c_mktsegment,
        |    CAST(FLOOR((10000.0 - c_acctbal) / 1000.0) AS BIGINT)
        |  FROM customer WHERE c_custkey % 7 = 3),
        |scal AS (
        |  SELECT CAST(n * (n - 1) AS BIGINT) AS uden, un, us, ub
        |  FROM (SELECT COUNT(*) AS n FROM recs),
        |    (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS un
        |     FROM (SELECT COUNT(*) AS c FROM recs GROUP BY nation)),
        |    (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS us
        |     FROM (SELECT COUNT(*) AS c FROM recs GROUP BY seg)),
        |    (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS ub
        |     FROM (SELECT COUNT(*) AS c FROM recs GROUP BY band))),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    a.nation = b.nation AS agr_n, a.seg = b.seg AS agr_s,
        |    a.band = b.band AS agr_b
        |  FROM recs a JOIN recs b
        |    ON substring(a.name, 1, length(a.name) - 1)
        |     = substring(b.name, 1, length(b.name) - 1)
        |   AND a.id < b.id),
        |scored AS (
        |  SELECT
        |    CASE WHEN id_b - id_a = 1000000 AND id_a % 5 = 0
        |           AND id_a < 1000000 THEN 1 ELSE 0 END AS is_pos,
        |    CAST(FLOOR((
        |    (CASE WHEN agr_n THEN CAST(uden AS DOUBLE) / CAST(un AS DOUBLE) * (19.0 / 20.0)
        |          ELSE CAST(uden AS DOUBLE) / CAST(uden - un AS DOUBLE) * (1.0 / 20.0) END)
        |    * (CASE WHEN agr_s THEN CAST(uden AS DOUBLE) / CAST(us AS DOUBLE) * (4.0 / 5.0)
        |            ELSE CAST(uden AS DOUBLE) / CAST(uden - us AS DOUBLE) * (1.0 / 5.0) END)
        |    * (CASE WHEN agr_b THEN CAST(uden AS DOUBLE) / CAST(ub AS DOUBLE) * (9.0 / 10.0)
        |            ELSE CAST(uden AS DOUBLE) / CAST(uden - ub AS DOUBLE) * (1.0 / 10.0) END)
        |    ) * 10000.0) AS BIGINT) AS bp
        |  FROM pairs, scal),
        |thr AS (SELECT * FROM (VALUES (1), (2), (5), (10), (20), (40), (80),
        |                              (160), (320)) v(t)),
        |swept AS (
        |  SELECT CAST(t AS BIGINT) AS threshold,
        |    CAST(SUM(CASE WHEN is_pos = 1 AND bp >= t * 10000 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN is_pos = 0 AND bp >= t * 10000 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN is_pos = 1 AND bp < t * 10000 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN is_pos = 0 AND bp < t * 10000 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM scored, thr GROUP BY t)
        |SELECT threshold, tp, fp, fn, tn,
        |  CASE WHEN tp + fp = 0 THEN NULL
        |       ELSE CAST((tp * 10000) // (tp + fp) AS BIGINT) END AS precision_bp,
        |  CASE WHEN tp + fn = 0 THEN NULL
        |       ELSE CAST((tp * 10000) // (tp + fn) AS BIGINT) END AS recall_bp
        |FROM swept
        |ORDER BY threshold""".stripMargin) { (s, d) =>
      import graft.operators.Linkage
      import s.implicits._
      val cust = Tables.customer(s, d)
      val recs = Linkage.baseRecords(cust)
        .unionByName(Linkage.dirtyRecords(cust))
        .unionByName(Linkage.impostorRecords(cust))
      val scal = Linkage.uModel(recs)
      def side(suf: String) = recs.select(Linkage.blockKey.as("k"),
        col("id").as(s"id_$suf"), col("nation").as(s"n_$suf"),
        col("seg").as(s"s_$suf"), col("band").as(s"b_$suf"))
      val scored = side("a").join(side("b"), Seq("k"))
        .filter(col("id_a") < col("id_b"))
        .crossJoin(broadcast(scal))
        .select(
          when(Linkage.pairClass === "twin", 1L).otherwise(0L).as("is_pos"),
          floor(Linkage.likelihoodRatio * 10000.0).as("bp"))
      val thr = Seq(1L, 2L, 5L, 10L, 20L, 40L, 80L, 160L, 320L)
        .toDF("threshold")
      val hit = col("bp") >= col("threshold") * 10000
      val swept = scored.crossJoin(broadcast(thr))
        .groupBy("threshold")
        .agg(
          sum(when(col("is_pos") === 1 && hit, 1L).otherwise(0L)).as("tp"),
          sum(when(col("is_pos") === 0 && hit, 1L).otherwise(0L)).as("fp"),
          sum(when(col("is_pos") === 1 && !hit, 1L).otherwise(0L)).as("fn"),
          sum(when(col("is_pos") === 0 && !hit, 1L).otherwise(0L)).as("tn"))
      swept.select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
          when(col("tp") + col("fp") === 0, lit(null).cast("long"))
            .otherwise(expr("(tp * 10000) div (tp + fp)")).as("precision_bp"),
          when(col("tp") + col("fn") === 0, lit(null).cast("long"))
            .otherwise(expr("(tp * 10000) div (tp + fn)")).as("recall_bp"))
        .orderBy("threshold")
    },

  )
}
