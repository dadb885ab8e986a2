package graft.queries

import graft.{QueryDef, Stage, Tables}
import graft.streaming.Streams
import graft.operators.{Dedup, Rounds}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types.DecimalType

/** Text-analysis + deduplication pack over the `documents` table — the
  * training-data-pipeline operator family (exact dedup, fingerprinting,
  * token/quality stats, language-ID heuristic, n-gram Jaccard near-dup,
  * MinHash-LSH, SimHash).
  *
  * Oracle-checked variants use only cross-engine-identical primitives
  * (md5, substring/instr on its hex output, integer arithmetic, IEEE double
  * division), so DuckDB replays them bit-for-bit. The xxhash64-based
  * native variants in [[graft.operators.Dedup]] are the 100 TB scale path
  * and are driver-checked rows-only.
  *
  * r16 split (verdict item 7): this pack holds the dedup/text core plus
  * the shared `private[queries]` primitives (gram/pair SQL and frames,
  * staged batch sources, stores, HLL registers); the families that grew
  * out of it live in sibling packs consuming those primitives via
  * `import TextDedupPack._` — [[GraphPack]] (match-graph analytics +
  * walks), [[CrawlPack]] (URL/domain/robots/overlap), [[AssemblyPack]]
  * (sampling/splits/waterfall), [[LinkagePack]] (record linkage),
  * [[TokenizerPack]] (BPE/NFC/fertility). Query names are unchanged.
  */
object TextDedupPack {

  private[queries] val STOP_EN = Seq("the", "a", "of", "and", "is")
  private[queries] val STOP_FR = Seq("le", "la", "et", "un", "une")
  private[queries] val STOP_DE = Seq("der", "die", "und", "ein", "ist")
  private[queries] val STOP_ES = Seq("el", "los", "y", "una", "es")

  /** Document-frequency cap for near-dup shingles: a gram shared by more
    * than this many documents is stopword-class (no near-dup signal) and is
    * dropped *before* any pair join — the self-join fan-out per gram is then
    * bounded at cap², so join size is O(#grams · cap²) instead of
    * Σ df(gram)², which is quadratic in duplicated content and detonates at
    * 100 TB. Jaccard is computed over the capped shingle space on BOTH
    * engines (q27/q28 oracles apply the identical filter). At the test SFs
    * max df is 25, so the capped results coincide with the uncapped ones.
    */
  private[queries] val MAX_GRAM_DF = 100

  /** LSH band-bucket occupancy cap for q28 — mirrors Dedup.lshCandidates:
    * a band value shared by more than this many docs would pair-explode. */
  private[queries] val MAX_BUCKET = 100

  /** doc_id offset distinguishing q65's planted simhash twins. */
  private[queries] val SIMHASH_TWIN_OFFSET = 1000000L
  /** q52/q74 planted-twin offset (r17): twin DOCS (exact text copies of
    * doc_id < 50) live at doc_id + this, far above any fixture doc_id. */
  private[queries] val NATIVE_TWIN_OFF = 10000000L

  /** doc_id offset distinguishing q88/q89's planted exact-copy twins. */
  private[queries] val NATIVE_TWIN_OFFSET = 1000000L

  /** q52/q74 fixture-precondition guard (ADVICE r17): the planted-twin
    * contracts silently depend on the fixture shape — a doc_id < 50 whose
    * text yields no token (q52's simHash64) or no 3-token shingle (q74's
    * nearDuplicates) vanishes from the pair pipeline and the inner join
    * turns the query row-count red as a FALSE engine failure; likewise an
    * organic doc_id ≥ NATIVE_TWIN_OFF would collide with a twin id. One
    * bounded 1-row aggregate, failing loudly with a fixture message
    * instead of as a spurious oracle mismatch. */
  private[queries] def requireNativeTwinPreconditions(
      docs: org.apache.spark.sql.DataFrame): Unit = {
    val r = docs.agg(
      max(col("doc_id")).as("max_id"),
      sum(when(col("doc_id") < 50 &&
        size(split(col("text"), " ")) < 3, 1L).otherwise(0L)).as("thin"),
      sum(when(col("doc_id") < 50, 1L).otherwise(0L)).as("n50")).collect()(0)
    require(r.getLong(1) == 0L && r.getLong(2) > 0L,
      s"q52/q74 fixture precondition: every doc_id < 50 must have >= 3 " +
        s"tokens (found ${r.getLong(1)} thinner of ${r.getLong(2)}) — " +
        "the planted-twin contract would report a false engine failure")
    require(r.getLong(0) < NATIVE_TWIN_OFF,
      s"q52/q74 fixture precondition: max organic doc_id ${r.getLong(0)} " +
        s"collides with the twin id space (NATIVE_TWIN_OFF=$NATIVE_TWIN_OFF)")
  }

  /** Token width of q86's sub-document units. The fixture corpus is flat
    * word streams (no newlines), so fixed 16-token segments stand in for
    * the paragraph/line splitter a web corpus would use — the dedup
    * machinery downstream of the split is identical. */
  private[queries] val SEG_TOKENS = 16

  /** q99's bigram count floor: a collocation needs this much support
    * before its PMI is meaningful (and the floor caps the scored table). */
  private[queries] val PMI_MIN_COUNT = 5

  /** q125's Count-Min grid: depth (independent hash rows) and width
    * (counters per row). ε = e/width ≈ 0.5% of the token stream, failure
    * probability e^-depth ≈ 2%. 4×512 longs = 16 KiB of mergeable state
    * regardless of vocabulary size. */
  private[queries] val CM_DEPTH = 4
  private[queries] val CM_WIDTH = 512

  /** q125's fixed probe set: high- and mid-frequency tokens from the
    * fixture vocabulary, plus a token absent from the corpus (its estimate
    * is pure collision mass — the sketch's documented overestimate, never
    * an undercount). */
  private[queries] val CM_PROBES = Seq("join", "scan", "row", "data", "the",
    "order", "vector", "zzz_absent_token")

  /** Count-Min cell assignment for every row of `df`: (tc, r, c) for each
    * of the [[CM_DEPTH]] hash rows, c = md5('r:'||token) low-32 mod
    * [[CM_WIDTH]] — the portable md5 idiom (cf. q28). Shared by the q125
    * batch grid and q130's per-micro-batch grids. */
  private[queries] def cmCells(df: org.apache.spark.sql.DataFrame, tc: String) = df.select(
    col(tc),
    explode(array((0 until CM_DEPTH).map { r =>
      struct(lit(r).as("r"),
        (conv(substring(md5(concat(lit(s"$r:"), col(tc))), 1, 8), 16, 10)
          .cast("long") % CM_WIDTH).as("c"))
    }: _*)).as("rc"))
    .select(col(tc), col("rc.r").as("r"), col("rc.c").as("c"))

  /** The probe/estimate/exact-verify tail over a finished counter grid
    * (r, c, cnt): estimate = min over hash rows of the probed cells,
    * joined with the exact corpus counts of the same probes. Shared by
    * q125 and q130 — their counter grids differ only in HOW they were
    * accumulated (one pass vs per-micro-batch merge). */
  private[queries] def cmAnswer(s: org.apache.spark.sql.SparkSession,
                       counters: org.apache.spark.sql.DataFrame,
                       toks: org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val probes = CM_PROBES.toDF("token")
    val est = cmCells(probes, "token")
      .join(broadcast(counters), Seq("r", "c"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_est"))
    val exact = toks.filter(col("t").isin(CM_PROBES: _*))
      .groupBy(col("t").as("token")).agg(count(lit(1)).as("exact_count"))
    probes
      .join(est, "token")
      .join(exact, Seq("token"), "left")
      .select(col("token"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"),
        col("cm_est"),
        (col("cm_est") - coalesce(col("exact_count"), lit(0L))).as("over_err"))
      .orderBy("token")
  }


  /** The q125 oracle — and, verbatim, the q130 oracle: Count-Min grids
    * merge by cell-wise addition, so the per-micro-batch accumulation is
    * algebraically the one-pass grid and both paths must hash-match the
    * same SQL (the q105/q116 shared-oracle trick, applied to sketches). */
  private[queries] lazy val CM_ORACLE: String = {
    def cellSql(src: String, out: String): String =
      (0 until CM_DEPTH).map(r =>
        s"SELECT $out, $r AS r, ('0x' || substring(md5('$r:' || $out), 1, 8))::BIGINT % $CM_WIDTH AS c FROM $src")
        .mkString("\n  UNION ALL\n  ")
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
       |probes AS (SELECT unnest([${CM_PROBES.map("'" + _ + "'").mkString(",")}]) AS token),
       |cells AS (
       |  ${cellSql("tok", "t")}),
       |counters AS (
       |  SELECT r, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM cells GROUP BY r, c),
       |pcells AS (
       |  ${cellSql("probes", "token")}),
       |est AS (
       |  SELECT token, MIN(COALESCE(cnt, 0)) AS cm_est
       |  FROM pcells LEFT JOIN counters USING (r, c)
       |  GROUP BY token),
       |exact AS (
       |  SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS exact_count
       |  FROM tok GROUP BY t)
       |SELECT p.token, COALESCE(e.exact_count, 0) AS exact_count,
       |  est.cm_est, est.cm_est - COALESCE(e.exact_count, 0) AS over_err
       |FROM probes p
       |JOIN est ON est.token = p.token
       |LEFT JOIN exact e ON e.token = p.token
       |ORDER BY p.token""".stripMargin
  }

  /** q100's winnowing window (consecutive 3-gram hashes per window). The
    * guarantee: any shared run of ≥ WINNOW_W + 2 tokens between two docs
    * shares at least one selected fingerprint. */
  private[queries] val WINNOW_W = 4

  /** Shared winnowing CTEs (DuckDB dialect, cf. q100's scaladoc): `toks`
    * (docs with ≥3 tokens), `g` (60-bit 3-gram hash array), `sel` (sorted
    * distinct selected positions `sp` per winnowing window). Shared by
    * q100 (fingerprint emission) and q103 (fingerprint matching) so the
    * selection rule cannot drift between the two. */
  private[queries] lazy val WinnowSqlCtes: String = {
    val W = WINNOW_W
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |g AS (
       |  SELECT doc_id, list_transform(range(1, len(t) - 1), i ->
       |    ('0x' || substring(md5(t[CAST(i AS INT)] || ' ' || t[CAST(i+1 AS INT)] || ' ' ||
       |      t[CAST(i+2 AS INT)]), 1, 15))::BIGINT) AS h
       |  FROM toks),
       |sel AS (
       |  SELECT doc_id, h,
       |    list_sort(list_distinct(list_transform(
       |      range(1, greatest(len(h) - $W + 1, 1) + 1), i ->
       |        i + len(h[CAST(i AS INT):CAST(i + $W - 1 AS INT)])
       |          - list_position(list_reverse(h[CAST(i AS INT):CAST(i + $W - 1 AS INT)]),
       |                          list_min(h[CAST(i AS INT):CAST(i + $W - 1 AS INT)]))))) AS sp
       |  FROM g)""".stripMargin
  }

  /** Spark side of [[WinnowSqlCtes]]: (doc_id, __g gram-hash array, __sp
    * sorted distinct selected positions). Pure per-row array math. */
  private[queries] def winnowSelected(s: org.apache.spark.sql.SparkSession, d: String) = {
    val W = WINNOW_W
    val t = col("__t")
    val g = col("__g")
    val grams = Tables.documentsSpread(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("__t"))
      .filter(size(t) >= 3)
      .select(col("doc_id"),
        transform(sequence(lit(1), size(t) - 2), i =>
          conv(substring(md5(concat_ws(" ",
            element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))), 1, 15),
            16, 10).cast("long")).as("__g"))
    val selPos = array_sort(array_distinct(transform(
      sequence(lit(1), greatest(size(g) - (W - 1), lit(1))), { i =>
        val sl = slice(g, i, lit(W))
        i + size(sl) - array_position(reverse(sl), array_min(sl)).cast("int")
      })))
    grams.select(col("doc_id"), g, selPos.as("__sp"))
  }

  /** q103's fingerprint-df cap (boilerplate guard, cf. MAX_GRAM_DF) and
    * minimum shared-fingerprint support for a match pair. */
  private[queries] val FP_MAX_DF = 100
  private[queries] val FP_MIN_SHARED = 2

  /** Shared winnowing-match CTE chain (DuckDB dialect): [[WinnowSqlCtes]]
    * extended with `fp` (distinct selected fingerprints), `capped` (df ≤
    * [[FP_MAX_DF]]) and `mpairs` (doc pairs sharing ≥ [[FP_MIN_SHARED]]
    * fingerprints). Shared by q103 (emits the pairs) and q109 (runs
    * PageRank over them) so the match graph cannot drift between the two.
    */
  private[queries] lazy val WinnowPairsSqlCtes: String =
    s"""$WinnowSqlCtes,
       |fp AS (
       |  SELECT DISTINCT doc_id, unnest(list_transform(sp, p ->
       |    h[CAST(p AS INT)])) AS fph
       |  FROM sel),
       |capped AS (SELECT doc_id, fph FROM (
       |    SELECT doc_id, fph, COUNT(*) OVER (PARTITION BY fph) AS df FROM fp)
       |  WHERE df <= $FP_MAX_DF),
       |mpairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM capped a JOIN capped b ON b.fph = a.fph AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |  HAVING COUNT(*) >= $FP_MIN_SHARED)""".stripMargin

  /** Spark side of [[WinnowPairsSqlCtes]]: (id_a, id_b, n_shared) winnowing
    * match pairs, id_a < id_b. Both sides of the self-join scan the same
    * persisted capped fingerprint set. */
  private[queries] def winnowMatchPairs(s: org.apache.spark.sql.SparkSession, d: String) = {
    val fp = winnowSelected(s, d)
      .select(col("doc_id"),
        explode(array_distinct(transform(col("__sp"), p =>
          element_at(col("__g"), p.cast("int"))))).as("fph"))
    val capped = graft.operators.Occupancy.cap(fp, Seq("fph"), FP_MAX_DF,
      persistResult = true)
    capped.select(col("doc_id").as("id_a"), col("fph"))
      .join(capped.select(col("doc_id").as("id_b"), col("fph")), "fph")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= FP_MIN_SHARED)
  }

  /** q104's fixed retrieval query (BM25). Deterministic constant — tokens
    * absent from the corpus simply contribute no term (tf = 0). */
  private[queries] val BM25_QUERY = Seq("the", "of", "la", "der", "el")

  /** DuckDB CTE chain ending in `scored(doc_id, bm25)` — q104's scoring,
    * shared verbatim with the hybrid-retrieval fusion (q182/q183 in
    * VectorPack) so the two oracles cannot drift on a constant. Already
    * stripMargin'd: interpolate only at line ends (see the `||` gotcha in
    * the verify skill). */
  private[queries] lazy val Bm25SqlCtes: String = {
    val qlist = BM25_QUERY.map(q =>
      s"{tok: '$q', tf: len(list_filter(t, x -> x = '$q'))}").mkString(", ")
    s"""base AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |    string_split(text, ' ') AS t
       |  FROM documents),
       |n AS (
       |  SELECT COUNT(*) AS nd,
       |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
       |  FROM base),
       |tf AS (
       |  SELECT doc_id, dl, u.tok AS tok, u.tf AS tf FROM (
       |    SELECT doc_id, dl, unnest([$qlist]) AS u FROM base)),
       |dfc AS (
       |  SELECT tok, CAST(SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS dfc
       |  FROM tf GROUP BY tok),
       |terms AS (
       |  SELECT doc_id,
       |    CAST(ln(1 + (nd - dfc + 0.5) / (dfc + 0.5))
       |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
       |      AS DECIMAL(38,20)) AS term
       |  FROM tf JOIN dfc USING (tok) CROSS JOIN n
       |  WHERE tf > 0),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(CAST(CAST(SUM(term) AS DOUBLE) AS DECIMAL(18,8)) AS DOUBLE) AS bm25
       |  FROM terms GROUP BY doc_id)""".stripMargin
  }

  /** Spark side of [[Bm25SqlCtes]]: (doc_id, bm25) for every document
    * containing ≥1 query token. Per-doc term frequencies are map-side
    * array filters (no token explode); document frequencies one tiny
    * partial-agg'd shuffle broadcast back. */
  private[queries] def bm25Scores(s: org.apache.spark.sql.SparkSession,
                                  d: String): org.apache.spark.sql.DataFrame = {
    val t = col("__t")
    val base = Tables.documentsSpread(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("__t"))
      .select(col("doc_id"), size(t).cast("long").as("dl"), t)
    val n = base.agg(count(lit(1)).as("nd"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tfRows = base.select(col("doc_id"), col("dl"),
        explode(array(BM25_QUERY.map(q =>
          struct(lit(q).as("tok"),
            size(filter(t, x => x === q)).cast("long").as("tf"))): _*)).as("u"))
      .select(col("doc_id"), col("dl"), col("u.tok").as("tok"), col("u.tf").as("tf"))
      .persist() // df agg + term scoring share it
    val dfc = tfRows.groupBy("tok")
      .agg(sum(when(col("tf") > 0, 1L).otherwise(0L)).as("dfc"))
    val terms = tfRows.filter(col("tf") > 0)
      .join(broadcast(dfc), "tok")
      .crossJoin(broadcast(n))
      .select(col("doc_id"),
        (log(lit(1) + (col("nd") - col("dfc") + lit(0.5)) / (col("dfc") + lit(0.5)))
          * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .cast(DecimalType(38, 20)).as("term"))
    terms.groupBy("doc_id")
      .agg(sum(col("term")).cast("double")
        .cast(DecimalType(18, 8)).cast("double").as("bm25"))
  }

  /** q96's duplicated-window width (tokens). Sub-segment spans: q86 removes
    * whole duplicated 16-token segments aligned to a fixed grid; q96 slides
    * a 5-token window at every offset, so copied spans are caught wherever
    * they start and only the covered tokens are dropped. */
  private[queries] val SPAN_W = 5

  /** q149's exact-mining minimum repeat length (tokens) — matches the
    * 8-gram granularity of q72's decontamination machinery. */
  private[queries] val DUP_L = 8

  /** Shared SQL for distinct word-3-gram extraction with the df cap
    * (DuckDB dialect), over any docs relation `src` with (doc_id, text). */
  private[queries] def gramsSql(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src
       |          WHERE len(string_split(text, ' ')) >= 3),
       |grams_all AS (SELECT DISTINCT doc_id,
       |            unnest(list_transform(range(1, len(t) - 1),
       |                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
       |          FROM toks),
       |grams AS (SELECT doc_id, gram FROM (
       |            SELECT doc_id, gram, COUNT(*) OVER (PARTITION BY gram) AS df
       |            FROM grams_all)
       |          WHERE df <= $MAX_GRAM_DF)""".stripMargin

  private[queries] val GRAMS_SQL = gramsSql("documents")

  /** q177's sorted-neighborhood window width (rows compared after each row
    * in blocking-key order). */
  private[queries] val SN_W = 3

  /** Shared SQL for the q27 near-dup pair pipeline (DuckDB dialect):
    * capped grams → co-occurrence counts → Jaccard ≥ 0.5 pairs as `jpairs`.
    * q67 builds its connected-components oracle on top of it; q73 replays
    * it over the quality-filtered docs relation. */
  private[queries] def pairsSql(src: String): String =
    s"""${gramsSql(src)},
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
       |co AS (SELECT g1.doc_id AS doc_a, g2.doc_id AS doc_b, COUNT(*) AS common
       |       FROM grams g1 JOIN grams g2
       |         ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
       |       GROUP BY g1.doc_id, g2.doc_id),
       |jpairs AS (SELECT doc_a, doc_b,
       |    common * 1.0 / (sa.n + sb.n - common) AS jaccard
       |  FROM co
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5)""".stripMargin

  private[queries] val PAIRS_SQL = pairsSql("documents")

  /** DuckDB SQL for the portable 16-minhash / 4-band construction over a
    * CTE named `grams` with (doc_id, gram): yields the `mh` and `bands`
    * CTEs. Shared by the q28 and q75 oracles so the salt format, slice
    * width and band grouping can never drift between them (the Spark
    * mirror is q28's aggregate build and Dedup.portableBandBuckets —
    * their equivalence is pinned in DedupSpec). */
  private[queries] def minhashBandsSql: String = {
    val mhCols = (0 until 16).map(i =>
      s"MIN(substring(md5('${i / 4}:' || gram), ${(i % 4) * 8 + 1}, 8)) AS mh$i")
      .mkString(",\n    ")
    val bandSelects = (0 until 4).map { b =>
      val cat = (b * 4 until b * 4 + 4).map(i => s"mh$i").mkString(" || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS bh FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    s"""mh AS (SELECT doc_id,
       |    $mhCols
       |  FROM grams GROUP BY doc_id),
       |bands AS (
       |  $bandSelects)""".stripMargin
  }

  /** Spark-side distinct word-3-gram extraction with the df cap:
    * (doc_id, gram string). Tokenizes via an explicit projection so the
    * split runs once per row, not once per element_at. Persisted — q27/q28
    * reuse the gram set 3-4× (sizes, both join sides); Bench/Verify clear
    * the cache between queries.
    */
  private[queries] def sparkGramsOf(docs: org.apache.spark.sql.DataFrame) = {
    val t = col("t")
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(t) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(t) - 2),
          i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))
        ))).as("gram"))
    graft.operators.Occupancy.cap(grams, Seq("gram"), MAX_GRAM_DF, persistResult = true)
  }

  private[queries] def sparkGrams(s: org.apache.spark.sql.SparkSession, d: String) =
    sparkGramsOf(Tables.documentsSpread(s, d))

  /** `documents` staged as 4 batches per sf dir, split by a hash of
    * doc_id — the replayable "4 ingest days" source q85 and the other
    * document streams replay one batch per trigger. */
  private[graft] def stagedDocBatches(s: org.apache.spark.sql.SparkSession, d: String): String =
    Stage.batches("graft-q85-src-", d, 4)(Tables.documents(s, d)
      .withColumn("slot", pmod(xxhash64(col("doc_id")), lit(4))))

  /** The exact-Jaccard PAIR list staged as 4 batches per sf dir, split by
    * a hash of the pair — the match-edge stream q194 ingests (the "pairs
    * arrive as candidates are discovered" shape). */
  private[queries] def stagedPairBatches(s: org.apache.spark.sql.SparkSession, d: String): String =
    Stage.batches("graft-q194-src-", d, 4)(jaccardPairs(s, d)
      .select(col("doc_a"), col("doc_b"),
        pmod(xxhash64(col("doc_a"), col("doc_b")), lit(4)).as("slot")))

  /** The WINNOW match-pair list staged as 4 batches per sf dir, split by a
    * hash of the pair — q200's edge stream (the q109 graph arriving
    * incrementally); cf. [[stagedPairBatches]]. */
  private[queries] def stagedWinnowPairBatches(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    Stage.batches("graft-q200-src-", d, 4)(winnowMatchPairs(s, d)
      .select(col("id_a"), col("id_b"),
        pmod(xxhash64(col("id_a"), col("id_b")), lit(4)).as("slot")))

  /** Spark side of [[pairsSql]]: exact n-gram Jaccard near-dup pairs
    * (doc_a, doc_b, jaccard ≥ 0.5), unordered. Shared by q27 (pair listing),
    * q67 (connected-components clustering of the same pairs) and q73 (the
    * corpus-build composition over quality-filtered docs). */
  private[queries] def jaccardPairsOf(docs: org.apache.spark.sql.DataFrame) = {
    val grams = sparkGramsOf(docs)
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = grams.as("g1")
      .join(grams.as("g2"),
        col("g1.gram") === col("g2.gram") && col("g1.doc_id") < col("g2.doc_id"))
      .groupBy(col("g1.doc_id").as("doc_a"), col("g2.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    val jc = col("common") * lit(1.0) / (col("na") + col("nb") - col("common"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), jc.as("jaccard"))
      .filter(jc >= 0.5)
  }

  private[queries] def jaccardPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    jaccardPairsOf(Tables.documentsSpread(s, d))

  /** q131's Jaccard threshold. */
  private[queries] val PREFIX_THETA = 0.5

  /** UNCAPPED distinct word-3-grams (doc_id, gram) — q131 needs the full
    * gram sets (its pruning is the lossless prefix filter, not the df
    * cap). Persisted: prefix build + both verify sides + sizes scan it. */
  private[queries] def uncappedGramsOf(docs: org.apache.spark.sql.DataFrame) = {
    val t = col("t")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(t) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(t) - 2),
          i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))
        ))).as("gram"))
  }

  private[queries] def uncappedGrams(s: org.apache.spark.sql.SparkSession, d: String) =
    uncappedGramsOf(Tables.documentsSpread(s, d)).persist()

  /** Candidate pairs from the prefix filter: per doc, keep the
    * n - ceil(θ·n) + 1 grams smallest in the GLOBAL (df, gram) order and
    * self-join on those. Lossless for J ≥ θ: the guaranteed overlap
    * (≥ ceil(θ·|a|) and ≥ ceil(θ·|b|)) cannot fit entirely in either
    * doc's dropped suffix, so the prefixes intersect. Buckets are small
    * by construction — prefixes are each doc's RAREST grams. */
  private[graft] def prefixJoinCandidates(
      grams: org.apache.spark.sql.DataFrame,
      precomputedSizes: Option[org.apache.spark.sql.DataFrame] = None) = {
    val dfCounts = grams.groupBy("gram").agg(count(lit(1)).as("__df"))
    // caller may pass its per-doc gram counts (q131 needs them again for
    // the jaccard denominator) so the corpus-wide agg runs once, not twice
    val sizes = precomputedSizes.getOrElse(
      grams.groupBy("doc_id").agg(count(lit(1)).as("__n")))
    // ceil(θ·n) with θ = 0.5 in exact integer arithmetic: (n + 1) div 2
    val prefix = grams.join(dfCounts, "gram").join(sizes, "doc_id")
      .withColumn("__rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("__df"), col("gram"))))
      .filter(col("__rk") <= col("__n") - expr("(__n + 1) div 2") + 1)
      .select(col("doc_id"), col("gram"), col("__n"))
    // length filter (Vernica et al.): J(a,b) ≥ θ ⟹ max(|a|,|b|) ≤ |min|/θ
    // (θ = 1/2 ⟹ max ≤ 2·min, exact in integers) — prunes size-mismatched
    // candidate pairs map-side with zero recall loss
    prefix.select(col("doc_id").as("doc_a"), col("gram"), col("__n").as("__na"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("gram"), col("__n").as("__nb")), "gram")
      .filter(col("doc_a") < col("doc_b")
        && greatest(col("__na"), col("__nb")) <= lit(2) * least(col("__na"), col("__nb")))
      .select("doc_a", "doc_b").distinct()
  }

  /** q131: exact gram-Jaccard ≥ θ pairs via prefix filtering — only
    * candidate pairs pay the intersect-count, and the candidate set
    * provably contains every qualifying pair. */
  private[graft] def prefixJoinPairs(s: org.apache.spark.sql.SparkSession, d: String) = {
    val grams = uncappedGrams(s, d)
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n")).persist()
    val common = prefixJoinCandidates(grams,
        Some(sizes.select(col("doc_id"), col("n").as("__n"))))
      .join(grams.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("gram")), Seq("doc_b", "gram"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    val jc = col("common") * lit(1.0) / (col("na") + col("nb") - col("common"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), jc.as("jaccard"))
      .filter(col("jaccard") >= PREFIX_THETA)
  }

  def all: Seq[QueryDef] = Seq(

    // ---- q22: exact dedup by content hash ----------------------------------
    QueryDef(
      "q22_dedup_exact",
      """SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY keep_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    },

    // ---- q23: normalized-fingerprint dedup stats per source ----------------
    QueryDef(
      "q23_fingerprint_dedup",
      """SELECT source,
        |  COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')))) AS n_unique
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      val norm = trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z ]", ""), " +", " "))
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(md5(norm)).as("n_unique"))
        .orderBy("source")
    },

    // ---- q24: token counting per language ----------------------------------
    QueryDef(
      "q24_text_tokens",
      """SELECT lang,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  MIN(len(string_split(text, ' '))) AS min_tokens,
        |  MAX(len(string_split(text, ' '))) AS max_tokens,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val ntok = size(split(col("text"), " ")).cast("long")
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(ntok).as("total_tokens"),
          min(ntok).as("min_tokens"),
          max(ntok).as("max_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy("lang")
    },

    // ---- q25: quality scoring per source -----------------------------------
    QueryDef(
      "q25_text_quality",
      s"""WITH scored AS (
         |  SELECT source,
         |    len(list_filter(string_split(text, ' '),
         |        x -> x IN (${STOP_EN.map("'" + _ + "'").mkString(",")})))
         |      * 1.0 / len(string_split(text, ' ')) AS stop_ratio,
         |    list_sum(list_transform(string_split(text, ' '), x -> length(x)))
         |      * 1.0 / len(string_split(text, ' ')) AS avg_word_len,
         |    len(string_split(text, ' ')) AS n_tok
         |  FROM documents)
         |SELECT source,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(CAST(stop_ratio AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS avg_stop_ratio,
         |  CAST(SUM(CAST(avg_word_len AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS avg_word_len,
         |  CAST(SUM(CASE WHEN n_tok < 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
         |FROM scored
         |GROUP BY source
         |ORDER BY source""".stripMargin) { (s, d) =>
      val toks = split(col("text"), " ")
      val ntok = size(toks)
      val stopRatio = size(filter(toks, x => x.isin(STOP_EN: _*))) * lit(1.0) / ntok
      val awl = aggregate(transform(toks, x => length(x)), lit(0), (a, x) => a + x) * lit(1.0) / ntok
      Tables.documents(s, d)
        .select(col("source"), stopRatio.as("stop_ratio"), awl.as("avg_word_len"), ntok.as("n_tok"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(col("stop_ratio").cast(DecimalType(18, 8))).cast("double") / count(lit(1))).as("avg_stop_ratio"),
          (sum(col("avg_word_len").cast(DecimalType(18, 8))).cast("double") / count(lit(1))).as("avg_word_len"),
          sum(when(col("n_tok") < 40, 1).otherwise(0)).as("n_short"))
        .orderBy("source")
    },

    // ---- q26: language-ID heuristic (stopword profiles) --------------------
    QueryDef(
      "q26_lang_id", {
        def cnt(words: Seq[String]) =
          s"len(list_filter(string_split(text, ' '), x -> x IN (${words.map("'" + _ + "'").mkString(",")})))"
        s"""WITH scores AS (
           |  SELECT lang,
           |    ${cnt(STOP_EN)} AS s_en, ${cnt(STOP_FR)} AS s_fr,
           |    ${cnt(STOP_DE)} AS s_de, ${cnt(STOP_ES)} AS s_es
           |  FROM documents)
           |SELECT lang,
           |  CASE WHEN s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0 THEN 'und'
           |       WHEN s_en >= greatest(s_fr, s_de, s_es) THEN 'en'
           |       WHEN s_fr >= greatest(s_de, s_es) THEN 'fr'
           |       WHEN s_de >= s_es THEN 'de'
           |       ELSE 'es' END AS pred_lang,
           |  COUNT(*) AS n
           |FROM scores
           |GROUP BY 1, 2
           |ORDER BY lang, pred_lang""".stripMargin
      }) { (s, d) =>
      val toks = split(col("text"), " ")
      def cnt(words: Seq[String]) = size(filter(toks, x => x.isin(words: _*)))
      Tables.documents(s, d)
        .select(col("lang"),
          cnt(STOP_EN).as("s_en"), cnt(STOP_FR).as("s_fr"),
          cnt(STOP_DE).as("s_de"), cnt(STOP_ES).as("s_es"))
        .select(col("lang"),
          when(col("s_en") === 0 && col("s_fr") === 0 && col("s_de") === 0 && col("s_es") === 0, "und")
            .when(col("s_en") >= greatest(col("s_fr"), col("s_de"), col("s_es")), "en")
            .when(col("s_fr") >= greatest(col("s_de"), col("s_es")), "fr")
            .when(col("s_de") >= col("s_es"), "de")
            .otherwise("es").as("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    },

    // ---- q27: exact n-gram Jaccard near-duplicate pairs --------------------
    QueryDef(
      "q27_ngram_jaccard",
      s"""WITH $PAIRS_SQL
         |SELECT doc_a, doc_b, jaccard FROM jpairs
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      jaccardPairs(s, d).orderBy("doc_a", "doc_b")
    },

    // ---- q67: near-dup CLUSTERS — connected components over q27's pairs ----
    // Pairs aren't what a dedup pipeline keeps: it needs one canonical doc
    // per transitive near-dup group (a~b, b~c ⇒ {a,b,c} even when a,c never
    // paired). Spark side runs operators.Components (alternating
    // large-star/small-star, O(log² n) keyed rounds — no driver-side graph);
    // the oracle replays it as a recursive-CTE transitive closure, feasible
    // because the oracle runs at test SFs. Canonical = min doc_id.
    QueryDef(
      "q67_dedup_clusters",
      s"""WITH RECURSIVE $PAIRS_SQL,
         |und AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
         |        UNION ALL
         |        SELECT doc_b AS u, doc_a AS v FROM jpairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id
         |         FROM reach GROUP BY u)
         |SELECT cluster_id, doc_id,
         |  CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
         |FROM comp
         |ORDER BY cluster_id, doc_id""".stripMargin) { (s, d) =>
      graft.operators.Components
        .connectedComponents(jaccardPairs(s, d).select("doc_a", "doc_b"),
          "doc_a", "doc_b")
        .select(col("component").as("cluster_id"), col("id").as("doc_id"),
          when(col("id") === col("component"), 1L).otherwise(0L).as("is_canonical"))
        .orderBy("cluster_id", "doc_id")
    },

    // ---- q28: MinHash-LSH near-dup (md5-salted, oracle-replayable) ---------
    // 16 hash functions from 4 salted md5s: each md5's 32 hex chars yield
    // four 8-char (32-bit) slices — distinct bit regions of a strong hash
    // are independent enough for MinHash banding, and the md5 work (the
    // dominant cost of this portable path) drops 4×. Final pairs are
    // exact-Jaccard-verified regardless, so hash quality only moves recall.
    QueryDef(
      "q28_minhash_lsh", {
        s"""WITH $GRAMS_SQL,
           |$minhashBandsSql,
           |bandsc AS (SELECT doc_id, band, bh FROM (
           |             SELECT doc_id, band, bh,
           |               COUNT(*) OVER (PARTITION BY band, bh) AS n
           |             FROM bands)
           |           WHERE n <= $MAX_BUCKET),
           |cand AS (SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
           |         FROM bandsc b1 JOIN bandsc b2
           |           ON b1.band = b2.band AND b1.bh = b2.bh
           |          AND b1.doc_id < b2.doc_id),
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
           |ORDER BY doc_a, doc_b""".stripMargin
      }) { (s, d) =>
      val grams = sparkGrams(s, d)
      // 4 slices per salted md5 (CSE computes each md5 once per row)
      val mhAggs = (0 until 16).map(i =>
        min(substring(md5(concat(lit(s"${i / 4}:"), col("gram"))), (i % 4) * 8 + 1, 8)).as(s"mh$i"))
      // persist: the 4 band branches below each scan mh
      val mh = grams.groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*).persist()
      val bands = (0 until 4).map { b =>
        mh.select(col("doc_id"), lit(b).as("band"),
          md5(concat((b * 4 until b * 4 + 4).map(i => col(s"mh$i")): _*)).as("bh"))
      }.reduce(_ unionByName _)
      // persisted: both sides of the candidate self-join scan it
      val bandsc = graft.operators.Occupancy.cap(
        bands, Seq("band", "bh"), MAX_BUCKET, persistResult = true)
      val cand = bandsc.as("b1")
        .join(bandsc.as("b2"),
          col("b1.band") === col("b2.band") && col("b1.bh") === col("b2.bh")
            && col("b1.doc_id") < col("b2.doc_id"))
        .select(col("b1.doc_id").as("doc_a"), col("b2.doc_id").as("doc_b"))
        .distinct()
      val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val common = cand
        .join(grams.select(col("doc_id").as("doc_a"), col("gram")), "doc_a")
        .join(grams.select(col("doc_id").as("doc_b"), col("gram")), Seq("doc_b", "gram"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      val jc = col("common") * lit(1.0) / (col("na") + col("nb") - col("common"))
      common
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), jc.as("jaccard"))
        .filter(jc >= 0.5)
        .orderBy("doc_a", "doc_b")
    },

    // ---- q29: 16-bit SimHash fingerprints (md5-hex-bit, oracle-replayable) -
    QueryDef(
      "q29_simhash", {
        val bitSql = (0 until 16).map { j =>
          val hexPos = j / 4 + 1
          val shift = j % 4
          s"""CASE WHEN 2 * len(list_filter(string_split(text, ' '),
             |    x -> ((instr('0123456789abcdef', substring(md5(x), $hexPos, 1)) - 1) >> $shift) & 1 = 1))
             |  > len(string_split(text, ' ')) THEN ${1 << j} ELSE 0 END""".stripMargin
        }.mkString("\n  + ")
        s"""SELECT doc_id,
           |  $bitSql AS simhash16
           |FROM documents
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val toks = split(col("text"), " ")
      val bitCols = (0 until 16).map { j =>
        val hexPos = j / 4 + 1
        val shift = j % 4
        val bitSet = (x: org.apache.spark.sql.Column) =>
          shiftright(instr2(lit("0123456789abcdef"), substring(md5(x), hexPos, 1)) - 1, shift)
            .bitwiseAND(1) === 1
        when(lit(2) * size(filter(toks, x => bitSet(x))) > size(toks), 1 << j).otherwise(0)
      }
      Tables.documents(s, d)
        .select(col("doc_id"), bitCols.reduce(_ + _).as("simhash16"))
        .orderBy("doc_id")
    },

    // ---- q83: distinctive-term extraction (tf/df keyword scoring) ----------
    // Per doc, the 3 terms most distinctive of it: high in-doc frequency,
    // rare across the corpus — scored tf/df (monotone in tf·idf for any
    // fixed idf shape, but with NO transcendental in the sort key: ln()
    // implementations differ across engines at the ulp, an IEEE division
    // does not). Shuffles: (doc, token) tf agg, token df agg, one keyed
    // join, one per-doc rank window — every stage partial-agg friendly or
    // keyed; the token universe is never collected.
    QueryDef(
      "q83_distinctive_terms",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
        |df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        |scored AS (
        |  SELECT doc_id, tf.t AS token,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY tf * 1.0 / df DESC, tf.t) AS rk
        |  FROM tf JOIN df ON df.t = tf.t)
        |SELECT doc_id, token, CAST(rk AS BIGINT) AS rk
        |FROM scored
        |WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
      val tf = Tables.documentsSpread(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy((col("tf") * lit(1.0) / col("df")).desc, col("t"))
      tf.join(df, "t")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("t").as("token"), col("rk"))
        .orderBy("doc_id", "rk")
    },

    // ---- q78: repetition scoring (Gopher repetition-rule family) -----------
    // Degenerate/templated text shows up as token repetition long before a
    // human reads it: per doc, the fraction of tokens taken by the single
    // most frequent token, and the distinct-token ratio. Shape: explode →
    // (doc, token) count → per-doc max/count — two keyed aggregations, both
    // partial-agg friendly (the token universe is never collected). Report
    // per source with the decimal-sum average trick.
    QueryDef(
      "q78_repetition",
      """WITH tok AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS ntok,
        |    unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |pertok AS (
        |  SELECT doc_id, source, ntok, t, COUNT(*) AS c
        |  FROM tok GROUP BY doc_id, source, ntok, t),
        |perdoc AS (
        |  SELECT doc_id, source, ntok, MAX(c) AS cmax, COUNT(*) AS ndistinct
        |  FROM pertok GROUP BY doc_id, source, ntok),
        |scored AS (
        |  SELECT source, cmax * 1.0 / ntok AS top_frac,
        |    ndistinct * 1.0 / ntok AS distinct_ratio
        |  FROM perdoc)
        |SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN top_frac > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
        |  CAST(SUM(CAST(top_frac AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS avg_top_frac,
        |  CAST(SUM(CAST(distinct_ratio AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS avg_distinct_ratio
        |FROM scored
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      val tok = Tables.documentsSpread(s, d)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).as("ntok"),
          explode(split(col("text"), " ")).as("t"))
      val perDoc = tok
        .groupBy("doc_id", "source", "ntok", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "source", "ntok")
        .agg(max(col("c")).as("cmax"), count(lit(1)).as("ndistinct"))
      perDoc
        .select(col("source"),
          (col("cmax") * lit(1.0) / col("ntok")).as("top_frac"),
          (col("ndistinct") * lit(1.0) / col("ntok")).as("distinct_ratio"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("top_frac") > 0.2, 1).otherwise(0)).as("n_repetitive"),
          (sum(col("top_frac").cast(DecimalType(18, 8))).cast("double") /
            count(lit(1))).as("avg_top_frac"),
          (sum(col("distinct_ratio").cast(DecimalType(18, 8))).cast("double") /
            count(lit(1))).as("avg_distinct_ratio"))
        .orderBy("source")
    },

    // ---- q40: BPE-ish tokenization — regex tokens + 4-char subword chunks --
    // Whitespace counting is q24; this is the subword path a training-data
    // pipeline budgets with: regexp tokenizer (letters|digits|punct) and a
    // fixed-width chunking as the BPE stand-in (real BPE needs a learned
    // merge table — the counting/vocab plumbing is identical). The subword
    // explode is the only shuffle-feeding step; everything per-row is
    // map-side.
    QueryDef(
      "q40_bpe_tokens", {
        val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
        s"""WITH per_doc AS (
           |  SELECT lang, regexp_extract_all(text, '$pat') AS toks
           |  FROM documents),
           |a AS (
           |  SELECT lang, COUNT(*) AS n_docs,
           |    CAST(SUM(len(toks)) AS BIGINT) AS total_tokens
           |  FROM per_doc GROUP BY lang),
           |subs AS (
           |  SELECT lang,
           |    unnest(flatten(list_transform(toks, w ->
           |      list_transform(range(1, (length(w)+3)//4 + 1), i ->
           |        substring(w, (i-1)*4 + 1, 4))))) AS sub
           |  FROM per_doc),
           |b AS (
           |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS total_subwords,
           |    CAST(COUNT(DISTINCT sub) AS BIGINT) AS vocab_subwords
           |  FROM subs GROUP BY lang)
           |SELECT a.lang, n_docs, total_tokens, total_subwords, vocab_subwords
           |FROM a JOIN b ON a.lang = b.lang
           |ORDER BY a.lang""".stripMargin
      }) { (s, d) =>
      val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
      val perDoc = Tables.documents(s, d)
        .select(col("lang"), regexp_extract_all(col("text"), lit(pat), lit(0)).as("toks"))
        .persist()
      val a = perDoc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(size(col("toks"))).as("total_tokens"))
      val subs = perDoc.select(col("lang"),
        explode(flatten(transform(col("toks"), w =>
          transform(sequence(lit(1), floor((length(w) + 3) / 4).cast("int")),
            i => w.substr((i - 1) * 4 + 1, lit(4)))))).as("sub"))
      val b = subs.groupBy("lang")
        .agg(count(lit(1)).as("total_subwords"),
          countDistinct(col("sub")).as("vocab_subwords"))
      a.join(b, "lang").orderBy("lang")
    },

    // ---- q41: rolling-hash document fingerprint ----------------------------
    // Order-sensitive polynomial rolling hash over per-word codes
    // (Karp-Rabin shape: fp ← fp·P + code mod M). Unlike q22's md5-of-text,
    // the rolling form is incrementally maintainable (append a word in
    // O(1)) — the fingerprint a streaming ingest keeps per growing doc.
    // All-integer arithmetic, exact in both engines.
    QueryDef(
      "q41_rolling_fingerprint",
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(7::BIGINT,
        |      list_transform(string_split(text, ' '), w ->
        |        CAST(length(w) * 31 + ascii(substring(w, 1, 1)) AS BIGINT))),
        |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val code = (w: org.apache.spark.sql.Column) =>
        (length(w) * 31 + ascii(substring(w, 1, 1))).cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"),
          aggregate(transform(split(col("text"), " "), code), lit(7L),
            (acc, x) => (acc * 1000003L + x) % 2147483647L).as("fp"))
        .orderBy("doc_id")
    },

    // ---- q43: HLL approximate distinct next to the exact answer ------------
    // approx_count_distinct is the 100 TB path for cardinality (HLL++ —
    // fixed-size sketch, one pass, map-side mergeable; exact countDistinct
    // expands to a two-phase shuffle of every distinct value). The raw
    // estimate is engine-specific (so it can never hash-match DuckDB), but
    // the property that makes it USABLE — |est − exact| ≤ 3σ = 3·rsd·exact —
    // is deterministic for a fixed fixture, so the query emits that check as
    // a column and the oracle replays it as the constant TRUE next to its
    // own COUNT(DISTINCT). Hash-green (r15, upgraded from rows-only): the
    // oracle now pins the exact count AND the estimate's error band; the
    // raw estimate value stays asserted in DedupSpec. The portable-register
    // HLL twin with a fully replayed estimate is q204.
    QueryDef(
      "q43_approx_distinct",
      """SELECT source,
        |  COUNT(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z ]', '', 'g'), '  *', ' ', 'g')))) AS n_exact,
        |  TRUE AS approx_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(
          countDistinct(docFp).as("n_exact"),
          approx_count_distinct(docFp, rsd = 0.05).as("n_approx"))
        .select(col("source"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double")
            <= col("n_exact").cast("double") * lit(0.15)).as("approx_ok"))
        .orderBy("source")
    },

    // ---- q85: incremental cardinality — per-batch HLL sketches, merged -----
    // The cross-batch story q43's one-pass HLL doesn't cover, run through the
    // REAL streaming engine: the corpus is staged as 4 parquet batches and
    // replayed one per trigger (Streams.replay), so each micro-batch is a
    // genuine ingest day. Each batch aggregates a FIXED-SIZE mergeable
    // Datasketches HLL of each batch's normalized fingerprints per source and
    // PERSISTS the sketch bytes next to the batch (a parquet sketch store);
    // the corpus-wide distinct count comes from UNIONING the stored sketches
    // — old batches are never rescanned. That is the 100 TB incremental-
    // dedup accounting loop: state is O(sketch), not O(keys), and the HLL
    // union is register-wise max, so the merged estimate is independent of
    // how ingest happened to be batched.
    //
    // Hash-green (r15, upgraded from rows-only): sketch BINARIES are
    // engine-specific, but the two properties the store contract rests on
    // are deterministic booleans — (a) batching-independence: the estimate
    // of the union of per-batch sketches EQUALS the single-pass whole-corpus
    // sketch's estimate (register-wise max is associative/commutative/
    // idempotent, so same lgK ⇒ identical merged registers), and (b) the
    // merged estimate sits inside the Datasketches ~3σ band of the exact
    // count. The oracle replays both as constant TRUE next to its own
    // COUNT(DISTINCT), pinning rows+schema+exact counts+both invariants.
    // The raw estimate value stays asserted in DedupSpec; the portable-
    // register streaming twin with a fully replayed estimate is q205.
    QueryDef(
      "q85_incremental_distinct",
      """WITH fp AS (
        |  SELECT source, md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z ]', '', 'g'), '  *', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT source, COUNT(DISTINCT fp) AS n_exact,
        |  TRUE AS merge_lossless, TRUE AS within_band
        |FROM fp GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val norm = docFp
      val srcDir = stagedDocBatches(s, d)
      // one reusable store per sf dir, cleared per invocation; never
      // deleted eagerly — the returned plan lazily reads it
      val store = Stage.cleared("graft-q85-sketches-", d)
      Streams.replay(s, srcDir, ())((_, batch, batchId) =>
        Stage.append(store.toString, batchId,
          batch.select(col("source"), norm.as("fp"))
            .groupBy("source")
            .agg(hll_sketch_agg(col("fp")).as("sk"))))
      val merged = s.read.parquet(store.toString)
        .groupBy("source")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_merged"))
      val single = Tables.documents(s, d)
        .groupBy("source")
        .agg(hll_sketch_estimate(hll_sketch_agg(norm)).as("n_single"))
      val exact = Tables.documents(s, d)
        .select(col("source"), norm.as("fp"))
        .groupBy("source").agg(countDistinct(col("fp")).as("n_exact"))
      merged.join(single, "source").join(exact, "source")
        .select(col("source"), col("n_exact"),
          (col("n_merged") === col("n_single")).as("merge_lossless"),
          (abs(col("n_merged") - col("n_exact")).cast("double")
            <= greatest(lit(3.0), col("n_exact").cast("double") * lit(0.09)))
            .as("within_band"))
        .orderBy("source")
    },

    // ---- q297: KMV (k-minimum-values) distinct sketch ----------------------
    // The distinct-sketch family's third member (exact ledger q85,
    // replayed-register HLL q204/q205) — and the one whose ESTIMATE both
    // engines replay exactly: KMV keeps the k smallest distinct 60-bit
    // hash values per group (functions.BottomKLongs — fixed mergeable
    // set-semantics state, the same Aggregator discipline as TopKRows)
    // and estimates |D| = (k−1)·2^60 / h_(k), pure integer order
    // statistics on the portable md5-prefix hash. No band pin needed:
    // the estimate VALUE is hash-checked, alongside the exact count and
    // the integer-basis-point error — the variance ledger that decides
    // whether 64 longs of state suffice for a corpus's dedup accounting.
    //
    // 100 TB shape: one keyed agg with ≤64 longs of map-side state per
    // (group, partition); the estimate math touches k rows per group.
    QueryDef(
      "q297_kmv_distinct", KMV_SQL) { (s, d) =>
      val bk = udaf(new graft.functions.BottomKLongs(64))
      kmvFinalize(s, d,
        Tables.documents(s, d)
          .select(col("source"), kmvHash.as("h"))
          .groupBy("source")
          .agg(bk(col("h")).as("mins")))
    },

    // ---- q298: streaming KMV — per-batch sketch union ----------------------
    // q297 as the shards stream in (the q205 pattern for KMV): each
    // micro-batch aggregates ITS OWN bottom-64 per source and appends the
    // values under batch_id (idempotent batch-dir overwrite); the final
    // merge re-runs BottomKLongs over the stored union. Capped sorted-set
    // union is associative/commutative/IDEMPOTENT, so min-k(∪ batch
    // min-k) = single-pass min-k whatever the batching — and the result
    // hash-matches q297's oracle VERBATIM (the q116-vs-q105 trick).
    QueryDef(
      "q298_stream_kmv", KMV_SQL) { (s, d) =>
      val bk = udaf(new graft.functions.BottomKLongs(64))
      val srcDir = stagedDocBatches(s, d)
      val store = Stage.cleared("graft-q298-kmv-", d)
      Streams.replay(s, srcDir, ())((_, batch, batchId) =>
        Stage.append(store.toString, batchId,
          batch.select(col("source"), kmvHash.as("h"))
            .groupBy("source").agg(bk(col("h")).as("mins"))
            .select(col("source"), explode(col("mins")).as("h"))))
      kmvFinalize(s, d,
        s.read.parquet(store.toString)
          .groupBy("source").agg(bk(col("h")).as("mins")))
    },

    // ---- q47: heavy-hitter tokens — MG sketch prune, then exact verify -----
    // The 100 TB shape for "which tokens exceed 1/(k+1) of a language's
    // volume": pass 1 builds a Misra-Gries sketch per lang (fixed k-counter
    // state, mergeable partials — functions.MisraGries; never shuffles the
    // token universe). MG guarantees its tracked set contains EVERY token
    // with true frequency > N/(k+1). Pass 2 exact-counts only the ≤k
    // tracked candidates (broadcast join prunes everything else map-side
    // before the shuffle) and keeps those above the threshold. Because the
    // final filter is on exact counts, the result equals the exact
    // heavy-hitter set regardless of sketch merge order — so it is fully
    // oracle-checkable, while the sketch still does the scale-critical
    // pruning. (The oracle, lacking the sketch, counts all tokens.)
    QueryDef(
      "q47_heavy_hitters",
      """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents),
        |tot AS (SELECT lang, COUNT(*) AS n FROM toks GROUP BY lang),
        |cnt AS (SELECT lang, t, COUNT(*) AS c FROM toks GROUP BY lang, t)
        |SELECT cnt.lang AS lang, t AS token, c AS cnt
        |FROM cnt JOIN tot ON cnt.lang = tot.lang
        |WHERE c * 51 > n
        |ORDER BY lang, token""".stripMargin) { (s, d) =>
      val k = 50
      val mg = udaf(new graft.functions.MisraGries(k))
      // scanned twice (sketch pass + exact pass) — persisted; Bench/Verify
      // clear the cache between queries
      val toks = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("t"))
        .persist()
      val candidates = toks.groupBy("lang").agg(mg(col("t")).as("hh"))
        .select(col("lang"), explode(map_keys(col("hh"))).as("t"))
      val totals = toks.groupBy("lang").agg(count(lit(1)).as("n"))
      toks.join(broadcast(candidates), Seq("lang", "t"))
        .groupBy("lang", "t").agg(count(lit(1)).as("cnt"))
        .join(broadcast(totals), "lang")
        .filter(col("cnt") * (k + 1) > col("n"))
        .select(col("lang"), col("t").as("token"), col("cnt"))
        .orderBy("lang", "token")
    },

    // ---- native xxhash64 scale-path variants --------------------------------
    // q51, upgraded r19 (the verdict's no_oracle-tail-to-zero item) from
    // rows-only to the q52/q74 planted-twin CONTRACT oracle — the last
    // rows-only entry in the registry: 50 twin docs (exact text copies at
    // doc_id + 10M) are planted into the corpus; identical shingle SETS
    // force identical 32-hash xxhash64 MinHash signatures, so every twin
    // pair collides in ALL 8 bands (float-tie-proof — the signatures are
    // integers) and exact verification scores it at Jaccard EXACTLY 1.0
    // (common = na = nb). The output is one row per planted doc with the
    // found/score contract plus a pair-shape audit over the WHOLE organic
    // pair list (id_a < id_b, 0.5 ≤ jaccard ≤ 1, no duplicate pairs) —
    // every value portable or pinned, so the entry is hash-green while
    // the signatures stay native. A twin pair the pipeline misses drops
    // its row (inner-shaped filter) → row-count red; organic pair recall
    // stays separately pinned by the q88/q89 audit twins and q51 ⊇ q27
    // in DedupSpec.
    QueryDef(
      "q51_dedup_minhash_native",
      """SELECT doc_id, CAST(1 AS BIGINT) AS twin_found,
        |  CAST(1 AS BIGINT) AS twin_jaccard_one,
        |  CAST(1 AS BIGINT) AS pair_shape_ok
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documentsSpread(s, d).select(col("doc_id"), col("text"))
      requireNativeTwinPreconditions(docs)
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + NATIVE_TWIN_OFF).as("doc_id"), col("text")))
      val pairs = Dedup.nearDuplicates(corpus, "doc_id", "text")
        .persist() // two consumers (twin probe + shape audit); Stage.query releases
      val twins = pairs
        .filter(col("id_a") < 50 && col("id_b") === col("id_a") + NATIVE_TWIN_OFF)
        .select(col("id_a").as("doc_id"),
          lit(1L).as("twin_found"),
          when(col("jaccard") === 1.0, 1L).otherwise(0L).as("twin_jaccard_one"))
      val shape = pairs.agg(
        sum(when(col("id_a") < col("id_b") &&
          col("jaccard") >= 0.5 && col("jaccard") <= 1.0, 0L)
          .otherwise(1L)).as("bad"),
        (count(lit(1)) - countDistinct(col("id_a"), col("id_b"))).as("dups"))
      twins.crossJoin(broadcast(shape))
        .select(col("doc_id"), col("twin_found"), col("twin_jaccard_one"),
          when(col("bad") === 0L && col("dups") === 0L, 1L).otherwise(0L)
            .as("pair_shape_ok"))
        .orderBy("doc_id")
    },
    // q52, upgraded r17 (verdict item 6) from rows-only to a planted-twin
    // CONTRACT oracle — the q65 pattern extended from the blocking operator
    // to the FULL native pipeline: 50 twin docs (exact text copies at
    // doc_id + 10M) are planted into the corpus; identical token multisets
    // force identical xxhash64 SimHashes, so every twin pair sits at
    // hamming distance 0 and the pigeonhole blocking MUST surface it (all
    // 9 chunks equal). The output is one row per planted doc with the
    // found/distance contract plus a pair-shape audit over the WHOLE
    // organic pair list (id_a < id_b, distances within maxDist, no
    // duplicate pairs) — every value portable or pinned, so the entry is
    // hash-green while the signatures stay native. A planted doc whose
    // twin pair goes missing drops its row (inner join) → row-count red.
    QueryDef(
      "q52_dedup_simhash_native",
      """SELECT doc_id, CAST(1 AS BIGINT) AS twin_found,
        |  CAST(1 AS BIGINT) AS twin_hamming_zero,
        |  CAST(1 AS BIGINT) AS pair_shape_ok
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documentsSpread(s, d).select(col("doc_id"), col("text"))
      requireNativeTwinPreconditions(docs)
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + NATIVE_TWIN_OFF).as("doc_id"), col("text")))
      val sim = Dedup.simHash64(corpus, "doc_id", "text")
      val pairs = Dedup.simHashNearDup(sim, "doc_id", maxDist = 8)
        .persist() // two consumers (twin probe + shape audit); Stage.query releases
      val twins = pairs
        .filter(col("id_a") < 50 && col("id_b") === col("id_a") + NATIVE_TWIN_OFF)
        .select(col("id_a").as("doc_id"),
          lit(1L).as("twin_found"),
          when(col("hamming") === 0L, 1L).otherwise(0L).as("twin_hamming_zero"))
      val shape = pairs.agg(
        sum(when(col("id_a") < col("id_b") && col("hamming") <= 8L, 0L)
          .otherwise(1L)).as("bad"),
        (count(lit(1)) - countDistinct(col("id_a"), col("id_b"))).as("dups"))
      twins.crossJoin(broadcast(shape))
        .select(col("doc_id"), col("twin_found"), col("twin_hamming_zero"),
          when(col("bad") === 0L && col("dups") === 0L, 1L).otherwise(0L)
            .as("pair_shape_ok"))
        .orderBy("doc_id")
    },
    // q67's clustered endpoint for the 100 TB path: connected components
    // over the NATIVE xxhash64 MinHash-LSH pairs (q51) instead of the
    // portable md5 pairs — the full scale pipeline shingle → sign → band →
    // verify → cluster with numeric signatures end to end. Upgraded r17
    // (verdict item 6) from rows-only to a planted-twin contract oracle,
    // same construction as q52: 50 exact-copy twins (identical shingle
    // SETS → identical 32-hash MinHash signatures → every band collides →
    // Jaccard 1 ≥ 0.5 survives verify), so each twin pair is a GUARANTEED
    // edge and twin co-membership in the clustering is a hard invariant.
    // The canonical contract (exactly one canonical per cluster, canonical
    // = min member) is audited over the whole clustering and pinned. The
    // clustering operator itself stays hash-checked via q67/ComponentsSpec,
    // and q51 ⊇ q27 pair recall in DedupSpec.
    QueryDef(
      "q74_dedup_clusters_native",
      """SELECT doc_id, CAST(1 AS BIGINT) AS twin_coclustered,
        |  CAST(1 AS BIGINT) AS canonical_contract
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documentsSpread(s, d).select(col("doc_id"), col("text"))
      requireNativeTwinPreconditions(docs)
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + NATIVE_TWIN_OFF).as("doc_id"), col("text")))
      val pairs = Dedup.nearDuplicates(corpus, "doc_id", "text")
      val cc = graft.operators.Components
        .connectedComponents(pairs.select("id_a", "id_b"), "id_a", "id_b")
        .persist() // three consumers below; Stage.query releases (cf. q47)
      val a = cc.filter(col("id") < 50)
        .select(col("id").as("doc_id"), col("component").as("ca"))
      val b = cc.filter(col("id") >= NATIVE_TWIN_OFF)
        .select((col("id") - NATIVE_TWIN_OFF).as("doc_id"),
          col("component").as("cb"))
      val canon = cc.groupBy("component").agg(
        sum(when(col("id") === col("component"), 1L).otherwise(0L))
          .as("n_canon"),
        min(col("id")).as("min_id"))
      val audit = canon.agg(
        sum(when(col("n_canon") === 1L && col("min_id") === col("component"),
          0L).otherwise(1L)).as("bad"))
      a.join(b, "doc_id") // inner: a twin missing from the clustering → row-count red
        .crossJoin(broadcast(audit))
        .select(col("doc_id"),
          when(col("ca") === col("cb"), 1L).otherwise(0L).as("twin_coclustered"),
          when(col("bad") === 0L, 1L).otherwise(0L).as("canonical_contract"))
        .orderBy("doc_id")
    },
    // ---- q65: simhash blocking with PLANTED hamming-distance ground truth --
    // q52's xxhash64 signatures have no DuckDB twin, so the blocking
    // operator itself gets an oracle here: portable 60-bit signatures
    // (md5-hex → BIGINT, identical in both engines), plus a planted twin
    // per doc_id < 50 at EXACTLY hamming distance 3 (three contiguous bits
    // flipped: sig XOR (7 << (doc_id % 58))). The operator's pigeonhole
    // blocking guarantees recall for distance ≤ maxDist and its final
    // filter makes precision exact, so its output must equal the oracle's
    // brute-force all-pairs xor/bit_count scan — hash-checked.
    QueryDef(
      "q65_simhash_planted",
      s"""WITH base AS (
         |  SELECT doc_id, ('0x' || substring(md5(text), 1, 15))::BIGINT AS simhash
         |  FROM documents),
         |twins AS (
         |  SELECT doc_id + $SIMHASH_TWIN_OFFSET AS tid,
         |    xor(simhash, 7::BIGINT << CAST(doc_id % 58 AS INT)) AS sh
         |  FROM base WHERE doc_id < 50),
         |sims AS (
         |  SELECT doc_id, simhash FROM base
         |  UNION ALL
         |  SELECT tid AS doc_id, sh AS simhash FROM twins)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"),
          conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("simhash"))
      val mask = call_function("shiftleft", lit(7L), pmod(col("doc_id"), lit(58)).cast("int"))
      val sims = base.unionByName(
        base.filter(col("doc_id") < 50).select(
          (col("doc_id") + SIMHASH_TWIN_OFFSET).as("doc_id"),
          col("simhash").bitwiseXOR(mask).as("simhash")))
      Dedup.simHashNearDup(sims, "doc_id", maxDist = 8)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    },

    // ---- q86: paragraph-level exact dedup (C4/RefinedWeb sub-doc dedup) ----
    // The sub-document complement of q22/q53's whole-doc dedup: docs split
    // into fixed 16-token segments, and only the corpus-wide FIRST occurrence
    // of each exact segment survives (first = lowest (doc_id, seg_id) —
    // deterministic across runs and cluster sizes). Removes boilerplate
    // repeated ACROSS documents that whole-doc hashing cannot see. Shape:
    // per-row split/explode (map-side), ONE keyed shuffle on the segment
    // text (Dedup.markFirstUnits), one keyed re-assembly agg — the kept_md5
    // pins the exact surviving text, not just counts.
    QueryDef(
      "q86_paragraph_dedup",
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |segs AS (
         |  SELECT doc_id, CAST(u.sid AS BIGINT) AS seg_id, u.seg AS seg FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(0, CAST(CEIL(len(t) / $SEG_TOKENS.0) AS INT)), i ->
         |        {sid: i, seg: array_to_string(t[CAST(i*$SEG_TOKENS + 1 AS INT):CAST(i*$SEG_TOKENS + $SEG_TOKENS AS INT)], ' ')})) AS u
         |    FROM toks)),
         |ranked AS (
         |  SELECT doc_id, seg_id, seg,
         |    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_id) AS rn
         |  FROM segs)
         |SELECT doc_id,
         |  COUNT(*) AS n_segs,
         |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(COUNT(*) - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_id), '')) AS kept_md5
         |FROM ranked
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = col("__t")
      val nseg = ceil(size(t) / lit(SEG_TOKENS.toDouble)).cast("int")
      val segs = Tables.documentsSpread(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("__t"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), nseg - 1),
            i => concat_ws(" ", slice(t, i * SEG_TOKENS + 1, lit(SEG_TOKENS))))))
        .select(col("doc_id"), col("pos").cast("long").as("seg_id"), col("col").as("seg"))
      Dedup.markFirstUnits(segs, "doc_id", "seg_id", "seg")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_segs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          // kept segments re-assembled in seg_id order: collect_list skips
          // the nulls of non-kept rows, array_sort orders the (seg_id, seg)
          // structs lexicographically = by position
          md5(concat_ws(" ",
            transform(
              array_sort(collect_list(when(col("kept"), struct(col("seg_id"), col("seg"))))),
              x => x.getField("seg")))).as("kept_md5"))
        .select(col("doc_id"), col("n_segs"), col("n_kept"),
          (col("n_segs") - col("n_kept")).as("n_dropped"), col("kept_md5"))
        .orderBy("doc_id")
    },

    // ---- q88/q89: planted-recall audits for the native xxhash64 paths ------
    // The q76/q77 trick applied to text dedup: q51/q52's signatures are
    // engine-specific (no DuckDB twin), but their RECALL is an oracle-
    // expressible constant. Plant one exact-copy twin per doc_id < 50; an
    // exact copy has identical shingle sets → identical MinHash signatures →
    // every band collides (q88), and an identical token stream → identical
    // simhash → hamming 0, surfaced by every chunk block (q89). Both are
    // certainties, not probabilistic LSH events, so the expected answer is a
    // constant-true row per twin. INTENTIONALLY strict (cf. q76): a missing
    // twin yields twin_found=0 and a null score → hash-red.
    QueryDef(
      "q88_minhash_planted_recall",
      // the ≥3-token guard on BOTH sides pins the fixture assumption the
      // strict oracle rides on: Dedup.shingles drops docs shorter than one
      // 3-gram, so a short doc's twin is (correctly) invisible to MinHash —
      // it must be excluded from the audit, not scored as a miss
      """SELECT doc_id, CAST(1 AS BIGINT) AS twin_found, CAST(1.0 AS DOUBLE) AS jaccard
        |FROM documents WHERE doc_id < 50 AND len(string_split(text, ' ')) >= 3
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documentsSpread(s, d).select(col("doc_id"), col("text"))
      val corpus = base.unionByName(
        base.filter(col("doc_id") < 50)
          .select((col("doc_id") + NATIVE_TWIN_OFFSET).as("doc_id"), col("text")))
      val twinPairs = Dedup.nearDuplicates(corpus, "doc_id", "text")
        .filter(col("id_b") === col("id_a") + NATIVE_TWIN_OFFSET && col("id_a") < 50)
      base.filter(col("doc_id") < 50 && size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"))
        .join(twinPairs, col("doc_id") === col("id_a"), "left")
        .select(col("doc_id"),
          when(col("id_b").isNotNull, 1L).otherwise(0L).as("twin_found"),
          col("jaccard"))
        .orderBy("doc_id")
    },

    QueryDef(
      "q89_simhash_planted_recall",
      """SELECT doc_id, CAST(1 AS BIGINT) AS twin_found, CAST(0 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documentsSpread(s, d).select(col("doc_id"), col("text"))
      val corpus = base.unionByName(
        base.filter(col("doc_id") < 50)
          .select((col("doc_id") + NATIVE_TWIN_OFFSET).as("doc_id"), col("text")))
      val sim = Dedup.simHash64(corpus, "doc_id", "text")
      val twinPairs = Dedup.simHashNearDup(sim, "doc_id", maxDist = 8)
        .filter(col("id_b") === col("id_a") + NATIVE_TWIN_OFFSET && col("id_a") < 50)
      base.filter(col("doc_id") < 50).select(col("doc_id"))
        .join(twinPairs, col("doc_id") === col("id_a"), "left")
        .select(col("doc_id"),
          when(col("id_b").isNotNull, 1L).otherwise(0L).as("twin_found"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("doc_id")
    },

    QueryDef(
      "q53_dedup_exact_native",
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.exact(Tables.documents(s, d), Seq("text"), "doc_id")
        .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")
    },

    // ---- q90: token-rarity quality profile ---------------------------------
    // The corpus-statistics quality signal q70's per-doc rules can't see:
    // how much of each doc is made of corpus-RARE tokens (gibberish, OOV,
    // mangled encodings score rare-heavy). A unigram-LM log-prob score
    // would need ln(), whose last ulp differs across engines — so rarity
    // is INTEGER arithmetic only: a token is rare when its collection
    // frequency is below half the corpus mean (c·2·vocab ≤ N — corpus-
    // relative, so the definition survives any vocabulary size), and the
    // per-doc argmin (rarest token, ties broken lexicographically) is a
    // rank-1 window row. Every output is a count or a token: exact in
    // both engines by construction, no float anywhere.
    // Shape at 100 TB: one partial-agg'd (token → cf) count, the 1-row
    // (total, vocab) broadcast, one keyed join token-stream × cf (the
    // only big shuffle — same shape as q83's df join), then a per-doc
    // window + groupBy (doc-sized sorts).
    QueryDef(
      "q90_token_rarity",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |cf AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS vocab FROM cf),
        |r AS (
        |  SELECT doc_id, tok, c, total, vocab,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c, tok) AS rn
        |  FROM toks JOIN cf USING (tok) CROSS JOIN n)
        |SELECT doc_id,
        |  COUNT(*) AS n_tok,
        |  CAST(SUM(CASE WHEN c * 2 * vocab <= total THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  MIN(c) AS min_cf,
        |  MAX(CASE WHEN rn = 1 THEN tok END) AS rarest_tok
        |FROM r
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // token stream scanned twice (cf pass + rarity pass) — persisted
      val toks = Tables.documentsSpread(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .persist()
      val cf = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      val n = cf.agg(sum(col("c")).as("total"), count(lit(1)).as("vocab"))
      val w = Window.partitionBy("doc_id").orderBy(col("c"), col("tok"))
      toks.join(cf, "tok").crossJoin(broadcast(n))
        .withColumn("rn", row_number().over(w))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tok"),
          sum(when(col("c") * 2 * col("vocab") <= col("total"), 1L)
            .otherwise(0L)).as("n_rare"),
          min(col("c")).as("min_cf"),
          max(when(col("rn") === 1, col("tok"))).as("rarest_tok"))
        .orderBy("doc_id")
    },

    // ---- q96: cross-doc duplicate-span removal (substring-level dedup) -----
    // The sliding-window approximation of suffix-array substring dedup
    // (Lee et al., "Deduplicating Training Data Makes Language Models
    // Better"): a token is removed iff it is covered by any 5-token window
    // whose text also occurs in a LOWER-id document — the span keeps its
    // first occurrence corpus-wide and disappears everywhere else,
    // wherever in the doc the copy starts (q86's fixed segments only catch
    // grid-aligned copies). Shape: window hashing is per-row map work; the
    // first-occurrence pass is ONE keyed agg on the window hash; flagged
    // starts come back via a keyed join + per-doc collect; coverage and
    // re-assembly are per-row array math (O(ntok · dup_spans), no shuffle).
    // kept_md5 pins the exact surviving text on both engines.
    QueryDef(
      "q96_duplicate_span_removal",
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |w AS (
         |  SELECT doc_id, CAST(u.st AS BIGINT) AS st, u.wh AS wh FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(t) - ${SPAN_W - 2}), i ->
         |      {st: i, wh: md5(array_to_string(t[CAST(i AS INT):CAST(i + ${SPAN_W - 1} AS INT)], ' '))})) AS u
         |    FROM d WHERE len(t) >= $SPAN_W)),
         |f AS (SELECT wh, MIN(doc_id) AS fd FROM w GROUP BY wh),
         |dl AS (
         |  SELECT w.doc_id, list(w.st) AS ds FROM w JOIN f USING (wh)
         |  WHERE f.fd < w.doc_id GROUP BY w.doc_id),
         |cov AS (
         |  SELECT d.doc_id, d.t, COALESCE(dl.ds, []::BIGINT[]) AS ds
         |  FROM d LEFT JOIN dl USING (doc_id)),
         |k AS (
         |  SELECT doc_id, t, list_filter(range(1, len(t) + 1),
         |    p -> len(list_filter(ds, s -> s <= p AND p < s + $SPAN_W)) = 0) AS kp
         |  FROM cov)
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
         |  CAST(len(t) - len(kp) AS BIGINT) AS n_removed,
         |  md5(COALESCE(array_to_string(list_transform(kp, p -> t[CAST(p AS INT)]), ' '), '')) AS kept_md5
         |FROM k
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = col("__t")
      val docs = Tables.documentsSpread(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("__t"))
      // window table scanned twice (first-occurrence agg + flag join)
      val wins = docs.filter(size(t) >= SPAN_W)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(1), size(t) - (SPAN_W - 1)),
            i => md5(concat_ws(" ",
              (0 until SPAN_W).map(k => element_at(t, i + k)): _*)))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("st"),
          col("col").as("wh"))
        .persist()
      val first = wins.groupBy("wh").agg(min(col("doc_id")).as("fd"))
      val dupStarts = wins.join(first, "wh")
        .filter(col("fd") < col("doc_id"))
        .groupBy("doc_id").agg(collect_list(col("st")).as("ds"))
      val ds = coalesce(col("ds"), array().cast("array<bigint>"))
      val keptPos = filter(sequence(lit(1L), size(t).cast("long")),
        p => !exists(ds, st => st <= p && p < st + SPAN_W))
      docs.join(dupStarts, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          size(t).cast("long").as("n_tok"),
          (size(t) - size(keptPos)).cast("long").as("n_removed"),
          md5(concat_ws(" ",
            transform(keptPos, p => element_at(t, p.cast("int"))))).as("kept_md5"))
        .orderBy("doc_id")
    },

    // ---- q149: exact min-length duplicate-substring mining -----------------
    // The guaranteed semantics q96 approximates: every maximal repeated
    // substring of >= DUP_L tokens, via the gram reduction (a position is
    // in a >= L-token repeat iff covered by a duplicated L-gram; maximal
    // runs of covered positions = the maximal repeated spans). 100% recall
    // by construction — no sampling, no windows skipped. See
    // [[graft.operators.Dedup.duplicateSpans]] for the scale analysis
    // (one keyed agg + one keyed join + a per-doc window).
    QueryDef(
      "q149_duplicate_substrings",
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(u.st AS BIGINT) AS st, u.gh AS gh FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(t) - ${DUP_L - 2}), i ->
         |      {st: i, gh: md5(array_to_string(t[CAST(i AS INT):CAST(i + ${DUP_L - 1} AS INT)], ' '))})) AS u
         |    FROM d WHERE len(t) >= $DUP_L)),
         |gs AS (SELECT gh, COUNT(*) AS occ, COUNT(DISTINCT doc_id) AS ndocs
         |       FROM g GROUP BY gh),
         |dup AS (SELECT g.doc_id, g.st, gs.ndocs FROM g JOIN gs USING (gh)
         |        WHERE gs.occ >= 2),
         |lagged AS (
         |  SELECT doc_id, st, ndocs,
         |    LAG(st) OVER (PARTITION BY doc_id ORDER BY st) AS pst
         |  FROM dup),
         |isl AS (
         |  SELECT doc_id, st, ndocs,
         |    SUM(CASE WHEN st - pst > $DUP_L THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY st) AS island
         |  FROM lagged)
         |SELECT doc_id, MIN(st) AS span_start,
         |  MAX(st) - MIN(st) + $DUP_L AS span_len,
         |  CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  CAST(MAX(ndocs) AS BIGINT) AS n_sources
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      graft.operators.Dedup.duplicateSpans(
          Tables.documentsSpread(s, d)
            .select(col("doc_id"), split(col("text"), " ").as("__t")),
          "doc_id", "__t", DUP_L)
        .orderBy("doc_id", "span_start")
    },

    // ---- q152: self-repetition coverage — degenerate-loop detection --------
    // The generated-text failure q78's unigram stats can't see: a doc that
    // CYCLES (the same 5-token-or-longer phrase repeated inside one
    // document) has normal token frequencies but high self-repeat
    // coverage. Reuses the q149 span machinery in within-doc mode (a gram
    // is duplicated only if it recurs in the SAME doc), then reports per
    // source: docs, loopy docs (>= 30% of positions covered), average
    // coverage in integer basis points (floor per doc, floor of the mean —
    // no float anywhere, so no cross-engine rounding surface), and the
    // worst doc's covered-token count. The fixture corpus contains no
    // natural 5-gram self-repeats (an all-zero board would be trivially
    // green even with broken machinery), so every doc_id % 5 == 0 doc is
    // PLANTED with a loop — its own first 12 tokens appended three times,
    // the same deterministic augmentation on both engines — giving the
    // detector known nonzero ground truth it must score exactly.
    QueryDef(
      "q152_self_repetition",
      s"""WITH pl AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 5 = 0
         |         THEN text || ' ' || hd || ' ' || hd || ' ' || hd
         |         ELSE text END AS text
         |  FROM (SELECT doc_id, source, text,
         |          array_to_string(string_split(text, ' ')[1:12], ' ') AS hd
         |        FROM documents)),
         |d AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM pl),
         |g AS (
         |  SELECT doc_id, CAST(u.st AS BIGINT) AS st, u.gh AS gh FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(t) - ${SPAN_W - 2}), i ->
         |      {st: i, gh: md5(array_to_string(t[CAST(i AS INT):CAST(i + ${SPAN_W - 1} AS INT)], ' '))})) AS u
         |    FROM d WHERE len(t) >= $SPAN_W)),
         |gs AS (SELECT doc_id, gh FROM g GROUP BY doc_id, gh HAVING COUNT(*) >= 2),
         |dup AS (SELECT g.doc_id, g.st FROM g JOIN gs
         |        ON gs.doc_id = g.doc_id AND gs.gh = g.gh),
         |lagged AS (
         |  SELECT doc_id, st,
         |    LAG(st) OVER (PARTITION BY doc_id ORDER BY st) AS pst
         |  FROM dup),
         |isl AS (
         |  SELECT doc_id, st,
         |    SUM(CASE WHEN st - pst > $SPAN_W THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY st) AS island
         |  FROM lagged),
         |spans AS (SELECT doc_id, MAX(st) - MIN(st) + $SPAN_W AS span_len
         |          FROM isl GROUP BY doc_id, island),
         |cov AS (SELECT doc_id, SUM(span_len) AS covered FROM spans GROUP BY doc_id),
         |perdoc AS (
         |  SELECT d.source, len(d.t) AS ntok, COALESCE(c.covered, 0) AS covered
         |  FROM d LEFT JOIN cov c USING (doc_id))
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN covered * 10 >= ntok * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_loopy,
         |  CAST(SUM(covered * 10000 // ntok) // COUNT(*) AS BIGINT) AS avg_cov_bp,
         |  CAST(MAX(covered) AS BIGINT) AS max_covered
         |FROM perdoc GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val hd = concat_ws(" ", slice(split(col("text"), " "), 1, 12))
      val docs = Tables.documentsSpread(s, d)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 5 === 0,
            concat_ws(" ", col("text"), hd, hd, hd))
            .otherwise(col("text")).as("text"))
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("__t"))
      val cov = graft.operators.Dedup.duplicateSpans(
          docs.select(col("doc_id"), col("__t")), "doc_id", "__t",
          SPAN_W, withinDoc = true)
        .groupBy("doc_id").agg(sum(col("span_len")).as("covered"))
      docs.select(col("doc_id"), col("source"),
          size(col("__t")).cast("long").as("ntok"))
        .join(cov, Seq("doc_id"), "left")
        .withColumn("covered", coalesce(col("covered"), lit(0L)))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("covered") * 10 >= col("ntok") * 3, 1L).otherwise(0L)).as("n_loopy"),
          expr("sum(covered * 10000 div ntok) div count(1)").as("avg_cov_bp"),
          max(col("covered")).as("max_covered"))
        .orderBy("source")
    },

    // ---- q99: PMI collocation mining — top adjacent-bigram associations ----
    // Corpus analysis for tokenizer/vocab design: which adjacent token
    // pairs co-occur far above chance. PMI = ln(P(ab) / (P(a)·P(b))) over
    // ADJACENT bigrams only — the pair stream is linear in the token
    // stream (never all-pairs), partial-agg'd into (a, b) counts, then two
    // keyed joins attach the unigram counts. Cross-engine: the PMI
    // argument c_ab·T_uni²/(c_a·c_b·T_bi) is evaluated as the identical
    // double expression on both sides, the single ln() is rounded to
    // DECIMAL(18,8), and the global top-50 orders by the ROUNDED score
    // with a lexicographic (a, b) tiebreak — so the cut is deterministic.
    QueryDef(
      "q99_pmi_bigrams",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |uni AS (
         |  SELECT unnest(t) AS w FROM toks),
         |ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
         |bi AS (
         |  SELECT unnest(list_transform(range(1, len(t)), i ->
         |    {a: t[CAST(i AS INT)], b: t[CAST(i+1 AS INT)]})) AS u
         |  FROM toks WHERE len(t) >= 2),
         |bcnt AS (SELECT u.a AS a, u.b AS b, COUNT(*) AS c_ab FROM bi GROUP BY u.a, u.b),
         |tot AS (
         |  SELECT (SELECT SUM(c) FROM ucnt) AS t_uni,
         |         (SELECT SUM(c_ab) FROM bcnt) AS t_bi),
         |scored AS (
         |  SELECT a, b, c_ab,
         |    CAST(CAST(ln(CAST(c_ab AS DOUBLE) * t_uni * t_uni
         |      / (ca.c * cb.c * t_bi)) AS DECIMAL(18,8)) AS DOUBLE) AS pmi
         |  FROM bcnt JOIN ucnt ca ON ca.w = a JOIN ucnt cb ON cb.w = b
         |  CROSS JOIN tot
         |  WHERE c_ab >= $PMI_MIN_COUNT)
         |SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab, pmi,
         |  CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, a, b) AS BIGINT) AS rk
         |FROM scored QUALIFY rk <= 50
         |ORDER BY rk""".stripMargin) { (s, d) =>
      val t = col("__t")
      val toks = Tables.documentsSpread(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("__t"))
        .persist() // unigram + bigram passes share the token arrays
      val ucnt = toks.select(explode(t).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val bcnt = toks.filter(size(t) >= 2)
        .select(explode(transform(sequence(lit(1), size(t) - 1),
          i => struct(element_at(t, i).as("a"), element_at(t, i + 1).as("b")))).as("u"))
        .select(col("u.a").as("a"), col("u.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      val tot = ucnt.agg(sum(col("c")).as("t_uni"))
        .crossJoin(bcnt.agg(sum(col("c_ab")).as("t_bi")))
      val scored = bcnt.filter(col("c_ab") >= PMI_MIN_COUNT)
        .join(ucnt.select(col("w").as("a"), col("c").as("ca")), "a")
        .join(ucnt.select(col("w").as("b"), col("c").as("cb")), "b")
        .crossJoin(broadcast(tot))
        .select(col("a"), col("b"), col("c_ab"),
          log(col("c_ab").cast("double") * col("t_uni") * col("t_uni") /
            (col("ca") * col("cb") * col("t_bi")))
            .cast(DecimalType(18, 8)).cast("double").as("pmi"))
      val w = Window.orderBy(col("pmi").desc, col("a"), col("b"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 50)
        .orderBy("rk")
    },

    // ---- q100: winnowing fingerprints (MOSS-style robust selection) --------
    // The guaranteed-recall fingerprinting scheme (Schleimer/Wilkerson/
    // Aiken): hash every 3-gram, slide a window of 4 consecutive hashes,
    // select each window's MINIMUM (rightmost on ties), dedupe positions.
    // Any shared token run of ≥ w+2 tokens between two documents then
    // shares at least one selected fingerprint — the density/recall
    // trade-off q41's every-position rolling hash can't make. Entirely
    // per-row array math (no shuffle before the final sort); the 60-bit
    // md5-prefix hash is the portable construction, xxhash64 being the
    // drop-in at deploy. Docs shorter than one full window winnow their
    // single truncated window — the slice-length term keeps the rightmost
    // arithmetic exact there too, on both engines.
    QueryDef(
      "q100_winnowing",
      s"""WITH $WinnowSqlCtes
         |SELECT doc_id,
         |  CAST(len(h) AS BIGINT) AS n_grams,
         |  CAST(len(sp) AS BIGINT) AS n_fp,
         |  md5(array_to_string(list_transform(sp, p ->
         |    CAST(p AS VARCHAR) || ':' || CAST(h[CAST(p AS INT)] AS VARCHAR)), ',')) AS fp_md5
         |FROM sel
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val g = col("__g")
      val sp = col("__sp")
      winnowSelected(s, d).select(
          col("doc_id"),
          size(g).cast("long").as("n_grams"),
          size(sp).cast("long").as("n_fp"),
          md5(concat_ws(",", transform(sp, p =>
            concat(p.cast("string"), lit(":"),
              element_at(g, p.cast("int")).cast("string"))))).as("fp_md5"))
        .orderBy("doc_id")
    },

    // ---- q103: winnowing fingerprint matching (the MOSS match step) --------
    // Closing the fingerprinting loop: docs sharing ≥2 winnowing-selected
    // hashes are overlap candidates — the match MOSS runs on the q100
    // selection, with the guarantee that any ≥6-token shared run surfaces.
    // Same bounded shape as every match stage here: fingerprints with df
    // over the cap are boilerplate and dropped BEFORE the self-join
    // (identical filter in the oracle), so fan-out per fingerprint is
    // capped; the join is keyed on the hash; support counts are exact.
    QueryDef(
      "q103_winnow_matches",
      s"""WITH $WinnowPairsSqlCtes
         |SELECT id_a, id_b, n_shared FROM mpairs
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      winnowMatchPairs(s, d).orderBy("id_a", "id_b")
    },

    // ---- q101: character-entropy quality scoring (pure map-side) -----------
    // The Shannon-entropy filter web pipelines run next to the q70 rules:
    // very low character entropy = repeated filler/padding, very high =
    // random bytes/encoded blobs — both useless as training text. Computed
    // ENTIRELY within each row: distinct chars via array_distinct of the
    // char split, per-char counts via length-minus-replace (no explode, no
    // shuffle, codegen'd string ops), H = Σ (c/n)·ln(n/c) summed exactly
    // as DECIMAL(38,20) inside the row and rounded to DECIMAL(18,8) — the
    // distinct-order difference between engines cannot move the exact
    // decimal sum, and ulp-level ln() drift dies in the rounding.
    QueryDef(
      "q101_char_entropy",
      """WITH base AS (
        |  SELECT doc_id, text, length(text) AS n,
        |    list_distinct(string_split(text, '')) AS cs
        |  FROM documents WHERE length(text) > 0),
        |scored AS (
        |  SELECT doc_id, n, len(cs) AS n_distinct_chars,
        |    list_sum(list_transform(cs, ch ->
        |      CAST((CAST(n - length(replace(text, ch, '')) AS DOUBLE) / n)
        |        * ln(CAST(n AS DOUBLE) / (n - length(replace(text, ch, ''))))
        |        AS DECIMAL(38,20)))) AS hsum
        |  FROM base)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars_text,
        |  CAST(n_distinct_chars AS BIGINT) AS n_distinct_chars,
        |  CAST(CAST(CAST(hsum AS DOUBLE) AS DECIMAL(18,8)) AS DOUBLE) AS entropy
        |FROM scored
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val n = col("__n")
      val cnt = (ch: org.apache.spark.sql.Column) =>
        n - length(call_function("replace", col("text"), ch, lit("")))
      Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"), length(col("text")).as("__n"),
          array_distinct(split(col("text"), "")).as("__cs"))
        .select(col("doc_id"),
          n.cast("long").as("n_chars_text"),
          size(col("__cs")).cast("long").as("n_distinct_chars"),
          aggregate(
            transform(col("__cs"), ch =>
              ((cnt(ch).cast("double") / n) * log(n.cast("double") / cnt(ch)))
                .cast(DecimalType(38, 20))),
            lit(0).cast(DecimalType(38, 20)),
            (acc, x) => (acc + x).cast(DecimalType(38, 20)))
            .cast("double").cast(DecimalType(18, 8)).cast("double").as("entropy"))
        .orderBy("doc_id")
    },

    // ---- q104: BM25 retrieval scoring over the corpus ----------------------
    // The retrieval face of the quality stack: rank documents against a
    // fixed query by BM25 (k1=1.2, b=0.75, the Robertson positive-idf
    // form). Per-doc term frequencies are pure map-side array filters (no
    // token explode — only |query| rows emitted per doc); document
    // frequencies are one tiny agg broadcast back; the scored table holds
    // only docs containing ≥1 query token. Cross-engine: every constant
    // is written as the same literal on both sides (2.2, 0.25, never
    // k1+1), avgdl is one exact-integer division, the ln() rides the
    // decimal-sum + DECIMAL(18,8) rounding discipline, and the top-50 cut
    // orders by the ROUNDED score with doc_id tiebreak.
    QueryDef(
      "q104_bm25",
      s"""WITH $Bm25SqlCtes
         |SELECT doc_id, bm25,
         |  CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rk
         |FROM scored QUALIFY rk <= 50
         |ORDER BY rk""".stripMargin) { (s, d) =>
      val scored = bm25Scores(s, d)
      val w = Window.orderBy(col("bm25").desc, col("doc_id"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 50)
        .orderBy("rk")
    },

    // ---- q107: fuzzy dedup via deletion-neighborhood blocking --------------
    // Edit-distance-1 entity resolution at scale: each string emits itself
    // plus every 1-deletion variant as blocking keys; two strings within
    // Levenshtein distance 1 ALWAYS share a key (substitution at i → both
    // sides' delete-at-i variants collide; insert/delete → the longer
    // side's deletion equals the shorter side itself), so the keyed join
    // has 100% recall — no O(n²) pair scan. Bucket width is naturally
    // bounded by |alphabet|·len (every member of a bucket re-inserts one
    // char into the same base string), so the self-join cannot fan out.
    // The oracle is the honest brute-force O(n²) Levenshtein join — two
    // completely different algorithms must produce identical twin sets
    // (driver gate runs sf0.01: 1500² candidate pairs, fine for DuckDB;
    // the Spark side stays the blocked shape that survives 100 TB).
    QueryDef(
      "q107_fuzzy_name_dedup",
      """WITH p AS (
        |  SELECT a.c_custkey AS ida, b.c_custkey AS idb
        |  FROM customer a JOIN customer b
        |    ON a.c_custkey < b.c_custkey
        |   AND abs(length(a.c_name) - length(b.c_name)) <= 1
        |   AND levenshtein(a.c_name, b.c_name) <= 1),
        |u AS (SELECT ida AS id, idb AS twin FROM p
        |      UNION ALL SELECT idb, ida FROM p)
        |SELECT id AS c_custkey, CAST(COUNT(*) AS BIGINT) AS n_fuzzy_twins,
        |  MIN(twin) AS min_twin
        |FROM u GROUP BY id
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val name = col("c_name")
      // self + all 1-deletion variants (array_distinct: deleting either of
      // two equal adjacent chars yields the same variant)
      val delKeys = array_distinct(concat(
        array(name),
        transform(sequence(lit(1), length(name)), i =>
          concat(name.substr(lit(1), i - 1),
            name.substr(i + 1, length(name) - i)))))
      // persisted: both sides of the blocking self-join scan the same
      // exploded variant table (len+1 rows per customer)
      val keyed = Tables.customer(s, d)
        .select(col("c_custkey"), name, explode(delKeys).as("k"))
        .persist()
      val pairs = keyed.select(col("c_custkey").as("ida"), name.as("na"), col("k"))
        .join(keyed.select(col("c_custkey").as("idb"), name.as("nb"), col("k")), "k")
        .filter(col("ida") < col("idb"))
        .select("ida", "idb", "na", "nb").distinct()
        .filter(levenshtein(col("na"), col("nb")) <= 1)
      val u = pairs.select(col("ida").as("id"), col("idb").as("twin"))
        .unionAll(pairs.select(col("idb").as("id"), col("ida").as("twin")))
      u.groupBy(col("id").as("c_custkey"))
        .agg(count(lit(1)).as("n_fuzzy_twins"), min(col("twin")).as("min_twin"))
        .orderBy("c_custkey")
    },

    // ---- q108: inverted-index construction (df-capped posting lists) -------
    // The index-build behind q104's BM25 scoring: term → sorted posting
    // list. Scale discipline: the df pass runs FIRST (count is partial-agg
    // friendly — the shuffle carries one (term, count) per partition, not
    // the postings), the df band [2, 100] drops singleton noise and
    // stopword terms, and only then are postings collected — so no
    // collect_list ever materializes an uncapped stopword list (the
    // classic index-build OOM at 100 TB). The kept-term set is broadcast
    // back against the token stream.
    QueryDef(
      "q108_inverted_index",
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents)
        |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM toks GROUP BY term
        |HAVING COUNT(*) BETWEEN 2 AND 100
        |ORDER BY term""".stripMargin) { (s, d) =>
      val toks = Tables.documentsSpread(s, d)
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("term"))
      val kept = toks.groupBy("term")
        .agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 100))
      // `kept` is a df-filtered vocabulary subset — still Heaps-law unbounded
      // at corpus scale, so no forced broadcast (AQE decides)
      toks.join(kept, "term")
        .groupBy("term", "df")
        .agg(array_sort(collect_list(col("doc_id"))).as("__ids"))
        .select(col("term"), col("df"),
          concat_ws(",", transform(col("__ids"), _.cast("string"))).as("postings"))
        .orderBy("term")
    },

    // ---- q125: Count-Min sketch frequency estimation -----------------------
    // The third mergeable frequency sketch alongside Misra-Gries (q47) and
    // HLL (q43): a fixed D×W counter grid where token t increments cell
    // (r, md5(r:t) mod W) per row r, and estimate(t) = min over rows —
    // always ≥ the true count, over by at most the collision mass. State
    // is O(D·W) regardless of vocabulary, every cell update is a keyed
    // count (partial-agg friendly), and grids merge by cell-wise addition
    // — the streaming/shard-merge shape. Hashing is the portable md5 idiom
    // (cf. q28), so the FULL sketch — grid, probe cells, estimates, and
    // the exact-count verifier — replays bit-for-bit in the oracle: the
    // over_err column pins the ≥-exact invariant as hashed fact.
    QueryDef("q125_countmin_sketch", CM_ORACLE) { (s, d) =>
      val toks = Tables.documentsSpread(s, d)
        .select(explode(split(col("text"), " ")).as("t"))
      val counters = cmCells(toks, "t")
        .groupBy("r", "c").agg(count(lit(1)).as("cnt"))
      cmAnswer(s, counters, toks)
    },

    // ---- q130: streaming incremental Count-Min merge -----------------------
    // q125's deploy shape for continuous ingest (what q116 is to q105, for
    // sketches): each micro-batch computes ITS OWN D×W grid (≤ D·W rows,
    // ~16 KiB) and appends it to a grid store; the corpus-wide sketch is
    // the cell-wise SUM of the per-batch grids — Count-Min's merge is
    // exact addition, so the merged grid is bit-identical to the one-pass
    // grid and this query hash-checks against the SAME oracle as q125
    // through the real streaming engine. New data never rescans old
    // batches: per batch work is O(batch + D·W), state is O(batches·D·W)
    // compactable to O(D·W) by re-summing.
    QueryDef("q130_stream_countmin", CM_ORACLE) { (s, d) =>
      val srcDir = stagedDocBatches(s, d)
      val store = Stage.cleared("graft-q130-grid-", d)
      Streams.replay(s, srcDir, ())((_, batch, batchId) =>
        Stage.append(store.toString, batchId,
          cmCells(batch.select(explode(split(col("text"), " ")).as("t")), "t")
            .groupBy("r", "c").agg(count(lit(1)).as("cnt"))))
      val counters = s.read.parquet(store.toString)
        .groupBy("r", "c").agg(sum(col("cnt")).as("cnt"))
      val toks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("t"))
      cmAnswer(s, counters, toks)
    },

    // ---- q139: streaming top-k via per-batch partial top-k merge -----------
    // q136's exact-mergeability, exercised by the streaming engine: each
    // micro-batch computes its own per-source top-5 (k rows of state per
    // group) and appends those PARTIAL top-k rows to a store; the final
    // answer re-aggregates the stored partials with the same TopKRows —
    // exact merge means partial-of-partials IS the global top-k, so the
    // result hash-checks against the plain window oracle over the whole
    // table. State per batch is k rows per group, never the batch.
    QueryDef(
      "q139_stream_topk",
      """SELECT source, rk, nch, did FROM (
        |  SELECT source, CAST(n_chars AS DOUBLE) AS nch, doc_id AS did,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin) { (s, d) =>
      val topk = udaf(new graft.functions.TopKRows(5))
      val srcDir = stagedDocBatches(s, d)
      val store = Stage.cleared("graft-q139-topk-", d)
      Streams.replay(s, srcDir, ())((_, batch, batchId) =>
        Stage.append(store.toString, batchId,
          batch.groupBy("source")
            .agg(topk(col("n_chars").cast("double"), col("doc_id"), col("doc_id")).as("tk"))
            .select(col("source"), explode(col("tk")).as("row"))
            .select(col("source"), col("row._1").as("nch"), col("row._2").as("did"))))
      s.read.parquet(store.toString)
        .groupBy("source")
        .agg(topk(col("nch"), col("did"), col("did")).as("tk"))
        .select(col("source"), posexplode(col("tk")).as(Seq("pos", "row")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
          col("row._1").as("nch"), col("row._2").as("did"))
        .orderBy("source", "rk")
    },

    // ---- q131: prefix-filtered set-similarity join (PPJoin family) ---------
    // The PRINCIPLED scale path for q27's gram-Jaccard pairs: order each
    // doc's grams by global rarity (df, gram) and index only the first
    // n - ceil(θ·n) + 1 of them — if J(a,b) ≥ θ then common ≥ ceil(θ·|a|)
    // and ≥ ceil(θ·|b|), so the two prefixes MUST share a gram (Vernica et
    // al.'s prefix principle). Candidates come from a self-join on the
    // RAREST grams only (small buckets by construction — no df cap, no
    // recall loss), then only candidates pay the exact intersect-count.
    // Same answer as the brute-force oracle, guaranteed — where q27's
    // MAX_GRAM_DF cap trades completeness for the bound, the prefix
    // filter gets both. DedupSpec pins candidates < brute-force pairs.
    QueryDef(
      "q131_prefix_join",
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |          WHERE len(string_split(text, ' ')) >= 3),
         |grams AS (SELECT DISTINCT doc_id,
         |            unnest(list_transform(range(1, len(t) - 1),
         |                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
         |          FROM toks),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
         |co AS (SELECT g1.doc_id AS doc_a, g2.doc_id AS doc_b, COUNT(*) AS common
         |       FROM grams g1 JOIN grams g2
         |         ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
         |       GROUP BY g1.doc_id, g2.doc_id)
         |SELECT doc_a, doc_b, common * 1.0 / (sa.n + sb.n - common) AS jaccard
         |FROM co
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      prefixJoinPairs(s, d)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // ---- q161: asymmetric containment join (quote/subset detection) --------
    // Jaccard (q27/q131) misses the quote case: a short doc copied INTO a
    // long one scores low symmetric similarity but containment
    // C(a->b) = |G(a) ∩ G(b)| / |G(a)| = 1. The prefix principle carries
    // over asymmetrically: if C >= θ then common >= ceil(θ·|a|), which
    // cannot fit in a's dropped suffix of ceil(θ·|a|) - 1 grams — so
    // probing only a's |a| - ceil(θ·|a|) + 1 RAREST grams against the
    // full posting list is lossless, and join cost is bounded by the df
    // of rare grams, not all-pairs. Verification then counts exact
    // overlap for candidates only; the oracle is UNCAPPED brute force.
    // The fixture corpus has no cross-doc quotes, so every doc_id % 7 == 0
    // doc PLANTS one: its first 24 tokens re-enter as doc_id + 1000000,
    // the same augmentation on both engines — each planted quote MUST
    // surface with containment 10000 bp exactly.
    QueryDef(
      "q161_containment_join",
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |    array_to_string(string_split(text, ' ')[1:24], ' ') AS text
         |  FROM documents WHERE doc_id % 7 = 0),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus
         |          WHERE len(string_split(text, ' ')) >= 3),
         |grams AS (SELECT DISTINCT doc_id,
         |            unnest(list_transform(range(1, len(t) - 1),
         |                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
         |          FROM toks),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
         |co AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
         |         COUNT(*) AS common
         |       FROM grams a JOIN grams b
         |         ON a.gram = b.gram AND a.doc_id <> b.doc_id
         |       GROUP BY a.doc_id, b.doc_id)
         |SELECT contained_id, container_id, CAST(common AS BIGINT) AS common,
         |  CAST(sa.n AS BIGINT) AS na,
         |  CAST(common * 10000 // sa.n AS BIGINT) AS cont_bp
         |FROM co JOIN sizes sa ON sa.doc_id = contained_id
         |WHERE common * 10 >= sa.n * 8
         |ORDER BY contained_id, container_id""".stripMargin) { (s, d) =>
      val base = Tables.documentsSpread(s, d)
      val corpus = base.select(col("doc_id"), col("text")).unionByName(
        base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"),
            concat_ws(" ", slice(split(col("text"), " "), 1, 24)).as("text")))
      val t = col("t")
      val grams = corpus
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(t) >= 3)
        .select(col("doc_id"),
          explode(array_distinct(transform(
            sequence(lit(1), size(t) - 2),
            i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))
          ))).as("gram"))
        .persist()
      val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("na"))
      val dfc = grams.groupBy("gram").agg(count(lit(1)).as("__df"))
      // ceil(0.8·n) = (8n + 9) div 10, all integer
      val pref = grams.join(dfc, "gram")
        .join(sizes.select(col("doc_id"), col("na").as("__n")), "doc_id")
        .withColumn("__rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("__df"), col("gram"))))
        .filter(col("__rk") <= col("__n") - expr("(__n * 8 + 9) div 10") + 1)
        .select(col("doc_id").as("contained_id"), col("gram"))
      val cands = pref
        .join(grams.select(col("doc_id").as("container_id"), col("gram")), "gram")
        .filter(col("contained_id") =!= col("container_id"))
        .select("contained_id", "container_id").distinct()
      val common = cands
        .join(grams.select(col("doc_id").as("contained_id"), col("gram")), "contained_id")
        .join(grams.select(col("doc_id").as("container_id"), col("gram")),
          Seq("container_id", "gram"))
        .groupBy("contained_id", "container_id").agg(count(lit(1)).as("common"))
      common
        .join(sizes.select(col("doc_id").as("contained_id"), col("na")), "contained_id")
        .filter(col("common") * 10 >= col("na") * 8)
        .select(col("contained_id"), col("container_id"), col("common"), col("na"),
          expr("common * 10000 div na").as("cont_bp"))
        .orderBy("contained_id", "container_id")
    },

    // ---- q164: Heaps-law vocabulary growth audit ---------------------------
    // The data-card curve behind vocab/tokenizer planning: distinct types
    // seen in the first N tokens of the corpus, on an N grid. The type
    // unit is the word 3-GRAM (the fixture's token vocabulary is a
    // closed 31-word set that saturates by N=1000 — gram types keep
    // growing like real text). "First N tokens" needs a global token
    // order — exactly GlobalIds.prefixSum (q163's backbone) on per-doc
    // token counts: each doc learns the token mass strictly before it in
    // doc_id order, a gram's global position is that offset + its start
    // index, and a type's FIRST position is one keyed min-agg.
    // vocab(N) = types with first_pos <= N — a broadcast grid join over
    // the gram-type table, never the corpus. No one-reducer window
    // anywhere; the oracle computes the same curve from a cumulative
    // window.
    QueryDef(
      "q164_vocab_growth",
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |o AS (SELECT doc_id, len(t) AS ntok FROM d),
         |c AS (SELECT doc_id,
         |    COALESCE(SUM(ntok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |  FROM o),
         |gr AS (SELECT doc_id, u.i AS pos, u.g AS g FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
         |      i -> {i: i, g: t[i] || ' ' || t[i+1] || ' ' || t[i+2]})) AS u
         |    FROM d WHERE len(t) >= 3)),
         |fp AS (SELECT gr.g, MIN(c.cumb + gr.pos) AS first_pos
         |       FROM gr JOIN c USING (doc_id) GROUP BY gr.g)
         |SELECT CAST(gd.n AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN fp.first_pos <= gd.n THEN 1 ELSE 0 END) AS BIGINT) AS vocab
         |FROM (VALUES (1000), (5000), (10000), (50000), (100000), (500000)) AS gd(n)
         |CROSS JOIN fp
         |GROUP BY gd.n
         |ORDER BY n""".stripMargin) { (s, d) =>
      import s.implicits._
      val t = col("t")
      val docs = Tables.documentsSpread(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      val off = graft.operators.GlobalIds.prefixSum(
        docs.select(col("doc_id"), size(t).as("ntok")),
        Seq(col("doc_id")), "ntok", "cumb")
      val first = docs
        .filter(size(t) >= 3)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(t) - 2),
          i => struct(i.as("pos"), concat_ws(" ",
            element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)).as("g"))
        )).as("u"))
        .select(col("doc_id"), col("u.pos").as("pos"), col("u.g").as("g"))
        .join(off.select("doc_id", "cumb"), "doc_id")
        .groupBy("g")
        .agg(min(col("cumb") + col("pos")).as("first_pos"))
      val grid = Seq(1000L, 5000L, 10000L, 50000L, 100000L, 500000L).toDF("n")
      first.crossJoin(broadcast(grid))
        .groupBy("n")
        .agg(sum(when(col("first_pos") <= col("n"), 1L).otherwise(0L)).as("vocab"))
        .orderBy("n")
    },

    // ---- q165: Zipf slope fit (log-log rank-frequency regression) ----------
    // q164's companion data-card number: how Zipfian is the corpus? Least-
    // squares slope of ln(freq) on ln(rank) over the gram-type table.
    // Rank assignment uses GlobalIds.assign on (count DESC, gram) — the
    // no-one-reducer ranking from q157, here over the Zipf-bounded TYPE
    // table — and all four regression sums are exact DECIMAL(38,20)
    // ledgers of identically-evaluated double terms (the q93/q120
    // pattern), so partial-agg order can't move an ulp; slope and
    // intercept round once to DECIMAL(18,8) at the end. A healthy crawl
    // sits near slope -1; generated/templated text drifts shallow.
    QueryDef(
      "q165_zipf_slope",
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |gr AS (SELECT u AS g FROM (
         |    SELECT unnest(list_transform(range(1, len(t) - 1),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u
         |    FROM d WHERE len(t) >= 3)),
         |cnt AS (SELECT g, COUNT(*) AS c FROM gr GROUP BY g),
         |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, g) AS rk FROM cnt),
         |s AS (SELECT COUNT(*) AS n,
         |    SUM(CAST(ln(rk) AS DECIMAL(38,20))) AS sx,
         |    SUM(CAST(ln(c) AS DECIMAL(38,20))) AS sy,
         |    SUM(CAST(ln(rk) * ln(c) AS DECIMAL(38,20))) AS sxy,
         |    SUM(CAST(ln(rk) * ln(rk) AS DECIMAL(38,20))) AS sxx
         |  FROM r),
         |f AS (SELECT n,
         |    (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |      (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS sl,
         |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
         |  FROM s)
         |SELECT CAST(n AS BIGINT) AS n_types,
         |  CAST(CAST(sl AS DECIMAL(18,8)) AS DOUBLE) AS slope,
         |  CAST(CAST((syd - sl * sxd) / n AS DECIMAL(18,8)) AS DOUBLE) AS intercept
         |FROM f""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val t = col("t")
      val cnt = Tables.documentsSpread(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(t) >= 3)
        .select(explode(transform(
          sequence(lit(1), size(t) - 2),
          i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))
        )).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c"))
      val ranked = graft.operators.GlobalIds.assign(
        cnt, Seq(col("c").desc, col("g")), "rk")
      val sums = ranked.agg(
        count(lit(1)).as("n"),
        sum(log(col("rk")).cast(DecimalType(38, 20))).as("sx"),
        sum(log(col("c")).cast(DecimalType(38, 20))).as("sy"),
        sum((log(col("rk")) * log(col("c"))).cast(DecimalType(38, 20))).as("sxy"),
        sum((log(col("rk")) * log(col("rk"))).cast(DecimalType(38, 20))).as("sxx"))
      sums
        .select(col("n"),
          ((col("n") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (col("n") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double"))).as("sl"),
          col("sx").cast("double").as("sxd"), col("sy").cast("double").as("syd"))
        .select(col("n").as("n_types"),
          col("sl").cast(DecimalType(18, 8)).cast("double").as("slope"),
          (((col("syd") - col("sl") * col("sxd")) / col("n")))
            .cast(DecimalType(18, 8)).cast("double").as("intercept"))
    },


    // ---- q179: mojibake / encoding-damage gate (planted ground truth) ------
    // Real web corpora carry UTF-8-decoded-as-Latin-1 double encodings
    // ('é' → 'Ã©'), replacement chars and stray C0 controls; a training
    // pipeline gates them out before tokenization. The fixture corpus is
    // clean, so damage is PLANTED deterministically (docs with
    // doc_id % 7 == 0 get the classic double-encode: every 'e' → 'Ã©',
    // PLUS one appended ' Ã©' token so the plant is content-independent —
    // a planted doc carries damage even if a regenerated fixture doc has
    // no 'e' at all) and the detector must flag exactly the planted set —
    // same planted-ground-truth pattern as q65/q76/q88. Detection is pure
    // per-row expression work (length-difference counting of damage
    // patterns — no regex engine divergence: counts come from global
    // replace), aggregated per source.
    QueryDef(
      "q179_mojibake_gate",
      """WITH damaged AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 0 THEN replace(text, 'e', 'Ã©') || ' Ã©' ELSE text END AS text,
        |    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS planted
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, source, planted,
        |    length(text) - length(replace(text, 'Ã', '')) AS n_moji,
        |    length(text) - length(replace(replace(text, chr(65533), ''), chr(7), '')) AS n_repl
        |  FROM damaged)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(planted) AS BIGINT) AS n_planted,
        |  CAST(SUM(CASE WHEN n_moji + n_repl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(CASE WHEN (n_moji + n_repl > 0) <> (planted = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
        |  CAST(SUM(n_moji) AS BIGINT) AS total_moji
        |FROM scored
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      val damaged = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 7 === 0,
            concat(regexp_replace(col("text"), "e", "Ã©"), lit(" Ã©")))
            .otherwise(col("text")).as("text"),
          when(col("doc_id") % 7 === 0, 1L).otherwise(0L).as("planted"))
      // translate, not regexp_replace: literal single-char removal, no
      // regex semantics in the hot loop -- count = length difference
      val nMoji = (length(col("text")) -
        length(translate(col("text"), "\u00c3", ""))).as("n_moji")
      val nRepl = (length(col("text")) -
        length(translate(col("text"), "\ufffd\u0007", ""))).as("n_repl")
      damaged.select(col("source"), col("planted"), nMoji, nRepl)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("planted")).as("n_planted"),
          sum(when(col("n_moji") + col("n_repl") > 0, 1L).otherwise(0L))
            .as("n_flagged"),
          sum(when((col("n_moji") + col("n_repl") > 0) =!= (col("planted") === 1), 1L)
            .otherwise(0L)).as("n_mismatch"),
          sum(col("n_moji")).as("total_moji"))
        .orderBy("source")
    },

    // ---- q204: HyperLogLog from first principles, integer-replayed ---------
    // q43/q85 are rows-only because built-in sketch BINARIES are
    // engine-specific — but the HLL ALGORITHM (Flajolet-Fusy-Gandouet-
    // Meunier 2007, public literature) is not. Built from the portable md5
    // idiom, every step replays in DuckDB: bucket j = first 2 hex chars
    // (m = 256 registers), rank rho = leading-zero count of the next 48
    // bits + 1 — computed by TRIMMING LEADING '0' HEX DIGITS (4 zero bits
    // each) plus a 4-way CASE on the first surviving digit, so no log2()
    // ever runs. The register sum is replayed as the INTEGER
    // S = Σ 2^(49−M_j) (absent buckets contribute 2^49; max 256·2^49 = 2^57,
    // no overflow) — a bit-exact cross-engine check of the whole sketch
    // state, stronger than comparing a rounded estimate. The estimate
    // α_m·m²·2^49/S is one fixed IEEE expression; the small-range
    // linear-counting branch m·ln(m/V) follows the q93 ln discipline
    // (DECIMAL rounding absorbs last-ulp libm divergence). n_exact is the
    // in-query verifier, as in q43.
    //
    // 100 TB shape: one scan, one map-side-combinable (source, j) max — at
    // most 256 register rows per source survive the shuffle regardless of
    // corpus size, then a 256-row-per-source finalize. The production path
    // stays approx_count_distinct (HLL++, binary-mergeable); this query
    // pins the algorithm itself under the oracle so the sketch family's
    // correctness story no longer rests on rows-only checks alone.
    QueryDef("q204_hll_replay", HLL_ORACLE_BATCH) { (s, d) =>
      val docs = Tables.documents(s, d)
      val ex = docs.groupBy("source")
        .agg(countDistinct(docFp).as("n_exact"))
      hllFinalize(hllRegisters(docs))
        .join(ex, "source")
        .select("source", "n_exact", "v_zero", "s_reg", "est_hll")
        .orderBy("source")
    },

    // ---- q205: streaming HLL — per-batch registers, max-merged -------------
    // q85's incremental-cardinality loop with the portable q204 sketch in
    // place of the engine-specific binary: each micro-batch (real streaming
    // engine, one staged batch per trigger) reduces to its own (source, j, m)
    // register rows — O(256 · sources) regardless of batch size — persisted
    // under batch_id with a batch-dir overwrite (idempotent under
    // at-least-once batch replay, the q85/q153 discipline). The
    // corpus-wide answer max-merges the stored registers; because register
    // max is associative, commutative, and idempotent, the merged state is
    // IDENTICAL to the single-pass batch sketch no matter how ingest was
    // batched — so the streaming answer hash-matches the same DuckDB oracle
    // as q204's finalize, with old batches never rescanned. That is the
    // sketch-store contract a 100 TB ingest pipeline runs on, now
    // oracle-checked end to end instead of rows-only.
    QueryDef("q205_stream_hll_merge", HLL_ORACLE_STREAM) { (s, d) =>
      val srcDir = stagedDocBatches(s, d)
      val store = Stage.cleared("graft-q205-hll-", d)
      Streams.replay(s, srcDir, ())((_, batch, batchId) =>
        Stage.append(store.toString, batchId,
          hllRegisters(batch)))
      val merged = s.read.parquet(store.toString)
        .groupBy("source", "j").agg(max(col("m")).as("m"))
      hllFinalize(merged).orderBy("source")
    },

    // ---- q214: LSH banding parameter sweep ----------------------------------
    // q192 made q186's match cutoff a measured choice; q214 does the same
    // for q28's banding: with 16 minhashes, every (bands b × rows r)
    // factorization — (16,1) (8,2) (4,4) (2,8) (1,16) — is run in ONE
    // query, each measured against the EXACT ground truth (q27's uncapped
    // Jaccard ≥ 0.5 pairs, PAIRS_SQL shared verbatim): candidate volume
    // (the cost axis), recall and precision in exact integer basis points
    // (the quality axes). The S-curve tradeoff (more bands → higher
    // recall, more candidates) becomes a 5-row table instead of folklore.
    // The minhash construction is q28's, verbatim (same salts, same hex
    // slices), so the sweep tunes exactly the operator that ships.
    //
    // 100 TB shape: the sweep costs 31 band rows per doc (vs q28's 4) —
    // still linear in the corpus, never quadratic: buckets are
    // occupancy-capped per (b, band, bh) exactly as q28's, candidates
    // come from the keyed bucket self-join, and the truth join is keyed
    // on the pair. The per-config ledger is one map-side-combined count
    // over the candidate table; n_truth is one broadcast scalar.
    QueryDef(
      "q214_lsh_banding_sweep", {
        val mhCols = (0 until 16).map(i =>
          s"MIN(substring(md5('${i / 4}:' || gram), ${(i % 4) * 8 + 1}, 8)) AS mh$i")
          .mkString(",\n    ")
        val bandSelects = SWEEP_CONFIGS.flatMap { case (b, r) =>
          (0 until b).map { i =>
            val cat = (i * r until i * r + r).map(k => s"mh$k").mkString(" || ")
            s"SELECT doc_id, $b AS b, $r AS r, $i AS band, md5($cat) AS bh FROM mh"
          }
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH $PAIRS_SQL,
           |mh AS (SELECT doc_id,
           |    $mhCols
           |  FROM grams GROUP BY doc_id),
           |sb AS (
           |  $bandSelects),
           |sbc AS (SELECT doc_id, b, r, band, bh FROM (
           |          SELECT *, COUNT(*) OVER (PARTITION BY b, band, bh) AS n
           |          FROM sb)
           |        WHERE n <= $MAX_BUCKET),
           |cand AS (SELECT DISTINCT s1.b AS b, s1.r AS r,
           |           s1.doc_id AS doc_a, s2.doc_id AS doc_b
           |         FROM sbc s1 JOIN sbc s2
           |           ON s1.b = s2.b AND s1.band = s2.band AND s1.bh = s2.bh
           |          AND s1.doc_id < s2.doc_id),
           |tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM jpairs),
           |per AS (
           |  SELECT b, r, CAST(COUNT(*) AS BIGINT) AS n_candidates,
           |    CAST(SUM(CASE WHEN j.doc_a IS NOT NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_caught
           |  FROM cand c LEFT JOIN jpairs j
           |    ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
           |  GROUP BY b, r)
           |SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r,
           |  n_candidates, n_truth, n_caught,
           |  CAST(CASE WHEN n_truth = 0 THEN 0
           |    ELSE 10000 * n_caught // n_truth END AS BIGINT) AS recall_bp,
           |  CAST(CASE WHEN n_candidates = 0 THEN 0
           |    ELSE 10000 * n_caught // n_candidates END AS BIGINT) AS precision_bp
           |FROM per CROSS JOIN tr
           |ORDER BY b DESC""".stripMargin
      }) { (s, d) =>
      val grams = sparkGrams(s, d)
      val mhAggs = (0 until 16).map(i =>
        min(substring(md5(concat(lit(s"${i / 4}:"), col("gram"))),
          (i % 4) * 8 + 1, 8)).as(s"mh$i"))
      // 31 band branches below all scan mh — persisted, as q28's 4 are
      val mh = grams.groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*).persist()
      val sb = SWEEP_CONFIGS.flatMap { case (b, r) =>
        (0 until b).map { i =>
          mh.select(col("doc_id"), lit(b.toLong).as("b"), lit(r.toLong).as("r"),
            lit(i.toLong).as("band"),
            md5(concat((i * r until i * r + r).map(k => col(s"mh$k")): _*)).as("bh"))
        }
      }.reduce(_ unionByName _)
      val sbc = graft.operators.Occupancy.cap(
        sb, Seq("b", "band", "bh"), MAX_BUCKET, persistResult = true)
      val cand = sbc.as("s1")
        .join(sbc.as("s2"),
          col("s1.b") === col("s2.b") && col("s1.band") === col("s2.band") &&
            col("s1.bh") === col("s2.bh") && col("s1.doc_id") < col("s2.doc_id"))
        .select(col("s1.b").as("b"), col("s1.r").as("r"),
          col("s1.doc_id").as("doc_a"), col("s2.doc_id").as("doc_b"))
        .distinct()
      val truth = jaccardPairs(s, d).select(col("doc_a"), col("doc_b"),
        lit(1L).as("hit"))
      val tr = truth.agg(count(lit(1)).as("n_truth"))
      cand.join(truth, Seq("doc_a", "doc_b"), "left")
        .groupBy("b", "r")
        .agg(count(lit(1)).as("n_candidates"),
          sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
        .crossJoin(broadcast(tr))
        .select(col("b"), col("r"), col("n_candidates"), col("n_truth"),
          col("n_caught"),
          when(col("n_truth") === 0L, 0L)
            .otherwise(expr("10000 * n_caught div n_truth")).as("recall_bp"),
          when(col("n_candidates") === 0L, 0L)
            .otherwise(expr("10000 * n_caught div n_candidates")).as("precision_bp"))
        .orderBy(col("b").desc)
    },

    // ---- q220: positional phrase search --------------------------------------
    // The index feature q108's posting lists lack: EXACT phrase matching
    // needs token POSITIONS, and the match is position arithmetic — terms
    // t1 t2 t3 co-occur with pos, pos+1, pos+2 in one doc. Self-tuning
    // fixture: the phrase is the corpus's most frequent word trigram
    // (deterministic count-desc/lexicographic-asc top-1), so the query is
    // meaningful at any SF without a planted literal. The match runs the
    // way a positional index does: each term's postings are filtered
    // FIRST against the broadcast phrase row (three term-selective
    // streams, not a corpus-wide join), then two keyed (doc_id, pos)
    // equi-joins apply the adjacency arithmetic.
    //
    // 100 TB shape: the position table is one map-side posexplode; the
    // top-phrase model is a map-side-combined count + a 1-row broadcast;
    // each postings stream is pre-filtered to one term before joining, so
    // join inputs are term-frequency-sized, not corpus-sized; the final
    // per-doc agg is map-side combined. No windows, no sorts beyond the
    // output ORDER BY.
    QueryDef(
      "q220_phrase_search",
      """WITH toksrc AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |toks AS (
        |  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(t) + 1),
        |        i -> {pos: i, tok: t[i]})) AS u
        |    FROM toksrc)),
        |tri AS (
        |  SELECT unnest(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM toksrc WHERE len(t) >= 3),
        |top AS (SELECT g FROM (SELECT g, COUNT(*) AS c FROM tri GROUP BY g)
        |        ORDER BY c DESC, g LIMIT 1),
        |pw AS (SELECT string_split(g, ' ')[1] AS w1,
        |       string_split(g, ' ')[2] AS w2,
        |       string_split(g, ' ')[3] AS w3, g FROM top),
        |hits AS (
        |  SELECT a.doc_id, a.pos, pw.g FROM toks a
        |  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |  CROSS JOIN pw
        |  WHERE a.tok = pw.w1 AND b.tok = pw.w2 AND c.tok = pw.w3)
        |SELECT doc_id, ANY_VALUE(g) AS phrase,
        |  CAST(COUNT(*) AS BIGINT) AS n_occ,
        |  CAST(MIN(pos) AS BIGINT) AS first_pos
        |FROM hits
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // postings scanned by the top-phrase build and all three term
      // streams — persisted
      val toks = Tables.documentsSpread(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
        .persist()
      val tarr = col("t")
      val tri = Tables.documentsSpread(s, d)
        .select(split(col("text"), " ").as("t"))
        .filter(size(tarr) >= 3)
        .select(explode(transform(sequence(lit(1), size(tarr) - 2), i =>
          concat_ws(" ", element_at(tarr, i), element_at(tarr, i + 1),
            element_at(tarr, i + 2)))).as("g"))
      val top = tri.groupBy("g").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("g")).limit(1)
      val pw = top.select(element_at(split(col("g"), " "), 1).as("w1"),
        element_at(split(col("g"), " "), 2).as("w2"),
        element_at(split(col("g"), " "), 3).as("w3"), col("g"))
      def term(w: String, posAs: String) = toks.crossJoin(broadcast(pw))
        .filter(col("tok") === col(w))
        .select(col("doc_id"), col("pos").as(posAs),
          if (w == "w1") col("g") else lit(null).as("__drop"))
        .drop("__drop")
      val a = term("w1", "pos")
      val b = term("w2", "posb").select(col("doc_id").as("doc_b"), col("posb"))
      val c = term("w3", "posc").select(col("doc_id").as("doc_c"), col("posc"))
      a.join(b, col("doc_b") === col("doc_id") && col("posb") === col("pos") + 1)
        .join(c, col("doc_c") === col("doc_id") && col("posc") === col("pos") + 2)
        .groupBy("doc_id")
        .agg(first(col("g")).as("phrase"), count(lit(1)).as("n_occ"),
          min(col("pos")).cast("long").as("first_pos"))
        .orderBy("doc_id")
    },

    // ---- q233: n-gram novelty score ------------------------------------------
    // The dedup diagnostic between exact-dup and near-dup: per document,
    // what fraction of its distinct 8-grams appears in NO other document?
    // Low novelty with no exact/near-dup match is the "stitched from
    // common text" signal (template farms, boilerplate mosaics) that
    // doc-level fingerprints miss. Integer basis points (the q192/q214
    // ledger discipline); docs shorter than 8 tokens have no grams and no
    // row — the honest answer.
    //
    // 100 TB shape: grams travel as fixed-width md5 hashes (the shuffle
    // key never carries text); the df count and the per-doc fold are both
    // map-side-combined aggs; the join back is keyed on the same hash.
    // Unlike the near-dup pair path there is NO self-join — novelty needs
    // df only, so the heaviest object is the gram-count table.
    QueryDef(
      "q233_ngram_novelty",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, gh FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(tk) - 6),
        |        i -> md5(array_to_string(tk[i:i+7], ' ')))) AS gh
        |    FROM t WHERE len(tk) >= 8)),
        |df AS (SELECT gh, COUNT(*) AS dfc FROM g GROUP BY gh)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  CAST(10000 * SUM(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) // COUNT(*)
        |    AS BIGINT) AS novelty_bp
        |FROM g JOIN df USING (gh)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tk = col("tk")
      val g = Tables.documentsSpread(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(tk) >= 8)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(tk) - 7), i =>
            md5(concat_ws(" ", slice(tk, i, lit(8)))))).as("gh"))
        .distinct()
        .persist()
      val df = g.groupBy("gh").agg(count(lit(1)).as("dfc"))
      g.join(df, "gh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("dfc") === 1, 1L).otherwise(0L)).as("n_unique"))
        .select(col("doc_id"), col("n_grams"), col("n_unique"),
          expr("10000 * n_unique div n_grams").as("novelty_bp"))
        .orderBy("doc_id")
    },

    // ---- q244: prefix-fingerprint truncation sweep ----------------------------
    // The ingest-cost policy q214 doesn't measure: at 100 TB, hashing
    // every document's FULL text for MinHash is a real fraction of the
    // ingest bill, and the standing shortcut is to fingerprint only the
    // document HEAD. This query measures what that costs: for each
    // truncation level (first 32 / 64 / 128 tokens), run the q28
    // construction (16 salted-md5 minhashes, 4 bands, occupancy-capped
    // buckets) over the TRUNCATED text and score its candidates against
    // the FULL-TEXT exact-Jaccard truth (PAIRS_SQL verbatim) — candidate
    // volume, recall and precision in exact integer basis points, one
    // row per level. Truncated fingerprints use uncapped distinct grams
    // (a ≤L-token prefix carries ≤L-2 grams; the df cap is a full-corpus
    // cost guard, and bucket occupancy is capped separately, per level).
    //
    // 100 TB shape: the sweep costs 3 gram projections bounded by the
    // truncation levels (the 32-token pass reads ~3% of the text bytes —
    // the actual payoff being measured), one unioned band build with the
    // (lvl, band, bh)-keyed occupancy cap, the keyed bucket self-join,
    // and a keyed truth join; the ledger is one map-side-combined count
    // per level. Nothing quadratic, nothing uncapped.
    QueryDef(
      "q244_prefix_fingerprint_sweep", {
        val mhCols = (0 until 16).map(i =>
          s"MIN(substring(md5('${i / 4}:' || gram), ${(i % 4) * 8 + 1}, 8)) AS mh$i")
          .mkString(",\n    ")
        val lvlBlocks = PREFIX_FP_LEVELS.map { l =>
          val bandSel = (0 until 4).map { b =>
            val cat = (b * 4 until b * 4 + 4).map(k => s"mh$k").mkString(" || ")
            s"SELECT doc_id, $b AS band, md5($cat) AS bh FROM mh$l"
          }.mkString("\n  UNION ALL\n  ")
          s"""g$l AS (
             |  SELECT DISTINCT doc_id,
             |    unnest(list_transform(range(1, len(tk4) - 1),
             |      i -> tk4[i] || ' ' || tk4[i+1] || ' ' || tk4[i+2])) AS gram
             |  FROM (SELECT doc_id, tk[1:$l] AS tk4 FROM tkt)
             |  WHERE len(tk4) >= 3),
             |mh$l AS (SELECT doc_id,
             |    $mhCols
             |  FROM g$l GROUP BY doc_id),
             |sb$l AS (
             |  $bandSel),
             |sbc$l AS (SELECT doc_id, band, bh FROM (
             |            SELECT *, COUNT(*) OVER (PARTITION BY band, bh) AS n
             |            FROM sb$l)
             |          WHERE n <= $MAX_BUCKET),
             |cand$l AS (SELECT DISTINCT CAST($l AS BIGINT) AS lvl,
             |             s1.doc_id AS doc_a, s2.doc_id AS doc_b
             |           FROM sbc$l s1 JOIN sbc$l s2
             |             ON s1.band = s2.band AND s1.bh = s2.bh
             |            AND s1.doc_id < s2.doc_id)""".stripMargin
        }.mkString(",\n")
        val candUnion = PREFIX_FP_LEVELS
          .map(l => s"SELECT * FROM cand$l").mkString(" UNION ALL ")
        s"""WITH $PAIRS_SQL,
           |tkt AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |$lvlBlocks,
           |cand AS ($candUnion),
           |tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM jpairs),
           |per AS (
           |  SELECT lvl, CAST(COUNT(*) AS BIGINT) AS n_candidates,
           |    CAST(SUM(CASE WHEN j.doc_a IS NOT NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_caught
           |  FROM cand c LEFT JOIN jpairs j
           |    ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
           |  GROUP BY lvl)
           |SELECT lvl, n_candidates, n_truth, n_caught,
           |  CAST(CASE WHEN n_truth = 0 THEN 0
           |    ELSE 10000 * n_caught // n_truth END AS BIGINT) AS recall_bp,
           |  CAST(CASE WHEN n_candidates = 0 THEN 0
           |    ELSE 10000 * n_caught // n_candidates END AS BIGINT)
           |    AS precision_bp
           |FROM per CROSS JOIN tr
           |ORDER BY lvl""".stripMargin
      }) { (s, d) =>
      val tk = split(col("text"), " ")
      val mhAggs = (0 until 16).map(i =>
        min(substring(md5(concat(lit(s"${i / 4}:"), col("gram"))),
          (i % 4) * 8 + 1, 8)).as(s"mh$i"))
      val sb = PREFIX_FP_LEVELS.map { l =>
        val tk4 = col("tk4")
        val mh = Tables.documentsSpread(s, d)
          .select(col("doc_id"), slice(tk, 1, l).as("tk4"))
          .filter(size(tk4) >= 3)
          .select(col("doc_id"),
            explode(array_distinct(transform(
              sequence(lit(1), size(tk4) - 2),
              i => concat_ws(" ", element_at(tk4, i), element_at(tk4, i + 1),
                element_at(tk4, i + 2))))).as("gram"))
          .groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*)
        (0 until 4).map { b =>
          mh.select(lit(l.toLong).as("lvl"), col("doc_id"),
            lit(b.toLong).as("band"),
            md5(concat((b * 4 until b * 4 + 4).map(k => col(s"mh$k")): _*))
              .as("bh"))
        }.reduce(_ unionByName _)
      }.reduce(_ unionByName _)
      val sbc = graft.operators.Occupancy.cap(
        sb, Seq("lvl", "band", "bh"), MAX_BUCKET, persistResult = true)
      val cand = sbc.as("s1")
        .join(sbc.as("s2"),
          col("s1.lvl") === col("s2.lvl") && col("s1.band") === col("s2.band")
            && col("s1.bh") === col("s2.bh")
            && col("s1.doc_id") < col("s2.doc_id"))
        .select(col("s1.lvl").as("lvl"), col("s1.doc_id").as("doc_a"),
          col("s2.doc_id").as("doc_b"))
        .distinct()
      val truth = jaccardPairs(s, d).select("doc_a", "doc_b").persist()
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      cand
        .join(truth.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
        .groupBy("lvl")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_caught"))
        .crossJoin(broadcast(nTruth))
        .select(col("lvl"), col("n_candidates"), col("n_truth"),
          col("n_caught"),
          when(col("n_truth") === 0, 0L)
            .otherwise(expr("10000 * n_caught div n_truth")).as("recall_bp"),
          when(col("n_candidates") === 0, 0L)
            .otherwise(expr("10000 * n_caught div n_candidates"))
            .as("precision_bp"))
        .orderBy("lvl")
    },


    // ---- q260: b-bit minwise signatures (1-bit) vs exact Jaccard -----------
    // The sketch-COMPRESSION step on top of q28 (Li & Konig, CACM 2011 —
    // public literature): keep only the LOWEST BIT of each of the 16
    // minhash values, so a document's near-dup signature is 16 BITS (2
    // bytes) instead of 16x32 bits — at 100 TB the candidate-scoring pass
    // reads 32x less signature data, and scoring a pair is one XOR +
    // popcount instead of 16 integer compares. The price is estimator
    // variance, and THIS query measures it: for every q28 capped-bucket
    // candidate pair, the bit-collision count (0..16), the b=1 minwise
    // Jaccard estimate 2C-1 (clamped at 0, integer basis points), the
    // exact Jaccard over the capped gram sets, and the absolute error —
    // the variance ledger that decides whether 2-byte signatures are
    // tolerable for a given corpus. All integer arithmetic on md5-derived
    // bits, so DuckDB replays the whole ledger bit-for-bit.
    //
    // 100 TB shape: bits ride the q28 minhash aggregation (zero extra
    // passes); the pair ledger joins candidates to two node-sized bit
    // tables and one keyed gram-overlap count — the q28 plan with a
    // 2-byte payload.
    QueryDef(
      "q260_bbit_minwise", {
        val bitCols = (0 until 16).map(i =>
          s"('0x' || substring(mh$i, 8, 1))::BIGINT % 2 AS b$i").mkString(",\n    ")
        val collSum = (0 until 16).map(i =>
          s"CASE WHEN a.b$i = b.b$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH $GRAMS_SQL,
           |$minhashBandsSql,
           |bandsc AS (SELECT doc_id, band, bh FROM (
           |             SELECT doc_id, band, bh,
           |               COUNT(*) OVER (PARTITION BY band, bh) AS n
           |             FROM bands)
           |           WHERE n <= $MAX_BUCKET),
           |cand AS (SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
           |         FROM bandsc b1 JOIN bandsc b2
           |           ON b1.band = b2.band AND b1.bh = b2.bh
           |          AND b1.doc_id < b2.doc_id),
           |bits AS (SELECT doc_id,
           |    $bitCols
           |  FROM mh),
           |coll AS (SELECT c.doc_a, c.doc_b,
           |           CAST($collSum AS BIGINT) AS bit_coll
           |         FROM cand c
           |         JOIN bits a ON a.doc_id = c.doc_a
           |         JOIN bits b ON b.doc_id = c.doc_b),
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
           |common AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS common
           |           FROM cand c
           |           JOIN grams g1 ON g1.doc_id = c.doc_a
           |           JOIN grams g2 ON g2.doc_id = c.doc_b AND g2.gram = g1.gram
           |           GROUP BY c.doc_a, c.doc_b)
           |SELECT k.doc_a, k.doc_b, k.bit_coll,
           |  GREATEST(0, ((2 * k.bit_coll - 16) * 10000) // 16) AS jest_bp,
           |  (COALESCE(cm.common, 0) * 10000) //
           |    (sa.n + sb.n - COALESCE(cm.common, 0)) AS j_bp,
           |  ABS(GREATEST(0, ((2 * k.bit_coll - 16) * 10000) // 16) -
           |    (COALESCE(cm.common, 0) * 10000) //
           |      (sa.n + sb.n - COALESCE(cm.common, 0))) AS err_bp
           |FROM coll k
           |LEFT JOIN common cm ON cm.doc_a = k.doc_a AND cm.doc_b = k.doc_b
           |JOIN sizes sa ON sa.doc_id = k.doc_a
           |JOIN sizes sb ON sb.doc_id = k.doc_b
           |ORDER BY k.doc_a, k.doc_b""".stripMargin
      }) { (s, d) =>
      val grams = sparkGrams(s, d)
      val mhAggs = (0 until 16).map(i =>
        min(substring(md5(concat(lit(s"${i / 4}:"), col("gram"))),
          (i % 4) * 8 + 1, 8)).as(s"mh$i"))
      // persisted: the band build and the bit projection both scan mh
      val mh = grams.groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*).persist()
      val bands = (0 until 4).map { b =>
        mh.select(col("doc_id"), lit(b).as("band"),
          md5(concat((b * 4 until b * 4 + 4).map(i => col(s"mh$i")): _*)).as("bh"))
      }.reduce(_ unionByName _)
      val bandsc = graft.operators.Occupancy.cap(
        bands, Seq("band", "bh"), MAX_BUCKET, persistResult = true)
      val cand = bandsc.as("b1")
        .join(bandsc.as("b2"),
          col("b1.band") === col("b2.band") && col("b1.bh") === col("b2.bh")
            && col("b1.doc_id") < col("b2.doc_id"))
        .select(col("b1.doc_id").as("doc_a"), col("b2.doc_id").as("doc_b"))
        .distinct()
      // the 2-byte signature: lowest bit of each minhash (hex parity)
      val bits = mh.select(col("doc_id") +:
        (0 until 16).map(i =>
          (conv(substring(col(s"mh$i"), 8, 1), 16, 10).cast("long") % 2L)
            .as(s"b$i")): _*)
      val collExpr = (0 until 16).map(i =>
        when(col(s"a.b$i") === col(s"b.b$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val coll = cand
        .join(bits.as("a"), col("a.doc_id") === col("doc_a"))
        .join(bits.as("b"), col("b.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"), collExpr.as("bit_coll"))
      val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val common = cand
        .join(grams.select(col("doc_id").as("doc_a"), col("gram")), "doc_a")
        .join(grams.select(col("doc_id").as("doc_b"), col("gram")),
          Seq("doc_b", "gram"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      val jestBp = greatest(lit(0L),
        expr("((2 * bit_coll - 16) * 10000) div 16"))
      val jBp = expr("(common * 10000) div (na + nb - common)")
      coll
        .join(common, Seq("doc_a", "doc_b"), "left")
        .na.fill(0L, Seq("common"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("bit_coll"),
          jestBp.as("jest_bp"), jBp.as("j_bp"),
          abs(jestBp - jBp).as("err_bp"))
        .orderBy("doc_a", "doc_b")
    },

    // ---- q262: content-defined chunking (CDC) dedup ledger ------------------
    // The storage/transfer-dedup primitive (LBFS, Muthitacharoen et al.
    // SOSP'01 — public literature) applied to corpus text: chunk
    // boundaries are declared where a ROLLING HASH of the last 4 token
    // codes (q41's Karp-Rabin shape, P=1000003 mod 2^31-1) hits
    // h % 16 == 0, so boundaries are a function of CONTENT, not offsets —
    // insert a sentence at the front of a near-dup and every chunk after
    // the edit still aligns, which is exactly what fixed-width chunking
    // (q86's 16-token segments) loses. Per source: total chunks, distinct
    // chunk signatures, and the duplicated-chunk mass in integer basis
    // points — the dedup ratio a chunk-store would achieve on the corpus.
    // All integer rolling-hash arithmetic + md5 signatures, replayed
    // bit-for-bit by the oracle.
    //
    // 100 TB shape: one per-token explode (rows = corpus tokens), one
    // doc-partitioned running-sum window (partitions bounded by doc
    // length), one keyed chunk agg, one (source, md5)-keyed distinct —
    // no self-joins, no corpus-wide windows.
    QueryDef(
      "q262_cdc_chunk_dedup", {
        def code(x: String) =
          s"CAST(length($x) * 31 + ascii(substring($x, 1, 1)) AS BIGINT)"
        s"""WITH tk AS (
           |  SELECT doc_id, source, string_split(text, ' ') AS t,
           |    len(string_split(text, ' ')) AS n
           |  FROM documents),
           |pos AS (
           |  SELECT doc_id, source, t, n, unnest(range(1, n + 1)) AS i
           |  FROM tk),
           |hb AS (
           |  SELECT doc_id, source, i, t[i] AS tok,
           |    CASE WHEN i >= 4
           |      AND (((((${code("t[i-3]")} * 1000003 + ${code("t[i-2]")})
           |         % 2147483647) * 1000003 + ${code("t[i-1]")})
           |         % 2147483647) * 1000003 + ${code("t[i]")})
           |         % 2147483647 % 16 = 0
           |      THEN 1 ELSE 0 END AS b
           |  FROM pos),
           |cid AS (
           |  SELECT doc_id, source, i, tok,
           |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
           |  FROM hb),
           |chunks AS (
           |  SELECT doc_id, source, c,
           |    md5(string_agg(tok, ' ' ORDER BY i)) AS sig
           |  FROM cid GROUP BY doc_id, source, c)
           |SELECT source,
           |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
           |  CAST(COUNT(DISTINCT sig) AS BIGINT) AS n_unique,
           |  CAST(10000 - (COUNT(DISTINCT sig) * 10000) // COUNT(*) AS BIGINT)
           |    AS dup_bp
           |FROM chunks
           |GROUP BY source
           |ORDER BY source""".stripMargin
      }) { (s, d) =>
      val t = col("t")
      def codeAt(off: Int) = {
        // clamped: when i < 4 the hash value is unused (b = 0), but
        // element_at(t, 0) throws even under the unfired when() branch
        val w = element_at(t, greatest(lit(1), col("i") - lit(off)))
        (length(w) * 31 + ascii(substring(w, 1, 1))).cast("long")
      }
      val P = 1000003L; val M = 2147483647L
      val hFull = (((((codeAt(3) * P + codeAt(2)) % M) * P + codeAt(1)) % M)
        * P + codeAt(0)) % M
      val w = Window.partitionBy("doc_id").orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cid = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), col("source"), t,
          explode(sequence(lit(1), size(t))).as("i"))
        .select(col("doc_id"), col("source"), col("i"),
          element_at(t, col("i")).as("tok"),
          when(col("i") >= 4 && hFull % 16L === 0L, 1L).otherwise(0L).as("b"))
        .withColumn("c", coalesce(sum(col("b")).over(w), lit(0L)))
      cid
        .groupBy("doc_id", "source", "c")
        .agg(md5(array_join(transform(
          array_sort(collect_list(struct(col("i"), col("tok")))),
          x => x.getField("tok")), " ")).as("sig"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("sig")).as("n_unique"))
        .select(col("source"), col("n_chunks"), col("n_unique"),
          (lit(10000L) - expr("(n_unique * 10000) div n_chunks")).as("dup_bp"))
        .orderBy("source")
    },

    // ---- q305: incremental near-dup RECRAWL — persisted LSH bucket store ---
    // The production recrawl member the registry lacked (r17 verdict item
    // 5): each snapshot is deduped against the PERSISTED band-bucket
    // store of every previous snapshot, and the store grows incrementally
    // — old docs are NEVER re-shingled, re-hashed, or re-bucketed. The
    // q194/q200 versioned-state pattern applied to MinHash-LSH buckets,
    // with four append-only logical stores (replay-idempotent per-batch
    // writes, see Stage.append), physically packed into TWO appendKinds
    // tables — doc-state and pair-state — so each micro-batch pays two
    // write jobs, not five (r19 surgery): uncapped grams, gram-set
    // sizes, band buckets
    // (Dedup.portableBandBuckets — UNCAPPED gram sets, so a doc's
    // signature is a pure function of the doc and never changes as the
    // corpus grows; the df cap q27/q67 carry is an all-pairs-join guard
    // the banded pipeline replaces with the bucket-occupancy cap), and
    // discovered pair EVENTS carrying the (band, bh) they collided in.
    //
    // Per batch: new docs' buckets join the accumulated store's
    // under-cap-NOW buckets (occupancy only GROWS, so a bucket under cap
    // at the final snapshot was under cap at every discovery — no batch
    // pair can be missed), each new pair is exact-Jaccard-verified ONCE
    // via keyed gram-store fetches. At the end, stored events are
    // re-filtered by FINAL occupancy (a pair whose every collision bucket
    // ended over-cap is dropped, exactly as the batch pipeline drops it)
    // and the survivors' clusters come from connected components — so the
    // final clustering hash-matches the BATCH oracle over the union
    // corpus (q67's closure construction over this pipeline's pairs).
    // INCREMENTAL_LEDGER.md carries the per-batch cost.
    QueryDef(
      "q305_recrawl_neardup", {
        // oracle: one-shot batch replay over the union corpus — uncapped
        // grams (`grams` here ≠ gramsSql's df-capped CTE), the portable
        // 16-minhash/4-band construction, occupancy cap, exact verify,
        // recursive closure (q67's shape)
        s"""WITH RECURSIVE toks AS MATERIALIZED (
           |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
           |  WHERE len(string_split(text, ' ')) >= 3),
           |grams AS MATERIALIZED (SELECT DISTINCT doc_id,
           |  unnest(list_transform(range(1, len(t) - 1),
           |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
           |  FROM toks),
           |$minhashBandsSql,
           |bandsc AS MATERIALIZED (SELECT doc_id, band, bh FROM (
           |    SELECT doc_id, band, bh,
           |      COUNT(*) OVER (PARTITION BY band, bh) AS n
           |    FROM bands)
           |  WHERE n <= $MAX_BUCKET),
           |cand AS MATERIALIZED (
           |  SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
           |  FROM bandsc b1 JOIN bandsc b2
           |    ON b1.band = b2.band AND b1.bh = b2.bh
           |   AND b1.doc_id < b2.doc_id),
           |sizes AS MATERIALIZED (
           |  SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
           |co AS MATERIALIZED (SELECT c.doc_a, c.doc_b, COUNT(*) AS common
           |  FROM cand c
           |  JOIN grams g1 ON g1.doc_id = c.doc_a
           |  JOIN grams g2 ON g2.doc_id = c.doc_b AND g2.gram = g1.gram
           |  GROUP BY c.doc_a, c.doc_b),
           |jp AS MATERIALIZED (SELECT doc_a, doc_b
           |  FROM co
           |  JOIN sizes sa ON sa.doc_id = doc_a
           |  JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5),
           |und AS (SELECT doc_a AS u, doc_b AS v FROM jp
           |        UNION ALL SELECT doc_b, doc_a FROM jp),
           |reach(u, v) AS (
           |  SELECT u, v FROM und
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
           |comp AS (SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id
           |         FROM reach GROUP BY u)
           |SELECT cluster_id, doc_id,
           |  CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS BIGINT)
           |    AS is_canonical
           |FROM comp
           |ORDER BY cluster_id, doc_id""".stripMargin
      }) { (s, d) =>
      val srcDir = stagedDocBatches(s, d)
      val store = Stage.cleared("graft-q305-recrawl-", d)
      // TWO appendKinds stores (r19 surgery — was 5 write jobs/batch):
      // doc-state kinds gram|size|bucket, pair-state kinds event|pair
      val docState = s"$store/docstate"
      val pairState = s"$store/pairstate"
      def emptyDocState(ss: org.apache.spark.sql.SparkSession) =
        ss.range(0).select(col("id").as("doc_id"),
          lit(null).cast("string").as("gram"), lit(null).cast("long").as("n"),
          lit(null).cast("int").as("band"), lit(null).cast("string").as("bh"),
          lit(0).as("batch_id"), lit("").as("kind"))
      def emptyPairState(ss: org.apache.spark.sql.SparkSession) =
        ss.range(0).select(col("id").as("doc_a"), col("id").as("doc_b"),
          lit(null).cast("int").as("band"), lit(null).cast("string").as("bh"),
          lit(0).as("batch_id"), lit("").as("kind"))
      val last = Streams.replay(s, srcDir, -1L)((_, batch0, batchId) => {
        // per-batch pipeline planned at the measured store width (see
        // Stage.width / versionedRecrawlClusters — same anti-scaling fix)
        val ss = Rounds.scope(batch0.sparkSession,
          Stage.width(batch0.sparkSession, Seq(docState, pairState)))
        val batch = SessionBridge.rebind(batch0, ss)
        val docs = batch.select(col("doc_id"), col("text"))
        // new docs' derived state, computed ONCE (never recomputed later),
        // landed as ONE write job. Bands come from the persisted gram rows
        // (codegen'd md5 + map-side min-agg) — the text-side HOF form
        // re-derives the grams AND runs interpreted (measured r18: ~2×
        // per-batch cost on this store)
        val ng = uncappedGramsOf(docs).persist()
        Stage.appendKinds(docState, batchId, Seq(
          "gram" -> ng,
          "size" -> ng.groupBy("doc_id").agg(count(lit(1)).as("n")),
          "bucket" ->
            graft.operators.Dedup.portableBandBucketsOfGrams(ng, "doc_id")))
        ng.unpersist(blocking = false)
        // candidate events: new buckets × accumulated store, capped by
        // CURRENT occupancy (monotone — see scaladoc)
        val all = Stage.readKind(ss, docState, "bucket", emptyDocState(ss))
        val under = all.groupBy("band", "bh").agg(count(lit(1)).as("nb"))
          .filter(col("nb") <= MAX_BUCKET).select("band", "bh")
        val ev = all.filter(col("batch_id") === batchId)
          .select(col("doc_id").as("nid"), col("band"), col("bh"))
          .join(under, Seq("band", "bh"))
          .join(all.select(col("doc_id").as("oid"), col("band"), col("bh")),
            Seq("band", "bh"))
          .filter(col("oid") =!= col("nid"))
          .select(least(col("nid"), col("oid")).as("doc_a"),
            greatest(col("nid"), col("oid")).as("doc_b"),
            col("band"), col("bh"))
          .distinct()
          .persist()
        // exact-verify each NEW pair once, by keyed gram-store fetch (a
        // pair always involves a batch doc, so no pair verifies twice)
        val np = ev.select("doc_a", "doc_b").distinct()
        val g = Stage.readKind(ss, docState, "gram", emptyDocState(ss))
        val sz = Stage.readKind(ss, docState, "size", emptyDocState(ss))
        val common = np
          .join(g.select(col("doc_id").as("doc_a"), col("gram")), "doc_a")
          .join(g.select(col("doc_id").as("doc_b"), col("gram")),
            Seq("doc_b", "gram"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
        val jc = col("common") * lit(1.0) /
          (col("na") + col("nb") - col("common"))
        val verified = common
          .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .filter(jc >= 0.5)
          .select("doc_a", "doc_b")
        // events + verified pairs land as the second (and last) write job
        Stage.appendKinds(pairState, batchId, Seq(
          "event" -> ev.select("doc_a", "doc_b", "band", "bh"),
          "pair" -> verified))
        ev.unpersist(blocking = false)
        batchId
      })
      if (last < 0L) {
        // zero micro-batches fired — match the batch oracle's empty answer
        s.range(0).select(col("id").as("cluster_id"), col("id").as("doc_id"),
          col("id").as("is_canonical"))
      } else {
        // final reconcile: FINAL occupancy re-filters the event store, the
        // survivors' verified pairs feed the q67 closure — planned at the
        // measured store width (r20), rebound to the caller
        val sN = Rounds.scope(s, Stage.width(s, Seq(docState, pairState)))
        val allB = Stage.readKind(sN, docState, "bucket", emptyDocState(sN))
        val under = allB.groupBy("band", "bh").agg(count(lit(1)).as("nb"))
          .filter(col("nb") <= MAX_BUCKET).select("band", "bh")
        val kept = Stage.readKind(sN, pairState, "event", emptyPairState(sN))
          .join(under, Seq("band", "bh"))
          .select("doc_a", "doc_b").distinct()
          .join(Stage.readKind(sN, pairState, "pair", emptyPairState(sN))
            .select("doc_a", "doc_b"),
            Seq("doc_a", "doc_b"))
        Rounds.back(
          graft.operators.Components
            .connectedComponents(kept, "doc_a", "doc_b")
            .select(col("component").as("cluster_id"), col("id").as("doc_id"),
              when(col("id") === col("component"), 1L).otherwise(0L)
                .as("is_canonical"))
            .orderBy("cluster_id", "doc_id"),
          s)
      }
    },

    // ---- q306: recrawl with UPDATES — versioned LSH store, retired rows ----
    // q305 covers the recrawl case where snapshots only ADD docs; the
    // harder production case is a re-crawled doc whose CONTENT CHANGED:
    // the new version supersedes the old, so the old version's bucket
    // rows must stop producing candidates and its previously-verified
    // pairs must be RETIRED — while everything stays append-only.
    // Fixture: batch 0 ships every doc at ver 0; batch b ∈ {1,2,3}
    // re-crawls docs with doc_id % 4 == b as a deterministic revision
    // (first (2n+2) div 3 tokens — the q217 variant recipe, so the oracle
    // replays the text bytes); docs with doc_id % 4 == 0 are never
    // revised. Store keys are uid = doc_id·4 + ver, so every per-version
    // gram set / size / bucket row is immutable; a tiny (doc_id,
    // batch_id) versions table makes "live" a max() lookup — tombstones
    // as a view, not a rewrite.
    //
    // Cap semantics under retirement: a LIVE-rows occupancy cap would
    // break replay (retirements can DECREASE occupancy, so a bucket
    // over cap at discovery could end under cap — a missed pair). The
    // contract is therefore the CUMULATIVE cap — occupancy counts every
    // version's rows ever staged, which is monotone again (a hot-ever
    // bucket stays suppressed; the cap is a hotness guard, not an
    // accuracy knob), and the oracle replays it as bands over ALL
    // versions while candidates/verify run on LATEST versions only.
    // Discovery: a final pair (a@la, b@lb) is found at the batch of the
    // LATER final version, when the earlier one is live — for any number
    // of re-crawls per doc. Final reconcile keeps events whose bucket is
    // finally under the cumulative cap AND whose BOTH endpoint versions
    // are finally latest, then joins the verified-pair store — exactly
    // the one-shot batch pipeline over the latest corpus.
    QueryDef(
      "q306_recrawl_updates", {
        val mhCols = (0 until 16).map(i =>
          s"MIN(substring(md5('${i / 4}:' || gram), ${(i % 4) * 8 + 1}, 8)) AS mh$i")
          .mkString(",\n    ")
        val bandSel = (0 until 4).map { b =>
          val cat = (b * 4 until b * 4 + 4).map(i => s"mh$i").mkString(" || ")
          s"SELECT doc_id, ver, $b AS band, md5($cat) AS bh FROM mhv"
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH RECURSIVE rev AS MATERIALIZED (
           |  SELECT doc_id, doc_id % 4 AS ver, string_split(text, ' ') AS t,
           |    len(string_split(text, ' ')) AS n
           |  FROM documents WHERE doc_id % 4 <> 0),
           |allv AS MATERIALIZED (
           |  SELECT doc_id, 0 AS ver, text FROM documents
           |  UNION ALL
           |  SELECT doc_id, ver,
           |    array_to_string(list_slice(t, 1, (2 * n + 2) // 3), ' ')
           |  FROM rev),
           |lat AS MATERIALIZED (
           |  SELECT doc_id, doc_id % 4 AS ver FROM documents),
           |toksv AS MATERIALIZED (
           |  SELECT doc_id, ver, string_split(text, ' ') AS t FROM allv
           |  WHERE len(string_split(text, ' ')) >= 3),
           |gramsv AS MATERIALIZED (SELECT DISTINCT doc_id, ver,
           |  unnest(list_transform(range(1, len(t) - 1),
           |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
           |  FROM toksv),
           |mhv AS MATERIALIZED (SELECT doc_id, ver,
           |    $mhCols
           |  FROM gramsv GROUP BY doc_id, ver),
           |bandsv AS MATERIALIZED (
           |  $bandSel),
           |occ AS MATERIALIZED (SELECT band, bh FROM (
           |    SELECT band, bh, COUNT(*) AS n FROM bandsv GROUP BY band, bh)
           |  WHERE n <= $MAX_BUCKET),
           |lbands AS MATERIALIZED (
           |  SELECT b.doc_id, b.band, b.bh FROM bandsv b
           |  JOIN lat l ON l.doc_id = b.doc_id AND l.ver = b.ver),
           |cand AS MATERIALIZED (
           |  SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
           |  FROM lbands b1
           |  JOIN occ o ON o.band = b1.band AND o.bh = b1.bh
           |  JOIN lbands b2 ON b2.band = b1.band AND b2.bh = b1.bh
           |   AND b1.doc_id < b2.doc_id),
           |lgrams AS MATERIALIZED (
           |  SELECT g.doc_id, g.gram FROM gramsv g
           |  JOIN lat l ON l.doc_id = g.doc_id AND l.ver = g.ver),
           |sizes AS MATERIALIZED (
           |  SELECT doc_id, COUNT(*) AS n FROM lgrams GROUP BY doc_id),
           |co AS MATERIALIZED (SELECT c.doc_a, c.doc_b, COUNT(*) AS common
           |  FROM cand c
           |  JOIN lgrams g1 ON g1.doc_id = c.doc_a
           |  JOIN lgrams g2 ON g2.doc_id = c.doc_b AND g2.gram = g1.gram
           |  GROUP BY c.doc_a, c.doc_b),
           |jp AS MATERIALIZED (SELECT doc_a, doc_b
           |  FROM co
           |  JOIN sizes sa ON sa.doc_id = doc_a
           |  JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5),
           |und AS (SELECT doc_a AS u, doc_b AS v FROM jp
           |        UNION ALL SELECT doc_b, doc_a FROM jp),
           |reach(u, v) AS (
           |  SELECT u, v FROM und
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
           |comp AS (SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id
           |         FROM reach GROUP BY u)
           |SELECT cluster_id, doc_id,
           |  CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS BIGINT)
           |    AS is_canonical
           |FROM comp
           |ORDER BY cluster_id, doc_id""".stripMargin
      }) { (s, d) =>
      val srcDir = Stage.batches("graft-q306-src-", d, 4)((0 until 4).map {
        case 0 => Tables.documents(s, d)
          .select(col("doc_id"), col("text"), lit(0).as("slot"))
        case b =>
          val t = split(col("text"), " ")
          Tables.documents(s, d)
            .filter(pmod(col("doc_id"), lit(4)) === b.toLong)
            .select(col("doc_id"), t.as("t"), size(t).cast("long").as("n"))
            .select(col("doc_id"), concat_ws(" ",
              slice(col("t"), lit(1), ((col("n") * 2L + 2L) / 3L).cast("int")))
              .as("text"), lit(b).as("slot"))
      }.reduce(_ unionByName _))
      versionedRecrawlClusters(s, srcDir, Stage.cleared("graft-q306-recrawl-", d))
    },

    // ---- q309: recrawl DELETIONS — right-to-be-forgotten propagation -------
    // The third recrawl CRUD op (q305 adds, q306 updates, q309 deletes):
    // a deletion notice arrives for a doc and the persisted dedup state
    // must stop clustering it — its pairs retire, its partners' cluster
    // memberships re-settle — without rewriting any store. Runs on the
    // IDENTICAL versioned engine as q306: a deletion is a TOMBSTONE
    // version (empty text → zero grams → zero bucket rows), so "latest =
    // tombstone" makes the doc invisible to live candidate joins and the
    // final endpoint-version reconcile retires every pair it ever
    // verified; per-batch deletion cost is ~the store-append overhead
    // (no grams to hash, no candidates to verify — deletes are CHEAP,
    // as they should be). The cumulative occupancy cap keeps counting
    // the deleted docs' retired bucket rows (monotone — see q306), which
    // the oracle replays by banding ALL docs while pairing/verifying the
    // SURVIVORS only. Fixture: batch b ∈ {1,2,3} deletes docs with
    // doc_id % 5 == b; docs with doc_id % 5 ∈ {0, 4} survive.
    QueryDef(
      "q309_recrawl_deletions", {
        val mhCols = (0 until 16).map(i =>
          s"MIN(substring(md5('${i / 4}:' || gram), ${(i % 4) * 8 + 1}, 8)) AS mh$i")
          .mkString(",\n    ")
        val bandSel = (0 until 4).map { b =>
          val cat = (b * 4 until b * 4 + 4).map(i => s"mh$i").mkString(" || ")
          s"SELECT doc_id, $b AS band, md5($cat) AS bh FROM mha"
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH RECURSIVE toksa AS MATERIALIZED (
           |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
           |  WHERE len(string_split(text, ' ')) >= 3),
           |gramsa AS MATERIALIZED (SELECT DISTINCT doc_id,
           |  unnest(list_transform(range(1, len(t) - 1),
           |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
           |  FROM toksa),
           |mha AS MATERIALIZED (SELECT doc_id,
           |    $mhCols
           |  FROM gramsa GROUP BY doc_id),
           |bandsa AS MATERIALIZED (
           |  $bandSel),
           |occ AS MATERIALIZED (SELECT band, bh FROM (
           |    SELECT band, bh, COUNT(*) AS n FROM bandsa GROUP BY band, bh)
           |  WHERE n <= $MAX_BUCKET),
           |surv AS MATERIALIZED (SELECT doc_id FROM documents
           |  WHERE doc_id % 5 = 0 OR doc_id % 5 = 4),
           |lbands AS MATERIALIZED (
           |  SELECT b.doc_id, b.band, b.bh FROM bandsa b
           |  JOIN surv v ON v.doc_id = b.doc_id),
           |lgrams AS MATERIALIZED (
           |  SELECT g.doc_id, g.gram FROM gramsa g
           |  JOIN surv v ON v.doc_id = g.doc_id),
           |cand AS MATERIALIZED (
           |  SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
           |  FROM lbands b1
           |  JOIN occ o ON o.band = b1.band AND o.bh = b1.bh
           |  JOIN lbands b2 ON b2.band = b1.band AND b2.bh = b1.bh
           |   AND b1.doc_id < b2.doc_id),
           |sizes AS MATERIALIZED (
           |  SELECT doc_id, COUNT(*) AS n FROM lgrams GROUP BY doc_id),
           |co AS MATERIALIZED (SELECT c.doc_a, c.doc_b, COUNT(*) AS common
           |  FROM cand c
           |  JOIN lgrams g1 ON g1.doc_id = c.doc_a
           |  JOIN lgrams g2 ON g2.doc_id = c.doc_b AND g2.gram = g1.gram
           |  GROUP BY c.doc_a, c.doc_b),
           |jp AS MATERIALIZED (SELECT doc_a, doc_b
           |  FROM co
           |  JOIN sizes sa ON sa.doc_id = doc_a
           |  JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5),
           |und AS (SELECT doc_a AS u, doc_b AS v FROM jp
           |        UNION ALL SELECT doc_b, doc_a FROM jp),
           |reach(u, v) AS (
           |  SELECT u, v FROM und
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
           |comp AS (SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id
           |         FROM reach GROUP BY u)
           |SELECT cluster_id, doc_id,
           |  CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS BIGINT)
           |    AS is_canonical
           |FROM comp
           |ORDER BY cluster_id, doc_id""".stripMargin
      }) { (s, d) =>
      val srcDir = Stage.batches("graft-q309-src-", d, 4)((0 until 4).map {
        case 0 => Tables.documents(s, d)
          .select(col("doc_id"), col("text"), lit(0).as("slot"))
        case b =>
          // deletion notices: a tombstone version with EMPTY text
          Tables.documents(s, d)
            .filter(pmod(col("doc_id"), lit(5)) === b.toLong)
            .select(col("doc_id"), lit("").as("text"), lit(b).as("slot"))
      }.reduce(_ unionByName _))
      versionedRecrawlClusters(s, srcDir, Stage.cleared("graft-q309-recrawl-", d))
    },

  )

  /** The shared versioned-recrawl engine under q306 (updates) and q309
    * (deletions): an ordered (doc_id, text) batch stream where batch b's
    * rows are version-b re-crawls of their doc (a tombstone = empty
    * text). Append-only stores keyed by uid = doc_id·4 + ver, live as a
    * max(batch) view, CUMULATIVE bucket-occupancy cap, one-time exact
    * verify per version-pair, final endpoint-version reconcile + CC.
    * See q306's scaladoc for the replay argument. */
  private def versionedRecrawlClusters(
      s: org.apache.spark.sql.SparkSession, srcDir: String,
      store: java.nio.file.Path): org.apache.spark.sql.DataFrame = {
      // TWO appendKinds stores (r19 surgery — was 6 write jobs/batch):
      // doc-state kinds gram|size|bucket|version (version rows carry the
      // RAW doc_id; the uid-keyed kinds carry uid = doc_id·4 + ver in the
      // same column), pair-state kinds event|pair
      val docState = s"$store/docstate"
      val pairState = s"$store/pairstate"
      def emptyDocState(ss: org.apache.spark.sql.SparkSession) =
        ss.range(0).select(col("id").as("doc_id"),
          lit(null).cast("string").as("gram"), lit(null).cast("long").as("n"),
          lit(null).cast("int").as("band"), lit(null).cast("string").as("bh"),
          lit(0).as("batch_id"), lit("").as("kind"))
      def emptyPairState(ss: org.apache.spark.sql.SparkSession) =
        ss.range(0).select(col("id").as("doc_a"), col("id").as("doc_b"),
          col("id").as("ua"), col("id").as("ub"),
          lit(null).cast("int").as("band"), lit(null).cast("string").as("bh"),
          lit(0).as("batch_id"), lit("").as("kind"))
      val last = Streams.replay(s, srcDir, -1L)((_, batch0, batchId) => {
        // the whole per-batch pipeline (derive + write + reconcile joins)
        // plans inside a conf-isolated clone at the measured store width
        // (see Stage.width — the fix for the family's 8c-beats-32c
        // anti-scaling). Results are partitioning-independent: integer
        // keys, md5 strings, count aggregates, set semantics.
        val ss = Rounds.scope(batch0.sparkSession,
          Stage.width(batch0.sparkSession, Seq(docState, pairState)))
        val batch = SessionBridge.rebind(batch0, ss)
        // this batch's versions, keyed by uid = doc_id*4 + ver(=batchId);
        // derived state computed ONCE and landed as ONE write job (bands
        // from the persisted gram rows — codegen'd agg form, not the
        // interpreted text-side HOFs, cf. q305)
        val uidDocs = batch.select(
          (col("doc_id") * 4L + lit(batchId)).as("doc_id"), col("text"))
        val ng = uncappedGramsOf(uidDocs).persist()
        Stage.appendKinds(docState, batchId, Seq(
          "gram" -> ng,
          "size" -> ng.groupBy("doc_id").agg(count(lit(1)).as("n")),
          "bucket" ->
            graft.operators.Dedup.portableBandBucketsOfGrams(ng, "doc_id"),
          "version" -> batch.select("doc_id")))
        ng.unpersist(blocking = false)
        // live-NOW uids from the versions kind (max batch per doc)
        val liveUid = Stage.readKind(ss, docState, "version", emptyDocState(ss))
          .groupBy("doc_id").agg(max(col("batch_id")).as("ver"))
          .select((col("doc_id") * 4L + col("ver")).as("doc_id"))
        val all = Stage.readKind(ss, docState, "bucket", emptyDocState(ss))
        // CUMULATIVE occupancy (every version ever staged — monotone)
        val under = all.groupBy("band", "bh").agg(count(lit(1)).as("nb"))
          .filter(col("nb") <= MAX_BUCKET).select("band", "bh")
        val newB = all.filter(col("batch_id") === batchId)
          .select(col("doc_id").as("nuid"), col("band"), col("bh"))
        val liveB = all.join(liveUid, "doc_id")
          .select(col("doc_id").as("ouid"), col("band"), col("bh"))
        val nd = expr("nuid div 4")
        val od = expr("ouid div 4")
        val ev = newB
          .join(under, Seq("band", "bh"))
          .join(liveB, Seq("band", "bh"))
          .filter(od =!= nd)
          .select(least(nd, od).as("doc_a"), greatest(nd, od).as("doc_b"),
            when(nd < od, col("nuid")).otherwise(col("ouid")).as("ua"),
            when(nd < od, col("ouid")).otherwise(col("nuid")).as("ub"),
            col("band"), col("bh"))
          .distinct()
          .persist()
        // exact-verify each new (version-pair) once, by keyed uid fetches
        val np = ev.select("doc_a", "doc_b", "ua", "ub").distinct()
        val g = Stage.readKind(ss, docState, "gram", emptyDocState(ss))
        val sz = Stage.readKind(ss, docState, "size", emptyDocState(ss))
        val common = np
          .join(g.select(col("doc_id").as("ua"), col("gram")), "ua")
          .join(g.select(col("doc_id").as("ub"), col("gram")),
            Seq("ub", "gram"))
          .groupBy("doc_a", "doc_b", "ua", "ub")
          .agg(count(lit(1)).as("common"))
        val jc = col("common") * lit(1.0) /
          (col("na") + col("nb") - col("common"))
        val verified = common
          .join(sz.select(col("doc_id").as("ua"), col("n").as("na")), "ua")
          .join(sz.select(col("doc_id").as("ub"), col("n").as("nb")), "ub")
          .filter(jc >= 0.5)
          .select("doc_a", "doc_b", "ua", "ub")
        // events + verified version-pairs: the second (last) write job
        Stage.appendKinds(pairState, batchId, Seq(
          "event" -> ev.select("doc_a", "doc_b", "ua", "ub", "band", "bh"),
          "pair" -> verified))
        ev.unpersist(blocking = false)
        batchId
      })
      if (last < 0L) {
        s.range(0).select(col("id").as("cluster_id"), col("id").as("doc_id"),
          col("id").as("is_canonical"))
      } else {
        // final reconcile: cumulative cap + both endpoint versions latest —
        // planned at the measured store width like the per-batch pipelines
        // (r20; CC narrows its own rounds already), rebound to the caller
        val sN = Rounds.scope(s, Stage.width(s, Seq(docState, pairState)))
        val lat = Stage.readKind(sN, docState, "version", emptyDocState(sN))
          .groupBy("doc_id").agg(max(col("batch_id")).as("ver"))
          .select((col("doc_id") * 4L + col("ver")).as("uid"))
        val allB = Stage.readKind(sN, docState, "bucket", emptyDocState(sN))
        val under = allB.groupBy("band", "bh").agg(count(lit(1)).as("nb"))
          .filter(col("nb") <= MAX_BUCKET).select("band", "bh")
        val kept = Stage.readKind(sN, pairState, "event", emptyPairState(sN))
          .join(under, Seq("band", "bh"))
          .join(lat.select(col("uid").as("ua")), "ua")
          .join(lat.select(col("uid").as("ub")), "ub")
          .select("doc_a", "doc_b", "ua", "ub").distinct()
          .join(Stage.readKind(sN, pairState, "pair", emptyPairState(sN))
            .select("doc_a", "doc_b", "ua", "ub"),
            Seq("doc_a", "doc_b", "ua", "ub"))
        Rounds.back(
          graft.operators.Components
            .connectedComponents(kept.select("doc_a", "doc_b"), "doc_a", "doc_b")
            .select(col("component").as("cluster_id"), col("id").as("doc_id"),
              when(col("id") === col("component"), 1L).otherwise(0L)
                .as("is_canonical"))
            .orderBy("cluster_id", "doc_id"),
          s)
      }
  }

  /** q214's banding sweep: every (bands, rows) factorization of the
    * 16-minhash signature, the b·r = 16 ladder. */
  private[queries] val SWEEP_CONFIGS = Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))

  /** q244's truncation ladder: fingerprint only the first N tokens. */
  private[queries] val PREFIX_FP_LEVELS = Seq(32, 64, 128)

  /** Normalized document fingerprint shared by the HLL queries (q204/q205)
    * and the q43/q85 built-in-sketch variants: md5 of the lowercased
    * letters-and-spaces text, whitespace-collapsed. */
  private[queries] def docFp: org.apache.spark.sql.Column =
    md5(trim(regexp_replace(regexp_replace(lower(col("text")),
      "[^a-z ]", ""), "  *", " ")))

  /** q297/q298's portable 60-bit KMV hash over [[docFp]] (the q65 md5-
    * prefix-to-BIGINT construction). */
  private def kmvHash: org.apache.spark.sql.Column =
    conv(substring(docFp, 1, 15), 16, 10).cast("long")

  /** q297/q298's shared finalize: estimate |D| = (k−1)·2^60 / h_(k) from
    * the bottom-64 sketch (exact distinct count when fewer than 64
    * distinct hashes exist), against the exact ledger. 63·2^60 needs
    * DECIMAL(38,0)/HUGEINT — both engines floor-divide on positives. */
  private def kmvFinalize(s: org.apache.spark.sql.SparkSession, d: String,
                          sketch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val exact = Tables.documents(s, d)
      .groupBy("source").agg(countDistinct(docFp).as("n_exact"))
    sketch
      .withColumn("kth", element_at(col("mins"), 64))
      .withColumn("kmv_estimate",
        when(size(col("mins")) < 64, size(col("mins")).cast("long"))
          .otherwise(expr(
            "CAST(floor(CAST('72634054790231359488' AS DECIMAL(38,0)) / kth) AS BIGINT)")))
      .join(exact, "source")
      .select(col("source"), col("n_exact"), lit(64L).as("kmv_k"),
        col("kmv_estimate"),
        expr("CAST(abs(kmv_estimate - n_exact) * 10000 div n_exact AS BIGINT)")
          .as("err_bp"))
      .orderBy("source")
  }

  /** q297/q298's shared oracle: the full KMV replay — distinct 60-bit
    * hashes ranked per source, the 64th order statistic, the HUGEINT
    * floor-divide estimate, exact count and integer error. */
  private val KMV_SQL =
    """WITH fp AS (
      |  SELECT source, md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z ]', '', 'g'), '  *', ' ', 'g'))) AS fp
      |  FROM documents),
      |hs AS (SELECT DISTINCT source,
      |         ('0x' || substring(fp, 1, 15))::BIGINT AS h FROM fp),
      |rk AS (SELECT source, h,
      |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      |       FROM hs),
      |nh AS (SELECT source, COUNT(*) AS n_h FROM hs GROUP BY source),
      |kth AS (SELECT source, h AS hk FROM rk WHERE rn = 64),
      |ex AS (SELECT source, COUNT(DISTINCT fp) AS n_exact FROM fp
      |       GROUP BY source),
      |est AS (
      |  SELECT e.source, e.n_exact,
      |    CASE WHEN a.n_h < 64 THEN a.n_h
      |         ELSE 72634054790231359488 // k.hk END AS est
      |  FROM ex e JOIN nh a ON a.source = e.source
      |  LEFT JOIN kth k ON k.source = e.source)
      |SELECT source, CAST(n_exact AS BIGINT) AS n_exact,
      |  CAST(64 AS BIGINT) AS kmv_k,
      |  CAST(est AS BIGINT) AS kmv_estimate,
      |  CAST(abs(est - n_exact) * 10000 // n_exact AS BIGINT) AS err_bp
      |FROM est
      |ORDER BY source""".stripMargin

  /** q204/q205 register table: (source, j, m) with j = md5 first byte
    * (256 buckets) and m = max over docs of rho(next 48 bits). The rho
    * computation is pure string/integer work on md5 hex — hex-digit
    * leading-zero trim (4 bits per trimmed '0') + a 4-way CASE on the
    * first surviving digit — so DuckDB replays it exactly; an empty
    * suffix (all 48 bits zero) pins rho = 49. Map-side combinable: the
    * (source, j) max shuffles at most 256 rows per source. */
  private[queries] def hllRegisters(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    hllRegistersOf(docs, docFp)

  /** [[hllRegisters]] generalized to any md5-hex fingerprint column —
    * q239 sketches the token vocabulary (fp = md5(tok)) with the same
    * register construction the document sketch replays. */
  private[queries] def hllRegistersOf(docs: org.apache.spark.sql.DataFrame,
                             fp: org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
    val st = ltrim(substring(fp, 3, 12), "0")
    val idx = instr2(lit("0123456789abcdef"), substring(st, 1, 1)) - 1
    val rho = when(length(st) === 0, 49)
      .otherwise((lit(12) - length(st)) * 4 +
        when(idx >= 8, 0).when(idx >= 4, 1).when(idx >= 2, 2).otherwise(3) + 1)
    docs.select(col("source"),
        conv(substring(fp, 1, 2), 16, 10).cast("long").as("j"),
        rho.cast("int").as("rho"))
      .groupBy("source", "j").agg(max(col("rho")).as("m"))
  }

  /** Finalize a (source, j, m) register table into the HLL answer row:
    * v_zero (registers never hit), the integer register sum
    * S = Σ 2^(49−M_j) with absent buckets at 2^49, and the estimate —
    * α₂₅₆·m²·2^49/S, or linear counting m·ln(m/V) in the small range
    * (E ≤ 2.5m, V > 0). Every constant is spelled as the same IEEE
    * expression the oracle uses; the final DECIMAL(28,6) rounding is the
    * q93 ln discipline. */
  private[queries] def hllFinalize(regs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    hllFinalizeKeyed(regs, Seq("source"))

  /** [[hllFinalize]] generalized to any grouping key — q239 finalizes
    * pair-union register tables keyed (src_a, src_b). */
  private[queries] def hllFinalizeKeyed(regs: org.apache.spark.sql.DataFrame,
                               keys: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val agg0 = regs.groupBy(keys.map(col): _*).agg(
      (lit(256L) - count(lit(1))).as("v_zero"),
      (sum(pow(lit(2.0), lit(49) - col("m")).cast("long")) +
        (lit(256L) - count(lit(1))) * lit(562949953421312L)).as("s_reg"))
    val eRaw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
      lit(65536.0) * lit(562949953421312.0) / col("s_reg").cast("double")
    agg0.withColumn("e_raw", eRaw)
      .select(keys.map(col) ++ Seq(col("v_zero"), col("s_reg"),
        when(col("e_raw") <= lit(640.0) && col("v_zero") > 0,
          lit(256.0) * log(lit(256.0) / col("v_zero").cast("double")))
          .otherwise(col("e_raw"))
          .cast(DecimalType(28, 6)).cast("double").as("est_hll")): _*)
  }

  /** Shared oracle CTE chain for q204/q205, ending in
    * `hll(source, v_zero, s_reg, est_hll)` — the DuckDB replay of
    * [[hllRegisters]] + [[hllFinalize]]. `fp` is kept visible for q204's
    * exact-count verifier column. */
  private[queries] lazy val HLL_SQL_CTES: String =
    """fp AS (
      |  SELECT source,
      |    md5(trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z ]', '', 'g'), '  *', ' ', 'g'))) AS fp
      |  FROM documents),
      |hx AS (
      |  SELECT source, ('0x' || substring(fp, 1, 2))::BIGINT AS j,
      |    ltrim(substring(fp, 3, 12), '0') AS st
      |  FROM fp),
      |reg AS (
      |  SELECT source, j, MAX(CASE WHEN st = '' THEN 49
      |    ELSE (12 - length(st)) * 4 +
      |      CASE WHEN instr('0123456789abcdef', substring(st, 1, 1)) - 1 >= 8 THEN 0
      |           WHEN instr('0123456789abcdef', substring(st, 1, 1)) - 1 >= 4 THEN 1
      |           WHEN instr('0123456789abcdef', substring(st, 1, 1)) - 1 >= 2 THEN 2
      |           ELSE 3 END + 1 END) AS m
      |  FROM hx GROUP BY source, j),
      |agg AS (
      |  SELECT source, CAST(256 - COUNT(*) AS BIGINT) AS v_zero,
      |    CAST(SUM(CAST(power(2, 49 - m) AS BIGINT))
      |      + (256 - COUNT(*)) * 562949953421312 AS BIGINT) AS s_reg
      |  FROM reg GROUP BY source),
      |est AS (
      |  SELECT source, v_zero, s_reg,
      |    CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
      |        + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
      |      * CAST(65536.0 AS DOUBLE) * CAST(562949953421312.0 AS DOUBLE)
      |      / CAST(s_reg AS DOUBLE) AS e_raw
      |  FROM agg),
      |hll AS (
      |  SELECT source, v_zero, s_reg,
      |    CAST(CAST(CASE WHEN e_raw <= CAST(640.0 AS DOUBLE) AND v_zero > 0
      |      THEN CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE) / CAST(v_zero AS DOUBLE))
      |      ELSE e_raw END AS DECIMAL(28,6)) AS DOUBLE) AS est_hll
      |  FROM est)""".stripMargin

  private[queries] lazy val HLL_ORACLE_BATCH: String =
    s"""WITH $HLL_SQL_CTES,
       |ex AS (SELECT source, COUNT(DISTINCT fp) AS n_exact
       |       FROM fp GROUP BY source)
       |SELECT h.source AS source, e.n_exact, h.v_zero, h.s_reg, h.est_hll
       |FROM hll h JOIN ex e ON e.source = h.source
       |ORDER BY source""".stripMargin

  private[queries] lazy val HLL_ORACLE_STREAM: String =
    s"""WITH $HLL_SQL_CTES
       |SELECT source, v_zero, s_reg, est_hll FROM hll
       |ORDER BY source""".stripMargin

  /** `functions.instr` only takes a literal needle; SQL `instr(str, substr)`
    * accepts two expressions — expose that via expr-compatible helper.
    */
  private[queries] def instr2(haystack: org.apache.spark.sql.Column, needle: org.apache.spark.sql.Column) =
    call_function("instr", haystack, needle)
}
