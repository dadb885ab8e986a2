package graft.queries

import graft.{QueryDef, Stage, Tables}
import graft.streaming.Streams
import graft.operators.{Occupancy, Packing, Redact, Sampling}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-data preparation pack: the corpus-level operations between a
  * deduplicated document set and a token stream — deterministic train/val/
  * test splitting, PII redaction, quality-rule filtering (Gopher-style
  * funnel), and sequence packing into fixed context windows.
  *
  * Everything here is map-side or singly-keyed: splits and redaction are
  * pure per-row expressions; the funnel is one groupBy; packing is a
  * per-group prefix sum. All four are oracle-checked — the split hash, the
  * redaction regexes and the packing arithmetic use only cross-engine-
  * identical primitives.
  */
object TrainingPack {

  private[queries] val ALL_STOPS =
    TextDedupPack.STOP_EN ++ TextDedupPack.STOP_FR ++
      TextDedupPack.STOP_DE ++ TextDedupPack.STOP_ES

  /** Context-window capacity for q71 (tokens). */
  private[queries] val PACK_CAPACITY = 2048

  /** Shingle width for q72 decontamination (tokens). 8-grams are the
    * standard contamination unit: long enough that a shared gram implies
    * copied text, short enough to survive light edits around the copy. */
  private[queries] val DECON_N = 8

  /** q129's weight scale (docs with ≥ this many tokens are always kept;
    * shorter docs kept with probability ntok/scale) and its md5 salt —
    * a DIFFERENT salt than q68's split so the sample is independent of
    * the split assignment. */
  private[queries] val WS_NTOK_SCALE = 100
  private[queries] val WS_SALT = "wsample"

  /** q155's fixed sample size (must stay below the smallest SF's corpus:
    * documents has 500 rows at sf0.001), its priority scale (2^40 — the
    * u-draw's range, so priority = (w<<40) DIV u is exact BIGINT for
    * weights < 2^23) and its md5 salt (independent of every other draw). */
  private[queries] val PRIO_K = 150
  private[queries] val PRIO_SCALE = 1099511627776L // 2^40
  private[queries] val PRIO_SALT = "prio"

  /** q163's shard count. */
  private[queries] val SHARD_S = 8

  /** Shared oracle for q155 (batch) and q158 (streaming): priority
    * sampling is mergeable — the global top-(k+1) priorities are the
    * top-(k+1) of any union of per-slice top-(k+1)s — so the streaming
    * per-batch merge must land on the byte-identical answer (the
    * q116-vs-q105 same-oracle trick, for sampling). */
  private[queries] val PRIO_SAMPLE_SQL =
    s"""WITH w AS (
       |  SELECT doc_id, source, n_chars,
       |    ('0x' || substring(md5('$PRIO_SALT:' || CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT + 1 AS u
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, source, n_chars,
       |    (n_chars * $PRIO_SCALE) // u AS prio
       |  FROM w),
       |r AS (
       |  SELECT doc_id, source, n_chars, prio,
       |    ROW_NUMBER() OVER (ORDER BY prio DESC, doc_id) AS rn
       |  FROM p),
       |tau AS (SELECT prio AS tau_s FROM r WHERE rn = ${PRIO_K + 1}),
       |samp AS (SELECT * FROM r WHERE rn <= $PRIO_K),
       |est AS (
       |  SELECT s.source, COUNT(*) AS n_sampled, SUM(s.n_chars) AS sampled_chars,
       |    SUM(GREATEST(s.n_chars, t.tau_s)) AS est_chars
       |  FROM samp s CROSS JOIN tau t GROUP BY s.source),
       |act AS (
       |  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS actual_chars
       |  FROM documents GROUP BY source)
       |SELECT a.source, CAST(a.n_docs AS BIGINT) AS n_docs,
       |  CAST(a.actual_chars AS BIGINT) AS actual_chars,
       |  CAST(COALESCE(e.n_sampled, 0) AS BIGINT) AS n_sampled,
       |  CAST(COALESCE(e.sampled_chars, 0) AS BIGINT) AS sampled_chars,
       |  CAST(COALESCE(e.est_chars, 0) AS BIGINT) AS est_chars
       |FROM act a LEFT JOIN est e ON e.source = a.source
       |ORDER BY a.source""".stripMargin

  /** (doc_id, source, n_chars, u, prio) for the priority draw — shared by
    * the batch top-k and the streaming per-batch top-k. */
  private[queries] def prioDraw(df: org.apache.spark.sql.DataFrame) =
    df.select(
        col("doc_id"), col("source"), col("n_chars"),
        (conv(substring(md5(concat(lit(s"$PRIO_SALT:"),
          col("doc_id").cast("string"))), 1, 10), 16, 10)
          .cast("long") + 1L).as("u"))
      .withColumn("prio", expr(s"n_chars * $PRIO_SCALE DIV u"))

  /** tau extraction + HT estimates + per-source actuals over a
    * top-(PRIO_K+1) DataFrame; `corpus` supplies the true totals. */
  private[queries] def prioSummary(
      top: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame) = {
    // the (k+1)-th row in (prio DESC, doc_id ASC) order = the min of
    // struct(prio, -doc_id): smallest priority, then LARGEST doc_id
    // among its ties — no global-order window needed.
    val tau = top
      .agg(min(struct(col("prio"), (-col("doc_id")).as("nd"))).as("t"))
      .select(col("t.prio").as("tau_s"), (-col("t.nd")).as("tau_doc"))
    val samp = top.crossJoin(broadcast(tau))
      .filter(!(col("prio") === col("tau_s") && col("doc_id") === col("tau_doc")))
    val est = samp.groupBy("source").agg(
      count(lit(1)).as("n_sampled"),
      sum(col("n_chars")).as("sampled_chars"),
      expr("sum(greatest(n_chars, tau_s))").as("est_chars"))
    val act = corpus.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("actual_chars"))
    act.join(est, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("actual_chars"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("sampled_chars"), lit(0L)).as("sampled_chars"),
        coalesce(col("est_chars"), lit(0L)).as("est_chars"))
      .orderBy("source")
  }

  /** q133's shrinkage strength: pseudo-count of corpus-mean evidence a
    * source must outweigh before its own mean dominates the prior. */
  private[queries] val PRIOR_K = 10

  /** Shared oracle for q92 AND its streaming form q153 (the q116-vs-q105
    * trick: two engines' worth of machinery, one answer). Plain SQL — no
    * bloom in sight, because the bloom has no false negatives and the
    * confirm join removes its false positives, so prefiltered == plain.
    */
  private[queries] lazy val BLOOM_DECON_SQL: String = {
    val cat = (1 until DECON_N)
      .map(k => s"t[i+$k]").mkString("t[i] || ' ' || ", " || ' ' || ", "")
    s"""WITH b AS (
       |  SELECT doc_id, string_split(text, ' ') AS t,
       |    ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
       |  FROM documents),
       |lab AS (
       |  SELECT doc_id,
       |    CASE WHEN bucket < 80 THEN 'train'
       |         WHEN bucket < 90 THEN 'val'
       |         ELSE 'test' END AS split, t
       |  FROM b WHERE len(t) >= $DECON_N),
       |grams_all AS (
       |  SELECT DISTINCT doc_id, split,
       |    unnest(list_transform(range(1, len(t) - ${DECON_N - 2}),
       |      i -> $cat)) AS gram
       |  FROM lab),
       |grams AS (SELECT doc_id, split, gram FROM (
       |    SELECT doc_id, split, gram, COUNT(*) OVER (PARTITION BY gram) AS df
       |    FROM grams_all)
       |  WHERE df <= $DECON_MAX_DF)
       |SELECT tr.doc_id AS train_doc_id,
       |  CAST(COUNT(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams,
       |  CAST(COUNT(DISTINCT te.doc_id) AS BIGINT) AS n_test_docs,
       |  MIN(te.doc_id) AS min_test_doc
       |FROM grams tr
       |JOIN grams te ON te.gram = tr.gram
       | AND tr.split = 'train' AND te.split = 'test'
       |GROUP BY tr.doc_id
       |ORDER BY train_doc_id""".stripMargin
  }

  /** Document-frequency cap for q72's 8-grams: a gram shared by more docs
    * than this is boilerplate (no contamination signal) and would otherwise
    * fan the train×test join out quadratically in the duplicated content —
    * same guard, same bound as TextDedupPack's near-dup grams. */
  private[queries] val DECON_MAX_DF = 100

  /** Per-language sample quota for q79. */
  private[queries] val SAMPLE_QUOTA = 100

  /** q93's vocab floor: tokens seen fewer times than this score as OOV
    * under the smoothed unigram LM (caps the vocab table the scoring join
    * carries — Zipf puts most distinct tokens under any such floor). */
  private[queries] val LM_MIN_COUNT = 5

  /** q202's curated target slice (4 of the 20 sources — a fifth of the
    * corpus plays "high-quality reference", the rest is the raw pool),
    * and the fixed selection size K. */
  private[queries] val DSIR_TARGET = Seq("src0", "src1", "src2", "src3")
  private[queries] val DSIR_TARGET_SQL =
    DSIR_TARGET.map(s => s"'$s'").mkString("(", ", ", ")")
  private[queries] val DSIR_K = 100

  /** DuckDB SQL for the four per-doc quality metrics (ntok/awl/symratio/
    * nstop) — the SELECT-list fragment every quality oracle shares. */
  private[queries] def qualityExprsSql: String = {
    val stops = ALL_STOPS.map("'" + _ + "'").mkString(",")
    s"""len(string_split(text, ' ')) AS ntok,
       |    list_sum(list_transform(string_split(text, ' '), x -> length(x)))
       |      * 1.0 / len(string_split(text, ' ')) AS awl,
       |    len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) * 1.0 / n_chars AS symratio,
       |    len(list_filter(string_split(text, ' '), x -> x IN ($stops))) AS nstop""".stripMargin
  }

  /** q141's linear quality logit as ONE Column over (text, n_chars) —
    * the e-notation-literal IEEE expression both engines evaluate
    * identically. Shared with q219's quality survivorship (TextDedupPack)
    * so the model that classifies is the model that picks survivors. */
  private[queries] def qualityLogitCol: org.apache.spark.sql.Column = {
    val toks = split(col("text"), " ")
    val ntok = size(toks)
    val awl = aggregate(transform(toks, x => length(x)), lit(0), (a, x) => a + x) *
      lit(1.0) / ntok
    val symratio = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9 ]"), lit(0))) *
      lit(1.0) / col("n_chars")
    val nstop = size(filter(toks, x => x.isin(ALL_STOPS: _*)))
    lit(-3.0) + lit(0.02) * ntok + lit(0.6) * awl -
      lit(25.0) * symratio + lit(0.8) * nstop
  }

  /** DuckDB SQL for the combined pass-all gate over [[qualityExprsSql]]'s
    * columns. */
  private[queries] val QualityCondSql =
    "ntok BETWEEN 5 AND 1000 AND awl >= 2.0 AND awl <= 12.0 " +
      "AND symratio < 0.1 AND nstop >= 1"

  /** q70's combined quality gate as one per-doc predicate over the raw
    * documents columns — shared by q73 (corpus build) and q84 (streaming
    * gate); q70 itself keeps the per-rule breakdown for the funnel report.
    */
  private[graft] def qualityPassAll: org.apache.spark.sql.Column = {
    val toks = split(col("text"), " ")
    val ntok = size(toks)
    val awl = aggregate(transform(toks, x => length(x)), lit(0), (a, x) => a + x) *
      lit(1.0) / ntok
    val symratio = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9 ]"), lit(0))) *
      lit(1.0) / col("n_chars")
    val nstop = size(filter(toks, x => x.isin(ALL_STOPS: _*)))
    ntok.between(5, 1000) && awl >= 2.0 && awl <= 12.0 &&
      symratio < 0.1 && nstop >= 1
  }

  /** q80 chunking geometry: 64-token windows advancing by 48 (16-token
    * overlap) — the retrieval-side complement of q71's packing. */
  private[queries] val CHUNK_SIZE = 64
  private[queries] val CHUNK_STRIDE = 48

  /** Decontamination candidates for a corpus build: train-split docs
    * sharing at least one df-capped [[DECON_N]]-gram with any test-split
    * doc (q72's overlap machinery, pointed the corpus-build direction —
    * the eval set is fixed, the training set yields). `lab` needs
    * (doc_id, split, t: array&lt;string&gt; tokens); returns distinct
    * contaminated doc_ids. The gram join is keyed and df-capped, so
    * fan-out per gram is bounded. q73 runs this end-to-end — where, on
    * the synthetic fixture, the result is provably empty (every 8-gram
    * leak there is a jaccard ≥ 0.9 clone the dedup stage collapses
    * first); the positive path — a PARTIAL copy that dedup cannot see —
    * is pinned by TrainingOpsSpec's planted 8-token quote. */
  private[graft] def contaminatedTrainDocs(
      lab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tcol = col("t")
    val gramsAll = lab.filter(size(tcol) >= DECON_N)
      .select(col("doc_id"), col("split"),
        explode(array_distinct(transform(
          sequence(lit(1), size(tcol) - (DECON_N - 1)),
          i => concat_ws(" ", (0 until DECON_N).map(k => element_at(tcol, i + k)): _*)
        ))).as("gram"))
    val grams = Occupancy.cap(gramsAll, Seq("gram"), DECON_MAX_DF,
      persistResult = true)
    grams.filter(col("split") === "train")
      .select(col("doc_id"), col("gram"))
      .join(grams.filter(col("split") === "test").select(col("gram")), "gram")
      .select("doc_id").distinct()
  }

  def all: Seq[QueryDef] = Seq(

    // ---- q68: deterministic stratified train/val/test split ----------------
    // Assignment = first 8 md5 hex chars of "split:doc_id" mod 100 — stable
    // across runs/engines/cluster sizes (a re-run can never leak eval docs
    // into training), pure map-side, salt-keyed for re-draws. The query
    // reports the stratification: docs + tokens per (split, lang).
    QueryDef(
      "q68_train_split",
      """WITH b AS (
        |  SELECT lang, text,
        |    ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents)
        |SELECT
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  lang,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM b
        |GROUP BY 1, 2
        |ORDER BY split, lang""".stripMargin) { (s, d) =>
      val assigned = Sampling.splitColumn(col("doc_id"), "split",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      Tables.documents(s, d)
        .select(assigned.as("split"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("total_tokens"))
        .orderBy("split", "lang")
    },

    // ---- q70: quality-rule funnel (Gopher-style) ---------------------------
    // Four cheap per-doc rules (token count in range, mean word length in
    // range, symbol ratio, ≥1 stopword) and the count surviving each — the
    // shape every corpus-quality report takes. One groupBy; all rule math is
    // per-row integer/IEEE-double arithmetic.
    QueryDef(
      "q70_quality_funnel", {
        s"""WITH scored AS (
           |  SELECT source,
           |    $qualityExprsSql
           |  FROM documents)
           |SELECT source,
           |  COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN ntok BETWEEN 5 AND 1000 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
           |  CAST(SUM(CASE WHEN awl >= 2.0 AND awl <= 12.0 THEN 1 ELSE 0 END) AS BIGINT) AS pass_wordlen,
           |  CAST(SUM(CASE WHEN symratio < 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_symbol,
           |  CAST(SUM(CASE WHEN nstop >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_stop,
           |  CAST(SUM(CASE WHEN ntok BETWEEN 5 AND 1000 AND awl >= 2.0 AND awl <= 12.0
           |                 AND symratio < 0.1 AND nstop >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
           |FROM scored
           |GROUP BY source
           |ORDER BY source""".stripMargin
      }) { (s, d) =>
      val toks = split(col("text"), " ")
      val ntok = size(toks)
      val awl = aggregate(transform(toks, x => length(x)), lit(0), (a, x) => a + x) *
        lit(1.0) / ntok
      val symratio = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9 ]"), lit(0))) *
        lit(1.0) / col("n_chars")
      val nstop = size(filter(toks, x => x.isin(ALL_STOPS: _*)))
      val passLen = col("ntok").between(5, 1000)
      val passWl = col("awl") >= 2.0 && col("awl") <= 12.0
      val passSym = col("symratio") < 0.1
      val passStop = col("nstop") >= 1
      def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1).otherwise(0)).cast("long")
      Tables.documents(s, d)
        .select(col("source"), ntok.as("ntok"), awl.as("awl"),
          symratio.as("symratio"), nstop.as("nstop"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          cnt(passLen).as("pass_len"),
          cnt(passWl).as("pass_wordlen"),
          cnt(passSym).as("pass_symbol"),
          cnt(passStop).as("pass_stop"),
          cnt(passLen && passWl && passSym && passStop).as("pass_all"))
        .orderBy("source")
    },

    // ---- q71: sequence packing — concat-and-chunk into context windows -----
    // Documents concatenate in doc_id order per lang; a doc belongs to the
    // window its first token lands in. The per-group prefix sum is the
    // deterministic packing a trainer replays; at 100 TB the group is
    // (lang, shard) so every ordered scan stays bounded (operators.Packing).
    QueryDef(
      "q71_sequence_packing",
      s"""WITH t AS (
         |  SELECT lang, doc_id, len(string_split(text, ' ')) AS ntok
         |  FROM documents),
         |c AS (
         |  SELECT lang, ntok,
         |    CAST(COALESCE(SUM(ntok) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
         |  FROM t)
         |SELECT lang,
         |  CAST(FLOOR(start_offset / $PACK_CAPACITY.0) AS BIGINT) AS bin,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(ntok) AS BIGINT) AS bin_tokens
         |FROM c
         |GROUP BY 1, 2
         |ORDER BY lang, bin""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
      Packing.concatAndChunk(t, Seq("lang"), "doc_id", "ntok", PACK_CAPACITY)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("bin_tokens"))
        .orderBy("lang", "bin")
    },

    // ---- q229: packing attention-span table --------------------------------
    // The metadata q71's bin assignment leaves implicit and a trainer
    // actually consumes: for every context window, WHICH byte-ranges
    // belong to which document — the loss-mask / attention-reset span
    // table. A doc starting at offset s with n tokens occupies every
    // window from s div C through (s+n−1) div C; its segment in window b
    // is [max(s, bC), min(s+n, (b+1)C)) re-based to the window, with
    // head/tail clip flags marking boundary crossings (where attention
    // must reset and loss must mask). Pure integer arithmetic on q71's
    // prefix sums, so the span table is exact in both engines.
    //
    // 100 TB shape: the only exchange is q71's per-(lang) prefix-sum
    // window (per-shard at deploy, as Packing documents); span expansion
    // is a map-side explode over sequence(firstBin, lastBin) — bounded by
    // ceil(ntok/C)+1 segments per doc, linear in corpus tokens.
    QueryDef(
      "q229_packing_spans",
      s"""WITH t AS (
         |  SELECT lang, doc_id, len(string_split(text, ' ')) AS ntok
         |  FROM documents),
         |c AS (
         |  SELECT lang, doc_id, ntok,
         |    CAST(COALESCE(SUM(ntok) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS s
         |  FROM t),
         |seg AS (
         |  SELECT lang, doc_id, ntok, s,
         |    unnest(range(s // $PACK_CAPACITY,
         |                 (s + ntok - 1) // $PACK_CAPACITY + 1)) AS bin
         |  FROM c)
         |SELECT lang, CAST(bin AS BIGINT) AS bin, doc_id,
         |  CAST(GREATEST(s, bin * $PACK_CAPACITY) - bin * $PACK_CAPACITY
         |    AS BIGINT) AS span_start,
         |  CAST(LEAST(s + ntok, (bin + 1) * $PACK_CAPACITY)
         |     - GREATEST(s, bin * $PACK_CAPACITY) AS BIGINT) AS span_len,
         |  CAST(CASE WHEN s < bin * $PACK_CAPACITY THEN 1 ELSE 0 END AS BIGINT)
         |    AS clipped_head,
         |  CAST(CASE WHEN s + ntok > (bin + 1) * $PACK_CAPACITY THEN 1 ELSE 0 END
         |    AS BIGINT) AS clipped_tail
         |FROM seg
         |ORDER BY lang, bin, doc_id""".stripMargin) { (s, d) =>
      val cap = lit(PACK_CAPACITY.toLong)
      val t = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
      Packing.concatAndChunk(t, Seq("lang"), "doc_id", "ntok", PACK_CAPACITY)
        .select(col("lang"), col("doc_id"), col("ntok"),
          col("start_offset").as("s"))
        .select(col("lang"), col("doc_id"), col("ntok"), col("s"),
          explode(sequence(expr(s"s div ${PACK_CAPACITY}"),
            expr(s"(s + ntok - 1) div ${PACK_CAPACITY}"))).as("bin"))
        .select(col("lang"), col("bin"), col("doc_id"),
          (greatest(col("s"), col("bin") * cap) - col("bin") * cap)
            .as("span_start"),
          (least(col("s") + col("ntok"), (col("bin") + 1) * cap)
            - greatest(col("s"), col("bin") * cap)).as("span_len"),
          when(col("s") < col("bin") * cap, 1L).otherwise(0L)
            .as("clipped_head"),
          when(col("s") + col("ntok") > (col("bin") + 1) * cap, 1L)
            .otherwise(0L).as("clipped_tail"))
        .orderBy("lang", "bin", "doc_id")
    },

    // ---- q73: corpus build — funnel → cluster → split → decon → pack -------
    // The pipeline a real corpus run composes from the stages above, each
    // individually hash-checked: q70's quality rules filter the raw docs,
    // q27's jaccard pairs + q67's connected components collapse near-dup
    // groups to one canonical doc (min doc_id), q68's salted split assigns
    // train/val/test (fresh salt "corpus" — a new experiment re-draws
    // without touching data), q72's 8-gram overlap then DROPS contaminated
    // TRAIN docs (the corpus-build direction: the eval set is fixed, the
    // training set yields), and q71's concat-and-chunk packs each
    // (split, lang) stream into 2048-token windows. The report is the
    // corpus card WITH PROVENANCE: docs/tokens/windows per (split, lang)
    // plus the per-stage drop counts — failed_quality and clustered_away
    // are per-lang facts (those docs die before split assignment, so every
    // split row of a lang repeats them), decontaminated is per (split,
    // lang) and nonzero only on train rows by construction. Catches
    // inter-stage contract drift that the per-stage oracles cannot, and
    // makes the funnel auditable end-to-end (docs in = kept + dropped at
    // each stage).
    QueryDef(
      "q73_corpus_build", {
        val cat = (1 until DECON_N)
          .map(k => s"t[i+$k]").mkString("t[i] || ' ' || ", " || ' ' || ", "")
        s"""WITH RECURSIVE scored AS (
           |  SELECT doc_id, lang, text,
           |    $qualityExprsSql
           |  FROM documents),
           |survivors AS (
           |  SELECT doc_id, lang, text, ntok FROM scored
           |  WHERE $QualityCondSql),
           |fq AS (
           |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS failed_quality FROM scored
           |  WHERE NOT ($QualityCondSql) GROUP BY lang),
           |${TextDedupPack.pairsSql("survivors")},
           |und AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
           |        UNION ALL
           |        SELECT doc_b AS u, doc_a AS v FROM jpairs),
           |reach(u, v) AS (
           |  SELECT u, v FROM und
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
           |comp AS (SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id
           |         FROM reach GROUP BY u),
           |dupes AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id),
           |ca AS (
           |  SELECT s.lang, CAST(COUNT(*) AS BIGINT) AS clustered_away
           |  FROM survivors s JOIN dupes USING (doc_id) GROUP BY s.lang),
           |canon AS (
           |  SELECT doc_id, lang, text, CAST(ntok AS BIGINT) AS ntok FROM survivors
           |  WHERE doc_id NOT IN (SELECT doc_id FROM dupes)),
           |lab AS (
           |  SELECT doc_id, lang, ntok, text,
           |    CASE WHEN bucket < 80 THEN 'train'
           |         WHEN bucket < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM (SELECT canon.*,
           |      ('0x' || substring(md5('corpus:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
           |    FROM canon)),
           |dt AS (SELECT doc_id, split, string_split(text, ' ') AS t FROM lab),
           |dgrams_all AS (
           |  SELECT DISTINCT doc_id, split,
           |    unnest(list_transform(range(1, len(t) - ${DECON_N - 2}), i -> $cat)) AS gram
           |  FROM dt WHERE len(t) >= $DECON_N),
           |dgrams AS (SELECT doc_id, split, gram FROM (
           |    SELECT doc_id, split, gram, COUNT(*) OVER (PARTITION BY gram) AS df
           |    FROM dgrams_all)
           |  WHERE df <= $DECON_MAX_DF),
           |contam AS (
           |  SELECT DISTINCT tr.doc_id FROM dgrams tr JOIN dgrams te
           |  ON tr.gram = te.gram AND tr.split = 'train' AND te.split = 'test'),
           |dc AS (
           |  SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS decontaminated
           |  FROM lab JOIN contam USING (doc_id) GROUP BY split, lang),
           |clean AS (
           |  SELECT doc_id, lang, ntok, split FROM lab
           |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
           |c AS (
           |  SELECT split, lang, ntok,
           |    CAST(COALESCE(SUM(ntok) OVER (PARTITION BY split, lang ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
           |  FROM clean),
           |agg AS (
           |  SELECT split, lang,
           |    COUNT(*) AS n_docs,
           |    CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           |    CAST(COUNT(DISTINCT FLOOR(start_offset / $PACK_CAPACITY.0)) AS BIGINT) AS n_bins
           |  FROM c
           |  GROUP BY 1, 2)
           |SELECT agg.split AS split, agg.lang AS lang, n_docs, total_tokens, n_bins,
           |  COALESCE(fq.failed_quality, 0) AS failed_quality,
           |  COALESCE(ca.clustered_away, 0) AS clustered_away,
           |  COALESCE(dc.decontaminated, 0) AS decontaminated
           |FROM agg
           |LEFT JOIN fq ON agg.lang = fq.lang
           |LEFT JOIN ca ON agg.lang = ca.lang
           |LEFT JOIN dc ON agg.split = dc.split AND agg.lang = dc.lang
           |ORDER BY split, lang""".stripMargin
      }) { (s, d) =>
      // stage 1: quality funnel (q70's pass_all predicate). Persisted: the
      // gram pipeline and the final doc set both scan it. Spread input: the
      // funnel rules + gram explode are per-row work ahead of any shuffle.
      // The failed count re-filters the raw scan (one extra map-side pass)
      // instead of materializing the raw table for a subtract.
      val docs = Tables.documentsSpread(s, d)
      val survivors = docs.filter(qualityPassAll).persist()
      val fq = docs.filter(!qualityPassAll).groupBy("lang")
        .agg(count(lit(1)).as("failed_quality"))
      // stage 2: near-dup clusters over survivors; drop non-canonical members
      val comp = graft.operators.Components.connectedComponents(
        TextDedupPack.jaccardPairsOf(survivors).select("doc_a", "doc_b"),
        "doc_a", "doc_b")
      val dupes = comp.filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      val ca = survivors.join(dupes, "doc_id").groupBy("lang")
        .agg(count(lit(1)).as("clustered_away"))
      val canon = survivors.join(dupes, Seq("doc_id"), "left_anti")
      // stage 3: salted split. Persisted: the gram stage, the decon counts
      // and the clean set all scan the labeled table.
      val assigned = Sampling.splitColumn(col("doc_id"), "corpus",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val lab = canon.select(col("doc_id"), col("lang"), assigned.as("split"),
        split(col("text"), " ").as("t")).persist()
      // stage 4: decontamination — drop train docs sharing a df-capped
      // 8-gram with any test doc ([[contaminatedTrainDocs]]; empty on this
      // fixture because dedup catches every clone first — see its scaladoc)
      val tcol = col("t")
      val contam = contaminatedTrainDocs(lab)
      val dc = lab.join(contam, "doc_id").groupBy("split", "lang")
        .agg(count(lit(1)).as("decontaminated"))
      val clean = lab.join(contam, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("split"),
          size(tcol).cast("long").as("ntok"))
      // stage 5: pack each (split, lang) stream; join the tiny per-stage
      // drop-count aggregates (≤ |splits|×|langs| rows — broadcast) onto
      // the corpus card
      val card = Packing.concatAndChunk(clean, Seq("split", "lang"),
          "doc_id", "ntok", PACK_CAPACITY)
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("total_tokens"),
          countDistinct(col("bin")).as("n_bins"))
      card
        .join(broadcast(fq), Seq("lang"), "left")
        .join(broadcast(ca), Seq("lang"), "left")
        .join(broadcast(dc), Seq("split", "lang"), "left")
        .select(col("split"), col("lang"), col("n_docs"), col("total_tokens"),
          col("n_bins"),
          coalesce(col("failed_quality"), lit(0L)).as("failed_quality"),
          coalesce(col("clustered_away"), lit(0L)).as("clustered_away"),
          coalesce(col("decontaminated"), lit(0L)).as("decontaminated"))
        .orderBy("split", "lang")
    },

    // ---- q72: eval-set decontamination — train↔test 8-gram overlap ---------
    // The flip side of dedup: a test-split doc sharing verbatim 8-grams with
    // a train-split doc is contaminated (its eval score measures
    // memorization, not generalization). Reuses the q68 split (same salt, so
    // this audits exactly that split) and the dedup pack's df-capped gram
    // machinery. Per contaminated test doc: how many distinct 8-grams leak,
    // from how many train docs, and the smallest offending train doc id.
    // The gram join is keyed and df-capped, so fan-out per gram is bounded;
    // both engines apply the identical cap.
    QueryDef(
      "q72_decontamination", {
        val cat = (1 until DECON_N)
          .map(k => s"t[i+$k]").mkString("t[i] || ' ' || ", " || ' ' || ", "")
        s"""WITH b AS (
           |  SELECT doc_id, string_split(text, ' ') AS t,
           |    ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
           |  FROM documents),
           |lab AS (
           |  SELECT doc_id,
           |    CASE WHEN bucket < 80 THEN 'train'
           |         WHEN bucket < 90 THEN 'val'
           |         ELSE 'test' END AS split, t
           |  FROM b WHERE len(t) >= $DECON_N),
           |grams_all AS (
           |  SELECT DISTINCT doc_id, split,
           |    unnest(list_transform(range(1, len(t) - ${DECON_N - 2}),
           |      i -> $cat)) AS gram
           |  FROM lab),
           |grams AS (SELECT doc_id, split, gram FROM (
           |    SELECT doc_id, split, gram, COUNT(*) OVER (PARTITION BY gram) AS df
           |    FROM grams_all)
           |  WHERE df <= $DECON_MAX_DF)
           |SELECT te.doc_id AS test_doc_id,
           |  CAST(COUNT(DISTINCT te.gram) AS BIGINT) AS n_shared_grams,
           |  CAST(COUNT(DISTINCT tr.doc_id) AS BIGINT) AS n_train_docs,
           |  MIN(tr.doc_id) AS min_train_doc
           |FROM grams te
           |JOIN grams tr ON tr.gram = te.gram
           | AND te.split = 'test' AND tr.split = 'train'
           |GROUP BY te.doc_id
           |ORDER BY test_doc_id""".stripMargin
      }) { (s, d) =>
      val assigned = Sampling.splitColumn(col("doc_id"), "split",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val t = col("t")
      val base = Tables.documentsSpread(s, d)
        .select(col("doc_id"), assigned.as("split"), split(col("text"), " ").as("t"))
        .filter(size(t) >= DECON_N)
      val gramsAll = base.select(col("doc_id"), col("split"),
        explode(array_distinct(transform(
          sequence(lit(1), size(t) - (DECON_N - 1)),
          i => concat_ws(" ", (0 until DECON_N).map(k => element_at(t, i + k)): _*)
        ))).as("gram"))
      // persisted: both split slices below scan the capped gram set
      val grams = Occupancy.cap(gramsAll, Seq("gram"), DECON_MAX_DF,
        persistResult = true)
      val te = grams.filter(col("split") === "test")
        .select(col("doc_id").as("test_doc_id"), col("gram"))
      val tr = grams.filter(col("split") === "train")
        .select(col("doc_id").as("train_doc_id"), col("gram"))
      te.join(tr, "gram")
        .groupBy("test_doc_id")
        .agg(
          countDistinct(col("gram")).as("n_shared_grams"),
          countDistinct(col("train_doc_id")).as("n_train_docs"),
          min(col("train_doc_id")).as("min_train_doc"))
        .orderBy("test_doc_id")
    },

    // ---- q79: deterministic stratified sampling — exact per-lang quotas ----
    // Rebalancing a corpus toward a target language mixture needs exact
    // per-stratum quotas, drawn uniformly but REPRODUCIBLY (a re-run must
    // pick the same docs; a fresh salt must re-draw). Order each stratum by
    // a salted md5 of the id — a deterministic random permutation both
    // engines compute identically — and keep the first `quota` rows via a
    // rank window. One shuffle on the stratum key; quota rows per stratum
    // out. doc_id breaks (astronomically unlikely) hash ties so the rank
    // is total.
    QueryDef(
      "q79_stratified_sample",
      s"""SELECT lang, doc_id
         |FROM (
         |  SELECT lang, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= $SAMPLE_QUOTA
         |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang")
        .orderBy(md5(concat(lit("sample:"), col("doc_id").cast("string"))),
          col("doc_id"))
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= SAMPLE_QUOTA)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    },

    // ---- q80: overlapping document chunking (retrieval/window prep) --------
    // Long documents become fixed-size token windows with overlap — the
    // embedding/RAG counterpart of q71's packing (q71 concatenates docs
    // into windows; q80 splits docs into them). Pure map-side: chunk count
    // and slices are per-row array math, the explode is the only row
    // inflation and it is bounded by ntok/stride. Chunk identity is pinned
    // by md5 of the re-joined tokens, so the oracle checks exact content.
    QueryDef(
      "q80_doc_chunking",
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |base AS (
         |  SELECT doc_id, t,
         |    CASE WHEN len(t) <= $CHUNK_SIZE THEN 1
         |         ELSE 1 + CAST(CEIL((len(t) - $CHUNK_SIZE) / $CHUNK_STRIDE.0) AS INT)
         |    END AS nch
         |  FROM toks),
         |ch AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(0, nch), i ->
         |      {cid: i, chunk: t[CAST(i*$CHUNK_STRIDE+1 AS INT) : CAST(i*$CHUNK_STRIDE+$CHUNK_SIZE AS INT)]})) AS u
         |  FROM base)
         |SELECT doc_id, CAST(u.cid AS BIGINT) AS chunk_id,
         |  CAST(len(u.chunk) AS BIGINT) AS n_tokens,
         |  md5(array_to_string(u.chunk, ' ')) AS chunk_md5
         |FROM ch
         |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      val t = col("__t")
      val nch = when(size(t) <= CHUNK_SIZE, 1)
        .otherwise(lit(1) +
          ceil((size(t) - CHUNK_SIZE) / lit(CHUNK_STRIDE.toDouble)).cast("int"))
      Tables.documentsSpread(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("__t"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), nch - 1),
            i => slice(t, i * CHUNK_STRIDE + 1, lit(CHUNK_SIZE)))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
          size(col("col")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("col"))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },

    // ---- q82: HTML boilerplate removal with planted ground truth -----------
    // Web-scraped corpora arrive wrapped in markup; the cleaning operator
    // must drop structural blocks (head, nav, footer) wholly — tag-stripping
    // alone leaks their inner text into training data. Each doc is wrapped
    // in a deterministic HTML shell, then cleaned: block-drop regexes
    // (non-greedy, RE2 ∩ Java subset), tag strip, whitespace collapse. The
    // planted ground truth makes this self-verifying: recovered=1 iff the
    // cleaned text equals the original document exactly. Pure map-side
    // regexp work, linear scans, no shuffle before the final sort.
    QueryDef(
      "q82_html_strip",
      """WITH wrapped AS (
        |  SELECT doc_id, text,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title></head><body><div class="nav">home about contact</div><p>' ||
        |    text || '</p><footer>copyright site ' || CAST(doc_id % 100 AS VARCHAR) ||
        |    '</footer></body></html>' AS html
        |  FROM documents),
        |cleaned AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
        |    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |      '<head>.*?</head>', ' ', 'g'),
        |      '<div class="nav">.*?</div>', ' ', 'g'),
        |      '<footer>.*?</footer>', ' ', 'g'),
        |      '<[^>]*>', ' ', 'g'),
        |      '  *', ' ', 'g')) AS clean
        |  FROM wrapped)
        |SELECT doc_id, n_tags, md5(clean) AS clean_md5,
        |  CAST(CASE WHEN clean = text THEN 1 ELSE 0 END AS BIGINT) AS recovered
        |FROM cleaned
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title></head><body><div class=\"nav\">home about contact</div><p>"),
        col("text"),
        lit("</p><footer>copyright site "), (col("doc_id") % 100).cast("string"),
        lit("</footer></body></html>"))
      val clean = trim(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
          "<head>.*?</head>", " "),
          "<div class=\"nav\">.*?</div>", " "),
          "<footer>.*?</footer>", " "),
          "<[^>]*>", " "),
          "  *", " "))
      Tables.documentsSpread(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(html, lit("<[^>]*>"), lit(0))).cast("long").as("n_tags"),
          md5(clean).as("clean_md5"),
          when(clean === col("text"), 1L).otherwise(0L).as("recovered"))
        .orderBy("doc_id")
    },

    // ---- q81: vocab coverage budget — tokens needed for 95% of the mass ----
    // Vocab induction planning: per language, how many distinct tokens
    // cover 95% of all token occurrences. Counts + one ranked cumulative
    // window per language; the 95% cut uses integer arithmetic only
    // (20·cum vs 19·total) so both engines agree exactly. Ties rank by
    // token string so the cumulative order is total and deterministic.
    QueryDef(
      "q81_vocab_coverage",
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents),
        |cnt AS (SELECT lang, t, COUNT(*) AS c FROM tok GROUP BY lang, t),
        |cum AS (
        |  SELECT lang, c,
        |    SUM(c) OVER (PARTITION BY lang ORDER BY c DESC, t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |    SUM(c) OVER (PARTITION BY lang) AS tot
        |  FROM cnt)
        |SELECT lang,
        |  CAST(MAX(tot) AS BIGINT) AS total_tokens,
        |  COUNT(*) AS n_distinct,
        |  CAST(SUM(CASE WHEN 20 * (cm - c) < 19 * tot THEN 1 ELSE 0 END) AS BIGINT) AS vocab95
        |FROM cum
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val cnt = Tables.documentsSpread(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("t"))
        .groupBy("lang", "t").agg(count(lit(1)).as("c"))
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("c").desc, col("t"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      cnt
        .withColumn("cm", sum(col("c")).over(wCum))
        .withColumn("tot", sum(col("c")).over(wAll))
        .groupBy("lang")
        .agg(
          max(col("tot")).as("total_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(when(lit(20) * (col("cm") - col("c")) < lit(19) * col("tot"), 1)
            .otherwise(0)).as("vocab95"))
        .orderBy("lang")
    },

    // ---- q92: bloom-prefiltered decontamination (train side yields) --------
    // q72's train↔test 8-gram overlap, pointed the corpus-build direction
    // (per TRAIN doc) and executed the way a 1000-executor cluster should:
    // the eval side's grams are folded into ONE fixed-size bloom sketch
    // ([[graft.functions.BloomFuncs]]), re-broadcast as a literal into a
    // map-side `might_contain` predicate that prefilters the (enormous)
    // train side BEFORE its only shuffle. A bloom has no false negatives,
    // so prefilter → exact-confirm join is byte-identical to the plain
    // join — the oracle is exactly q72's SQL with the roles swapped, no
    // bloom in sight. False positives (~1%) only cost confirm-join input.
    QueryDef(
      "q92_bloom_decontamination", BLOOM_DECON_SQL) { (s, d) =>
      val assigned = Sampling.splitColumn(col("doc_id"), "split",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val t = col("t")
      val base = Tables.documentsSpread(s, d)
        .select(col("doc_id"), assigned.as("split"), split(col("text"), " ").as("t"))
        .filter(size(t) >= DECON_N)
      val gramsAll = base.select(col("doc_id"), col("split"),
        explode(array_distinct(transform(
          sequence(lit(1), size(t) - (DECON_N - 1)),
          i => concat_ws(" ", (0 until DECON_N).map(k => element_at(t, i + k)): _*)
        ))).as("gram"))
      // persisted: the test slice is scanned twice (bloom build + confirm
      // join) and the train slice once
      val grams = Occupancy.cap(gramsAll, Seq("gram"), DECON_MAX_DF,
        persistResult = true)
      val te = grams.filter(col("split") === "test")
        .select(col("doc_id").as("test_doc_id"), col("gram"))
      // ONE fixed-size sketch of the eval side's grams, collected like the
      // IVF centroid model and pushed back out as a map-side literal
      val bloom = graft.functions.BloomFuncs.build(
        te, col("gram"), expectedItems = 1000000L)
      grams.filter(col("split") === "train")
        .select(col("doc_id").as("train_doc_id"), col("gram"))
        .filter(graft.functions.BloomFuncs.mightContain(bloom, col("gram")))
        .join(te, "gram") // exact confirm: removes the bloom's false positives
        .groupBy("train_doc_id")
        .agg(
          countDistinct(col("gram")).as("n_shared_grams"),
          countDistinct(col("test_doc_id")).as("n_test_docs"),
          min(col("test_doc_id")).as("min_test_doc"))
        .orderBy("train_doc_id")
    },

    // ---- q153: streaming decontamination gate (stream-static bloom join) ---
    // q92's deploy shape for continuous ingest: the eval side (capped
    // grams, test slice, the bloom) is built ONCE from the static corpus;
    // train documents then arrive as a stream, and each micro-batch runs
    // gram-explode -> map-side bloom prefilter -> stream-static confirm
    // join -> per-doc flag row, appended idempotently (batch_id dynamic
    // overwrite). Per-doc rows are final on arrival — a doc lives in
    // exactly one micro-batch — so the store's union IS the corpus answer,
    // no merge step. The train side needs no df cap of its own: the
    // confirm join is against the CAPPED test slice, and a gram over the
    // df cap is excluded from te globally, so capping the train side too
    // (as q92 does) cannot change the join result — which is why this
    // query hash-checks against q92's EXACT oracle (the q116-vs-q105
    // trick: same answer, streaming engine in the loop).
    QueryDef(
      "q153_stream_decontamination", BLOOM_DECON_SQL) { (s, d) =>
      val assigned = Sampling.splitColumn(col("doc_id"), "split",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val t = col("t")
      val base = Tables.documentsSpread(s, d)
        .select(col("doc_id"), assigned.as("split"), split(col("text"), " ").as("t"))
        .filter(size(t) >= DECON_N)
      val gramsAll = base.select(col("doc_id"), col("split"),
        explode(array_distinct(transform(
          sequence(lit(1), size(t) - (DECON_N - 1)),
          i => concat_ws(" ", (0 until DECON_N).map(k => element_at(t, i + k)): _*)
        ))).as("gram"))
      val grams = Occupancy.cap(gramsAll, Seq("gram"), DECON_MAX_DF)
      // Eval side STAGED to parquet, not persisted (r17, the q153 spike
      // adjudication): the previous te.persist() made every micro-batch's
      // stream-static confirm join depend on executor cache retention —
      // under eviction each remaining micro-batch re-derives the corpus
      // gram-cap (scan + explode + df-cap window). Measured with
      // ProfileOne's evict simulation at sf0.1: the persisted shape
      // degrades 5.4-6.0 → 7.6-8.5 s warm (+40%, and the rebuild term
      // grows with corpus size — the driver's 63 s iteration is this
      // mechanism amplified by driver-VM contention); the staged shape is
      // IDENTICAL with and without eviction (5.8-6.7 s both ways).
      // Materializing te once per invocation pins the per-batch cost to a
      // small parquet read whatever the cache does — the 100 TB
      // discipline: derived eval-side state lives in storage, not cache.
      // The build cost is the same one pass the persist materialization
      // paid.
      val teDir = Stage.cleared("graft-q153-te-", d)
      grams.filter(col("split") === "test")
        .select(col("doc_id").as("test_doc_id"), col("gram"))
        .write.mode("overwrite").parquet(teDir.toString)
      val te = s.read.parquet(teDir.toString)
      val bloom = graft.functions.BloomFuncs.build(
        te, col("gram"), expectedItems = 1000000L)
      val srcDir = TextDedupPack.stagedDocBatches(s, d)
      val store = Stage.cleared("graft-q153-flags-", d)
      Streams.replay(s, srcDir, ())((_, batch, batchId) =>
        Stage.append(store.toString, batchId,
          batch
            .select(col("doc_id"), assigned.as("split"), split(col("text"), " ").as("t"))
            .filter(col("split") === "train" && size(t) >= DECON_N)
            .select(col("doc_id").as("train_doc_id"),
              explode(array_distinct(transform(
                sequence(lit(1), size(t) - (DECON_N - 1)),
                i => concat_ws(" ", (0 until DECON_N).map(k => element_at(t, i + k)): _*)
              ))).as("gram"))
            .filter(graft.functions.BloomFuncs.mightContain(bloom, col("gram")))
            .join(te, "gram")
            .groupBy("train_doc_id")
            .agg(
              countDistinct(col("gram")).as("n_shared_grams"),
              countDistinct(col("test_doc_id")).as("n_test_docs"),
              min(col("test_doc_id")).as("min_test_doc"))))
      s.read.parquet(store.toString)
        .select("train_doc_id", "n_shared_grams", "n_test_docs", "min_test_doc")
        .orderBy("train_doc_id")
    },

    // ---- q93: unigram-LM log-prob scoring (perplexity-proxy quality) -------
    // The importance-filtering complement of q70's rule funnel: score each
    // doc by its average negative log-likelihood under an add-one-smoothed
    // unigram LM fit on the corpus itself — high avg NLL = improbable token
    // stream (noise, gibberish, OOV-dense), the cheap stand-in for the
    // KenLM/perplexity filters in published web-corpus pipelines. Token
    // counts are one keyed agg; the two model scalars (T, V) broadcast; the
    // scoring join is keyed on token (AQE broadcasts it when the min-count
    // cap keeps the vocab small). Cross-engine: both engines evaluate
    // -ln((c+1)/(T+V+1)) on identical doubles, per-token values are summed
    // exactly as DECIMAL(38,20), and the average is rounded to
    // DECIMAL(18,8) before output — last-ulp ln() divergence cannot flip
    // the hash.
    QueryDef(
      "q93_unigram_logprob",
      s"""WITH $UNIGRAM_NLL_CTES
         |SELECT doc_id, n_tok, n_oov, avg_nll FROM pd
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      unigramNllPerDoc(s, d).orderBy("doc_id")
    },

    // ---- q162: bigram-LM scoring (the CCNet-perplexity shape) --------------
    // One order up from q93: real web-corpus filters score with an n-gram
    // LM because unigram NLL can't see scrambled word order. Standard
    // construction: rare tokens (c < min-count) map to '<unk>' (the
    // normalized stream is [a-z]+ only, so the symbol cannot collide),
    // bigram counts c2(a,b) and context totals c1(a) = sum_b c2(a,b) come
    // from two keyed aggs, and each doc scores its average add-one NLL
    // -ln((c2+1)/(c1+V+2)) over consecutive mapped pairs. The model is
    // corpus-fit like q93's, every join is keyed on token/bigram (partial-
    // agg friendly, broadcastable model tables at bounded vocab), and the
    // q93 decimal ledger (exact DECIMAL(38,20) sums, one DECIMAL(18,8)
    // round) keeps last-ulp ln() divergence out of the hash.
    QueryDef(
      "q162_bigram_logprob",
      s"""WITH norm AS (
         |  SELECT doc_id,
         |    list_filter(string_split(trim(regexp_replace(regexp_replace(lower(text),
         |      '[^a-z ]', '', 'g'), '  *', ' ', 'g')), ' '), x -> x <> '') AS t
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(t) AS tok FROM norm),
         |cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
         |vocab AS (SELECT tok FROM cnt WHERE c >= $LM_MIN_COUNT),
         |bg AS (
         |  SELECT doc_id, u.a AS a, u.b AS b FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len(t)), i -> {a: t[i], b: t[i+1]})) AS u
         |    FROM norm WHERE len(t) >= 2)),
         |m AS (
         |  SELECT doc_id,
         |    CASE WHEN va.tok IS NULL THEN '<unk>' ELSE bg.a END AS a,
         |    CASE WHEN vb.tok IS NULL THEN '<unk>' ELSE bg.b END AS b
         |  FROM bg
         |  LEFT JOIN vocab va ON va.tok = bg.a
         |  LEFT JOIN vocab vb ON vb.tok = bg.b),
         |c2 AS (SELECT a, b, COUNT(*) AS c2 FROM m GROUP BY a, b),
         |c1 AS (SELECT a, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY a),
         |vm AS (SELECT COUNT(*) + 1 AS V FROM vocab),
         |scored AS (
         |  SELECT doc_id,
         |    CASE WHEN m.a = '<unk>' OR m.b = '<unk>' THEN 1 ELSE 0 END AS unk,
         |    CAST(-ln((c2.c2 + 1.0) / (c1.c1 + vm.V + 1.0)) AS DECIMAL(38,20)) AS nll
         |  FROM m JOIN c2 USING (a, b) JOIN c1 USING (a) CROSS JOIN vm)
         |SELECT doc_id,
         |  COUNT(*) AS n_bigrams,
         |  CAST(SUM(unk) AS BIGINT) AS n_unk,
         |  CAST(CAST(CAST(SUM(nll) AS DOUBLE) / COUNT(*) AS DECIMAL(18,8)) AS DOUBLE) AS avg_nll
         |FROM scored
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val normE = trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z ]", ""), "  *", " "))
      val norm = Tables.documentsSpread(s, d)
        .select(col("doc_id"), filter(split(normE, " "), x => x =!= "").as("t"))
        .persist()
      val tok = norm.select(col("doc_id"), explode(col("t")).as("tok"))
      val vocab = tok.groupBy("tok").agg(count(lit(1)).as("c"))
        .filter(col("c") >= LM_MIN_COUNT).select("tok")
      val t = col("t")
      val bg = norm.filter(size(t) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(t) - 1),
          i => struct(element_at(t, i).as("a"), element_at(t, i + 1).as("b"))
        )).as("u"))
        .select(col("doc_id"), col("u.a").as("a"), col("u.b").as("b"))
      val m = bg
        .join(vocab.select(col("tok").as("a"), lit(1).as("__va")), Seq("a"), "left")
        .join(vocab.select(col("tok").as("b"), lit(1).as("__vb")), Seq("b"), "left")
        .select(col("doc_id"),
          when(col("__va").isNull, "<unk>").otherwise(col("a")).as("a"),
          when(col("__vb").isNull, "<unk>").otherwise(col("b")).as("b"))
        .persist()
      val c2 = m.groupBy("a", "b").agg(count(lit(1)).as("c2"))
      val c1 = c2.groupBy("a").agg(sum(col("c2")).as("c1"))
      val vm = vocab.agg((count(lit(1)) + 1).as("V"))
      val scored = m
        .join(c2, Seq("a", "b"))
        .join(c1, Seq("a"))
        .crossJoin(broadcast(vm))
        .select(col("doc_id"),
          when(col("a") === "<unk>" || col("b") === "<unk>", 1L).otherwise(0L).as("unk"),
          (-log((col("c2") + lit(1.0)) / (col("c1") + col("V") + lit(1.0))))
            .cast(DecimalType(38, 20)).as("nll"))
      scored.groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          sum(col("unk")).as("n_unk"),
          (sum(col("nll")).cast("double") / count(lit(1)))
            .cast(DecimalType(18, 8)).cast("double").as("avg_nll"))
        .orderBy("doc_id")
    },

    // ---- q97: domain-mixture token-budget resampling -----------------------
    // Corpus mixing: rebalance per-source token mass toward a uniform
    // share by downsampling over-represented sources. The plan is pure
    // integer arithmetic — target = total DIV n_sources, acceptance rate in
    // basis points = min(10000, target·10000 DIV actual) — and the draw is
    // the deterministic salted md5 bucket (Sampling.hashBucket mod 10000),
    // so the sample is reproducible across runs, engines and cluster sizes
    // and the whole query is exact (no doubles anywhere). Two keyed
    // aggregations over the corpus; the 5-row rate table broadcasts back.
    QueryDef(
      "q97_domain_mixture",
      """WITH docs AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS ntok,
        |    ('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS bucket
        |  FROM documents),
        |per AS (
        |  SELECT source, COUNT(*) AS n_docs, SUM(ntok) AS actual_tokens
        |  FROM docs GROUP BY source),
        |tot AS (SELECT SUM(actual_tokens) AS total, COUNT(*) AS nsrc FROM per),
        |rates AS (
        |  SELECT source, n_docs, actual_tokens,
        |    total // nsrc AS target_tokens,
        |    LEAST(10000, (total // nsrc) * 10000 // actual_tokens) AS rate_bp
        |  FROM per CROSS JOIN tot),
        |sampled AS (
        |  SELECT d.source, COUNT(*) AS sampled_docs, SUM(d.ntok) AS sampled_tokens
        |  FROM docs d JOIN rates r ON d.source = r.source
        |  WHERE d.bucket < r.rate_bp
        |  GROUP BY d.source)
        |SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
        |  CAST(r.actual_tokens AS BIGINT) AS actual_tokens,
        |  CAST(r.target_tokens AS BIGINT) AS target_tokens,
        |  CAST(r.rate_bp AS BIGINT) AS rate_bp,
        |  CAST(COALESCE(s.sampled_docs, 0) AS BIGINT) AS sampled_docs,
        |  CAST(COALESCE(s.sampled_tokens, 0) AS BIGINT) AS sampled_tokens
        |FROM rates r LEFT JOIN sampled s ON s.source = r.source
        |ORDER BY r.source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok"),
          Sampling.hashBucket(col("doc_id"), "mix", 10000).as("bucket"))
      val per = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("actual_tokens"))
      val tot = per.agg(sum(col("actual_tokens")).as("total"), count(lit(1)).as("nsrc"))
      val rates = per.crossJoin(broadcast(tot))
        .withColumn("target_tokens", expr("total DIV nsrc"))
        .withColumn("rate_bp",
          least(lit(10000L), expr("(total DIV nsrc) * 10000 DIV actual_tokens")))
        .select("source", "n_docs", "actual_tokens", "target_tokens", "rate_bp")
      val sampled = docs
        .join(broadcast(rates.select(col("source"), col("rate_bp"))), "source")
        .filter(col("bucket") < col("rate_bp"))
        .groupBy("source")
        .agg(count(lit(1)).as("sampled_docs"), sum(col("ntok")).as("sampled_tokens"))
      rates.join(sampled, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("actual_tokens"),
          col("target_tokens"), col("rate_bp"),
          coalesce(col("sampled_docs"), lit(0L)).as("sampled_docs"),
          coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
        .orderBy("source")
    },

    // ---- q151: temperature-smoothed mixture (alpha = 0.5 upsampling) -------
    // The multilingual/multi-domain training recipe q97's uniform target
    // can't express: sample source i proportionally to p_i^alpha, which
    // for alpha = 1/2 flattens the source distribution — small sources are
    // upsampled relative to their share, large ones capped — without the
    // all-equal extreme. Weights stay EXACT integers: w_i =
    // floor(sqrt(actual_tokens_i)) is precise for inputs < 2^52 (sqrt is
    // correctly rounded and perfect squares survive floor), every
    // downstream ratio is BIGINT `div` arithmetic, and the doc sampler is
    // the same deterministic salted-md5 bucket as q97 under a DIFFERENT
    // salt — so the two mixtures' samples are independent, reproducible,
    // and engine-identical. Shape: two keyed aggs over the corpus + a
    // broadcast-back rate table; nothing new shuffles at 100 TB.
    QueryDef(
      "q151_temperature_mixture",
      """WITH docs AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS ntok,
        |    ('0x' || substring(md5('mixt:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS bucket
        |  FROM documents),
        |per AS (
        |  SELECT source, COUNT(*) AS n_docs, SUM(ntok) AS actual_tokens
        |  FROM docs GROUP BY source),
        |w AS (
        |  SELECT source, n_docs, actual_tokens,
        |    CAST(FLOOR(SQRT(CAST(actual_tokens AS DOUBLE))) AS BIGINT) AS wgt
        |  FROM per),
        |tot AS (SELECT SUM(actual_tokens) AS total, SUM(wgt) AS wsum FROM w),
        |rates AS (
        |  SELECT source, n_docs, actual_tokens, wgt,
        |    total * wgt // wsum AS target_tokens,
        |    LEAST(10000, (total * wgt // wsum) * 10000 // actual_tokens) AS rate_bp
        |  FROM w CROSS JOIN tot),
        |sampled AS (
        |  SELECT d.source, COUNT(*) AS sampled_docs, SUM(d.ntok) AS sampled_tokens
        |  FROM docs d JOIN rates r ON d.source = r.source
        |  WHERE d.bucket < r.rate_bp
        |  GROUP BY d.source)
        |SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
        |  CAST(r.actual_tokens AS BIGINT) AS actual_tokens,
        |  CAST(r.wgt AS BIGINT) AS wgt,
        |  CAST(r.target_tokens AS BIGINT) AS target_tokens,
        |  CAST(r.rate_bp AS BIGINT) AS rate_bp,
        |  CAST(COALESCE(s.sampled_docs, 0) AS BIGINT) AS sampled_docs,
        |  CAST(COALESCE(s.sampled_tokens, 0) AS BIGINT) AS sampled_tokens
        |FROM rates r LEFT JOIN sampled s ON s.source = r.source
        |ORDER BY r.source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok"),
          Sampling.hashBucket(col("doc_id"), "mixt", 10000).as("bucket"))
      val per = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("actual_tokens"))
        .withColumn("wgt",
          floor(sqrt(col("actual_tokens").cast("double"))).cast("long"))
      val tot = per.agg(sum(col("actual_tokens")).as("total"), sum(col("wgt")).as("wsum"))
      val rates = per.crossJoin(broadcast(tot))
        // (total·wgt) div wsum, decomposed via total = q·wsum + r into
        // wgt·q + (wgt·r) div wsum — the same exact floor (the oracle keeps
        // the plain form; DuckDB sums are HUGEINT), but no int64 overflow
        // when total is a 100 TB token count and wgt ~ sqrt(total)
        .withColumn("target_tokens",
          expr("wgt * (total DIV wsum) + wgt * (total % wsum) DIV wsum"))
        .withColumn("rate_bp",
          least(lit(10000L), expr("target_tokens * 10000 DIV actual_tokens")))
        .select("source", "n_docs", "actual_tokens", "wgt", "target_tokens", "rate_bp")
      val sampled = docs
        .join(broadcast(rates.select(col("source"), col("rate_bp"))), "source")
        .filter(col("bucket") < col("rate_bp"))
        .groupBy("source")
        .agg(count(lit(1)).as("sampled_docs"), sum(col("ntok")).as("sampled_tokens"))
      rates.join(sampled, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("actual_tokens"), col("wgt"),
          col("target_tokens"), col("rate_bp"),
          coalesce(col("sampled_docs"), lit(0L)).as("sampled_docs"),
          coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
        .orderBy("source")
    },

    // ---- q155: fixed-k priority sampling (Duffield-Lund-Thorup) ------------
    // q129 keeps a RATE (sample size drifts with the corpus); a storage/
    // labeling budget needs EXACTLY k documents, weighted so the sample
    // still estimates any subset's size. Priority sampling: each doc draws
    // u ~ Uniform, gets priority w/u, and the k highest priorities are the
    // sample; tau = the (k+1)-th priority turns it into an unbiased
    // subset-sum estimator (est_w = max(w, tau) for sampled docs — the
    // variance-optimal fixed-k weighted scheme). Everything stays EXACT
    // integers: u is 40 md5 bits + 1 (never zero, real value u/2^40 in
    // (0,1]), priority is (w << 40) DIV u = floor(w / (u/2^40)) — the
    // real priority floored to a BIGINT, with n_chars < 2^23 bounding the
    // scaled product under 2^63 — and ties break on doc_id, so the sample
    // is deterministic and engine-identical. tau and the weights live in
    // the same natural units, so the estimator is plain greatest(w, tau). Scale shape: the top-(k+1) plans as
    // TakeOrderedAndProject (per-partition top-k, merge of k+1 rows per
    // partition — never a total sort); tau/filter/HT math touch only k+1
    // rows; the actuals are one keyed agg. At k=150 the corpus-TOTAL
    // estimate lands within a few percent of the true total; per-source
    // subsets (~k/20 samples each) are unbiased but visibly noisy —
    // that's the estimator's variance, shown in the output, not asserted
    // (hash equality is the gate).
    QueryDef(
      "q155_priority_sample", PRIO_SAMPLE_SQL) { (s, d) =>
      // top-(k+1): the extra row carries tau. 151 rows — persisted so the
      // tau lookup and the sample filter share one TakeOrdered pass.
      val top = prioDraw(Tables.documents(s, d))
        .orderBy(col("prio").desc, col("doc_id"))
        .limit(PRIO_K + 1)
        .persist()
      prioSummary(top, Tables.documents(s, d))
    },

    // ---- q158: STREAMING fixed-k priority sampling -------------------------
    // q155's deploy shape for continuous ingest: priorities are mergeable
    // (any element of the global top-(k+1) is in its slice's top-(k+1)),
    // so each micro-batch keeps only its own top-(k+1) draw — k+1 rows of
    // state per batch, written idempotently (Stage.append,
    // cf. q130/q139) — and the final sample is the top-(k+1) of the
    // store's union. Same tau/HT math as q155, same oracle, and the
    // stream must land on the byte-identical sample and estimates with
    // the real streaming engine in the loop.
    QueryDef(
      "q158_stream_priority_sample", PRIO_SAMPLE_SQL) { (s, d) =>
      val srcDir = TextDedupPack.stagedDocBatches(s, d)
      val store = Stage.cleared("graft-q158-prio-", d)
      Streams.replay(s, srcDir, ())((_, batch, batchId) =>
        Stage.append(store.toString, batchId,
          prioDraw(batch)
            .orderBy(col("prio").desc, col("doc_id"))
            .limit(PRIO_K + 1)))
      val top = s.read.parquet(store.toString)
        .orderBy(col("prio").desc, col("doc_id"))
        .limit(PRIO_K + 1)
        .persist()
      prioSummary(top, Tables.documents(s, d))
    },

    // ---- q157: contiguous global IDs without a total sort ------------------
    // Every packed training corpus needs dense sample indices (shard
    // addressing, resumable iteration), and monotonically_increasing_id
    // is neither dense nor ordered while ROW_NUMBER over a global ORDER
    // BY is a one-reducer sort. GlobalIds.assign is the scale shape:
    // range-partition on the key, rank per partition in parallel, add
    // broadcast count-prefix offsets. Ordered longest-doc-first
    // (curriculum order), ties broken by doc_id — a total order, so the
    // IDs are a deterministic permutation of 1..n and hash-match the
    // oracle's window exactly at every SF.
    QueryDef(
      "q157_global_ids",
      """SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS global_id
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.GlobalIds.assign(
          Tables.documents(s, d).select("doc_id", "source", "n_chars"),
          Seq(col("n_chars").desc, col("doc_id")), "global_id")
        .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"),
          col("global_id"))
        .orderBy("doc_id")
    },

    // ---- q163: equal-budget shard planning via distributed prefix sums -----
    // The writer-fan-out planner: S tokenizer shards should each carry
    // ~equal character mass, with docs kept CONTIGUOUS in corpus order
    // (resumable, locality-friendly) — i.e. shard(doc) = floor(mass
    // strictly before doc / budget). The exclusive running mass is
    // GlobalIds.prefixSum (range partition -> per-partition window sum +
    // broadcast partition-total offsets — never a one-reducer window) and
    // the shard id is one integer map-side expression with
    // budget = ceil(total/S), so every shard lands within one max-doc of
    // the budget. Per-shard accounting hash-checks against the oracle's
    // cumulative window.
    QueryDef(
      "q163_shard_plan",
      s"""WITH c AS (
         |  SELECT doc_id, n_chars,
         |    COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |  FROM documents),
         |tot AS (SELECT SUM(n_chars) AS tw FROM documents),
         |sh AS (
         |  SELECT doc_id, n_chars,
         |    cumb // ((tw + $SHARD_S - 1) // $SHARD_S) AS shard
         |  FROM c CROSS JOIN tot)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM sh GROUP BY shard
         |ORDER BY shard""".stripMargin) { (s, d) =>
      val withPrefix = graft.operators.GlobalIds.prefixSum(
        Tables.documents(s, d).select("doc_id", "n_chars"),
        Seq(col("doc_id")), "n_chars", "cumb")
      val tot = Tables.documents(s, d)
        .agg(sum(col("n_chars")).as("tw"))
      withPrefix.crossJoin(broadcast(tot))
        .withColumn("shard",
          expr(s"cumb DIV ((tw + ${SHARD_S - 1}) DIV $SHARD_S)"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("shard_chars"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("shard")
    },

    // ---- q102: per-source distribution divergence (corpus-drift audit) -----
    // The data-card metric behind mixture monitoring: how far each
    // source's unigram distribution sits from the corpus-wide one, as
    // Jensen-Shannon divergence. Only tokens PRESENT in the source carry a
    // data-dependent term — the mass of corpus tokens absent from the
    // source contributes ln(2)/2·(1 − Σ_present Q) in closed form — so the
    // whole query is two keyed count aggs + one keyed join + per-source
    // decimal sums; nothing ever materializes the |sources|×|vocab| dense
    // matrix. Cross-engine: identical double expressions inside, exact
    // DECIMAL(38,20) summation, one DECIMAL(18,8) rounding at the end.
    QueryDef(
      "q102_source_divergence",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |sc AS (SELECT source, w, COUNT(*) AS cs FROM tok GROUP BY source, w),
        |cc AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
        |tots AS (SELECT source, SUM(cs) AS ts FROM sc GROUP BY source),
        |tot AS (SELECT COUNT(*) AS t FROM tok),
        |terms AS (
        |  SELECT sc.source,
        |    CAST(0.5 * ((CAST(cs AS DOUBLE)/ts) * ln(2*(CAST(cs AS DOUBLE)/ts) / (CAST(cs AS DOUBLE)/ts + CAST(c AS DOUBLE)/t))
        |              + (CAST(c AS DOUBLE)/t) * ln(2*(CAST(c AS DOUBLE)/t) / (CAST(cs AS DOUBLE)/ts + CAST(c AS DOUBLE)/t)))
        |      AS DECIMAL(38,20)) AS term,
        |    CAST(CAST(c AS DOUBLE)/t AS DECIMAL(38,20)) AS q
        |  FROM sc JOIN cc USING (w) JOIN tots USING (source) CROSS JOIN tot),
        |agg AS (
        |  SELECT source, COUNT(*) AS n_distinct,
        |    CAST(SUM(term) AS DOUBLE) AS tsum, CAST(SUM(q) AS DOUBLE) AS qsum
        |  FROM terms GROUP BY source)
        |SELECT a.source, CAST(t.ts AS BIGINT) AS n_tokens,
        |  CAST(a.n_distinct AS BIGINT) AS n_distinct,
        |  CAST(CAST(a.tsum + ln(2)/2 * (1 - a.qsum) AS DECIMAL(18,8)) AS DOUBLE) AS js_div
        |FROM agg a JOIN tots t ON t.source = a.source
        |ORDER BY a.source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val tok = Tables.documentsSpread(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .persist() // per-(source, token) and corpus-wide count passes share it
      val sc = tok.groupBy("source", "w").agg(count(lit(1)).as("cs"))
      val cc = tok.groupBy("w").agg(count(lit(1)).as("c"))
      val tots = sc.groupBy("source").agg(sum(col("cs")).as("ts"))
      val tot = tok.agg(count(lit(1)).as("t"))
      val p = col("cs").cast("double") / col("ts")
      val q = col("c").cast("double") / col("t")
      val terms = sc.join(cc, "w")
        .join(broadcast(tots), "source")
        .crossJoin(broadcast(tot))
        .select(col("source"),
          (lit(0.5) * (p * log(lit(2) * p / (p + q)) + q * log(lit(2) * q / (p + q))))
            .cast(DecimalType(38, 20)).as("term"),
          q.cast(DecimalType(38, 20)).as("q"))
      val agg = terms.groupBy("source")
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("term")).cast("double").as("tsum"),
          sum(col("q")).cast("double").as("qsum"))
      agg.join(broadcast(tots), "source")
        .select(col("source"), col("ts").as("n_tokens"), col("n_distinct"),
          (col("tsum") + log(lit(2.0)) / 2 * (lit(1) - col("qsum")))
            .cast(DecimalType(18, 8)).cast("double").as("js_div"))
        .orderBy("source")
    },

    // ---- q115: vocabulary encoding — tokens to ids with an unk bucket ------
    // The tokenize-to-ids step that feeds every training run: a 512-term
    // vocabulary (global count desc, term asc — fully deterministic ids
    // from a dense row_number), broadcast against the token stream;
    // out-of-vocabulary tokens map to id 0. Per-doc output keeps the
    // aggregate contract hash-friendly while still pinning SEQUENCE
    // order: ids_checksum = Σ position·id is order-sensitive, so a
    // correct id sequence in the wrong order cannot pass. The vocab
    // build is two partial-agg-friendly passes; the encode is one
    // broadcast join — nothing shuffles the corpus.
    QueryDef(
      "q115_vocab_encode",
      """WITH counts AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  GROUP BY term),
        |vocab AS (
        |  SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term)
        |    AS BIGINT) AS id
        |  FROM counts QUALIFY id <= 512),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents)
        |SELECT t.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unk,
        |  CAST(SUM(t.pos * COALESCE(v.id, 0)) AS BIGINT) AS ids_checksum
        |FROM toks t LEFT JOIN vocab v ON v.term = t.term
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documentsSpread(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos0", "term")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("term"))
      // top-512 via TakeOrderedAndProject FIRST (scalable), then the dense
      // row_number window runs over only the 512 survivors
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(512)
        .select(col("term"), row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("term"))).cast("long").as("id"))
      toks.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_unk"),
          sum(col("pos") * coalesce(col("id"), lit(0L))).as("ids_checksum"))
        .orderBy("doc_id")
    },

    // ---- q129: weighted (importance) sampling ------------------------------
    // The quality-weighted downsampling step between scoring and training:
    // keep each document with probability proportional to a per-doc weight
    // (here length-derived, capped at 1 — any score column plugs in), via
    // the salted-md5 uniform already powering q68's split: u(doc) is 52
    // md5 bits scaled to [0,1), keep iff u < weight. Deterministic and
    // seed-stable across engines AND across runs — re-running the pipeline
    // reproduces the exact sample, which is what makes training corpora
    // auditable. Pure map-side: no shuffle, no state; at 100 TB this is a
    // free rider on the first scan (cf. Sampling.scala's salted buckets).
    QueryDef(
      "q129_weighted_sample",
      s"""WITH w AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS ntok,
         |    LEAST(1.0, len(string_split(text, ' ')) / $WS_NTOK_SCALE.0) AS keep_w,
         |    ('0x' || substring(md5('$WS_SALT:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
         |      / 4503599627370496.0 AS u
         |  FROM documents)
         |SELECT doc_id, source, CAST(ntok AS BIGINT) AS ntok,
         |  CAST(CAST(keep_w AS DECIMAL(18,8)) AS DOUBLE) AS keep_w
         |FROM w
         |WHERE u < keep_w
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ntok = size(split(col("text"), " "))
      val keepW = least(lit(1.0), ntok / lit(WS_NTOK_SCALE.toDouble))
      val u = conv(substring(md5(concat(lit(s"$WS_SALT:"),
        col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long") /
        lit(4503599627370496.0) // 2^52: 13 hex chars → uniform [0,1)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), ntok.as("ntok"),
          keepW.as("keep_w"), u.as("__u"))
        .filter(col("__u") < col("keep_w"))
        .select(col("doc_id"), col("source"), col("ntok").cast("long").as("ntok"),
          col("keep_w").cast(DecimalType(18, 8)).cast("double").as("keep_w"))
        .orderBy("doc_id")
    },

    // ---- q141: model-based quality classification --------------------------
    // The fasttext-classifier stand-in every modern corpus pipeline runs
    // after rule filters: a linear model over the q70 feature family
    // (ntok, awl, symratio, nstop) with literal weights, thresholded at
    // logit ≥ 0. Deliberately NO sigmoid — exp() is libm-dependent and
    // not bit-stable cross-engine, while the linear logit is monotone in
    // the probability, so the classification is identical and the whole
    // query stays hash-checkable. Pure map-side scoring + one keyed agg;
    // swapping in learned weights is a literal change. min/max logits
    // ride through as exact doubles (no decimal re-round, cf. q133).
    QueryDef(
      "q141_quality_classifier",
      s"""WITH f AS (
         |  SELECT source, ${qualityExprsSql}
         |  FROM documents),
         |scored AS (
         |  -- e-notation literals parse as DOUBLE in DuckDB; plain 0.02
         |  -- would parse as DECIMAL and run exact decimal arithmetic,
         |  -- drifting an ulp from Spark's double evaluation
         |  SELECT source,
         |    -3e0 + 2e-2 * ntok + 6e-1 * awl - 25e0 * symratio + 8e-1 * nstop AS logit
         |  FROM f)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN logit >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  MIN(logit) AS min_logit, MAX(logit) AS max_logit
         |FROM scored
         |GROUP BY source
         |ORDER BY source""".stripMargin) { (s, d) =>
      val toks = split(col("text"), " ")
      val ntok = size(toks)
      val awl = aggregate(transform(toks, x => length(x)), lit(0), (a, x) => a + x) *
        lit(1.0) / ntok
      val symratio = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9 ]"), lit(0))) *
        lit(1.0) / col("n_chars")
      val nstop = size(filter(toks, x => x.isin(ALL_STOPS: _*)))
      val logit = lit(-3.0) + lit(0.02) * ntok + lit(0.6) * awl -
        lit(25.0) * symratio + lit(0.8) * nstop
      Tables.documentsSpread(s, d)
        .select(col("source"), logit.as("logit"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("logit") >= 0, 1L).otherwise(0L)).as("n_kept"),
          min(col("logit")).as("min_logit"), max(col("logit")).as("max_logit"))
        .orderBy("source")
    },

    // ---- q148: classifier evaluation against the rule gate -----------------
    // The eval harness a model-based filter ships with: score every doc
    // with q141's linear model AND the q70 rule gate, then per source
    // emit the confusion counts (rule gate as reference labels) plus
    // precision/recall. Counts are exact integers; the ratios are IEEE
    // divisions of identical integers (identical bits, no rounding).
    // One scan, one keyed agg — the evaluation rides the scoring pass.
    QueryDef(
      "q148_classifier_eval",
      s"""WITH f AS (
         |  SELECT source, n_chars, ${qualityExprsSql}
         |  FROM documents),
         |scored AS (
         |  SELECT source,
         |    (-3e0 + 2e-2 * ntok + 6e-1 * awl - 25e0 * symratio + 8e-1 * nstop)
         |      >= 0e0 AS pred,
         |    ($QualityCondSql) AS truth
         |  FROM f)
         |SELECT source,
         |  CAST(SUM(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(SUM(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(SUM(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(SUM(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |  CASE WHEN SUM(CASE WHEN pred THEN 1 ELSE 0 END) = 0 THEN 0e0
         |       ELSE SUM(CASE WHEN pred AND truth THEN 1 ELSE 0 END) * 1e0
         |            / SUM(CASE WHEN pred THEN 1 ELSE 0 END) END AS precision,
         |  CASE WHEN SUM(CASE WHEN truth THEN 1 ELSE 0 END) = 0 THEN 0e0
         |       ELSE SUM(CASE WHEN pred AND truth THEN 1 ELSE 0 END) * 1e0
         |            / SUM(CASE WHEN truth THEN 1 ELSE 0 END) END AS recall
         |FROM scored
         |GROUP BY source
         |ORDER BY source""".stripMargin) { (s, d) =>
      val toks = split(col("text"), " ")
      val ntok = size(toks)
      val awl = aggregate(transform(toks, x => length(x)), lit(0), (a, x) => a + x) *
        lit(1.0) / ntok
      val symratio = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9 ]"), lit(0))) *
        lit(1.0) / col("n_chars")
      val nstop = size(filter(toks, x => x.isin(ALL_STOPS: _*)))
      val logit = lit(-3.0) + lit(0.02) * ntok + lit(0.6) * awl -
        lit(25.0) * symratio + lit(0.8) * nstop
      val scored = Tables.documentsSpread(s, d)
        .select(col("source"), (logit >= 0.0).as("pred"), qualityPassAll.as("truth"))
      def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
      scored.groupBy("source")
        .agg(cnt(col("pred") && col("truth")).as("tp"),
          cnt(col("pred") && !col("truth")).as("fp"),
          cnt(!col("pred") && col("truth")).as("fn"),
          cnt(!col("pred") && !col("truth")).as("tn"),
          when(cnt(col("pred")) === 0, lit(0.0))
            .otherwise(cnt(col("pred") && col("truth")) * lit(1.0) / cnt(col("pred")))
            .as("precision"),
          when(cnt(col("truth")) === 0, lit(0.0))
            .otherwise(cnt(col("pred") && col("truth")) * lit(1.0) / cnt(col("truth")))
            .as("recall"))
        .orderBy("source")
    },

    // ---- q133: per-source quality prior with shrinkage ---------------------
    // Domain-level filtering needs a per-source quality estimate, but raw
    // per-source means are noise for small sources — the standard fix is
    // empirical-Bayes shrinkage toward the corpus mean: shrunk =
    // (n·m + K·g) / (n + K), weight following the evidence. Per-doc score
    // here is the distinct-token ratio (any q70-family score plugs in).
    // Two partial-agg-friendly aggregations + a 1-row broadcast; every
    // mean rides the decimal-sum trick and the final arithmetic is a
    // fixed IEEE expression tree over identical inputs, so the priors are
    // hash-comparable cross-engine.
    QueryDef(
      "q133_domain_prior",
      s"""WITH perdoc AS (
         |  SELECT source,
         |    len(list_distinct(string_split(text, ' '))) * 1.0
         |      / len(string_split(text, ' ')) AS r
         |  FROM documents),
         |per_source AS (
         |  SELECT source, COUNT(*) AS n,
         |    CAST(SUM(CAST(r AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS m
         |  FROM perdoc GROUP BY source),
         |corpus AS (
         |  SELECT CAST(SUM(CAST(r AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS g
         |  FROM perdoc)
         |SELECT source, CAST(n AS BIGINT) AS n_docs,
         |  m AS raw_mean,
         |  (n * m + $PRIOR_K * corpus.g) / (n + $PRIOR_K) AS shrunk_mean
         |FROM per_source, corpus
         |ORDER BY source""".stripMargin) { (s, d) =>
      val toks = split(col("text"), " ")
      val perdoc = Tables.documents(s, d)
        .select(col("source"),
          (size(array_distinct(toks)) * lit(1.0) / size(toks)).as("r"))
      val perSource = perdoc.groupBy("source")
        .agg(count(lit(1)).as("n"),
          (sum(col("r").cast(DecimalType(18, 8))).cast("double") /
            count(lit(1))).as("m"))
      val global = perdoc
        .agg((sum(col("r").cast(DecimalType(18, 8))).cast("double") /
          count(lit(1))).as("g"))
      perSource.crossJoin(broadcast(global))
        .select(col("source"), col("n").as("n_docs"),
          // NO decimal re-round of the quotients: IEEE division of
          // identical decimal-sum inputs is already bit-identical, while
          // double->DECIMAL(18,8) rounding hits half-boundaries where
          // Spark (HALF_UP) and DuckDB (half-even) disagree (bit at sf0.1)
          col("m").as("raw_mean"),
          ((col("n") * col("m") + lit(PRIOR_K) * col("g")) / (col("n") + lit(PRIOR_K)))
            .as("shrunk_mean"))
        .orderBy("source")
    },

    // ---- q173: deterministic epoch shuffle (training-order permutation) ----
    // Every training run needs a different-but-reproducible global order
    // per epoch. The shuffle key is md5(epoch:doc_id) — deterministic,
    // uniform, epoch-salted — and the position comes from GlobalIds.assign
    // (range partition on the hash + per-partition rank + broadcast
    // offsets), NOT a one-reducer ROW_NUMBER: at 100 TB the "shuffle" is a
    // balanced range exchange on a uniform key, the one sort shape with
    // provably no skew. The audit output is the per-(epoch, source)
    // position profile — count, min/max, mean position — which doubles as
    // the interleaving check: a uniform hash order must give every source
    // a mean position near the corpus midpoint, so a source whose docs
    // clump (mean far from n/2) would expose a broken shuffle key.
    QueryDef(
      "q173_epoch_shuffle",
      """WITH e0 AS (
        |  SELECT doc_id, source, 0 AS epoch,
        |    ROW_NUMBER() OVER (ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR))) AS pos
        |  FROM documents),
        |e1 AS (
        |  SELECT doc_id, source, 1 AS epoch,
        |    ROW_NUMBER() OVER (ORDER BY md5('ep1:' || CAST(doc_id AS VARCHAR))) AS pos
        |  FROM documents),
        |u AS (SELECT * FROM e0 UNION ALL SELECT * FROM e1)
        |SELECT CAST(epoch AS BIGINT) AS epoch, source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(pos) AS BIGINT) AS min_pos,
        |  CAST(MAX(pos) AS BIGINT) AS max_pos,
        |  CAST(SUM(pos) AS BIGINT) AS pos_sum,
        |  CAST(CAST(SUM(pos) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_pos
        |FROM u GROUP BY epoch, source
        |ORDER BY epoch, source""".stripMargin) { (s, d) =>
      val epochs = Seq(0L, 1L).map { e =>
        val hashed = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            md5(concat(lit(s"ep$e:"), col("doc_id").cast("string"))).as("h"))
        graft.operators.GlobalIds.assign(hashed, Seq(col("h")), "pos")
          .withColumn("epoch", lit(e))
      }
      epochs.reduce(_ unionByName _)
        .groupBy("epoch", "source")
        .agg(count(lit(1)).as("n_docs"),
          min(col("pos")).as("min_pos"),
          max(col("pos")).as("max_pos"),
          sum(col("pos")).as("pos_sum"),
          (sum(col("pos")).cast("double") / count(lit(1))).as("mean_pos"))
        .orderBy("epoch", "source")
    },

    // ---- q174: winsorization at exact percentile cuts ----------------------
    // Robust-statistics preprocessing: clip the length distribution at the
    // exact p1/p99 order statistics before any mean-based budget math, so
    // a handful of pathological documents can't drag per-source averages.
    // The cuts come from the q156 refinement engine (never a global sort
    // of the corpus — driver state is counts-of-buckets only); the clip
    // itself is a pure map-side LEAST/GREATEST against two broadcast
    // scalars. Output: per-source clip counts and the clipped-vs-raw mean
    // — the before/after picture a mixture planner reads.
    QueryDef(
      "q174_winsorize",
      """WITH v AS (SELECT source, n_chars AS x FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM v),
        |r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v),
        |cuts AS (SELECT
        |  (SELECT r.x FROM r, n WHERE r.rn = GREATEST(1, (n.n * 1 + 99) // 100)) AS lo,
        |  (SELECT r.x FROM r, n WHERE r.rn = GREATEST(1, (n.n * 99 + 99) // 100)) AS hi)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
        |  CAST(SUM(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
        |  CAST(SUM(LEAST(GREATEST(x, lo), hi)) AS BIGINT) AS clipped_sum,
        |  CAST(CAST(SUM(LEAST(GREATEST(x, lo), hi)) AS BIGINT) AS DOUBLE) / COUNT(*) AS clipped_mean,
        |  CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) / COUNT(*) AS raw_mean
        |FROM v CROSS JOIN cuts
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("long").as("x"))
      val cuts = graft.operators.Quantiles
        .exactPercentiles(docs, "x", Seq(1, 99))
      val lo = cuts.head._3
      val hi = cuts.last._3
      val clipped = least(greatest(col("x"), lit(lo)), lit(hi))
      docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("x") < lo, 1L).otherwise(0L)).as("n_clipped_low"),
          sum(when(col("x") > hi, 1L).otherwise(0L)).as("n_clipped_high"),
          sum(clipped).as("clipped_sum"),
          (sum(clipped).cast("double") / count(lit(1))).as("clipped_mean"),
          (sum(col("x")).cast("double") / count(lit(1))).as("raw_mean"))
        .orderBy("source")
    },

    // ---- q197: population-stability drift monitor (PSI) --------------------
    // The ML-monitoring complement of q176's CUSUM (rate drift over time):
    // PSI measures DISTRIBUTION shift between two corpus slices —
    // Σ (q̂ᵢ − p̂ᵢ)·ln(q̂ᵢ/p̂ᵢ) over fixed feature bins — the standard gate
    // ("PSI < 0.1 stable / > 0.25 retrain") every training-data ingest
    // runs between the reference window and the current one before a
    // model sees the batch. Slices here are doc_id parity (a portable
    // stand-in for two ingest windows), feature = document length in
    // fixed 256-char bins, and both bin proportions are Laplace-smoothed
    // ((n+1)/(N+B)) so empty bins contribute a finite, well-defined term
    // instead of ±∞. Cross-engine bit-stability is the q93 ln discipline:
    // every ln argument is a quotient of exact integer-derived doubles
    // (identical IEEE value both engines), each term is a fixed
    // expression tree rounded to DECIMAL(18,8).
    //
    // 100 TB shape: one scan → one 8-group aggregation with map-side
    // combine; the two slice totals are one broadcast scalar row; the
    // per-bin table is B rows. Nothing else — drift monitoring must be
    // (and is) the cheapest query in the pipeline.
    QueryDef(
      "q197_distribution_drift", PSI_ORACLE) { (s, d) =>
      // plain documents scan — NOT documentsSpread: the per-row work is
      // one div, so a pre-repartition would shuffle the whole table for
      // an 8-group agg whose map-side partials already collapse it
      psiFinalize(s, psiBinCounts(Tables.documents(s, d)))
    },

    // ---- q216: streaming PSI drift gate -------------------------------------
    // q197's monitor made incremental — the q105/q116/q130/q205
    // shared-oracle pairing applied to drift: each micro-batch reduces to
    // its own ≤ 8-row bin-count increment persisted under batch_id
    // (idempotent batch-dir overwrite under at-least-once batch
    // replay), and the gate's answer sum-merges the stored increments.
    // Because bin counts merge by exact addition, the merged histogram is
    // IDENTICAL to the one-pass scan no matter how ingest was batched —
    // so the streaming gate hash-matches q197's oracle VERBATIM, and a
    // retrain decision never rescans ingest history. That is the shape a
    // production drift monitor actually runs: O(bins) state per batch,
    // O(batches · bins) total, zero re-reads.
    QueryDef(
      "q216_stream_drift_gate", PSI_ORACLE) { (s, d) =>
      val srcDir = TextDedupPack.stagedDocBatches(s, d)
      val store = Stage.cleared("graft-q216-psi-", d)
      Streams.replay(s, srcDir, ())((_, batch, batchId) =>
        Stage.append(store.toString, batchId,
          psiBinCounts(batch)))
      val merged = s.read.parquet(store.toString)
        .groupBy("bin")
        .agg(sum(col("ref_n")).as("ref_n"), sum(col("cur_n")).as("cur_n"))
      psiFinalize(s, merged)
    },

    // ---- q202: DSIR-style importance selection toward a target slice -------
    // Data Selection via Importance Resampling (Xie et al., NeurIPS 2023 —
    // public literature), the unigram face: pick the raw-corpus documents
    // most like a curated TARGET slice by likelihood ratio under two
    // add-one-smoothed unigram LMs. Per token t over the shared vocabulary
    // (q93's min-count gate, fit on the FULL corpus so both sides share
    // one V): λ(t) = ln p_target(t) − ln p_rest(t), each an IEEE ln of an
    // exact-integer quotient (the q93 discipline); OOV tokens hit the
    // shared constant λ = ln((Tr+V+1)/(Tt+V+1)) through the SAME formula
    // with c=0, so no token escapes scoring. Per-doc importance = the
    // token-AVERAGE λ (length-normalized, or long docs would win on token
    // count alone), summed in DECIMAL(38,20) — exact, order-independent —
    // rounded DECIMAL(18,8) and floored to integer basis points. The
    // SELECTION is the q136 mergeable-top-k discipline: the K most
    // target-like docs via the fixed-state TopKRows aggregator — never a
    // corpus-wide rank window. (DSIR's stochastic Gumbel resampling draw
    // needs engine RNG; the deterministic hard-selection face is what a
    // hash-checkable engine can replay, and the sampling variant is one
    // priority-key swap away via q155's machinery.)
    //
    // 100 TB shape: two token-count aggs (map-side combined, vocab-sized
    // model tables) + one broadcast scalar row; scoring is one left join
    // of the token stream against the broadcastable λ model + one per-doc
    // agg; selection is fixed-k mergeable state per partition. Nothing
    // corpus-sorted, nothing quadratic.
    QueryDef(
      "q202_dsir_selection",
      s"""WITH norm AS (
         |  SELECT doc_id, source,
         |    list_filter(string_split(trim(regexp_replace(regexp_replace(lower(text),
         |      '[^a-z ]', '', 'g'), '  *', ' ', 'g')), ' '), x -> x <> '') AS t
         |  FROM documents),
         |tok AS (SELECT doc_id, source, unnest(t) AS tok FROM norm),
         |cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
         |vocab AS (SELECT tok FROM cnt WHERE c >= $LM_MIN_COUNT),
         |tcnt AS (SELECT tok, COUNT(*) AS ct FROM tok
         |         WHERE source IN $DSIR_TARGET_SQL AND tok IN (SELECT tok FROM vocab)
         |         GROUP BY tok),
         |rcnt AS (SELECT tok, COUNT(*) AS cr FROM tok
         |         WHERE source NOT IN $DSIR_TARGET_SQL AND tok IN (SELECT tok FROM vocab)
         |         GROUP BY tok),
         |scal AS (
         |  SELECT
         |    (SELECT COUNT(*) FROM tok WHERE source IN $DSIR_TARGET_SQL) AS Tt,
         |    (SELECT COUNT(*) FROM tok WHERE source NOT IN $DSIR_TARGET_SQL) AS Tr,
         |    (SELECT COUNT(*) FROM vocab) AS V),
         |scored AS (
         |  SELECT doc_id,
         |    CAST(ln((COALESCE(t.ct, 0) + 1.0) / (Tt + V + 1.0))
         |       - ln((COALESCE(r.cr, 0) + 1.0) / (Tr + V + 1.0))
         |      AS DECIMAL(38,20)) AS lam
         |  FROM tok
         |  LEFT JOIN tcnt t USING (tok) LEFT JOIN rcnt r USING (tok)
         |  CROSS JOIN scal),
         |docs AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |    CAST(FLOOR(CAST(CAST(CAST(SUM(lam) AS DOUBLE) / COUNT(*)
         |      AS DECIMAL(18,8)) AS DOUBLE) * 10000.0) AS BIGINT) AS imp_bp
         |  FROM scored GROUP BY doc_id)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY imp_bp DESC, doc_id) AS BIGINT)
         |    AS rk,
         |  doc_id, n_tok, imp_bp
         |FROM docs
         |QUALIFY rk <= $DSIR_K
         |ORDER BY rk""".stripMargin) { (s, d) =>
      val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z ]", ""), "  *", " "))
      // token stream scanned four times (vocab fit + two side counts +
      // scoring) — persisted, the q93 convention (lazy consumers all the
      // way down, so the cache must outlive the returned plan; Bench
      // clears caches between queries)
      val tok = Tables.documentsSpread(s, d)
        .select(col("doc_id"), col("source"),
          explode(filter(split(norm, " "), x => x =!= "")).as("tok"))
        .persist()
      val inTarget = col("source").isin(DSIR_TARGET: _*)
      val vocab = tok.groupBy("tok").agg(count(lit(1)).as("c"))
          .filter(col("c") >= LM_MIN_COUNT).select("tok")
      val tcnt = tok.filter(inTarget).join(vocab, "tok")
          .groupBy("tok").agg(count(lit(1)).as("ct"))
      val rcnt = tok.filter(!inTarget).join(vocab, "tok")
          .groupBy("tok").agg(count(lit(1)).as("cr"))
      val scal = tok.agg(
          sum(when(inTarget, 1L).otherwise(0L)).as("Tt"),
          sum(when(inTarget, 0L).otherwise(1L)).as("Tr"))
          .crossJoin(broadcast(vocab.agg(count(lit(1)).as("V"))))
      val lam =
          (log((coalesce(col("ct"), lit(0L)) + lit(1.0)) /
            (col("Tt") + col("V") + lit(1.0)))
            - log((coalesce(col("cr"), lit(0L)) + lit(1.0)) /
              (col("Tr") + col("V") + lit(1.0))))
            .cast(DecimalType(38, 20))
      val docs = tok
          .join(tcnt, Seq("tok"), "left")
          .join(rcnt, Seq("tok"), "left")
          .crossJoin(broadcast(scal))
          .select(col("doc_id"), lam.as("lam"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            floor((sum(col("lam")).cast("double") / count(lit(1)))
              .cast(DecimalType(18, 8)).cast("double") * 10000.0)
              .cast("long").as("imp_bp"))
      val topk = udaf(new graft.functions.TopKRows(DSIR_K))
      val sel = docs
          .agg(topk(col("imp_bp").cast("double"), col("doc_id"), lit(0L)).as("tk"))
          .select(posexplode(col("tk")).as(Seq("pos", "row")))
          .select((col("pos") + 1).cast("long").as("rk"),
            col("row._2").as("doc_id"))
      // rejoin the K selected ids (broadcast — fixed-k by construction)
      // for their per-doc stats
      docs.join(broadcast(sel), "doc_id")
          .select(col("rk"), col("doc_id"), col("n_tok"), col("imp_bp"))
          .orderBy("rk")
    },

    // ---- q245: excess-loss domain reweighting (one MW round) -----------------
    // The mixture-update step behind DoReMi-style domain reweighting (Xie
    // et al., NeurIPS 2023 — public literature): domains whose loss under
    // the reference model exceeds the corpus average get MORE weight next
    // round. Reference loss = q93's add-one unigram NLL (the model comes
    // from unigramNllTokens VERBATIM, so the reweighter and the per-doc
    // scorer cannot drift); excess_i = mean-NLL(domain) − mean-NLL(corpus),
    // both DECIMAL(18,8)-rounded under the q93 ln discipline. The
    // multiplicative-weights update is LINEARIZED so it stays replayable:
    // delta_bp = floor(2500·excess) — an exp() step would reintroduce a
    // libm surface for no semantic gain at one round — applied to the
    // token-proportional baseline, floored at 1 bp (no domain starves to
    // zero), renormalized to basis points by integer division. The output
    // IS the next sampling plan: a q215/q97-style mixture table, now
    // loss-aware.
    //
    // 100 TB shape: one scored-token pass (the q93 shape: bounded-vocab
    // model broadcast onto the token stream, map-side-combined per-domain
    // sums), then a catalog-sized domain ledger — the global scalar and
    // the renormalizer are broadcast one-row frames. Nothing iterates at
    // corpus scale; one MW round per corpus pass is exactly the DoReMi
    // loop's per-epoch cost.
    QueryDef(
      "q245_domain_reweight",
      s"""WITH $UNIGRAM_NLL_CTES,
         |dom AS (SELECT doc_id, source FROM documents),
         |sd AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok, SUM(nll) AS snll
         |  FROM scored JOIN dom USING (doc_id) GROUP BY source),
         |gl AS (
         |  SELECT CAST(SUM(n_tok) AS BIGINT) AS gt,
         |    CAST(CAST(CAST(SUM(snll) AS DOUBLE) / SUM(n_tok)
         |      AS DECIMAL(18,8)) AS DOUBLE) AS gmean
         |  FROM sd),
         |ex AS (
         |  SELECT source, n_tok,
         |    CAST(CAST(CAST(snll AS DOUBLE) / n_tok AS DECIMAL(18,8))
         |      AS DOUBLE) AS mean_nll,
         |    gt, gmean
         |  FROM sd CROSS JOIN gl),
         |upd AS (
         |  SELECT source, n_tok, mean_nll,
         |    CAST(CAST(mean_nll - gmean AS DECIMAL(18,8)) AS DOUBLE) AS excess,
         |    CAST(10000 * n_tok // gt AS BIGINT) AS base_bp,
         |    CAST(FLOOR(CAST(2500.0 AS DOUBLE) *
         |      CAST(CAST(mean_nll - gmean AS DECIMAL(18,8)) AS DOUBLE))
         |      AS BIGINT) AS delta_bp
         |  FROM ex),
         |raws AS (
         |  SELECT *, GREATEST(base_bp + delta_bp, 1) AS rw FROM upd),
         |tot AS (SELECT CAST(SUM(rw) AS BIGINT) AS tr FROM raws)
         |SELECT source, n_tok, mean_nll, excess, base_bp, delta_bp,
         |  CAST(10000 * rw // tr AS BIGINT) AS new_bp
         |FROM raws CROSS JOIN tot
         |ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val dom = Tables.documents(s, d).select("doc_id", "source")
      val sd = unigramNllTokens(s, d)
        .join(dom, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tok"), sum(col("nll")).as("snll"))
        .persist() // feeds the global scalar AND the per-domain ledger
      val gl = sd.agg(sum(col("n_tok")).as("gt"),
        (sum(col("snll")).cast("double") / sum(col("n_tok")))
          .cast(DecimalType(18, 8)).cast("double").as("gmean"))
      val upd = sd.crossJoin(broadcast(gl))
        .select(col("source"), col("n_tok"),
          (col("snll").cast("double") / col("n_tok"))
            .cast(DecimalType(18, 8)).cast("double").as("mean_nll"),
          col("gt"), col("gmean"))
        .withColumn("excess",
          (col("mean_nll") - col("gmean"))
            .cast(DecimalType(18, 8)).cast("double"))
        .withColumn("base_bp", expr("10000 * n_tok div gt"))
        .withColumn("delta_bp",
          floor(lit(2500.0) * col("excess")).cast("long"))
        .withColumn("rw",
          greatest(col("base_bp") + col("delta_bp"), lit(1L)))
        .persist() // feeds the renormalizer AND the output
      val tot = upd.agg(sum(col("rw")).as("tr"))
      upd.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tok"), col("mean_nll"), col("excess"),
          col("base_bp"), col("delta_bp"),
          expr("10000 * rw div tr").as("new_bp"))
        .orderBy("source")
    },

    // ---- q209: interpolated Kneser-Ney bigram model -------------------------
    // The LM-smoothing capstone over q162's bigram machinery: add-one
    // smoothing (q93/q162) over-weights unseen mass; production n-gram
    // filters (KenLM) use Kneser-Ney (Kneser & Ney '95; Chen & Goodman '98)
    // — absolute discount d plus a CONTINUATION-probability backoff
    // P_cont(w) = N1+(·w)/N1+(··) ("how many distinct histories precede w",
    // not "how often does w occur"). With d = 3/4, the whole model is
    // exact rational arithmetic: over common denominator 4·c(v)·N,
    //   P(w|v) = [ (4·c(vw) − 3)·N + 3·N1+(v·)·N1+(·w) ] / (4·c(v)·N)
    // — num and den are emitted as BIGINTs (the bit-exact cross-engine
    // check; no floating point anywhere in the model), and p_kn is their
    // one IEEE quotient under the q93 DECIMAL(18,8) rounding. Seen-mass
    // property Σ_w P(w|v) ≤ 1 is pinned in TrainingOpsSpec. num stays
    // under 2^53 while c(vw)·N_distinct_bigrams < 2.2·10¹⁵ — beyond any
    // realistic single-model fit (KenLM prunes first); the den product is
    // the same order.
    //
    // 100 TB shape: q162's exact plan skeleton — one bigram explode
    // (map-side), three keyed aggs over the DISTINCT-bigram table (c1/N1v
    // per v, N1w per w, one scalar N — all partial-agg friendly, the c2
    // table persisted for its four consumers), keyed joins back, and the
    // min-count output filter bounds what's emitted, not what's modeled.
    QueryDef(
      "q209_kneser_ney",
      s"""WITH norm AS (
         |  SELECT list_filter(string_split(trim(regexp_replace(regexp_replace(lower(text),
         |    '[^a-z ]', '', 'g'), '  *', ' ', 'g')), ' '), x -> x <> '') AS t
         |  FROM documents),
         |bg AS (
         |  SELECT u.a AS a, u.b AS b FROM (
         |    SELECT unnest(list_transform(range(1, len(t)), i -> {a: t[i], b: t[i+1]})) AS u
         |    FROM norm WHERE len(t) >= 2)),
         |c2 AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY a, b),
         |c1 AS (SELECT a, CAST(SUM(c2) AS BIGINT) AS c1,
         |       CAST(COUNT(*) AS BIGINT) AS n1v FROM c2 GROUP BY a),
         |nw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n1w FROM c2 GROUP BY b),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM c2)
         |SELECT c2.a AS a, c2.b AS b, c2.c2 AS c_vw, c1.n1v, nw.n1w,
         |  (c2.c2 * 4 - 3) * nn.nn + c1.n1v * nw.n1w * 3 AS num,
         |  c1.c1 * nn.nn * 4 AS den,
         |  CAST(CAST(CAST((c2.c2 * 4 - 3) * nn.nn + c1.n1v * nw.n1w * 3 AS DOUBLE)
         |    / CAST(c1.c1 * nn.nn * 4 AS DOUBLE) AS DECIMAL(18,8)) AS DOUBLE) AS p_kn
         |FROM c2 JOIN c1 USING (a) JOIN nw USING (b) CROSS JOIN nn
         |WHERE c2.c2 >= $KN_MIN_COUNT
         |ORDER BY a, b""".stripMargin) { (s, d) =>
      val normE = trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z ]", ""), "  *", " "))
      val norm = Tables.documentsSpread(s, d)
        .select(filter(split(normE, " "), x => x =!= "").as("t"))
      val t = col("t")
      val bg = norm.filter(size(t) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(t) - 1),
          i => struct(element_at(t, i).as("a"), element_at(t, i + 1).as("b"))
        )).as("u"))
        .select(col("u.a").as("a"), col("u.b").as("b"))
      // the distinct-bigram table feeds four consumers (c1/n1v, n1w, the
      // scalar N, the output rows) — persisted, the q162 discipline
      val c2 = bg.groupBy("a", "b").agg(count(lit(1)).as("c2")).persist()
      val c1 = c2.groupBy("a")
        .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1v"))
      val nw = c2.groupBy("b").agg(count(lit(1)).as("n1w"))
      val nn = c2.agg(count(lit(1)).as("nn"))
      c2.filter(col("c2") >= KN_MIN_COUNT)
        .join(c1, "a").join(nw, "b").crossJoin(broadcast(nn))
        .withColumn("num",
          (col("c2") * 4 - 3) * col("nn") + col("n1v") * col("n1w") * 3)
        .withColumn("den", col("c1") * col("nn") * 4)
        .select(col("a"), col("b"), col("c2").as("c_vw"),
          col("n1v"), col("n1w"), col("num"), col("den"),
          (col("num").cast("double") / col("den").cast("double"))
            .cast(DecimalType(18, 8)).cast("double").as("p_kn"))
        .orderBy("a", "b")
    },

    // ---- q212: competence-based curriculum schedule --------------------------
    // Curriculum learning's data-side artifact (Platanios et al., NAACL'19):
    // rank every document by difficulty — q93's unigram avg-NLL, the
    // perplexity proxy, shared VERBATIM via UNIGRAM_NLL_CTES so the
    // ordering score cannot drift from the audited one — and assign each
    // doc the FIRST epoch whose competence window admits it, under the
    // published sqrt schedule c(e) = sqrt(e/E): epoch e trains on the
    // easiest floor(N·sqrt(e/E)) docs, so first_epoch(rank) is the
    // smallest e with rank ≤ that cut. sqrt(e/E) for e=1..4 is the same
    // IEEE double in both engines (correctly-rounded sqrt of an exact
    // quotient), so the floor'd cuts replay exactly; ties in avg_nll
    // break on doc_id (total order).
    //
    // 100 TB shape: the global difficulty rank comes from GlobalIds.assign
    // — a balanced range exchange + per-partition rank + broadcast offsets,
    // never a one-reducer ROW_NUMBER; N is one broadcast scalar; the epoch
    // assignment is a pure map-side CASE against 3 floor'd cuts. The
    // per-doc score table is persisted for its two consumers (rank
    // lineage, N).
    QueryDef(
      "q212_curriculum_schedule",
      s"""WITH $UNIGRAM_NLL_CTES,
         |rk AS (
         |  SELECT doc_id, avg_nll,
         |    CAST(ROW_NUMBER() OVER (ORDER BY avg_nll, doc_id) AS BIGINT) AS rank
         |  FROM pd),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pd)
         |SELECT doc_id, avg_nll, rank,
         |  CAST(CASE
         |    WHEN rank <= CAST(floor(CAST(n AS DOUBLE) * sqrt(1.0/4.0)) AS BIGINT) THEN 1
         |    WHEN rank <= CAST(floor(CAST(n AS DOUBLE) * sqrt(2.0/4.0)) AS BIGINT) THEN 2
         |    WHEN rank <= CAST(floor(CAST(n AS DOUBLE) * sqrt(3.0/4.0)) AS BIGINT) THEN 3
         |    ELSE 4 END AS BIGINT) AS first_epoch
         |FROM rk CROSS JOIN nn
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // two consumers (rank lineage + the N scalar) — persisted
      val pd = unigramNllPerDoc(s, d).select("doc_id", "avg_nll").persist()
      val rk = graft.operators.GlobalIds.assign(
        pd, Seq(col("avg_nll"), col("doc_id")), "rank")
      val nn = pd.agg(count(lit(1)).as("n"))
      def cut(e: Int) =
        floor(col("n").cast("double") * lit(math.sqrt(e / 4.0))).cast("long")
      rk.crossJoin(broadcast(nn))
        .select(col("doc_id"), col("avg_nll"), col("rank"),
          when(col("rank") <= cut(1), 1L)
            .when(col("rank") <= cut(2), 2L)
            .when(col("rank") <= cut(3), 3L)
            .otherwise(4L).as("first_epoch"))
        .orderBy("doc_id")
    },

    // ---- q215: temperature-scaled multilingual sampling plan -----------------
    // The published α-sampling policy (XLM-R / mBERT: sample language l
    // with probability ∝ c_l^α, α < 1 upweights low-resource languages)
    // at α = 3/4, made exactly replayable end to end:
    //   * the fractional-power weight floor(c^0.75) is q208's integer
    //     fourth root of c³ — floor(pow) candidate, ±1 pinned by an exact
    //     quartic comparison in DECIMAL(38,0) (internal only, never on
    //     the wire) — exact while c_l < 4.6·10¹² tokens (~23 TB of text
    //     PER LANGUAGE; beyond that the fixture scaling, not this query,
    //     is the thing to revisit);
    //   * every budget product keeps one factor ≤ 10⁴ (the q97 envelope,
    //     exact to ~9·10¹⁴ corpus tokens): share_bp = w·10⁴ div Σw,
    //     quota = (B div 10⁴)·share_bp with B = total div 2, rate_bp =
    //     min(10⁴, quota·10⁴ div c_l) — never a corpus-scale × weight-
    //     scale BIGINT product (the Linkage uModel lesson);
    //   * the realized sample rides the q97 md5-bucket draw (salt
    //     'tmix'), so sampled_docs/tokens replay exactly.
    //
    // 100 TB shape: one scan → one per-lang agg (map-side combined), a
    // |langs|-row weight/rate table broadcast back, one filtered re-agg.
    QueryDef(
      "q215_alpha_sampling_plan",
      """WITH docs AS (
        |  SELECT lang, doc_id, len(string_split(text, ' ')) AS ntok,
        |    ('0x' || substring(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS bucket
        |  FROM documents),
        |per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |        CAST(SUM(ntok) AS BIGINT) AS c FROM docs GROUP BY lang),
        |w0 AS (SELECT lang, n_docs, c,
        |    CAST(c AS DECIMAL(38,0)) * c * c AS c3,
        |    CAST(floor(power(CAST(c AS DOUBLE), 0.75)) AS BIGINT) AS r0 FROM per),
        |wts AS (SELECT lang, n_docs, c,
        |    CASE WHEN CAST(r0 + 1 AS DECIMAL(38,0)) * (r0+1) * (r0+1) * (r0+1) <= c3 THEN r0 + 1
        |         WHEN CAST(r0 AS DECIMAL(38,0)) * r0 * r0 * r0 > c3 THEN r0 - 1
        |         ELSE r0 END AS w
        |  FROM w0),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
        |        CAST(SUM(w) AS BIGINT) AS sw FROM wts),
        |rates AS (
        |  SELECT lang, n_docs, c AS actual_tokens, w AS alpha_weight,
        |    w * 10000 // sw AS share_bp,
        |    (total // 2 // 10000) * (w * 10000 // sw) AS quota_tokens,
        |    LEAST(10000, (total // 2 // 10000) * (w * 10000 // sw) * 10000 // c) AS rate_bp
        |  FROM wts CROSS JOIN tot),
        |sampled AS (
        |  SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS sampled_docs,
        |    CAST(SUM(d.ntok) AS BIGINT) AS sampled_tokens
        |  FROM docs d JOIN rates r ON d.lang = r.lang
        |  WHERE d.bucket < r.rate_bp GROUP BY d.lang)
        |SELECT r.lang, r.n_docs, r.actual_tokens, r.alpha_weight, r.share_bp,
        |  r.quota_tokens, r.rate_bp,
        |  CAST(COALESCE(s.sampled_docs, 0) AS BIGINT) AS sampled_docs,
        |  CAST(COALESCE(s.sampled_tokens, 0) AS BIGINT) AS sampled_tokens
        |FROM rates r LEFT JOIN sampled s ON s.lang = r.lang
        |ORDER BY r.lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok"),
          graft.operators.Sampling.hashBucket(col("doc_id"), "tmix", 10000).as("bucket"))
      val per = docs.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("c"))
      val dec = DecimalType(38, 0)
      val wts = per
        .withColumn("c3", col("c").cast(dec) * col("c") * col("c"))
        .withColumn("r0",
          floor(pow(col("c").cast("double"), lit(0.75))).cast("long"))
        .withColumn("w",
          when((col("r0") + 1).cast(dec) * (col("r0") + 1) * (col("r0") + 1) *
            (col("r0") + 1) <= col("c3"), col("r0") + 1)
            .when(col("r0").cast(dec) * col("r0") * col("r0") * col("r0") > col("c3"),
              col("r0") - 1)
            .otherwise(col("r0")))
        .select("lang", "n_docs", "c", "w")
      val tot = wts.agg(sum(col("c")).as("total"), sum(col("w")).as("sw"))
      val rates = wts.crossJoin(broadcast(tot))
        .withColumn("share_bp", expr("w * 10000 div sw"))
        .withColumn("quota_tokens", expr("total div 2 div 10000") * col("share_bp"))
        .withColumn("rate_bp",
          least(lit(10000L), expr("quota_tokens * 10000 div c")))
        .select(col("lang"), col("n_docs"), col("c").as("actual_tokens"),
          col("w").as("alpha_weight"), col("share_bp"), col("quota_tokens"),
          col("rate_bp"))
      val sampled = docs
        .join(broadcast(rates.select(col("lang"), col("rate_bp"))), "lang")
        .filter(col("bucket") < col("rate_bp"))
        .groupBy("lang")
        .agg(count(lit(1)).as("sampled_docs"), sum(col("ntok")).as("sampled_tokens"))
      rates.join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("actual_tokens"),
          col("alpha_weight"), col("share_bp"), col("quota_tokens"), col("rate_bp"),
          coalesce(col("sampled_docs"), lit(0L)).as("sampled_docs"),
          coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
        .orderBy("lang")
    },

    // ---- q222: per-source boilerplate-line removal (CCNet-style) -------------
    // q82 strips structural markup; this is the CONTENT-level counterpart
    // CCNet applies per crawl source: a line that recurs in more than half
    // of a source's documents (nav text, cookie banners, copyright footers)
    // is boilerplate and is dropped from every doc, whatever the doc says.
    // Planted page = header \n body \n [subscribe] \n footer: header and
    // footer are per-source constants (df = 100% → dropped); the subscribe
    // line rides ~30% of docs (below the 50% cut → kept); the body is the
    // original text. Self-verifying like q82/q221: recovered=1 iff the
    // cleaned page equals body+[subscribe] exactly.
    //
    // 100 TB shape: the line ledger groups on (source, md5(line)) — a
    // fixed-width shuffle key however long the line — with map-side
    // combine; the per-source doc count is a tiny broadcast; the
    // line-level join back is keyed on the same (source, line-hash) pair;
    // the final per-doc agg reassembles kept lines with a bounded
    // per-page sort (pages have O(lines-per-page) entries, never
    // corpus-sized). One scan of documents feeds both sides.
    QueryDef(
      "q222_boilerplate_lines",
      """WITH pl AS (
        |  SELECT doc_id, source,
        |    concat_ws(chr(10),
        |      'site ' || source || ' navigation menu home about',
        |      text,
        |      CASE WHEN doc_id % 10 < 3
        |        THEN 'subscribe to the ' || source || ' newsletter' END,
        |      'copyright ' || source || ' all rights reserved') AS page,
        |    md5(concat_ws(chr(10), text,
        |      CASE WHEN doc_id % 10 < 3
        |        THEN 'subscribe to the ' || source || ' newsletter' END))
        |      AS exp_md5
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, source, exp_md5, u.pos AS pos, u.line AS line,
        |    md5(u.line) AS lh
        |  FROM (
        |    SELECT doc_id, source, exp_md5,
        |      unnest(list_transform(range(1, len(l) + 1),
        |        i -> {pos: i, line: l[i]})) AS u
        |    FROM (SELECT doc_id, source, exp_md5,
        |            string_split(page, chr(10)) AS l FROM pl))),
        |df AS (
        |  SELECT source, lh, COUNT(DISTINCT doc_id) AS dfc
        |  FROM lines GROUP BY source, lh),
        |sd AS (
        |  SELECT source, COUNT(DISTINCT doc_id) AS n_src
        |  FROM documents GROUP BY source),
        |fl AS (
        |  SELECT l.doc_id, l.exp_md5, l.pos, l.line,
        |    CASE WHEN 2 * df.dfc > sd.n_src THEN 1 ELSE 0 END AS bp
        |  FROM lines l
        |  JOIN df ON df.source = l.source AND df.lh = l.lh
        |  JOIN sd ON sd.source = l.source),
        |agg AS (
        |  SELECT doc_id, exp_md5,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(1 - bp) AS BIGINT) AS n_kept,
        |    md5(string_agg(CASE WHEN bp = 0 THEN line END, chr(10)
        |      ORDER BY pos)) AS clean_md5
        |  FROM fl GROUP BY doc_id, exp_md5)
        |SELECT doc_id, n_lines, n_kept, clean_md5,
        |  CAST(CASE WHEN clean_md5 = exp_md5 THEN 1 ELSE 0 END AS BIGINT)
        |    AS recovered
        |FROM agg
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val sub = when(col("doc_id") % 10 < 3,
        concat(lit("subscribe to the "), col("source"), lit(" newsletter")))
      val page = concat_ws("\n",
        concat(lit("site "), col("source"), lit(" navigation menu home about")),
        col("text"), sub,
        concat(lit("copyright "), col("source"), lit(" all rights reserved")))
      val pl = Tables.documentsSpread(s, d)
        .select(col("doc_id"), col("source"), page.as("page"),
          md5(concat_ws("\n", col("text"), sub)).as("exp_md5"))
      val lines = pl
        .select(col("doc_id"), col("source"), col("exp_md5"),
          posexplode(split(col("page"), "\n")).as(Seq("p0", "line")))
        .select(col("doc_id"), col("source"), col("exp_md5"),
          (col("p0") + 1).as("pos"), col("line"), md5(col("line")).as("lh"))
      val dfc = lines.groupBy("source", "lh")
        .agg(countDistinct(col("doc_id")).as("dfc"))
      val sd = Tables.documents(s, d).groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_src"))
      val fl = lines
        .join(dfc, Seq("source", "lh"))
        .join(broadcast(sd), "source")
        .withColumn("bp",
          when(lit(2) * col("dfc") > col("n_src"), 1).otherwise(0))
      fl.groupBy("doc_id", "exp_md5")
        .agg(count(lit(1)).as("n_lines"),
          sum(lit(1) - col("bp")).cast("long").as("n_kept"),
          // all-boilerplate guard (r15, ADVICE): with zero kept lines the
          // array_join over an empty collect_list would md5('') while the
          // oracle's string_agg(CASE...) aggregate is NULL → NULL md5;
          // emit NULL explicitly so both engines agree by construction
          // (unreachable with the current fixture — the body line is
          // unique per doc — but latent divergence is still divergence)
          when(sum(lit(1) - col("bp")) === 0, lit(null).cast("string"))
            .otherwise(md5(array_join(transform(
              array_sort(collect_list(
                when(col("bp") === 0, struct(col("pos"), col("line"))))),
              x => x.getField("line")), "\n"))).as("clean_md5"))
        .select(col("doc_id"), col("n_lines"), col("n_kept"), col("clean_md5"),
          when(col("clean_md5") === col("exp_md5"), 1L).otherwise(0L)
            .as("recovered"))
        .orderBy("doc_id")
    },

    // ---- q248: fill-in-the-middle (FIM) span transformation ----------------
    // The FIM data transformation (Bavarian et al. 2022, "Efficient
    // Training of Language Models to Fill in the Middle" — public
    // literature): split each document at two uniform character
    // positions into (prefix, middle, suffix) and re-emit with sentinel
    // tokens so the model learns infilling — PSM order
    // [PRE]p[SUF]s[MID]m or SPM order [SUF]s[PRE]p[MID]m, applied at the
    // paper's 90% FIM rate (every 10th doc passes through unchanged).
    // All randomness is the portable 60-bit md5 draw (the q195/q68
    // discipline): split points are md5('fim1:'/'fim2:'||doc_id) mod
    // (n+1) — order-normalized so p1 ≤ p2 — and the PSM/SPM coin is its
    // own hash, so the transformed corpus replays byte-for-byte and the
    // oracle hash-checks the per-doc md5 of the ACTUAL training string.
    //
    // 100 TB shape: pure map-side string work riding the scan — zero
    // shuffles, zero UDFs (substr/md5/concat are codegen'd); the output
    // is corpus-sized rows of bounded metadata + one digest, never a
    // second copy of the text.
    QueryDef(
      "q248_fim_spans",
      """WITH drawn AS (
        |  SELECT doc_id, text, length(text) AS n,
        |    ('0x' || substring(md5('fim1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % (length(text) + 1) AS h1,
        |    ('0x' || substring(md5('fim2:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % (length(text) + 1) AS h2,
        |    ('0x' || substring(md5('fimm:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 2 AS coin
        |  FROM documents),
        |cut AS (
        |  SELECT doc_id, text, n, least(h1, h2) AS p1, greatest(h1, h2) AS p2,
        |    CASE WHEN doc_id % 10 = 0 THEN 'none'
        |         WHEN coin = 0 THEN 'psm' ELSE 'spm' END AS mode
        |  FROM drawn),
        |parts AS (
        |  SELECT doc_id, mode, n, p1, p2,
        |    substring(text, 1, CAST(p1 AS INT)) AS pre,
        |    substring(text, CAST(p1 + 1 AS INT), CAST(p2 - p1 AS INT)) AS mid,
        |    substring(text, CAST(p2 + 1 AS INT), CAST(n - p2 AS INT)) AS suf,
        |    text
        |  FROM cut)
        |SELECT doc_id, mode,
        |  CAST(CASE WHEN mode = 'none' THEN -1 ELSE p1 END AS BIGINT) AS p1,
        |  CAST(CASE WHEN mode = 'none' THEN -1 ELSE p2 END AS BIGINT) AS p2,
        |  CAST(CASE WHEN mode = 'none' THEN -1 ELSE length(mid) END AS BIGINT) AS len_mid,
        |  md5(CASE mode
        |    WHEN 'psm' THEN '<|fim_pre|>' || pre || '<|fim_suf|>' || suf || '<|fim_mid|>' || mid
        |    WHEN 'spm' THEN '<|fim_suf|>' || suf || '<|fim_pre|>' || pre || '<|fim_mid|>' || mid
        |    ELSE text END) AS sample_md5
        |FROM parts
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val did = col("doc_id")
      val n = length(col("text")).cast("long")
      def draw(salt: String) =
        conv(substring(md5(concat(lit(s"$salt:"), did.cast("string"))), 1, 15),
          16, 10).cast("long")
      val h1 = draw("fim1") % (n + 1L)
      val h2 = draw("fim2") % (n + 1L)
      val coin = draw("fimm") % 2L
      Tables.documents(s, d)
        .withColumn("n", n)
        .withColumn("p1", least(h1, h2))
        .withColumn("p2", greatest(h1, h2))
        .withColumn("mode",
          when(did % 10 === 0, "none")
            .when(coin === 0, "psm").otherwise("spm"))
        // staged withColumns (the q187/q199 expression-tree lesson): the
        // three parts are built once, the sample string reuses them
        .withColumn("pre", col("text").substr(lit(1L), col("p1")))
        .withColumn("mid",
          col("text").substr(col("p1") + 1L, col("p2") - col("p1")))
        .withColumn("suf",
          col("text").substr(col("p2") + 1L, col("n") - col("p2")))
        .select(did, col("mode"),
          when(col("mode") === "none", -1L).otherwise(col("p1")).as("p1"),
          when(col("mode") === "none", -1L).otherwise(col("p2")).as("p2"),
          when(col("mode") === "none", -1L)
            .otherwise(length(col("mid")).cast("long")).as("len_mid"),
          md5(when(col("mode") === "psm",
              concat(lit("<|fim_pre|>"), col("pre"), lit("<|fim_suf|>"),
                col("suf"), lit("<|fim_mid|>"), col("mid")))
            .when(col("mode") === "spm",
              concat(lit("<|fim_suf|>"), col("suf"), lit("<|fim_pre|>"),
                col("pre"), lit("<|fim_mid|>"), col("mid")))
            .otherwise(col("text"))).as("sample_md5"))
        .orderBy("doc_id")
    },

    // ---- q250: SRT subtitle cue parsing + timed-text QC gates --------------
    // Video-caption corpora arrive as SRT/VTT timed text; training prep
    // needs the cues PARSED (index / start / end / text) and gated on the
    // published timed-text style rules (reading speed in chars-per-second
    // and no overlapping cues — cf. the BBC/Netflix timed-text style
    // guides' ~17 cps ceiling). The SRT fixture is synthesized
    // deterministically per document (cue text = 40-char slices of the
    // letters-only text, durations 600+30·len ms, planted OVERLAPS on %6
    // docs via a -250 ms gap) and then the engine must parse the actual
    // SRT STRING back — block split on blank lines, 'HH:MM:SS,mmm -->
    // HH:MM:SS,mmm' timestamp regexp, per-cue integer cps — with the
    // fixture's own srt md5 hash-pinned so the built artifact can't
    // drift from the oracle's construction. Cues are single-line by
    // construction (multi-line cue text would join lines 3.. — out of
    // fixture scope, documented).
    //
    // 100 TB shape: generation and parse are both map-side string work
    // riding the scan (split/regexp_extract/integer math — all
    // codegen'd); the only shuffle is the per-document window over the
    // cue list (partitions bounded by cues-per-doc, = 3 here, bounded by
    // video length in production) + the final keyed agg. No UDFs.
    QueryDef(
      "q250_srt_cues", {
        def fmt(x: String) =
          s"""lpad(CAST($x // 3600000 AS VARCHAR), 2, '0') || ':' ||
             |    lpad(CAST(($x % 3600000) // 60000 AS VARCHAR), 2, '0') || ':' ||
             |    lpad(CAST(($x % 60000) // 1000 AS VARCHAR), 2, '0') || ',' ||
             |    lpad(CAST($x % 1000 AS VARCHAR), 3, '0')""".stripMargin
        def block(i: Int) =
          s"""CAST($i AS VARCHAR) || chr(10) || ${fmt(s"s$i")} ||
             |    ' --> ' || ${fmt(s"e$i")} || chr(10) || t$i || chr(10) || chr(10)""".stripMargin
        s"""WITH cl AS (
           |  SELECT doc_id, regexp_replace(text, '[^a-z ]', '', 'g') AS clean
           |  FROM documents),
           |p AS (
           |  SELECT doc_id,
           |    least(3, greatest(1, length(clean) // 40)) AS c,
           |    CASE WHEN trim(substring(clean, 1, 40)) = '' THEN 'x'
           |         ELSE trim(substring(clean, 1, 40)) END AS t1,
           |    CASE WHEN trim(substring(clean, 41, 40)) = '' THEN 'x'
           |         ELSE trim(substring(clean, 41, 40)) END AS t2,
           |    CASE WHEN trim(substring(clean, 81, 40)) = '' THEN 'x'
           |         ELSE trim(substring(clean, 81, 40)) END AS t3,
           |    ('0x' || substring(md5('srt:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5000 AS base,
           |    CASE WHEN doc_id % 6 = 0 THEN -250
           |         ELSE 350 + (doc_id + 1) % 200 END AS gap1,
           |    CASE WHEN doc_id % 6 = 0 THEN -250
           |         ELSE 350 + (doc_id + 2) % 200 END AS gap2
           |  FROM cl),
           |q AS (
           |  SELECT *, 600 + 30 * length(t1) AS d1, 600 + 30 * length(t2) AS d2,
           |    600 + 30 * length(t3) AS d3
           |  FROM p),
           |r AS (
           |  SELECT *, base AS s1, base + d1 AS e1,
           |    base + d1 + gap1 AS s2, base + d1 + gap1 + d2 AS e2,
           |    base + d1 + gap1 + d2 + gap2 AS s3,
           |    base + d1 + gap1 + d2 + gap2 + d3 AS e3
           |  FROM q)
           |SELECT doc_id,
           |  CAST(c AS BIGINT) AS n_cues,
           |  CAST(d1 + CASE WHEN c >= 2 THEN d2 ELSE 0 END +
           |       CASE WHEN c >= 3 THEN d3 ELSE 0 END AS BIGINT) AS speech_ms,
           |  CAST(s1 AS BIGINT) AS first_ms,
           |  CAST(CASE WHEN c = 1 THEN e1 WHEN c = 2 THEN e2 ELSE e3 END AS BIGINT) AS last_ms,
           |  CAST((CASE WHEN (length(t1) * 100000) // d1 > 1700 THEN 1 ELSE 0 END) +
           |       (CASE WHEN c >= 2 AND (length(t2) * 100000) // d2 > 1700 THEN 1 ELSE 0 END) +
           |       (CASE WHEN c >= 3 AND (length(t3) * 100000) // d3 > 1700 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_fast,
           |  CAST((CASE WHEN c >= 2 AND s2 < e1 THEN 1 ELSE 0 END) +
           |       (CASE WHEN c >= 3 AND s3 < e2 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           |  md5(${block(1)} ||
           |    CASE WHEN c >= 2 THEN ${block(2)} ELSE '' END ||
           |    CASE WHEN c >= 3 THEN ${block(3)} ELSE '' END) AS srt_md5
           |FROM r
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val did = col("doc_id")
      val nl = lit("\n")
      def fmtMs(x: String) = concat(
        lpad(expr(s"CAST($x div 3600000 AS STRING)"), 2, "0"), lit(":"),
        lpad(expr(s"CAST(($x % 3600000) div 60000 AS STRING)"), 2, "0"), lit(":"),
        lpad(expr(s"CAST(($x % 60000) div 1000 AS STRING)"), 2, "0"), lit(","),
        lpad(expr(s"CAST($x % 1000 AS STRING)"), 3, "0"))
      def block(i: Int) = concat(lit(i.toString), nl,
        fmtMs(s"s$i"), lit(" --> "), fmtMs(s"e$i"), nl, col(s"t$i"), nl, nl)
      val gen = Tables.documents(s, d)
        .withColumn("clean", regexp_replace(col("text"), "[^a-z ]", ""))
        .withColumn("c",
          least(lit(3L), greatest(lit(1L),
            expr("CAST(length(clean) AS BIGINT) div 40"))))
        // empty-cue sentinel (r16, ADVICE): a slice that trims to '' would
        // emit "idx\nts\n\n\n" — three consecutive newlines — and the
        // "\n\n" block split would mis-segment every later cue. Empty cue
        // text is invalid SRT, so the fixture guarantees non-empty text
        // (sentinel 'x', mirrored in the oracle's p CTE); durations and
        // cps derive from the guarded text, so both engines stay aligned.
        .withColumn("t1", when(trim(substring(col("clean"), 1, 40)) === "",
          lit("x")).otherwise(trim(substring(col("clean"), 1, 40))))
        .withColumn("t2", when(trim(substring(col("clean"), 41, 40)) === "",
          lit("x")).otherwise(trim(substring(col("clean"), 41, 40))))
        .withColumn("t3", when(trim(substring(col("clean"), 81, 40)) === "",
          lit("x")).otherwise(trim(substring(col("clean"), 81, 40))))
        .withColumn("base",
          conv(substring(md5(concat(lit("srt:"), did.cast("string"))), 1, 15),
            16, 10).cast("long") % 5000L)
        .withColumn("gap1", when(did % 6 === 0, -250L)
          .otherwise(lit(350L) + pmod(did + 1L, lit(200L))))
        .withColumn("gap2", when(did % 6 === 0, -250L)
          .otherwise(lit(350L) + pmod(did + 2L, lit(200L))))
        .withColumn("d1", lit(600L) + length(col("t1")).cast("long") * 30L)
        .withColumn("d2", lit(600L) + length(col("t2")).cast("long") * 30L)
        .withColumn("d3", lit(600L) + length(col("t3")).cast("long") * 30L)
        .withColumn("s1", col("base"))
        .withColumn("e1", col("s1") + col("d1"))
        .withColumn("s2", col("e1") + col("gap1"))
        .withColumn("e2", col("s2") + col("d2"))
        .withColumn("s3", col("e2") + col("gap2"))
        .withColumn("e3", col("s3") + col("d3"))
        .withColumn("srt", concat(block(1),
          when(col("c") >= 2, block(2)).otherwise(lit("")),
          when(col("c") >= 3, block(3)).otherwise(lit(""))))
        .select(did, col("srt"))
      // ---- the parse side sees ONLY (doc_id, srt) from here on ----
      val tsRe =
        "^(\\d{2}):(\\d{2}):(\\d{2}),(\\d{3}) --> (\\d{2}):(\\d{2}):(\\d{2}),(\\d{3})$"
      def grp(g: Int) = regexp_extract(col("tsl"), tsRe, g).cast("long")
      val cues = gen
        .withColumn("smd5", md5(col("srt")))
        .select(did, col("smd5"),
          explode(filter(split(col("srt"), "\n\n"), b => length(b) > 0))
            .as("block"))
        .withColumn("lines", split(col("block"), "\n"))
        .withColumn("idx", element_at(col("lines"), 1).cast("long"))
        .withColumn("tsl", element_at(col("lines"), 2))
        .withColumn("txt", element_at(col("lines"), 3))
        .withColumn("s_ms",
          grp(1) * 3600000L + grp(2) * 60000L + grp(3) * 1000L + grp(4))
        .withColumn("e_ms",
          grp(5) * 3600000L + grp(6) * 60000L + grp(7) * 1000L + grp(8))
        .withColumn("dur", col("e_ms") - col("s_ms"))
        .withColumn("cps100", expr("(length(txt) * 100000) div dur"))
        .withColumn("prev_e",
          lag(col("e_ms"), 1).over(Window.partitionBy("doc_id").orderBy("idx")))
      cues.groupBy("doc_id")
        .agg(count(lit(1)).as("n_cues"),
          sum(col("dur")).as("speech_ms"),
          min(col("s_ms")).as("first_ms"),
          max(col("e_ms")).as("last_ms"),
          sum(when(col("cps100") > 1700L, 1L).otherwise(0L)).as("n_fast"),
          sum(when(col("prev_e").isNotNull && col("s_ms") < col("prev_e"), 1L)
            .otherwise(0L)).as("n_overlap"),
          max(col("smd5")).as("srt_md5"))
        .orderBy("doc_id")
    },

    // ---- q252: chat-transcript → SFT training-pair assembly ----------------
    // Instruction-tuning corpora arrive as JSON chat transcripts; SFT
    // prep flattens each into (context, response) pairs — one per
    // ASSISTANT turn, context = all prior turns joined — with per-pair
    // token budgets (the standard supervised-fine-tuning formatting
    // step, e.g. the public chat-template pipelines). The transcript
    // fixture is synthesized deterministically (2–4 alternating
    // user/assistant turns, content = 30-char slices of the
    // letters-and-spaces text), then the engine must parse the actual
    // JSON STRING back — from_json with an explicit
    // ARRAY<STRUCT<role,content>> schema (no inference scan — the 100 TB
    // discipline), posexplode, and an ordered per-doc window
    // accumulating prior turns — so the parse, not the plant, produces
    // every output. The oracle pins the pair md5s, so any drift in JSON
    // escaping, turn order, or context assembly breaks the hash.
    //
    // 100 TB shape: parse and explode are map-side; the only shuffle is
    // the per-document window (partitions bounded by turns-per-doc) —
    // conversations are short next to the corpus, never corpus-wide.
    QueryDef(
      "q252_chat_sft_pairs",
      """WITH cl AS (
        |  SELECT doc_id, regexp_replace(text, '[^a-z ]', '', 'g') AS clean
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS nt,
        |    trim(substring(clean, 1, 30)) AS t1,
        |    trim(substring(clean, 31, 30)) AS t2,
        |    trim(substring(clean, 61, 30)) AS t3,
        |    trim(substring(clean, 91, 30)) AS t4
        |  FROM cl),
        |pairs AS (
        |  SELECT doc_id, CAST(2 AS BIGINT) AS turn, t1 AS ctx, t2 AS resp
        |  FROM p
        |  UNION ALL
        |  SELECT doc_id, CAST(4 AS BIGINT),
        |    t1 || chr(10) || t2 || chr(10) || t3, t4
        |  FROM p WHERE nt >= 4)
        |SELECT doc_id, turn,
        |  CAST(len(string_split(ctx, ' ')) AS BIGINT) AS ctx_tokens,
        |  CAST(len(string_split(resp, ' ')) AS BIGINT) AS resp_tokens,
        |  md5(ctx || '##' || resp) AS pair_md5
        |FROM pairs
        |ORDER BY doc_id, turn""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types._
      val did = col("doc_id")
      // ---- fixture: the JSON chat transcript string ----
      val clean = regexp_replace(col("text"), "[^a-z ]", "")
      def chunk(i: Int) = trim(substring(clean, (i - 1) * 30 + 1, 30))
      def jturn(i: Int) = concat(
        lit("{\"role\":\"" + (if (i % 2 == 1) "user" else "assistant")
          + "\",\"content\":\""),
        chunk(i), lit("\"}"))
      val nt = lit(2L) + pmod(did, lit(3))
      val gen = Tables.documents(s, d)
        .withColumn("chat", concat(
          lit("["), jturn(1), lit(","), jturn(2),
          when(nt >= 3, concat(lit(","), jturn(3))).otherwise(lit("")),
          when(nt >= 4, concat(lit(","), jturn(4))).otherwise(lit("")),
          lit("]")))
        .select(did, col("chat"))
      // ---- the parse side sees ONLY (doc_id, chat) from here on ----
      val turnSchema = ArrayType(StructType(Seq(
        StructField("role", StringType), StructField("content", StringType))))
      val w = Window.partitionBy("doc_id").orderBy("turn")
        .rowsBetween(Window.unboundedPreceding, -1)
      gen
        .select(did, posexplode(from_json(col("chat"), turnSchema))
          .as(Seq("pos", "t")))
        .select(did, (col("pos") + 1L).as("turn"),
          col("t.role").as("role"), col("t.content").as("content"))
        .withColumn("ctx", concat_ws("\n", collect_list(col("content")).over(w)))
        .filter(col("role") === "assistant")
        .select(did, col("turn"),
          size(split(col("ctx"), " ")).cast("long").as("ctx_tokens"),
          size(split(col("content"), " ")).cast("long").as("resp_tokens"),
          md5(concat(col("ctx"), lit("##"), col("content"))).as("pair_md5"))
        .orderBy("doc_id", "turn")
    },

    // ---- q254: CCNet-style per-language perplexity bucketing ---------------
    // The published pretraining filter (Wenzek et al., LREC 2020 — CCNet):
    // score every document with a language model, split each LANGUAGE's
    // distribution into head/middle/tail perplexity terciles, and keep
    // head+middle. The score is q93's add-one unigram avg-NLL (shared
    // VERBATIM via the UNIGRAM_NLL_CTES twin, so the filter cannot drift
    // from the audited scorer), quantized to an exact integer
    // (round(avg_nll·1e8) — the DECIMAL(18,8)-rounded double is within
    // 1e-7 of the integer, so both engines recover it exactly). Tercile
    // CUTS come from the q166 exact grouped-quantile refinement engine
    // (driver state O(langs×2), no per-language sort); assignment is by
    // VALUE threshold — ties land in one bucket deterministically, the
    // CCNet behavior — so the bucket pass is pure map-side against the
    // broadcast cut table.
    //
    // 100 TB shape: one scored-token pass (the q93 shape), two grouped
    // refinement passes over the doc-sized score table, a langs-sized
    // broadcast, one keyed agg. The oracle's per-language window sort is
    // the test-scale replay of the refinement's answer.
    QueryDef(
      "q254_ccnet_ppl_buckets",
      s"""WITH $UNIGRAM_NLL_CTES,
         |j AS (
         |  SELECT d.lang, d.n_chars,
         |    CAST(round(pd.avg_nll * 100000000.0) AS BIGINT) AS lnll
         |  FROM pd JOIN documents d USING (doc_id)),
         |n AS (SELECT lang, COUNT(*) AS n FROM j GROUP BY lang),
         |r AS (SELECT lang, lnll,
         |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY lnll) AS rn
         |      FROM j),
         |c1 AS (SELECT n.lang, r.lnll AS cut1
         |       FROM n JOIN r ON r.lang = n.lang
         |         AND r.rn = GREATEST(1, (n.n * 33 + 99) // 100)),
         |c2 AS (SELECT n.lang, r.lnll AS cut2
         |       FROM n JOIN r ON r.lang = n.lang
         |         AND r.rn = GREATEST(1, (n.n * 67 + 99) // 100)),
         |b AS (
         |  SELECT j.lang, j.n_chars, j.lnll,
         |    CASE WHEN j.lnll <= c1.cut1 THEN 'head'
         |         WHEN j.lnll <= c2.cut2 THEN 'middle'
         |         ELSE 'tail' END AS bucket
         |  FROM j JOIN c1 USING (lang) JOIN c2 USING (lang))
         |SELECT lang, bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  CAST(MIN(lnll) AS BIGINT) AS lo_nll,
         |  CAST(MAX(lnll) AS BIGINT) AS hi_nll,
         |  CAST(CASE WHEN bucket = 'tail' THEN 0 ELSE 1 END AS BIGINT) AS kept
         |FROM b
         |GROUP BY lang, bucket
         |ORDER BY lang, bucket""".stripMargin) { (s, d) =>
      import s.implicits._
      // doc-sized score table feeds the refinement AND the bucket pass
      val pd = unigramNllPerDoc(s, d).select("doc_id", "avg_nll")
        .join(Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
          "doc_id")
        .withColumn("lnll", round(col("avg_nll") * 1e8).cast("long"))
        .persist()
      // The persist serves the refinement's multiple scans, which are all
      // EAGER (exactGroupPercentiles returns a driver Seq) — release it
      // before returning so repeated invocations in a long-lived session
      // don't accumulate cached blocks (r16, ADVICE). The one lazy scan
      // below recomputes pd from the staged per-doc NLL parquet — cheap.
      val cutDf =
        try {
          val cuts = graft.operators.Quantiles.exactGroupPercentiles(
            pd.select(col("lang"), col("lnll").as("x")), "lang", "x", Seq(33, 67))
          cuts.groupBy(_._1).map { case (g, rows) =>
            val byP = rows.map(r => r._2 -> r._4).toMap
            (g, byP(33), byP(67))
          }.toSeq.toDF("lang", "cut1", "cut2")
        } finally pd.unpersist(blocking = false)
      val out = pd.join(broadcast(cutDf), "lang")
        .withColumn("bucket",
          when(col("lnll") <= col("cut1"), "head")
            .when(col("lnll") <= col("cut2"), "middle")
            .otherwise("tail"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("lnll")).as("lo_nll"),
          max(col("lnll")).as("hi_nll"))
        .withColumn("kept",
          when(col("bucket") === "tail", 0L).otherwise(1L))
        .orderBy("lang", "bucket")
      out
    },

    // ---- q261: classifier calibration bins (reliability ledger) ------------
    // q141 classifies, q148 scores the confusion matrix at ONE cut; this
    // is the RELIABILITY view every model-based filter deploy checks
    // before trusting the scores as sampling weights (q129-style): bin
    // the linear logit into unit-width bins clamped to [-5, 5) and, per
    // non-empty bin, report volume, the rule-gate base rate (q70's
    // pass-all as truth, the q148 convention), and the gate rate in
    // integer basis points. A well-calibrated score is monotone in
    // pass_rate_bp across bins; a flat or inverted run of bins says the
    // logit is mis-scaled AS A WEIGHT even if its sign classifies well.
    // Binning is floor() on the same e-notation IEEE double logit both
    // engines evaluate identically (the q141 discipline), so bin edges
    // cannot drift cross-engine.
    //
    // 100 TB shape: one map-side score+gate pass riding the scan, one
    // 10-row keyed agg. The ledger is catalog-sized.
    QueryDef(
      "q261_calibration_bins",
      s"""WITH f AS (
         |  SELECT source, $qualityExprsSql
         |  FROM documents),
         |scored AS (
         |  SELECT
         |    -3e0 + 2e-2 * ntok + 6e-1 * awl - 25e0 * symratio + 8e-1 * nstop AS logit,
         |    CASE WHEN $QualityCondSql THEN 1 ELSE 0 END AS truth
         |  FROM f),
         |binned AS (
         |  SELECT CAST(LEAST(9, GREATEST(0, FLOOR(logit + 5e0))) AS BIGINT) AS bin,
         |    truth
         |  FROM scored)
         |SELECT bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(truth) AS BIGINT) AS n_pass,
         |  CAST((SUM(truth) * 10000) // COUNT(*) AS BIGINT) AS pass_rate_bp,
         |  CAST(CASE WHEN bin >= 5 THEN 1 ELSE 0 END AS BIGINT) AS pred_pos
         |FROM binned
         |GROUP BY bin
         |ORDER BY bin""".stripMargin) { (s, d) =>
      val bin = least(lit(9.0), greatest(lit(0.0),
        floor(qualityLogitCol + lit(5.0)))).cast("long")
      Tables.documentsSpread(s, d)
        .select(bin.as("bin"),
          when(qualityPassAll, 1L).otherwise(0L).as("truth"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("truth")).as("n_pass"))
        .select(col("bin"), col("n_docs"), col("n_pass"),
          expr("(n_pass * 10000) div n_docs").as("pass_rate_bp"),
          when(col("bin") >= 5L, 1L).otherwise(0L).as("pred_pos"))
        .orderBy("bin")
    }
  )

  /** q209's output floor: bigrams below this support are modeled (they
    * shape every continuation/history count) but not emitted. */
  private[queries] val KN_MIN_COUNT = 5

  /** q197's oracle — and, verbatim, q216's: bin counts merge by exact
    * addition, so the per-micro-batch accumulated histogram must equal
    * the one-pass scan (the q105/q116/q130/q205 shared-oracle trick,
    * applied to the drift monitor). */
  private[queries] lazy val PSI_ORACLE: String =
    """WITH bins AS (SELECT CAST(range AS BIGINT) AS bin FROM range(0, 8)),
      |binned AS (
      |  SELECT LEAST(7, n_chars // 256) AS bin,
      |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS is_ref
      |  FROM documents),
      |counts AS (
      |  SELECT b.bin,
      |    CAST(COALESCE(SUM(x.is_ref), 0) AS BIGINT) AS ref_n,
      |    CAST(COALESCE(SUM(1 - x.is_ref), 0) AS BIGINT) AS cur_n
      |  FROM bins b LEFT JOIN binned x ON x.bin = b.bin
      |  GROUP BY b.bin),
      |scal AS (SELECT SUM(ref_n) AS ref_t, SUM(cur_n) AS cur_t FROM counts)
      |SELECT bin, ref_n, cur_n,
      |  CAST(CAST(
      |    ((cur_n + 1.0) / (cur_t + 8.0) - (ref_n + 1.0) / (ref_t + 8.0))
      |    * ln(((cur_n + 1.0) / (cur_t + 8.0)) / ((ref_n + 1.0) / (ref_t + 8.0)))
      |    AS DECIMAL(18,8)) AS DOUBLE) AS psi_term
      |FROM counts, scal
      |ORDER BY bin""".stripMargin

  /** The PSI feature binning + per-bin slice counts over a documents
    * relation (only OBSERVED bins emitted — [[psiFinalize]] fills the
    * rest). Shared by q197 (one-pass) and q216 (per micro-batch). */
  private[queries] def psiBinCounts(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(least(lit(7L), expr("n_chars div 256")).as("bin"),
        when(pmod(col("doc_id"), lit(2)) === 0, 1L).otherwise(0L).as("is_ref"))
      .groupBy("bin")
      .agg(sum(col("is_ref")).as("ref_n"),
        sum(lit(1L) - col("is_ref")).as("cur_n"))

  /** The PSI finalize over (possibly sparse) per-bin counts: fill the
    * fixed 8-bin frame, Laplace-smooth both proportions, emit the q93-
    * disciplined per-bin terms. */
  private[queries] def psiFinalize(s: org.apache.spark.sql.SparkSession,
                          partial: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bins = s.range(0, 8).select(col("id").as("bin"))
    val counts = bins.join(partial, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val scal = counts.agg(sum(col("ref_n")).as("ref_t"),
      sum(col("cur_n")).as("cur_t"))
    val p = (col("ref_n") + lit(1.0)) / (col("ref_t") + lit(8.0))
    val q = (col("cur_n") + lit(1.0)) / (col("cur_t") + lit(8.0))
    counts.crossJoin(broadcast(scal))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        ((q - p) * log(q / p)).cast(DecimalType(18, 8)).cast("double")
          .as("psi_term"))
      .orderBy("bin")
  }

  /** q93's whole per-doc scoring chain as CTEs ending in
    * `pd(doc_id, n_tok, n_oov, avg_nll)` — shared verbatim by q93 (emits
    * pd) and q212 (ranks pd into a curriculum), so the difficulty score
    * a curriculum orders by can never drift from the audited one. */
  private[queries] lazy val UNIGRAM_NLL_CTES: String =
    s"""norm AS (
       |  SELECT doc_id,
       |    list_filter(string_split(trim(regexp_replace(regexp_replace(lower(text),
       |      '[^a-z ]', '', 'g'), '  *', ' ', 'g')), ' '), x -> x <> '') AS t
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(t) AS tok FROM norm),
       |cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
       |vocab AS (SELECT tok, c FROM cnt WHERE c >= $LM_MIN_COUNT),
       |scal AS (
       |  SELECT (SELECT SUM(c) FROM cnt) AS T, (SELECT COUNT(*) FROM vocab) AS V),
       |scored AS (
       |  SELECT doc_id,
       |    CASE WHEN v.c IS NULL THEN 1 ELSE 0 END AS oov,
       |    CAST(-ln((COALESCE(v.c, 0) + 1.0) / (T + V + 1.0)) AS DECIMAL(38,20)) AS nll
       |  FROM tok LEFT JOIN vocab v USING (tok) CROSS JOIN scal),
       |pd AS (
       |  SELECT doc_id,
       |    COUNT(*) AS n_tok,
       |    CAST(SUM(oov) AS BIGINT) AS n_oov,
       |    CAST(CAST(CAST(SUM(nll) AS DOUBLE) / COUNT(*) AS DECIMAL(18,8)) AS DOUBLE) AS avg_nll
       |  FROM scored
       |  GROUP BY doc_id)""".stripMargin

  /** Spark mirror of [[UNIGRAM_NLL_CTES]]'s `pd`: per-doc
    * (doc_id, n_tok, n_oov, avg_nll) under the add-one-smoothed
    * corpus-fit unigram LM, with the q93 decimal ledger (exact
    * DECIMAL(38,20) sums, one DECIMAL(18,8) round).
    *
    * STAGED once per (JVM, sf dir) and shared by its three consumers —
    * q93 (the score ledger itself), q212 (curriculum ranking) and q254
    * (CCNet bucketing) each paid the full scored-token pass (~2.5-3 s at
    * sf0.1) before r15; the table is doc-sized with exactly
    * parquet-round-trippable columns (LONGs + the already-DECIMAL-rounded
    * avg_nll DOUBLE), so every consumer stays hash-identical. q245 keeps
    * the TOKEN-level stream (per-domain sums need it) — cf.
    * TextDedupPack's staged walk corpus for the pattern. */
  private[queries] def unigramNllPerDoc(s: org.apache.spark.sql.SparkSession,
                               d: String): org.apache.spark.sql.DataFrame =
    Tables.parquet(s, Stage.parquet("graft-nllpd-", d)(unigramNllPerDocBuild(s, d)))

  private[queries] def unigramNllPerDocBuild(s: org.apache.spark.sql.SparkSession,
                                    d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    unigramNllTokens(s, d).groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tok"),
        sum(col("oov")).as("n_oov"),
        (sum(col("nll")).cast("double") / count(lit(1)))
          .cast(DecimalType(18, 8)).cast("double").as("avg_nll"))
  }

  /** Spark mirror of [[UNIGRAM_NLL_CTES]]'s `scored`: the per-token
    * (doc_id, oov, nll) stream under the add-one-smoothed corpus-fit
    * unigram LM, nll as exact DECIMAL(38,20) terms. Shared by q93's
    * per-doc fold and q245's per-domain reweighting so the model cannot
    * drift between them. */
  private[queries] def unigramNllTokens(s: org.apache.spark.sql.SparkSession,
                               d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
      "[^a-z ]", ""), "  *", " "))
    // token stream scanned twice (count-model pass + scoring pass) —
    // persisted, cf. q90's identical two-pass shape
    val tok = Tables.documentsSpread(s, d)
      .select(col("doc_id"), explode(filter(split(norm, " "), x => x =!= "")).as("tok"))
      .persist()
    val cnt = tok.groupBy("tok").agg(count(lit(1)).as("c"))
    val vocab = cnt.filter(col("c") >= LM_MIN_COUNT)
    val scal = cnt.agg(sum(col("c")).as("T"))
      .crossJoin(broadcast(vocab.agg(count(lit(1)).as("V"))))
    tok
      .join(vocab, Seq("tok"), "left")
      .crossJoin(broadcast(scal))
      .select(col("doc_id"),
        when(col("c").isNull, 1L).otherwise(0L).as("oov"),
        (-log((coalesce(col("c"), lit(0L)) + lit(1.0)) /
          (col("T") + col("V") + lit(1.0)))).cast(DecimalType(38, 20)).as("nll"))
  }
}
