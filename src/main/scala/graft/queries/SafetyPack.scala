package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Redact
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

// Shared training-prep primitives live in TrainingPack and are visible
// package-wide; the safety family consumes them unqualified via this import.
import TrainingPack._

/** PII / safety gates — the SafetyPack family split out of TrainingPack
  * along its family seam (r16, verdict item 7; zero query renames):
  * pattern-PII redaction (q69, planted ground truth), checksum-class PII
  * (q207 Luhn/PAN, q243 IBAN mod-97), high-entropy secret scanning
  * (q218, the TruffleHog shape), and the TR39 mixed-script confusable
  * scan (q223).
  */
object SafetyPack {

  def all: Seq[QueryDef] = Seq(
    // ---- q69: PII redaction with planted ground truth ----------------------
    // The fixture corpus has no PII, so each doc gets a deterministic planted
    // email + phone (+ SSN on every third doc); the redactor must find and
    // replace exactly those. Patterns live in operators.Redact, written in
    // the Java-regex ∩ RE2 subset with no backslash escapes so DuckDB
    // replays them byte-for-byte (md5 of the redacted text is hash-checked).
    QueryDef(
      "q69_pii_redaction", {
        val Seq(email, phone, ssn) = Redact.Rules.map(_._1)
        s"""WITH planted AS (
           |  SELECT doc_id,
           |    text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or 555-' ||
           |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
           |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
           |      CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS t
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '$email'))
           |    + len(regexp_extract_all(regexp_replace(t,
           |        '$email', '<EMAIL>', 'g'), '$phone'))
           |    + len(regexp_extract_all(regexp_replace(regexp_replace(t,
           |        '$email', '<EMAIL>', 'g'),
           |        '$phone', '<PHONE>', 'g'), '$ssn')) AS BIGINT) AS n_pii,
           |  md5(regexp_replace(regexp_replace(regexp_replace(t,
           |    '$email', '<EMAIL>', 'g'),
           |    '$phone', '<PHONE>', 'g'),
           |    '$ssn', '<SSN>', 'g')) AS redacted_md5
           |FROM planted
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val planted = concat(
        col("text"), lit(" Contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        when(col("doc_id") % 3 === 0, " ssn 123-45-6789").otherwise(""))
      Tables.documents(s, d)
        .select(col("doc_id"),
          Redact.piiCount(planted).as("n_pii"),
          md5(Redact.redact(planted)).as("redacted_md5"))
        .orderBy("doc_id")
    },


    // ---- q207: Luhn-validated card-number gate (PII, checksum class) -------
    // q69 finds PII by PATTERN; payment-card numbers need more — a 16-digit
    // run is only a PAN if its Luhn check digit validates (ISO/IEC 7812,
    // public standard), and a corpus gate that flags every long digit run
    // drowns in false positives. Ground truth is planted like q69's: every
    // doc gets a 16-digit card-shaped number whose last digit is
    // doc_id mod 10 — so ~1 in 10 validates, giving both classes — plus a
    // 4-digit reference number that the length window must ignore. The
    // Luhn sum runs right-to-left over each candidate via
    // aggregate(sequence) on the reversed digits (double every second,
    // subtract 9 above 9) — pure integer/string work both engines replay
    // exactly. Redaction policy: ALL card-length runs are masked (the
    // conservative corpus-release choice); the flag records which docs
    // actually carried a validating PAN.
    //
    // 100 TB shape: embarrassingly parallel — one scan, per-row lambda
    // work bounded by digits-per-doc, no shuffle before the final sort.
    // The lambda stays a single fixed-size codegen'd expression (no UDF).
    QueryDef(
      "q207_luhn_pan_gate", {
        val luhn = """list_sum(list_transform(range(1, length(r) + 1), i ->
          |      CASE WHEN i % 2 = 0 THEN
          |        CASE WHEN (ascii(substring(reverse(r), CAST(i AS INT), 1)) - 48) * 2 > 9
          |          THEN (ascii(substring(reverse(r), CAST(i AS INT), 1)) - 48) * 2 - 9
          |          ELSE (ascii(substring(reverse(r), CAST(i AS INT), 1)) - 48) * 2 END
          |        ELSE ascii(substring(reverse(r), CAST(i AS INT), 1)) - 48 END)) % 10 = 0"""
          .stripMargin
        s"""WITH planted AS (
           |  SELECT doc_id,
           |    text || ' card 4532' ||
           |      lpad(CAST(doc_id * 7919 % 100000000 AS VARCHAR), 8, '0') ||
           |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
           |      CAST(doc_id % 10 AS VARCHAR) ||
           |      ' ref ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
           |  FROM documents),
           |runs AS (
           |  SELECT doc_id, t, regexp_extract_all(t, '[0-9]{13,19}') AS rs
           |  FROM planted)
           |SELECT doc_id,
           |  CAST(len(rs) AS BIGINT) AS n_candidates,
           |  CAST(len(list_filter(rs, r -> $luhn)) AS BIGINT) AS n_luhn_valid,
           |  md5(regexp_replace(t, '[0-9]{13,19}', '<PAN>', 'g')) AS redacted_md5
           |FROM runs
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val planted = concat(
        col("text"), lit(" card 4532"),
        lpad((col("doc_id") * 7919 % 100000000L).cast("string"), 8, "0"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        (col("doc_id") % 10).cast("string"),
        lit(" ref "), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val luhnValid = (r: org.apache.spark.sql.Column) => {
        val rev = reverse(r)
        val s0 = aggregate(sequence(lit(1), length(rev)), lit(0), (acc, i) => {
          val dgt = ascii(rev.substr(i, lit(1))) - 48
          acc + when(i % 2 === 0,
            when(dgt * 2 > 9, dgt * 2 - 9).otherwise(dgt * 2)).otherwise(dgt)
        })
        s0 % 10 === 0
      }
      Tables.documents(s, d)
        .select(col("doc_id"), planted.as("t"))
        .select(col("doc_id"),
          regexp_extract_all(col("t"), lit("[0-9]{13,19}"), lit(0)).as("rs"),
          col("t"))
        .select(col("doc_id"),
          size(col("rs")).cast("long").as("n_candidates"),
          size(filter(col("rs"), r => luhnValid(r))).cast("long")
            .as("n_luhn_valid"),
          md5(regexp_replace(col("t"), "[0-9]{13,19}", "<PAN>"))
            .as("redacted_md5"))
        .orderBy("doc_id")
    },


    // ---- q243: IBAN mod-97 gate ----------------------------------------------
    // The second checksum-class PII gate (q207 is Luhn/PAN): IBANs
    // validate by ISO 7064 mod-97 — move the country+check prefix to the
    // end, expand letters to two-digit codes (A=10..Z=35), and the
    // resulting (up to ~34-digit) number must be ≡ 1 (mod 97). That
    // number exceeds BIGINT, so both engines run the SAME chunked
    // remainder: expand (per-char CASE), left-pad with zeros to 36
    // digits (leading zeros don't change the value), then fold four
    // 9-digit chunks — rem = (rem·10⁹ + chunk) mod 97, every
    // intermediate < 9.8·10¹⁰, exact in BIGINT. Plants: valid DE (18-
    // digit BBAN) and ES (20-digit) IBANs with check digits COMPUTED by
    // the same algebra (98 − mod97(rearranged·100)), plus a
    // check-digits+1 class — off by exactly 1 in the rearranged number,
    // so mod 97 lands on 2, never accidentally valid.
    //
    // 100 TB shape: pure map-side — regex candidate extraction, a
    // per-char expansion bounded by IBAN length (≤ 34), four integer
    // chunk steps, one md5 of the redacted text; the only shuffle is
    // the output sort. The gate composes with q69's redaction plan the
    // same way q207 does.
    QueryDef(
      "q243_iban_gate", {
        def expandSql(v: String) =
          s"""array_to_string(list_transform(range(1, length($v) + 1), i ->
             |      CASE WHEN substring($v, CAST(i AS INT), 1) BETWEEN 'A' AND 'Z'
             |        THEN CAST(ascii(substring($v, CAST(i AS INT), 1)) - 55 AS VARCHAR)
             |        ELSE substring($v, CAST(i AS INT), 1) END), '')""".stripMargin
        def mod97Sql(p: String) =
          s"""((((((CAST(substring($p, 1, 9) AS BIGINT) % 97) * 1000000000
             |      + CAST(substring($p, 10, 9) AS BIGINT)) % 97) * 1000000000
             |      + CAST(substring($p, 19, 9) AS BIGINT)) % 97) * 1000000000
             |      + CAST(substring($p, 28, 9) AS BIGINT)) % 97""".stripMargin
        s"""WITH bban AS (
           |  SELECT doc_id, text,
           |    doc_id % 3 = 2 AS es,
           |    CASE WHEN doc_id % 3 = 2
           |      THEN '210004184500' || lpad(CAST(doc_id * 104729 % 100000000 AS VARCHAR), 8, '0')
           |      ELSE '37040044' || lpad(CAST(doc_id * 7919 % 10000000000 AS VARCHAR), 10, '0')
           |    END AS bb,
           |    CASE WHEN doc_id % 3 = 2 THEN 'ES' ELSE 'DE' END AS cc
           |  FROM documents),
           |ck AS (
           |  SELECT *, lpad(CAST(98 - (
           |      ${mod97Sql(s"lpad(${expandSql("(bb || cc || '00')")}, 36, '0')")}
           |    ) + (CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END) AS VARCHAR),
           |    2, '0') AS ckd
           |  FROM bban),
           |planted AS (
           |  SELECT doc_id,
           |    text || ' acct ' || cc || ckd || bb || ' ref XX1' AS t
           |  FROM ck),
           |runs AS (
           |  SELECT doc_id, t,
           |    regexp_extract_all(t, '[A-Z]{2}[0-9]{2}[0-9A-Z]{10,30}') AS rs
           |  FROM planted),
           |vals AS (
           |  SELECT doc_id, t, rs,
           |    list_filter(rs, r -> (
           |      ${mod97Sql(s"lpad(${expandSql("(substring(r, 5) || substring(r, 1, 4))")}, 36, '0')")}
           |    ) = 1) AS ok
           |  FROM runs)
           |SELECT doc_id,
           |  CAST(len(rs) AS BIGINT) AS n_candidates,
           |  CAST(len(ok) AS BIGINT) AS n_iban_valid,
           |  md5(regexp_replace(t, '[A-Z]{2}[0-9]{2}[0-9A-Z]{10,30}', '<IBAN>', 'g'))
           |    AS redacted_md5
           |FROM vals
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      import org.apache.spark.sql.Column
      def expand(v: Column): Column =
        concat_ws("", transform(sequence(lit(1), length(v)), i => {
          val ch = v.substr(i, lit(1))
          when(ch.between("A", "Z"), (ascii(ch) - 55).cast("string"))
            .otherwise(ch)
        }))
      def mod97(p: Column): Column = {
        def chunk(o: Int) = substring(p, o, 9).cast("long")
        ((((chunk(1) % 97) * 1000000000L + chunk(10)) % 97 * 1000000000L
          + chunk(19)) % 97 * 1000000000L + chunk(28)) % 97
      }
      val did = col("doc_id")
      val es = did % 3 === 2
      val bb = when(es,
        concat(lit("210004184500"),
          lpad((did * 104729 % 100000000L).cast("string"), 8, "0")))
        .otherwise(concat(lit("37040044"),
          lpad((did * 7919 % 10000000000L).cast("string"), 10, "0")))
      val cc = when(es, "ES").otherwise(lit("DE"))
      val ckd = lpad((lit(98) -
        mod97(lpad(expand(concat(col("bb"), col("cc"), lit("00"))), 36, "0"))
        + when(did % 3 === 1, 1).otherwise(0)).cast("string"), 2, "0")
      val pat = "[A-Z]{2}[0-9]{2}[0-9A-Z]{10,30}"
      Tables.documents(s, d)
        .select(did, col("text"), bb.as("bb"), cc.as("cc"))
        .withColumn("ckd", ckd)
        .select(did,
          concat(col("text"), lit(" acct "), col("cc"), col("ckd"),
            col("bb"), lit(" ref XX1")).as("t"))
        .select(did,
          regexp_extract_all(col("t"), lit(pat), lit(0)).as("rs"),
          col("t"))
        .select(did,
          size(col("rs")).cast("long").as("n_candidates"),
          size(filter(col("rs"), r =>
            mod97(lpad(expand(concat(r.substr(lit(5), length(r) - 4),
              r.substr(lit(1), lit(4)))), 36, "0")) === 1))
            .cast("long").as("n_iban_valid"),
          md5(regexp_replace(col("t"), pat, "<IBAN>")).as("redacted_md5"))
        .orderBy("doc_id")
    },


    // ---- q218: high-entropy secret/credential scan ---------------------------
    // The TruffleHog/detect-secrets-style gate every code-bearing corpus
    // runs before training: long alphanumeric tokens whose CHARACTER
    // entropy is key-like get flagged (a leaked hex/base64 credential is
    // near-uniform over its alphabet; natural-language tokens are not).
    // Candidates are tokens matching [A-Za-z0-9]{20,}; per-token Shannon
    // entropy rides q101's exact within-row discipline (distinct chars via
    // array_distinct, counts via length-minus-replace, DECIMAL(38,20)
    // in-row sum, one DECIMAL(18,8) round) and the 2.2-nat threshold
    // compares the ROUNDED value, so the verdict replays exactly. The
    // fixture plants both classes: doc_id % 4 = 0 gets a 67-char
    // 'key'+md5+md5 credential (2.44–2.83 nats over 60k planted keys —
    // must flag at the 2.2 cut; one md5 alone dips to 2.19, which is why
    // the plant is doubled), % 4 = 1 a 24-char
    // single-letter run (0 nats — must NOT flag, the length-only
    // false-positive a naive gate commits).
    //
    // 100 TB shape: pure map-side — candidate extraction, per-token
    // entropy, and the flag are all within-row; the only shuffle is the
    // per-doc count agg (map-side combined). The gate costs one scan.
    QueryDef(
      "q218_secret_scan",
      """WITH planted AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' key' || md5('sk:' || CAST(doc_id AS VARCHAR)) ||
        |           md5('sk2:' || CAST(doc_id AS VARCHAR))
        |         WHEN doc_id % 4 = 1 THEN ' ' || repeat(chr(97 + CAST(doc_id % 26 AS INT)), 24)
        |         ELSE '' END AS t
        |  FROM documents),
        |cand AS (
        |  SELECT doc_id, unnest(list_filter(string_split(t, ' '),
        |    x -> regexp_matches(x, '^[A-Za-z0-9]{20,}$'))) AS tok
        |  FROM planted),
        |ent AS (
        |  SELECT doc_id, tok,
        |    CAST(CAST(CAST(list_sum(list_transform(list_distinct(string_split(tok, '')), ch ->
        |      CAST((CAST(length(tok) - length(replace(tok, ch, '')) AS DOUBLE) / length(tok))
        |        * ln(CAST(length(tok) AS DOUBLE) / (length(tok) - length(replace(tok, ch, ''))))
        |        AS DECIMAL(38,20)))) AS DOUBLE) AS DECIMAL(18,8)) AS DOUBLE) AS e
        |  FROM cand),
        |flagged AS (
        |  SELECT doc_id, tok, e,
        |    CASE WHEN e >= 2.2e0 THEN 1 ELSE 0 END AS flag
        |  FROM ent)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |  CAST(SUM(flag) AS BIGINT) AS n_flagged,
        |  MIN(CASE WHEN flag = 1 THEN tok END) AS sample_flagged,
        |  MAX(e) AS max_entropy
        |FROM flagged
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val planted = Tables.documentsSpread(s, d)
        .select(col("doc_id"), concat(col("text"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit(" key"), md5(concat(lit("sk:"), col("doc_id").cast("string"))),
              md5(concat(lit("sk2:"), col("doc_id").cast("string")))))
            .when(pmod(col("doc_id"), lit(4)) === 1,
              concat(lit(" "),
                expr("repeat(char(97 + CAST(doc_id % 26 AS INT)), 24)")))
            .otherwise(lit(""))).as("t"))
      val cand = planted
        .select(col("doc_id"), explode(filter(split(col("t"), " "),
          x => x.rlike("^[A-Za-z0-9]{20,}$"))).as("tok"))
      val m = length(col("tok"))
      val cnt = (ch: org.apache.spark.sql.Column) =>
        m - length(call_function("replace", col("tok"), ch, lit("")))
      val e = aggregate(
        transform(array_distinct(split(col("tok"), "")), ch =>
          ((cnt(ch).cast("double") / m) * log(m.cast("double") / cnt(ch)))
            .cast(DecimalType(38, 20))),
        lit(0).cast(DecimalType(38, 20)),
        (acc, x) => (acc + x).cast(DecimalType(38, 20)))
        .cast("double").cast(DecimalType(18, 8)).cast("double")
      cand
        .withColumn("e", e)
        .withColumn("flag", when(col("e") >= lit(2.2), 1L).otherwise(0L))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_candidates"),
          sum(col("flag")).as("n_flagged"),
          min(when(col("flag") === 1L, col("tok"))).as("sample_flagged"),
          max(col("e")).as("max_entropy"))
        .orderBy("doc_id")
    },


    // ---- q223: mixed-script confusable scan ----------------------------------
    // The homoglyph gate (Unicode TR39 confusables): a token mixing Latin
    // and Cyrillic letters is a spoof candidate — phishing corpora and
    // poisoned training data hide 'pаypаl' (Cyrillic а) inside Latin text.
    // Planted three ways: a mixed-script spoof (MUST flag, doc_id%5),
    // a pure-Cyrillic word (single script — must NOT flag, doc_id%7), and
    // a Latin+digit token (digits are Common script — must NOT flag,
    // doc_id%4). Script membership is one regex class per script over the
    // token ([a-z] vs [\x{0400}-\x{04FF}] — Java and RE2 both take the
    // \x{...} form); mixed = both present. recovered=1 iff the per-doc
    // mixed and Cyrillic counts equal the planted expectation exactly.
    //
    // 100 TB shape: pure map-side tokenize + two regex probes per token;
    // the only shuffle is the per-doc count agg (map-side combined). The
    // Cyrillic literals are built via chr() codepoints in the oracle and
    // \u escapes in Scala so both engines emit identical UTF-8 bytes.
    QueryDef(
      "q223_script_mix_scan",
      """WITH aug AS (
        |  SELECT doc_id,
        |    concat_ws(' ', text,
        |      CASE WHEN doc_id % 5 = 0
        |        THEN 'p' || chr(1072) || 'yp' || chr(1072) || 'l-' ||
        |             CAST(doc_id % 7 AS VARCHAR) END,
        |      CASE WHEN doc_id % 7 = 0
        |        THEN chr(1087) || chr(1088) || chr(1080) || chr(1074) ||
        |             chr(1077) || chr(1090) END,
        |      CASE WHEN doc_id % 4 = 0 THEN 'build42' END) AS t
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM aug),
        |cls AS (
        |  SELECT doc_id, tok,
        |    CASE WHEN regexp_matches(tok, '[a-z]') THEN 1 ELSE 0 END AS has_lat,
        |    CASE WHEN regexp_matches(tok, '[\x{0400}-\x{04FF}]')
        |      THEN 1 ELSE 0 END AS has_cyr
        |  FROM tok)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(has_lat * has_cyr) AS BIGINT) AS n_mixed,
        |  CAST(SUM(has_cyr) AS BIGINT) AS n_cyr,
        |  MIN(CASE WHEN has_lat * has_cyr = 1 THEN tok END) AS sample_mixed,
        |  CAST(CASE WHEN
        |      SUM(has_lat * has_cyr) =
        |        (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
        |      AND SUM(has_cyr) =
        |        (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) +
        |        (CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
        |    THEN 1 ELSE 0 END AS BIGINT) AS recovered
        |FROM cls
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val did = col("doc_id")
      val spoof = when(did % 5 === 0,
        concat(lit("p\u0430yp\u0430l-"), (did % 7).cast("string")))
      val cyr = when(did % 7 === 0,
        lit("\u043f\u0440\u0438\u0432\u0435\u0442"))
      val b42 = when(did % 4 === 0, lit("build42"))
      val hasLat = when(col("tok").rlike("[a-z]"), 1).otherwise(0)
      val hasCyr = when(col("tok").rlike("[\\x{0400}-\\x{04FF}]"), 1)
        .otherwise(0)
      val expMixed = when(did % 5 === 0, 1L).otherwise(0L)
      val expCyr = expMixed + when(did % 7 === 0, 1L).otherwise(0L)
      Tables.documentsSpread(s, d)
        .select(did,
          explode(split(concat_ws(" ", col("text"), spoof, cyr, b42), " "))
            .as("tok"))
        .select(did, col("tok"), hasLat.as("has_lat"), hasCyr.as("has_cyr"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("has_lat") * col("has_cyr")).as("n_mixed"),
          sum(col("has_cyr")).as("n_cyr"),
          min(when(col("has_lat") * col("has_cyr") === 1, col("tok")))
            .as("sample_mixed"))
        .select(col("doc_id"), col("n_tokens"), col("n_mixed"), col("n_cyr"),
          col("sample_mixed"),
          when(col("n_mixed") === expMixed && col("n_cyr") === expCyr, 1L)
            .otherwise(0L).as("recovered"))
        .orderBy("doc_id")
    },

    // ---- q270: t-closeness audit over quasi-identifier classes --------------
    // Completes the release-audit ladder k-anonymity (q169) → l-diversity
    // (q175) → t-closeness (Li, Li, Venkatasubramanian 2007): a class of
    // identical quasi-identifiers can be large (k ok) and diverse (l ok)
    // yet still leak — when its DISTRIBUTION over a sensitive attribute
    // differs from the corpus-wide one. For an ORDERED sensitive attribute
    // the paper's distance is the Earth Mover's Distance with unit ground
    // distances: EMD(P,Q) = Σᵢ|cumsumᵢ(P−Q)| / (m−1). Classes here are
    // (source, lang); the sensitive attribute is the length decile (q169's
    // exact cuts, replayed verbatim).
    //
    // Determinism: P−Q is kept as the exact integer cnt·N − g·ct (scale by
    // both totals instead of dividing); the EMD numerator is a BIGINT and
    // the reported emd_e6 is ONE floor division of non-negative ints. The
    // t=0.2 gate is an integer cross-multiplication — no doubles. Bounds:
    // |cum| ≤ N·ct so emd_num·1e6 ≤ 10·N·ct·1e6 — fits BIGINT to ~30M-row
    // classes; beyond that drop the 1e6 scale a decade.
    //
    // 100 TB shape: one keyed count per (class, bucket) — partial-agg
    // friendly — then all math on the class×10 grid (catalog-sized).
    // The decile cuts come from the exact-percentile refinement engine
    // (no global sort); the grid cross-join is against a 10-row literal.
    QueryDef(
      "q270_t_closeness",
      """WITH v AS (SELECT source, lang, n_chars AS x FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM v),
        |r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v),
        |cuts AS (
        |  SELECT t.p, r.x AS cut
        |  FROM (VALUES (10), (20), (30), (40), (50), (60), (70), (80), (90)) AS t(p)
        |  CROSS JOIN n JOIN r ON r.rn = GREATEST(1, (n.n * t.p + 99) // 100)),
        |q AS (SELECT source, lang,
        |        (SELECT COUNT(*) FROM cuts c WHERE c.cut < v.x) AS bkt
        |      FROM v),
        |cls AS (SELECT source, lang, bkt, COUNT(*) AS cnt FROM q GROUP BY 1, 2, 3),
        |tot AS (SELECT source, lang, SUM(cnt) AS ct FROM cls GROUP BY 1, 2),
        |gtot AS (SELECT bkt, SUM(cnt) AS g FROM cls GROUP BY 1),
        |grid AS (
        |  SELECT t.source, t.lang, t.ct, b.bkt,
        |    COALESCE(c.cnt, 0) AS cnt, COALESCE(gl.g, 0) AS g
        |  FROM tot t
        |  CROSS JOIN (SELECT UNNEST(range(0, 10)) AS bkt) b
        |  LEFT JOIN cls c ON c.source = t.source AND c.lang = t.lang AND c.bkt = b.bkt
        |  LEFT JOIN gtot gl ON gl.bkt = b.bkt),
        |cum AS (
        |  SELECT source, lang, ct, bkt,
        |    SUM(cnt * n.n - g * ct) OVER (PARTITION BY source, lang ORDER BY bkt) AS dcum
        |  FROM grid CROSS JOIN n),
        |e AS (SELECT source, lang, ct, SUM(ABS(dcum)) AS emd_num
        |      FROM cum GROUP BY 1, 2, 3)
        |SELECT source, lang, CAST(ct AS BIGINT) AS class_rows,
        |  CAST(emd_num AS BIGINT) AS emd_num,
        |  CAST((emd_num * 1000000) // (n.n * ct * 9) AS BIGINT) AS emd_e6,
        |  CAST(CASE WHEN emd_num * 5 > n.n * ct * 9 THEN 1 ELSE 0 END AS BIGINT)
        |    AS violates_t02
        |FROM e CROSS JOIN n
        |ORDER BY source, lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), col("lang"), col("n_chars").cast("long").as("x"))
      val cuts = graft.operators.Quantiles
        .exactPercentiles(docs, "x", (1 to 9).map(_ * 10))
        .map(_._3)
      val bkt = cuts.map(c => when(col("x") > lit(c), 1L).otherwise(0L))
        .reduce(_ + _).as("bkt")
      // persisted for the RETURNED lazy plan's four consumers (cf.
      // Dedup.nearDuplicates, q47's token cache); the caller's Stage.query
      // releases it at query end. A try/finally unpersist here would fire
      // before the plan ever executes (no action runs inside this
      // builder), and dropping the persist costs ~0.5 s/run (measured
      // r17: the four consumers re-run cls's final agg even with
      // ReuseExchange deduping the shuffle).
      val cls = docs.select(col("source"), col("lang"), bkt)
        .groupBy("source", "lang", "bkt").agg(count(lit(1)).as("cnt")).persist()
      val tot = cls.groupBy("source", "lang").agg(sum(col("cnt")).as("ct"))
      val glob = cls.groupBy("bkt").agg(sum(col("cnt")).as("g"))
      val n = cls.agg(sum(col("cnt")).as("n"))
      val buckets = s.range(0, 10).select(col("id").as("bkt"))
      val grid = tot.crossJoin(broadcast(buckets))
        .join(cls, Seq("source", "lang", "bkt"), "left")
        .join(broadcast(glob), Seq("bkt"), "left")
        .select(col("source"), col("lang"), col("ct"), col("bkt"),
          coalesce(col("cnt"), lit(0L)).as("cnt"),
          coalesce(col("g"), lit(0L)).as("g"))
      val wc = Window.partitionBy("source", "lang").orderBy("bkt")
      val out = grid.crossJoin(broadcast(n))
        .withColumn("dcum",
          sum(col("cnt") * col("n") - col("g") * col("ct")).over(wc))
        .groupBy("source", "lang", "ct", "n")
        .agg(sum(abs(col("dcum"))).as("emd_num"))
        .select(col("source"), col("lang"),
          col("ct").as("class_rows"), col("emd_num"),
          expr("(emd_num * 1000000) div (n * ct * 9)").as("emd_e6"),
          when(col("emd_num") * 5 > col("n") * col("ct") * 9, 1L)
            .otherwise(0L).as("violates_t02"))
        .orderBy("source", "lang")
      out
    },

  )
}
