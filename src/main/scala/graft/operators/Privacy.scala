package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Privacy / PII-hygiene operators for training-data curation: before a
  * corpus with user-linked records feeds a training run, identifier
  * columns get PSEUDONYMIZED (stable surrogate keys that still join),
  * free-text identifiers get MASKED (regex redaction), and quasi-
  * identifiers get GENERALIZED (coarse buckets, k-anonymity style).
  *
  * All three are pure row-local projections — no shuffle, fully
  * distributed, and deterministic so reruns/retries produce the identical
  * curated corpus:
  *  - pseudonym = Knuth multiplicative hash of the key (NOT reversible by
  *    join-free inspection, but stable, so downstream joins on the
  *    pseudonym still co-locate; a production system would key an HMAC
  *    with a secret — the plumbing is identical);
  *  - masking uses `regexp_replace` with an RE2-safe character class
  *    (no lookaround/backrefs), codegen'd by Catalyst;
  *  - generalization rounds the quasi-identifier down to its bucket floor
  *    in exact integer arithmetic.
  */
object Privacy {

  private val M32 = 4294967296L

  /** Pseudonymize the customer table: surrogate key, digits masked out of
    * the name, account balance generalized to a 500-unit bucket floor,
    * market segment passed through (already categorical/coarse).
    */
  def pseudonymizeCustomers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .select(
        col("c_custkey"),
        graft.functions.HashFunctions.knuthMod(col("c_custkey"), M32).as("pseudo_key"),
        regexp_replace(col("c_name"), "[0-9]", "X").as("name_masked"),
        (floor(col("c_acctbal").cast("decimal(12,2)") / 500) * 500)
          .cast("long").as("acctbal_bucket"),
        col("c_mktsegment"))
      .orderBy("c_custkey")

  /** K-ANONYMITY release of the document corpus: every published row's
    * quasi-identifier combination (lang, source, size bucket) must be
    * shared by at least k rows — combinations rarer than k get their
    * quasi-identifiers SUPPRESSED to '*' (full generalization) instead of
    * being dropped, so corpus statistics keep every row. The equivalence-
    * class census is one aggregation over the tiny QI domain, joined back
    * broadcast; the release itself stays a row-local projection.
    */
  def kAnonymousRelease(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val qi = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        (floor(col("n_chars") / 500) * 500).cast("long").as("size_bucket"))
    val census = qi.groupBy(col("lang").as("g_lang"), col("source").as("g_source"),
        col("size_bucket").as("g_bucket"))
      .agg(count(lit(1)).as("class_size"))
    qi.join(broadcast(census),
        col("lang") === col("g_lang") && col("source") === col("g_source") &&
        col("size_bucket") === col("g_bucket"))
      .select(col("doc_id"),
        when(col("class_size") >= k, col("lang")).otherwise("*").as("lang"),
        when(col("class_size") >= k, col("source")).otherwise("*").as("source"),
        when(col("class_size") >= k, col("size_bucket").cast("string"))
          .otherwise("*").as("size_bucket"),
        (col("class_size") >= k).as("released"))
      .orderBy("doc_id")
  }

  // ——— PII detection / redaction (free-text) ———
  //
  // The standard LLM-curation stage the masking above only hints at:
  // detect emails / phone numbers / IP addresses / SSN-shaped ids in the
  // document TEXT, count them per type, and redact them to typed tokens.
  // Row-local regexp work — no shuffle beyond the reporting aggregation,
  // fully distributed at any corpus size.
  //
  // Engine parity: the patterns use the Java-regex ∩ RE2 safe subset
  // (character classes, bounded quantifiers, alternation-free; no
  // lookaround, no backrefs, no \b), over which both engines produce the
  // identical leftmost match set — the tokenizer-parity discipline
  // applied to redaction. DuckDB's regexp_replace needs the explicit 'g'
  // flag to match Spark's replace-all semantics.

  /** (name, pattern, replacement) per PII type. Patterns are disjoint on
    * the synthetic tokens (verified by the residual column: re-scanning
    * the scrubbed text finds zero matches of ANY type).
    */
  private[graft] val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    ("id", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<ID>"))

  /** The synthetic PII CARRIER text: the testdata corpus is digit-free
    * (pure lowercase words), so PII to detect is appended
    * DETERMINISTICALLY from doc_id — each congruence class gains one
    * token of one type, making every count a pure function of doc_id
    * that both engines rebuild from the same fragment. `cast` renders
    * int→string in the host dialect (STRING on Spark, VARCHAR in the
    * oracle); everything else is dialect-shared SQL.
    */
  private[graft] def piiAugSql(cast: String => String): String =
    "concat(text," +
      s" CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', ${cast("doc_id")}, '@example.com now') ELSE '' END," +
      s" CASE WHEN doc_id % 5 = 0 THEN concat(' call +1-555-', lpad(${cast("doc_id % 10000")}, 4, '0')) ELSE '' END," +
      s" CASE WHEN doc_id % 7 = 0 THEN concat(' host 10.', ${cast("doc_id % 200")}, '.', ${cast("doc_id % 250")}, '.1') ELSE '' END," +
      s" CASE WHEN doc_id % 11 = 0 THEN concat(' ref ', lpad(${cast("doc_id % 1000")}, 3, '0'), '-', lpad(${cast("doc_id % 100")}, 2, '0'), '-', lpad(${cast("doc_id % 10000")}, 4, '0')) ELSE '' END)"

  /** Per-document PII counts + the redacted text + char accounting —
    * one row-local projection over the corpus scan.
    */
  private[graft] def piiPerDoc(spark: SparkSession, sfDir: String): DataFrame =
    piiPerDocOf(Tables.documents(spark, sfDir))

  /** [[piiPerDoc]] over an explicit (doc_id, lang, source, text) relation
    * — the form a streaming micro-batch feeds.
    */
  private[graft] def piiPerDocOf(docs: DataFrame): DataFrame = {
    val aug = expr(piiAugSql(e => s"CAST($e AS STRING)"))
    val d = docs
      .select(col("doc_id"), col("lang"), col("source"), aug.as("aug"))
    val counts = PiiPatterns.map { case (n, p, _) =>
      size(regexp_extract_all(col("aug"), lit(p), lit(0))).cast("long")
        .as(s"n_$n")
    }
    val scrubbed = PiiPatterns.foldLeft(col("aug")) { case (c, (_, p, r)) =>
      regexp_replace(c, p, r)
    }
    d.select(Seq(col("doc_id"), col("lang"), col("source")) ++ counts ++ Seq(
        scrubbed.as("scrubbed"), length(col("aug")).cast("long").as("len_raw")): _*)
      // the redaction round-trip check: ANY pattern still matching the
      // scrubbed text is a leak — must aggregate to exactly zero
      .withColumn("residual",
        PiiPatterns.map { case (_, p, _) =>
          size(regexp_extract_all(col("scrubbed"), lit(p), lit(0)))
        }.reduce(_ + _).cast("long"))
      .withColumn("pii_total",
        PiiPatterns.map { case (n, _, _) => col(s"n_$n") }.reduce(_ + _))
  }

  /** q_pii_scrub: per-source PII census + redaction proof — detected
    * counts per type, documents carrying any PII, net chars removed by
    * redaction, and the residual re-scan (0 ⟺ the scrub caught
    * everything it can name). The per-source rollup is the audit table a
    * curation pipeline logs before shipping a corpus.
    */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    censusOf(piiPerDoc(spark, sfDir)).orderBy("source")

  /** The PII-density curation budget shared by [[piiCurate]] and the
    * funnel audit ([[Curate.curationFunnel]]).
    */
  private[graft] val MaxPiiDefault = 1L

  /** The census value columns, in output order — the ONE source of
    * truth the streaming merge and final cast derive their sum lists
    * from (a pattern added to [[PiiPatterns]] must flow through state
    * generations without a hand-edited column list going stale).
    */
  private[graft] val CensusCols: Seq[String] =
    Seq("n_docs", "n_docs_pii") ++ PiiPatterns.map { case (n, _, _) => s"n_$n" } ++
      Seq("chars_redacted", "residual")

  /** The per-source census reduction of a [[piiPerDocOf]] relation.
    * Every output column is a plain SUM over per-doc integers, so the
    * census is MERGEABLE: summing the censuses of disjoint batches
    * equals the census of their union — the property the streaming
    * maintenance ([[graft.streaming.StreamingPii]]) rides.
    */
  private[graft] def censusOf(perDoc: DataFrame): DataFrame =
    perDoc
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pii_total") > 0, 1L).otherwise(0L)).as("n_docs_pii"),
        sum(col("n_email")).as("n_email"),
        sum(col("n_phone")).as("n_phone"),
        sum(col("n_ip")).as("n_ip"),
        sum(col("n_id")).as("n_id"),
        sum(col("len_raw") - length(col("scrubbed"))).as("chars_redacted"),
        sum(col("residual")).as("residual"))

  /** Self-contained oracle for [[piiScrub]] (documents only): the same
    * augmentation fragment, the same patterns with DuckDB's 'g'
    * replace-all flag.
    */
  val piiScrubOracleSql: String = {
    val aug = piiAugSql(e => s"CAST($e AS VARCHAR)")
    val countCols = PiiPatterns.map { case (n, p, _) =>
      s"len(regexp_extract_all(aug, '$p')) AS n_$n"
    }.mkString(",\n|         ")
    val scrubbed = PiiPatterns.foldLeft("aug") { case (c, (_, p, r)) =>
      s"regexp_replace($c, '$p', '$r', 'g')"
    }
    val residual = PiiPatterns.map { case (_, p, _) =>
      s"len(regexp_extract_all(scrubbed, '$p'))"
    }.mkString(" + ")
    s"""WITH a AS (SELECT doc_id, source, $aug AS aug FROM documents),
       |per AS (
       |  SELECT doc_id, source,
       |         $countCols,
       |         $scrubbed AS scrubbed,
       |         length(aug) AS len_raw
       |  FROM a)
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN n_email + n_phone + n_ip + n_id > 0
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_pii,
       |       CAST(sum(n_email) AS BIGINT) AS n_email,
       |       CAST(sum(n_phone) AS BIGINT) AS n_phone,
       |       CAST(sum(n_ip) AS BIGINT) AS n_ip,
       |       CAST(sum(n_id) AS BIGINT) AS n_id,
       |       CAST(sum(len_raw - length(scrubbed)) AS BIGINT) AS chars_redacted,
       |       CAST(sum($residual) AS BIGINT) AS residual
       |FROM per GROUP BY source ORDER BY source""".stripMargin
  }

  /** Total-PII-match SQL fragment over an augmented-text expression —
    * the oracle-side twin of [[piiPerDoc]]'s pii_total.
    */
  private[graft] def piiTotalSql(aug: String): String =
    PiiPatterns.map { case (_, p, _) =>
      s"len(regexp_extract_all($aug, '$p'))"
    }.mkString(" + ")

  /** q_pii_curate: [[Curate.curateCorpus]]'s dedup + length gates
    * composed with a PII-density gate — documents carrying more than
    * `maxPii` detected identifiers are dropped from the curated corpus
    * (the "too identifying to train on" rule), and survivors carry their
    * count so the audit sees why each doc passed. The PII relation is a
    * row-local projection joined on doc_id; the composition stays one
    * declarative plan.
    */
  def piiCurate(spark: SparkSession, sfDir: String,
                maxPii: Long = MaxPiiDefault): DataFrame =
    Curate.curateCorpus(spark, sfDir)
      .join(piiPerDoc(spark, sfDir).select(col("doc_id"), col("pii_total")),
        "doc_id")
      .filter(col("pii_total") <= maxPii)
      .select("doc_id", "lang", "n_tokens", "pii_total")
      .orderBy("doc_id")

  /** Join-through-pseudonym proof: per-pseudonymized-customer order count
    * and revenue, never exposing the raw key in the output. The join
    * co-locates on the ORIGINAL key (pseudonyms are applied in the final
    * projection), so the plan is the ordinary orders⋈customer shuffle —
    * pseudonymization costs nothing extra at scale.
    */
  def ordersByPseudonym(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).as("revenue"))
      .select(
        graft.functions.HashFunctions.knuthMod(col("o_custkey"), M32).as("pseudo_key"),
        col("n_orders"),
        col("revenue").cast("double").as("revenue"))
      .orderBy("pseudo_key")
}
