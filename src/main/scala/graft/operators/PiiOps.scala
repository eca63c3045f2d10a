package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** PII detection and redaction over the document corpus — the scrub
  * stage every training-data pipeline runs before anything ships.
  *
  * The synthetic corpus carries no real PII, so both engines first
  * inject deterministic markers (an email for even doc_ids, a phone
  * for doc_id%3==0, an IPv4 for %5, a URL for %7 — all pure integer
  * arithmetic on doc_id), then detect/redact them with the same four
  * regexes. The construction is mirrored verbatim in the DuckDB
  * oracle, so the regex engines (Java util.regex vs RE2) are compared
  * on identical input; the patterns stick to character classes and
  * bounded repetition, the common subset with identical leftmost-match
  * semantics in both.
  *
  * Scale shape: both operators are pure row-local map work — zero
  * joins on the scan side, the profile collapses map-side to
  * |sources| rows, and the redaction emits per-doc fingerprints (md5
  * of the redacted text) instead of hauling redacted bodies through
  * the plan. At 100 TB this is the ideal embarrassingly-parallel
  * shape: no exchange carries anything wider than the final rollup.
  */
object PiiOps extends OperatorFamily {

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\d{3}-\\d{2}-\\d{4}"
  private val IpRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  private val UrlRe = "https?://[a-z0-9./_-]+"

  /** Deterministic PII injection — the Spark half of the shared
    * construction (the oracle mirrors it in SQL). */
  private def withPii(df: DataFrame): DataFrame = {
    val id = col("doc_id")
    df.withColumn("pii_text", concat(
      col("text"),
      when(id % 2 === 0,
        concat(lit(" contact user"), id.cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(id % 3 === 0,
        concat(lit(" call 555-"),
          lpad((id % 100).cast("string"), 2, "0"), lit("-"),
          lpad(((id * 37) % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" from 10."), (id % 256).cast("string"), lit(".0."),
          ((id * 7) % 256).cast("string"))).otherwise(lit("")),
      when(id % 7 === 0,
        concat(lit(" see https://example.org/p/"), id.cast("string")))
        .otherwise(lit(""))))
  }

  // Mirrors withPii for the DuckDB oracle.
  private val PiiSql =
    """text
      || CASE WHEN doc_id % 2 = 0 THEN ' contact user'
           || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
      || CASE WHEN doc_id % 3 = 0 THEN ' call 555-'
           || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
           || lpad(CAST((doc_id * 37) % 10000 AS VARCHAR), 4, '0')
         ELSE '' END
      || CASE WHEN doc_id % 5 = 0 THEN ' from 10.'
           || CAST(doc_id % 256 AS VARCHAR) || '.0.'
           || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 7 = 0 THEN ' see https://example.org/p/'
           || CAST(doc_id AS VARCHAR) ELSE '' END"""

  private def nMatches(c: Column, re: String): Column =
    size(regexp_extract_all(c, lit(re), lit(0))).cast("long")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PII-incidence PROFILE per source: how many documents carry each
    // PII class and how many raw matches there are — the audit table a
    // compliance review reads before a corpus is cleared. Scale shape:
    // all four regex counts are row-local projections over the scan;
    // the aggregate partial-combines map-side to |sources| rows, so
    // the single exchange carries a handful of longs per source.
    "t30_pii_profile" -> ((s, d) => {
      val t = col("pii_text")
      val docs = withPii(Tables.documents(s, d))
        .select(col("source"),
          nMatches(t, EmailRe).as("e"), nMatches(t, PhoneRe).as("p"),
          nMatches(t, IpRe).as("i"), nMatches(t, UrlRe).as("u"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("e")).as("n_email"), sum(col("p")).as("n_phone"),
          sum(col("i")).as("n_ip"), sum(col("u")).as("n_url"),
          sum(when(col("e") + col("p") + col("i") + col("u") > 0, 1L)
            .otherwise(0L)).as("n_pii_docs"))
        .withColumn("pii_doc_rate",
          col("n_pii_docs").cast("double") / col("n_docs").cast("double"))
        .select(col("source"), col("n_docs"), col("n_email"),
          col("n_phone"), col("n_ip"), col("n_url"), col("n_pii_docs"),
          col("pii_doc_rate"))
        .orderBy(col("source"))
    }),

    // PII REDACTION: replace each class with a typed placeholder, in a
    // fixed class order (email, phone, ip, url) so both engines rewrite
    // identically. Emits per-doc match counts plus the md5 fingerprint
    // and length of the redacted body — the verification surface — so
    // the plan ships 8-byte counters and a 32-char hash per doc, never
    // the redacted text itself. Row-local end to end; the only sort is
    // the output's presentation order.
    "t31_pii_redaction" -> ((s, d) => {
      val t = col("pii_text")
      withPii(Tables.documents(s, d))
        .select(col("doc_id"),
          nMatches(t, EmailRe).as("n_email"),
          nMatches(t, PhoneRe).as("n_phone"),
          nMatches(t, IpRe).as("n_ip"),
          nMatches(t, UrlRe).as("n_url"),
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(t, lit(EmailRe), lit("[EMAIL]")),
                lit(PhoneRe), lit("[PHONE]")),
              lit(IpRe), lit("[IP]")),
            lit(UrlRe), lit("[URL]")).as("red"))
        .select(col("doc_id"), col("n_email"), col("n_phone"),
          col("n_ip"), col("n_url"),
          md5(encode(col("red"), "UTF-8")).as("redacted_fp"),
          length(col("red")).cast("long").as("redacted_len"))
        .orderBy(col("doc_id"))
    })
  )

  def oracleSql: Map[String, String] = Map(

    "t30_pii_profile" ->
      s"""WITH p AS (SELECT source, $PiiSql AS t FROM documents),
         c AS (SELECT source,
             CAST(LEN(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS e,
             CAST(LEN(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS p,
             CAST(LEN(regexp_extract_all(t, '$IpRe')) AS BIGINT) AS i,
             CAST(LEN(regexp_extract_all(t, '$UrlRe')) AS BIGINT) AS u
           FROM p)
         SELECT source, COUNT(1) AS n_docs,
           CAST(SUM(e) AS BIGINT) AS n_email,
           CAST(SUM(p) AS BIGINT) AS n_phone,
           CAST(SUM(i) AS BIGINT) AS n_ip,
           CAST(SUM(u) AS BIGINT) AS n_url,
           CAST(SUM(CASE WHEN e + p + i + u > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_pii_docs,
           CAST(SUM(CASE WHEN e + p + i + u > 0 THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(COUNT(1) AS DOUBLE) AS pii_doc_rate
         FROM c GROUP BY source ORDER BY source""",

    "t31_pii_redaction" ->
      s"""WITH p AS (SELECT doc_id, $PiiSql AS t FROM documents),
         r AS (SELECT doc_id,
             CAST(LEN(regexp_extract_all(t, '$EmailRe')) AS BIGINT)
               AS n_email,
             CAST(LEN(regexp_extract_all(t, '$PhoneRe')) AS BIGINT)
               AS n_phone,
             CAST(LEN(regexp_extract_all(t, '$IpRe')) AS BIGINT) AS n_ip,
             CAST(LEN(regexp_extract_all(t, '$UrlRe')) AS BIGINT) AS n_url,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(t, '$EmailRe', '[EMAIL]', 'g'),
                   '$PhoneRe', '[PHONE]', 'g'),
                 '$IpRe', '[IP]', 'g'),
               '$UrlRe', '[URL]', 'g') AS red
           FROM p)
         SELECT doc_id, n_email, n_phone, n_ip, n_url,
           md5(red) AS redacted_fp,
           CAST(LEN(red) AS BIGINT) AS redacted_len
         FROM r ORDER BY doc_id"""
  )
}
