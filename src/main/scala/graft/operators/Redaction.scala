package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII redaction for training corpora — the scrubbing pass every
  * web-scale pretraining pipeline runs before tokenization (emails, phone
  * numbers, IPs, card/SSN-shaped digit runs).
  *
  * Generalizes the reference's only data-hygiene gesture — dropping/cleaning
  * the merchant `description` field (reference `api.py:122-132`) — into a
  * pattern-driven scrub.
  *
  * Everything is a pure per-row `regexp_replace`/`regexp_count` chain:
  * codegen'd, no shuffle, no UDFs — at 100 TB the work is embarrassingly
  * parallel per parquet row-group and pushes no data anywhere.
  *
  * Pattern language is the intersection of Java regex and RE2 (character
  * classes, bounded repetition, `\b`, non-capturing groups — no
  * backreferences or lookaround), so the same pattern strings run
  * identically in Spark, DuckDB, and any RE2-based engine — which is what
  * makes the redaction ORACLE-checkable cross-engine.
  */
object Redaction {

  /** local-part@domain.tld — the classic conservative email shape. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** 16-digit card numbers in 4-4-4-4 groups (space/dash/nothing). */
  val CardPattern = "\\b\\d{4}[- ]?\\d{4}[- ]?\\d{4}[- ]?\\d{4}\\b"

  /** US-SSN-shaped 3-2-4 digit groups. */
  val SsnPattern = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** 3-4 digit local phone groups with a separator (covers the common
    * 555-0123 tail). */
  val PhonePattern = "\\b\\d{3}[- ]\\d{4}\\b"

  /** Dotted-quad IPv4. */
  val Ipv4Pattern = "\\b\\d{1,3}(?:\\.\\d{1,3}){3}\\b"

  /** The scrub set, ordered LONGEST/most-specific first so a card
    * number is never half-eaten by the phone pattern before its own pass
    * (the chain rewrites left to right through this sequence). */
  val Patterns: Seq[(String, String)] = Seq(
    "card"  -> CardPattern,
    "ssn"   -> SsnPattern,
    "email" -> EmailPattern,
    "phone" -> PhonePattern,
    "ip"    -> Ipv4Pattern)

  /** Replace every match of every pattern with its `[name]` placeholder,
    * applied in sequence order. Idempotent: placeholders contain no digits
    * or '@', so no pattern can match inside an earlier replacement. */
  def redact(text: Column): Column =
    Patterns.foldLeft(text) { case (acc, (name, pat)) =>
      regexp_replace(acc, pat, s"[$name]")
    }

  /** Number of matches of one pattern in the ORIGINAL text (BIGINT). */
  def matchCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")
}
