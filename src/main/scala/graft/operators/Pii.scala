package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * PII scrubbing — detect and mask personally-identifiable spans (emails,
 * phone numbers, IPv4 addresses, long digit runs / card-like numbers) in a
 * text column. A standard compliance pass of every training-data pipeline:
 * corpora are scrubbed BEFORE tokenization so the model never sees raw
 * contact data.
 *
 * Everything is `regexp_replace` / `regexp_count` over codegen'd patterns:
 * zero shuffles, linear scan, whole-stage codegen keeps the pass inside the
 * same stage as any adjacent filters. At 100 TB this is the cheapest kind
 * of operator — pure per-row compute that scales with executor count.
 *
 * Pattern portability: the patterns below stay inside the common subset of
 * Java regex and RE2 (character classes, bounded quantifiers, alternation —
 * no backreferences, no lookaround), so the battery oracle replays the
 * exact same masking in DuckDB and hash-matches the cleaned text.
 */
object Pii {

  /** (name, pattern, replacement) — applied in order; EMAIL before PHONE so
   *  digits inside a masked token can't be re-matched. */
  val Rules: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "([0-9]{1,3}[.]){3}[0-9]{1,3}", "<IP>"),
    ("phone", "[+]?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}", "<PHONE>"),
    ("digits", "[0-9]{9,}", "<NUM>"))

  /** The masked text: all rules applied in order. */
  def redactColumn(text: Column): Column =
    Rules.foldLeft(text) { case (c, (_, re, repl)) => regexp_replace(c, re, repl) }

  /**
   * Append `<textCol>_clean` plus per-rule match counts (`n_email`,
   * `n_ipv4`, `n_phone`, `n_digits`). Counts are computed on the original
   * text, masking is sequential — a span claimed by an earlier rule is
   * invisible to later ones.
   */
  def redact(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumns(
      Map(s"${textCol}_clean" -> redactColumn(t)) ++
        Rules.map { case (name, re, _) => s"n_$name" -> regexp_count(t, lit(re)) })
  }
}
