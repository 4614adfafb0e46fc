package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII REDACTION — the anonymization step of a training-data pipeline:
  * mask emails, phone numbers, and IPv4 addresses with typed
  * placeholders, and count what was masked (the audit trail a redaction
  * job must emit).
  *
  * Scale design: pure row-local regexp_replace / regexp_extract_all
  * over codegen'd built-ins — one narrow pass, no shuffle, no UDF. The
  * patterns use only portable character-class constructs, so Java
  * regex (engine) and RE2 (DuckDB oracle, with the 'g' flag — DuckDB
  * replaces only the FIRST match without it) transform text identically;
  * the q73 gate compares the redacted STRING byte-for-byte, so an
  * ordering or greediness divergence anywhere in the chain hash-fails.
  *
  * Replacement order matters and is fixed: EMAIL → PHONE → IP.
  * Emails go first (their local parts may contain '+' and digits the
  * phone pattern could claim, and their domains contain dots the IP
  * pattern could claim); phones go before IPs so a dot-separated
  * phone ("+1.555.123.4567") is classified as a phone, not as its
  * embedded dotted quad. The placeholders contain no digits, '@', or
  * '+', so later patterns can never match earlier replacements.
  *
  * Documented limits (precision over recall-by-overmatching):
  * space-separated national phone formats ("+1 555 123 4567") are out
  * of scope — without the separator there is no anchor distinguishing
  * them from prose numbers, and a space-accepting class would swallow
  * an adjacent IP into the phone match. A '+'-prefixed dotted quad
  * ("+10.0.0.1") is classified as a phone.
  */
object Redact {
  val EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[A-Za-z0-9]"
  val PHONE = "\\+[0-9][0-9.-]+[0-9]"
  val IP = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"

  /** Per-doc redaction + audit counts. Each count is taken at its
    * stage of the chain (emails on the original text, phones after
    * email masking, IPs after phone masking), so the counts record
    * exactly what each stage masked — an IP claimed by a phone match
    * is a phone, not an IP, in the audit.
    * Output: (idCol, n_emails, n_ips, n_phones, redacted). */
  def stats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val afterEmail = regexp_replace(t, EMAIL, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, PHONE, "<PHONE>")
    df.select(
      col(idCol),
      size(regexp_extract_all(t, lit(EMAIL), lit(0))).as("n_emails"),
      size(regexp_extract_all(afterPhone, lit(IP), lit(0))).as("n_ips"),
      size(regexp_extract_all(afterEmail, lit(PHONE), lit(0))).as("n_phones"),
      regexp_replace(afterPhone, IP, "<IP>").as("redacted"))
  }
}
