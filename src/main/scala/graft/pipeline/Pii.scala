package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII scrubbing for training-data pipelines: detect and redact emails,
  * IPv4 addresses and phone-shaped numbers from a text column. Pure
  * codegen'd `regexp_replace`/`regexp_count` composition — no UDFs, stays
  * inside WholeStageCodegen, scales linearly with executors.
  *
  * The patterns are deliberately conservative, high-precision variants of
  * the usual corpus-scrubbing rules (a false positive destroys signal; a
  * false negative is caught by later passes). Regex syntax is kept inside
  * the RE2-compatible subset so the same patterns run under Java regex
  * (Spark) and RE2-family engines.
  */
object Pii {

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  /** NANP-style 7-digit with exchange separator; extend per deployment. */
  val PhoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** Redact all three PII classes; IPs before phones so `10.0.1.7` is
    * consumed as one IP rather than leaving `0.1` fragments for the phone
    * rule. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailRe))
  def ipv4Count(text: Column): Column = regexp_count(text, lit(Ipv4Re))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhoneRe))

  /** k-anonymity / l-diversity release audit (Sweeney 2002; Machanavajjhala
    * et al. 2007): group the corpus by its quasi-identifier columns and
    * flag every group that re-identifies (size < k) or lacks sensitive
    * diversity (distinct sensitive values < l) — the privacy gate a
    * dataset release runs after [[redact]] has handled direct identifiers.
    *
    * One keyed aggregation (count + count-distinct per group, both
    * map-side-combinable), violating groups only — output is bounded by
    * the violation count, not the corpus. All integer counts. */
  def kAnonymityReport(
      df: org.apache.spark.sql.DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, k: Int, l: Int): org.apache.spark.sql.DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("violation",
        when(col("group_size") < k && col("n_sensitive") < l, "k_and_l")
          .when(col("group_size") < k, "k_anonymity")
          .when(col("n_sensitive") < l, "l_diversity"))
      .filter(col("violation").isNotNull)
}
