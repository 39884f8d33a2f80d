package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persian-text normalization as pure Catalyst column expressions
  * (no UDFs — everything stays inside whole-stage codegen).
  *
  * Reference semantics (see /root/reference):
  *  - digit translation: divar_transformer.py:26-30, kilid_transformer.py:6-12
  *  - ZWNJ cleanup: kilid_transformer.py:38-39
  *  - slug: sheypoor_transformer.py:92-95
  *  - numeric-garbage strip + null-on-fail cast: divar_transformer.py:611-636
  *  - toman amounts: kilid_transformer.py:41-64
  *  - property-type normalization: utils_of_searchengine.py:94-114
  */
object PersianText {

  val PersianDigits = "۰۱۲۳۴۵۶۷۸۹"
  val EnglishDigits = "0123456789"

  /** F1: ۰-۹ → 0-9 (exact analog of str.maketrans translation). */
  def persianToEnglishDigits(c: Column): Column =
    translate(c, PersianDigits, EnglishDigits)

  /** F2: ZWNJ (U+200C) → space, then trim; null-safe ("" for null like
    * the reference's `if text else ""`). */
  def cleanText(c: Column): Column =
    coalesce(trim(regexp_replace(c, "‌", " ")), lit(""))

  /** F2b: strip directional marks (ZWJ, LRM, RLM) entirely
    * (format_divar_collection.py:31). */
  def stripDirectionalMarks(c: Column): Column =
    regexp_replace(c, "[‍‎‏]", "")

  /** F3: slug (sheypoor_transformer.py:92-95, exact port): falsy text →
    * null; else strip the WHOLE string, lower, Persian comma → ',',
    * take the pre-comma segment, whitespace runs → '-'. The reference
    * does NOT re-strip the segment, so a trailing-space run before the
    * comma becomes a trailing '-' — ported faithfully. */
  def toSlug(c: Column): Column =
    when(c.isNull || c === "", lit(null).cast(StringType))
      .otherwise(regexp_replace(
        element_at(split(regexp_replace(lower(trim(c)), "،", ","), ","), 1),
        "\\s+", "-"))

  /** F4 step 1: Persian digits → English, then keep only [0-9 . + -]. */
  def numericGarbageStripped(c: Column): Column =
    regexp_replace(persianToEnglishDigits(c.cast(StringType)), "[^\\d.+\\-]", "")

  /** F4: parse as double, null on garbage/empty (Python `float(...)` +
    * except → None) — `try_cast` of an empty string is already null, so
    * the argument appears in the plan once. */
  def toDoubleOrNull(c: Column): Column =
    numericGarbageStripped(c).try_cast(DoubleType)

  /** F4 (int fields): Python `int(str)` — fails (→ null) on any
    * non-integral string such as "12.7"; Spark's string→long cast has the
    * same null-on-non-integral behavior. */
  def toLongOrNull(c: Column): Column =
    numericGarbageStripped(c).try_cast(LongType)

  /** F6: toman amount — number × unit word; "توافقی" (negotiable) and
    * number-less text carry no amount. The reference returns a mixed
    * int-or-string; we split that into a typed struct
    * (amount: long, label: string — label set iff amount is null). */
  def parseTomanAmount(c: Column): Column = {
    val cleaned = persianToEnglishDigits(cleanText(c))
    val num = regexp_extract(cleaned, "(\\d+)", 1).try_cast(LongType)
    val amount =
      when(cleaned.contains("توافقی") || num.isNull, lit(null).cast(LongType))
        .when(cleaned.contains("میلیارد"), num * 1000000000L)
        .when(cleaned.contains("میلیون"), num * 1000000L)
        .when(cleaned.contains("هزار"), num * 1000L)
        .otherwise(num)
    struct(
      amount.as("amount"),
      when(amount.isNull && c.isNotNull, cleaned).otherwise(lit(null).cast(StringType))
        .as("label"))
  }

  /** F7: property-type normalization — empty/partnership (مشارکت) → null
    * (row later dropped), land/industrial → canonical "باغ باغچه و زمین",
    * everything else passes through trimmed. */
  def normalizePropertyType(c: Column): Column = {
    val pt = trim(c.cast(StringType))
    when(c.isNull || pt === "", lit(null).cast(StringType))
      .when(pt.contains("مشارکت"), lit(null).cast(StringType))
      .when(pt.contains("زمین") || pt.contains("صنعتی"), lit("باغ باغچه و زمین"))
      .otherwise(pt)
  }

  /** F8: floor extraction "N از M" → (floor, total_floors)
    * (divar_transformer.py:349-357). */
  def floorOfTotal(c: Column): Column = {
    val s = persianToEnglishDigits(c)
    struct(
      regexp_extract(s, "(\\d+)\\s*از\\s*(\\d+)", 1).try_cast(IntegerType).as("floor"),
      regexp_extract(s, "(\\d+)\\s*از\\s*(\\d+)", 2).try_cast(IntegerType)
        .as("total_floors"))
  }

  /** F13: suffix slice — url[-8:] token (map_divar_data_to_delta.py:44-46). */
  def suffixToken(c: Column, n: Int = 8): Column = substring(c, -n, n)

  /** F12: breadcrumb join (sheypoor_transformer.py:135-139). */
  def joinBreadcrumbs(c: Column, sep: String = "/"): Column = array_join(c, sep)
}
