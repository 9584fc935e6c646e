package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShims
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Scalar Column-function library — the reference's private TS helper
  * functions (SURVEY §2.3, P12-P29) re-expressed as pure Catalyst
  * expressions (codegen'd, no UDFs):
  *
  *  - P12 stableEntityId / P13 (src/canon/rules.ts:3-13)
  *  - P14 normalizeNullableString (rules.ts:15-21)
  *  - P15 sortKey (rules.ts:34-39)
  *  - P16 sha256 hex digest (src/lib/hash.ts:3-5)
  *  - P17 computeDurationSeconds (src/canon/timeslice.ts:219-229)
  *  - P18 toUuidMaybe (sinks/pbi/refresh/derive/index.ts:345-364)
  *  - P19 toPowerBiSerial / OLE date (derive/index.ts:309-318)
  *  - P20 normalizeIsoTimestamp (derive/index.ts:320-329)
  *  - P21/P22 normalizeStageNumber[OrNull] (derive/index.ts:331-343)
  *  - P23 toLosAngelesDateStartIso (derive/index.ts:366-376)
  *  - P24 toLosAngelesSnapshotLabel (derive/index.ts:659-666)
  *  - P28 pad2 (derive/index.ts:705-707)
  *  - P29 assignStageColorHex (derive/index.ts:709-714)
  *
  * All functions stay inside whole-stage codegen; no driver round trips.
  */
object Scalars {

  /** OLE Automation epoch 1899-12-30T00:00:00Z in unix millis. */
  val OleEpochMs: Long = -2209161600000L

  val LaTz = "America/Los_Angeles"

  /** Lowercase a string column exactly as Spark's default `lower` does
    * for UTF8_BINARY strings (`CollationAwareUTF8String.toLowerCase`):
    * an all-ASCII value maps byte-wise, anything else goes through ICU's
    * root-locale `UCharacter.toLowerCase` over its valid-UTF-8 decoding.
    * That is the locale-independent mapping of JS `toLowerCase`, which
    * the reference's ids and sort keys depend on.
    *
    * Why not `lower`: the first `lower` in a JVM runs the static
    * initializer of `CollationAwareUTF8String`, which builds a
    * title-case lookup table over all of Unicode (~1.6 s on one thread,
    * held on the heap for the life of the process) that lowercasing
    * never reads. Each CLI command is its own JVM and would pay it.
    *
    * This pins the ICU mapping: it does not read
    * `spark.sql.icu.caseMappings.enabled`. A string in any other
    * collation fails analysis (DATATYPE_MISMATCH) rather than being
    * lowercased under different rules. */
  def lowerCase(c: Column): Column =
    GraftSqlShims.column(StaticInvoke(Scalars.getClass, StringType,
      "lowerUtf8", Seq(GraftSqlShims.expression(c)), Seq(StringType)))

  /** Kernel of [[lowerCase]], called from generated code. */
  def lowerUtf8(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  /** P12 — `prefix + "_" + lower(id without '-')`; null id → `prefix_unknown`. */
  def stableEntityId(prefix: String, id: Column): Column =
    when(id.isNull, lit(s"${prefix}_unknown"))
      .otherwise(concat(lit(prefix), lit("_"), lowerCase(regexp_replace(id, "-", ""))))

  /** P14 — trim; empty → null. */
  def normalizeNullableString(c: Column): Column = nullif(trim(c), lit(""))

  /** P15 — join trimmed parts (null → "") with '|', lowercase. */
  def sortKey(parts: Column*): Column =
    lowerCase(concat_ws("|", parts.map(p => coalesce(trim(p), lit(""))): _*))

  /** P16 — SHA-256 hex digest. */
  def sha256Hex(c: Column): Column = sha2(c.cast("string"), 256)

  /** P17 — `max(0, round((end-start)/1000))` seconds; null if either null. */
  def durationSeconds(start: Column, end: Column): Column =
    when(start.isNull || end.isNull, lit(null).cast("long")).otherwise(
      greatest(lit(0L),
        round((unix_millis(end) - unix_millis(start)) / lit(1000.0)).cast("long")))

  /** P18 — extract hyphenated UUID; else re-hyphenate 32-hex; else null.
    * Patterns are UNANCHORED substring searches, matching the
    * reference's regex.exec semantics (derive/index.ts:345-364). */
  def toUuidMaybe(c: Column): Column = {
    val lowered = lowerCase(c)
    val hyphenated = regexp_extract(lowered,
      "([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})", 1)
    val compact = regexp_extract(lowered, "([0-9a-f]{32})", 1)
    val rehyph = concat_ws("-",
      substring(compact, 1, 8), substring(compact, 9, 4),
      substring(compact, 13, 4), substring(compact, 17, 4),
      substring(compact, 21, 12))
    when(hyphenated =!= "", hyphenated)
      .when(compact =!= "", rehyph)
      .otherwise(lit(null).cast("string"))
  }

  /** P19 — instant → OLE Automation serial days (Double). */
  def oleSerial(ts: Column): Column =
    (unix_millis(ts) - lit(OleEpochMs)) / lit(86400000.0)

  /** P20 — UTC ISO-8601 with millisecond precision. */
  def isoUtc(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

  /** A double that is NaN or ±Infinity (ANSI round/cast would throw). */
  private def nonFinite(n: Column): Column =
    isnan(n) || n === Double.PositiveInfinity || n === Double.NegativeInfinity

  /** P21 — null/non-finite → 1; else max(1, round(n))
    * (derive/index.ts:331-336 Number.isFinite guard). */
  def normalizeStageNumber(n: Column): Column =
    when(n.isNull || nonFinite(n), lit(1L))
      .otherwise(greatest(lit(1L), round(n).cast("long")))

  /** P22 — null-preserving round; non-finite → null
    * (derive/index.ts:338-343). */
  def normalizeStageNumberOrNull(n: Column): Column =
    when(nonFinite(n), lit(null).cast("long"))
      .otherwise(round(n).cast("long"))

  /** P23 — instant → its America/Los_Angeles calendar date rendered
    * as `YYYY-MM-DDT00:00:00.000Z`. */
  def laDayIso(ts: Column): Column =
    date_format(from_utc_timestamp(ts, LaTz), "yyyy-MM-dd'T00:00:00.000Z'")

  /** LA calendar date as DateType (for grouping). */
  def laDay(ts: Column): Column = to_date(from_utc_timestamp(ts, LaTz))

  /** P24 — LA-local `YYYY-MM-DD HH:mm` label. */
  def laLabel(ts: Column): Column =
    date_format(from_utc_timestamp(ts, LaTz), "yyyy-MM-dd HH:mm")

  /** P28 — zero-pad to width 2. */
  def pad2(c: Column): Column = lpad(c.cast("string"), 2, "0")

  /** P25 — "today" in America/Los_Angeles as YYYY-MM-DD (driver-side;
    * pass as a job parameter for determinism — quality/timeslices.ts:174). */
  def laRunDate(clock: graft.util.Clock = graft.util.SystemClock): String =
    java.time.Instant.ofEpochMilli(clock.nowMs())
      .atZone(java.time.ZoneId.of(LaTz)).toLocalDate.toString

  /** P26 — UTC YYYY-MM-DD stamp for output partitions (lib/time.ts:1-3). */
  def utcDateStamp(clock: graft.util.Clock = graft.util.SystemClock): String =
    java.time.Instant.ofEpochMilli(clock.nowMs())
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  /** 36-entry color palette (our own; the reference uses a fixed 36-color
    * table keyed the same way — derive/index.ts:55-92). */
  val Palette: Seq[String] = Seq(
    "e6194b", "3cb44b", "ffe119", "4363d8", "f58231", "911eb4",
    "46f0f0", "f032e6", "bcf60c", "fabebe", "008080", "e6beff",
    "9a6324", "fffac8", "800000", "aaffc3", "808000", "ffd8b1",
    "000075", "808080", "ffffff", "000000", "a9a9a9", "d2691e",
    "ff7f50", "6495ed", "dc143c", "00ced1", "9400d3", "ff1493",
    "1e90ff", "b22222", "228b22", "daa520", "4b0082", "20b2aa")

  /** P29 — first 8 hex digits of sha256(key) as int, mod 36 → palette. */
  def colorIndex(key: Column): Column =
    (conv(substring(sha2(key.cast("string"), 256), 1, 8), 16, 10).cast("long") % 36)
      .cast("int")

  def colorHex(key: Column): Column =
    element_at(array(Palette.map(lit): _*), colorIndex(key) + 1)
}
