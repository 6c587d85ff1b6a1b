package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression library re-expressing the reference's ad-hoc scalar
  * transforms (SURVEY.md §2.3 P1–P15, §2.4 F2–F4) as pure Catalyst
  * `Column` expressions — everything stays inside whole-stage codegen, no
  * UDFs anywhere.
  *
  * Reference citations point into /root/reference (read-only snapshot).
  */
object ReferenceFunctions {

  /** Days between 1899-12-30 (OLE automation epoch) and 1970-01-01. */
  val OleEpochDays = 25569.0

  /** P1 — OLE Automation date (days since 1899-12-30 as double) → epoch
    * microseconds. Mirrors `ole2datetime`
    * (reference conv/gantner_operations/DataConverterUDBF.py:129-140) but
    * vectorized as one arithmetic expression.
    *
    * Kept as epoch micros (BIGINT) rather than TIMESTAMP so results are
    * byte-comparable across engines; wrap with [[oleToTimestamp]] for a
    * typed column.
    */
  def oleToEpochMicros(ole: Column): Column =
    round((ole - lit(OleEpochDays)) * lit(86400.0) * lit(1e6)).cast("long")

  /** P1 — OLE date double → TIMESTAMP. */
  def oleToTimestamp(ole: Column): Column =
    timestamp_micros(oleToEpochMicros(ole))

  /** Inverse of P1 (used by tests + synthetic data): ts → OLE double. */
  def timestampToOle(ts: Column): Column =
    unix_micros(ts) / lit(86400.0 * 1e6) + lit(OleEpochDays)

  /** P2 — matplotlib-style `date2num`: fractional days since 1970-01-01
    * (DataConverterUDBF.py:169, used for plot axes). */
  def date2num(ts: Column): Column =
    unix_micros(ts).cast("double") / lit(86400.0 * 1e6)

  /** P3 — split a timestamp into the reference's `Datum` / `Uhrzeit` /
    * `Millisekunden` columns (DataConverterUDBF.py:173-177). */
  def datum(ts: Column): Column = date_format(ts, "yyyy-MM-dd")
  def uhrzeit(ts: Column): Column = date_format(ts, "HH:mm:ss")
  def millisekunden(ts: Column): Column = // integer div: micros → ms within second
    floor(unix_micros(ts) / 1000L).cast("long") % 1000L

  /** P4 — relative time vector: sample ordinal / sample rate
    * (DataConverterUDBF.py:119-126). `ordinal` is 0-based row index within
    * the file/group (row_number()-1 over the caller's window). */
  def relativeTime(ordinal: Column, sampleRate: Double): Column =
    ordinal.cast("double") / lit(sampleRate)

  /** P7 — filename-embedded timestamp extraction
    * (helper/utility.py:8-27): regex date + time groups, parsed with
    * hour-minute-second separated by `-`. Returns epoch seconds (BIGINT). */
  val FilenameTsPattern = """(\d{4}-\d{2}-\d{2})_(\d{2}-\d{2}-\d{2})"""
  def filenameTimestampSeconds(fname: Column): Column =
    unix_timestamp(
      to_timestamp(
        concat_ws(" ",
          regexp_extract(fname, FilenameTsPattern, 1),
          regexp_extract(fname, FilenameTsPattern, 2)),
        "yyyy-MM-dd HH-mm-ss"))

  /** P8 + P11 — decimal-comma numeric parse `"1,23"` → 1.23 with
    * coerce-to-null on garbage (modbus/modbus_writer.py:114 skips
    * unparsable values; file_analysis.py:81-82 uses errors="coerce").
    * try_cast, because Spark 4's default ANSI cast would throw. */
  def decimalComma(s: Column): Column =
    regexp_replace(s, ",", ".").try_cast("double")

  /** P13 — content-hash event id: sha256 over a canonical (sorted-key)
    * JSON of the metadata fields, first 16 hex chars
    * (restapi/app_fs.py:42-51). Caller supplies the canonical JSON string
    * (field order must be lexicographic, as `json.dumps(sort_keys=True)`). */
  def eventId(canonicalJson: Column): Column =
    substring(sha2(canonicalJson, 256), 1, 16)

  /** P14 — the reference's stats rounding (BASIC_ROUNDING=3,
    * udbf_file_analysis.py:19). */
  def roundStat(c: Column): Column =
    round(c, graft.core.GraftConfig.basicRounding)

  /** F2 — 10-minute-alignment predicate: a filename timestamp marks a full
    * measurement window iff minute % 10 == 0 and second == 0
    * (DataConverterUDBF.py:59-63,232-238). */
  def isTenMinuteAligned(ts: Column): Column =
    minute(ts) % 10 === 0 && second(ts) === 0

  /** F3 — size-band health predicate: healthy iff within ±10% of the
    * reference size (DataConverterUDBF.py:39-81). Returns 1/0 int health
    * flag (modbus register convention). */
  def sizeBandHealthy(size: Column, refSize: Column): Column =
    when(size.between(refSize * 0.9, refSize * 1.1), 1).otherwise(0)

  /** F4 — warm-up trim predicate: keep samples at or after 10 s of
    * relative time (drop first `rate*10` samples,
    * DataConverterUDBF.py:240-254). */
  def afterWarmup(relTime: Column): Column = relTime >= 10.0

  /** P9 — stringify for KV publish: null → empty string, double → fixed
    * 3-decimal text (sens_file_analysis.py:47-54 + BASIC_ROUNDING). */
  def kvValue(c: Column): Column =
    coalesce(format_string("%.3f", c), lit(""))

  /** P12 — measurement-window end in Berlin wall time: UTC start + 10
    * minutes, shifted to Europe/Berlin (udbf_file_analysis.py:135-143). */
  def windowEndBerlin(utcStart: Column): Column =
    from_utc_timestamp(utcStart + expr("INTERVAL 10 MINUTES"), "Europe/Berlin")

  /** P12 — the Allsat partner-file name derived from the window end
    * (`FHEB_%Y_%m_%d_%H_%M_%S.csv`, udbf_file_analysis.py:141-143). */
  def allsatName(utcStart: Column): Column =
    concat(lit("FHEB_"),
      date_format(windowEndBerlin(utcStart), "yyyy_MM_dd_HH_mm_ss"),
      lit(".csv"))

  /** F7 — sample-rate health-key routing from the filename; the 100 Hz
    * check runs first, mirroring the reference's if/elif
    * (udbf_file_analysis.py:57-62). Null when neither rate appears. */
  def healthKeyForRate(fname: Column): Column =
    when(lower(fname).contains("100hz"), "health:lpi_100hz_file_size")
      .when(lower(fname).contains("1hz"), "health:lpi_1hz_file_size")
      .otherwise(lit(null).cast("string"))

  /** F8 — alarm predicate: channel name ends `_GAL`/`_RAL` and the
    * channel's max equals 1 (udbf_file_analysis.py:99-100). */
  def isAlarmChannel(name: Column, maxValue: Column): Column =
    (name.endsWith("_GAL") || name.endsWith("_RAL")) && maxValue === 1.0

  /** F9 — URL-shape gate (restapi/app_fs.py:17,72-73). */
  def isValidMetadataUrl(url: Column): Column =
    url.rlike("^(?i)https?://")

  /** F1 — file-type gate on the lower-cased suffix
    * (udbf_file_analysis.py:38-44; sens_file_analysis.py:13-29). */
  def hasSupportedSuffix(fname: Column, suffixes: Seq[String]): Column =
    lower(regexp_extract(fname, """(\.[^.]*)$""", 1)).isInCollection(suffixes)
}
