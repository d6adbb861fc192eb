package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The engine's scalar-function surface, composed entirely from codegen'd
  * built-ins (no UDFs in the hot path).
  *
  * Covers the reference's registered UDFs (reference: src/com/vitthalmirji/
  * etl/ETL.py:13-87) plus the column helpers its docs promise but never
  * implement (reference: docs/APIDOC.MD:58-232) — SURVEY.md §2.8 F1-F17.
  */
object ColumnOps {

  // ---- null / blank handling -------------------------------------------

  /** null-or-blank predicate (docs APIDOC `isNullOrBlank`). */
  def isNullOrBlank(c: Column): Column = c.isNull || trim(c) === ""

  /** Reference `isnullorempty` (ETL.py:82-87): blank → null, else trimmed. */
  def nullIfBlank(c: Column): Column = nullif(trim(c), lit(""))

  /** Reference `udfnvl` (ETL.py:48-53): null → default. */
  def nvl(c: Column, default: Any): Column = coalesce(c, lit(default))

  /** Truthy/falsy in the loose sense of the documented API: falsy = null,
    * false (any case), numeric zero (in any rendering — 0, 0.0, 0.00,
    * -0), or blank string. The zero test is a string-level pattern, not a
    * numeric cast: ANSI Spark's cast throws on non-numeric strings, and
    * the pattern form restates verbatim in any engine. */
  def isFalsy(c: Column): Column = {
    val s = trim(lower(c.cast("string")))
    // The exponent arm covers Spark's scientific rendering of high-scale
    // decimal zeros: java.math.BigDecimal prints a decimal(38,7) zero as
    // "0E-7" (and negative-scale zeros as "0E+7"), which the plain pattern
    // missed — the documented contract is "numeric zero in ANY rendering".
    c.isNull || s === "" || s === "false" ||
      s.rlike("^[+-]?0+(\\.0+)?(e[+-]?\\d+)?$")
  }
  def isTruthy(c: Column): Column = !isFalsy(c)

  /** NULL-safe BETWEEN: null bounds behave as unbounded (docs `nullBetween`). */
  def nullBetween(c: Column, lower: Column, upper: Column): Column =
    (lower.isNull || c >= lower) && (upper.isNull || c <= upper)

  def isNotIn(c: Column, values: Seq[Any]): Column = !c.isin(values: _*)

  /** All the given columns equal the value (docs `multiEquals`). */
  def multiEquals(value: Any, cols: Column*): Column =
    cols.map(_ === lit(value)).reduce(_ && _)

  // ---- string hygiene ---------------------------------------------------

  /** Collapse runs of whitespace to one space (docs `single_space`). */
  def singleSpace(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  def removeAllWhitespace(c: Column): Column = regexp_replace(c, "\\s+", "")

  /** Remove leading/trailing non-space content? No — the documented
    * `anti_trim` keeps the outer whitespace and strips the inner.
    */
  def antiTrim(c: Column): Column = regexp_replace(c, "\\b\\s+\\b", "")

  def removeNonWordCharacters(c: Column): Column = regexp_replace(c, "[^\\w\\s]+", "")

  // ---- timezone / datetime ---------------------------------------------

  /** Reference `datetimetogmt` (ETL.py:22-28): parse a local-time string and
    * convert to UTC. The reference hardcodes America/Los_Angeles; here the
    * zone is explicit (`zonedatetimetogmt`, ETL.py:39-45, generalizes it).
    */
  def datetimeToGmt(c: Column, fmt: String,
                    zone: String = "America/Los_Angeles"): Column =
    to_utc_timestamp(to_timestamp(c, fmt), zone)

  /** String-date cast, null on failure (reference: Utilities.py:373-379 —
    * native `to_date` already yields null on unparseable input).
    */
  def toDateSafe(c: Column, fmt: String): Column = try_to_timestamp(c, lit(fmt)).cast("date")

  // ---- lookups ----------------------------------------------------------

  /** Reference `udflookup` (ETL.py:56-69): split a `sep`-separated code
    * column, map each code through a small dict, rejoin. The driver-global
    * Python dict becomes a literal map baked into the plan (Catalyst folds
    * it; at cluster scale it ships once inside the serialized plan, not
    * per-row like a Python UDF closure).
    */
  def lookup(c: Column, mapping: Map[String, String], sep: String = ";"): Column = {
    val m = typedlit(mapping)
    array_join(transform(split(c, java.util.regex.Pattern.quote(sep)),
      code => coalesce(element_at(m, trim(code)), trim(code))), sep)
  }

  // ---- hashing / keys ---------------------------------------------------

  /** md5 content hash over one or more columns, `~`-joined — the CDC change
    * detector (reference: datawarehousing/change_data_capture.py:9-15
    * hashes raw XML text; we hash post-parse columns instead, which is both
    * cheaper and stable under field reordering).
    *
    * Each column is null-canonicalized to a NUL sentinel before joining:
    * bare concat_ws silently skips NULLs, so ('a',NULL,'b') and ('a','b',NULL)
    * would hash identically and CDC could misreport a real update as
    * unchanged. The oracle SQL mirrors this as COALESCE(CAST(c AS VARCHAR),
    * chr(0)).
    */
  def contentHash(cols: Column*): Column = md5(canonicalJoined(cols))

  /** The NUL-canonicalized `~`-joined row string — THE canonical bytes
    * behind [[contentHash]] and [[graft.quality.Checksums.rowHash48]].
    * Shared so the full-md5 and 48-bit-prefix consumers can never desync:
    * a canonicalization change lands in both or neither.
    *
    * KNOWN LIMIT — the join is not injective across column boundaries: a
    * literal `~` inside a value means ("a~b","c") and ("a","b~c") share
    * bytes, and a literal NUL value collides with SQL NULL, so an update
    * that only moves such a substring across adjacent columns (or swaps
    * NUL for NULL) hashes unchanged and CDC reports no change. This is
    * the standard separator-join trade every hash-diff CDC on delimited
    * canonicalization makes; closing it needs per-field escaping or a
    * length channel IN EVERY ORACLE RESTATEMENT TOO (10 committed oracle
    * SQL twins carry these exact bytes — `chr(0)` + `~`), so it must be
    * one deliberate cross-cutting change, not a local patch. Callers
    * whose column values legitimately carry `~`/NUL near boundaries
    * should pre-escape those columns before hashing. */
  def canonicalJoined(cols: Seq[Column]): Column =
    concat_ws("~", cols.map(c => coalesce(c.cast("string"), lit("\u0000"))): _*)

  /** Stable 60-bit non-negative hash derived from md5 — deterministic across
    * engines and partitionings (unlike `hash`/`xxhash64` whose seeds are
    * Spark-specific). Used as the base hash for MinHash/SimHash so results
    * are reproducible run-to-run. Computed by the allocation-free
    * [[Md5Prefix]] codegen kernel; bit-for-bit
    * `conv(substring(md5(c), 1, 15), 16, 10)` — the portable formulation
    * every oracle restatement keeps.
    */
  def stable64(c: Column): Column =
    Md5Prefix.prefix60(c.cast("string"))

  /** Salted composite key (reference: utils/spark.py:142-147). The salt is
    * DETERMINISTIC per (partition, row position) — not the reference's
    * rand(): salted keys feed repartitions/write distributions, and a salt
    * that re-draws when a lost map task recomputes routes rows to
    * different reducers than the surviving fetched outputs — silent
    * duplication/loss on stage retry (same rule as DataWriter's Salted
    * policy). */
  def saltedKey(buckets: Int, cols: Column*): Column =
    concat_ws("~",
      (cols :+ pmod(monotonically_increasing_id(), lit(buckets.toLong)).cast("string")): _*)

  // ---- audit ------------------------------------------------------------

  /** Basename of the input file (reference: change_data_capture.py:33-42
    * `reverse(split(input_file_name(),'/'))[0]`).
    */
  def sourceFileName: Column =
    element_at(reverse(split(input_file_name(), "/")), 1).as("spark_file_name")

  /** Load time (reference: change_data_capture.py:33-42 casts the run's
    * `now` literal; `current_timestamp()` is fixed once per query). */
  def auditTimestamp: Column = current_timestamp().as("spark_timestamp")
}
