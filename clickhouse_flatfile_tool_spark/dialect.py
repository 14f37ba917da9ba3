"""ClickHouse → Spark SQL dialect translation (string level, conservative).

The reference tool's users write ClickHouse-flavored SQL (its join builder
passes raw condition strings to ClickHouse, server/server.js:837-844, and its
bootstrap emits ``now()``, server.js:165-169).  This module lets the common
ClickHouse function surface run on Spark unchanged: zero-arg and simple
renames plus a paren-matching rewriter for functions that become a different
*shape* (``toInt64(x)`` → ``CAST(x AS BIGINT)``, ``toStartOfDay(x)`` →
``date_trunc('day', x)``) — which a flat regex cannot do safely under
nesting.

One engine, :func:`_rewrite_call`, does every call-shaped rewrite.  It is
driven by ordered name tables — ``_EARLY_CALLS``, ``_CALLS``,
``_LITERAL_CALLS`` and ``_WRAPS`` — in which each ClickHouse name has one
row: a template (arity plus format string) or a ``make`` function for the
rewrites that need code.  :func:`_translate_once` runs the tables between
the passes that do more than rewrite calls (clauses, joins, bracket
syntax, the schema-aware ``empty()`` sites).

Deliberately NOT a SQL parser: translation is name-level, never touches the
inside of string literals, and unknown functions pass through untouched
(Spark then errors with its own message).  Known name-level limits:
``empty()``/``notEmpty()`` default to ``length()`` (String/Binary); when a
SparkSession is passed (``translate_clickhouse_sql(sql, spark=...)`` — the
``api.query`` endpoint does) the translation is schema-aware: if the
``length()`` form fails analysis, array/map-typed arguments are resolved to
``size()`` via analysis feedback, so ClickHouse's array ``empty()`` works
through the SQL endpoint.  Schema-free translation keeps the documented
String-only limitation.  Combinator forms are rows like any other name:
the ``-If`` suffix (``sumIf(x, cond)`` → ``sum(CASE WHEN cond THEN x
END)``), curried (parametric) aggregates (``quantile(0.5)(x)`` →
``percentile(x, 0.5)``) and the ``-Array``/``-Distinct``/``-State``/
``-Merge``/``-ForEach``/``-OrDefault``/``-Resample`` families.

Bracket syntax is translated too (``_rewrite_array_literals``): ``[1,2,3]``
literals → ``array(...)`` and — because ClickHouse indexes 1-based while
Spark's bracket operator is 0-based — ``expr[i]`` element access →
``element_at(expr, i)``, which is 1-based with ClickHouse's negative-index
convention on both engines.
"""

from __future__ import annotations

import functools
import math
import re

# name(x) → prefix + x + suffix, the argument text kept as written; run
# through _rewrite_call after every other table (see _translate_once)
_WRAPS: list[tuple[str, str, str]] = [
    ("toStartOfMinute", "date_trunc('minute', ", ")"),
    ("toStartOfHour", "date_trunc('hour', ", ")"),
    ("toStartOfDay", "date_trunc('day', ", ")"),
    ("toStartOfMonth", "date_trunc('month', ", ")"),
    ("toStartOfQuarter", "date_trunc('quarter', ", ")"),
    ("toStartOfYear", "date_trunc('year', ", ")"),
    # ClickHouse weeks start Monday; Spark date_trunc('week') also snaps to
    # Monday, so both map cleanly (toMonday returns a Date in CH)
    ("toStartOfWeek", "CAST(date_trunc('week', ", ") AS DATE)"),
    ("toMonday", "CAST(date_trunc('week', ", ") AS DATE)"),
    # CH toDayOfWeek: Monday=1..Sunday=7; Spark dayofweek: Sunday=1..Sat=7
    ("toDayOfWeek", "(pmod(dayofweek(", ") + 5, 7) + 1)"),
    ("toYYYYMM", "CAST(date_format(", ", 'yyyyMM') AS INT)"),
    ("uniqExact", "count(DISTINCT ", ")"),
    ("toInt8", "CAST(", " AS TINYINT)"),
    ("toInt16", "CAST(", " AS SMALLINT)"),
    ("toInt32", "CAST(", " AS INT)"),
    ("toInt64", "CAST(", " AS BIGINT)"),
    ("toUInt8", "CAST(", " AS SMALLINT)"),
    ("toUInt16", "CAST(", " AS INT)"),
    ("toUInt32", "CAST(", " AS BIGINT)"),
    ("toUInt64", "CAST(", " AS DECIMAL(20,0))"),
    # batch 25: 128/256-bit integer lanes — DECIMAL(38,0) is Spark's
    # widest exact integer (CH allows 39/77 digits; documented bound)
    ("toInt128", "CAST(", " AS DECIMAL(38,0))"),
    ("toInt256", "CAST(", " AS DECIMAL(38,0))"),
    ("toUInt128", "CAST(", " AS DECIMAL(38,0))"),
    ("toUInt256", "CAST(", " AS DECIMAL(38,0))"),
    ("toFloat32", "CAST(", " AS FLOAT)"),
    ("toFloat64", "CAST(", " AS DOUBLE)"),
    ("toString", "CAST(", " AS STRING)"),
    # empty()/notEmpty() are handled by _wrap_empty_sites (schema-aware when
    # a SparkSession is passed to translate_clickhouse_sql), not here.
    ("arrayUniq", "size(array_distinct(", "))"),
    # exp2/exp10 have no Spark builtin (log2/log10 do and pass through)
    ("exp2", "power(2.0, ", ")"),
    ("exp10", "power(10.0, ", ")"),
    # arrayEnumerate([a,b,c]) = [1,2,3] — transform by index (NOT
    # sequence(1, size(x)): Spark's sequence(1, 0) descends to [1, 0]
    # for empty arrays instead of yielding [])
    ("arrayEnumerate", "transform(", ", (__x, __i) -> __i + 1)"),
    # URL family (ClickHouse URL functions → Spark parse_url parts).
    # Note ClickHouse domain() tolerates scheme-less 'host/path' strings;
    # parse_url follows RFC parsing and needs a scheme — pass full URLs.
    ("domain", "try_parse_url(", ", 'HOST')"),
    ("protocol", "try_parse_url(", ", 'PROTOCOL')"),
    ("path", "try_parse_url(", ", 'PATH')"),
    ("pathFull", "try_parse_url(", ", 'FILE')"),
    ("queryString", "try_parse_url(", ", 'QUERY')"),
    ("fragment", "try_parse_url(", ", 'REF')"),
    ("domainWithoutWWW", "regexp_replace(try_parse_url(", ", 'HOST'), '^www\\\\.', '')"),
    ("topLevelDomain", "regexp_extract(try_parse_url(", ", 'HOST'), '\\\\.([^.]+)$', 1)"),
    ("cutQueryString", "regexp_replace(", ", '\\\\?[^#]*', '')"),
    ("cutFragment", "regexp_replace(", ", '#.*$', '')"),
    ("toYYYYMMDD", "CAST(date_format(", ", 'yyyyMMdd') AS INT)"),
    ("bitNot", "(~(", "))"),
    ("base64Decode", "CAST(unbase64(", ") AS STRING)"),
    # arraySum/arrayAvg accumulate in DOUBLE (ClickHouse keeps integer sums
    # integer — cast the result back where exactness matters)
    ("arraySum", "aggregate(", ", CAST(0 AS DOUBLE), (__a, __v) -> __a + __v)"),
    # the one -State/-Merge combinator pair with a native Spark state:
    # uniqState → an HLL sketch binary (store it, merge it, ship it),
    # uniqMerge → union + estimate.  Other -State kinds stay out of scope
    # (module docstring).  Estimates are approximate on both engines.
    ("uniqState", "hll_sketch_agg(", ")"),
    ("uniqMerge", "hll_sketch_estimate(hll_union_agg(", "))"),
    # CH kurtPop is Pearson kurtosis m4/m2²; Spark kurtosis is the excess
    # (Fisher) form m4/m2² − 3 — shift it back
    ("kurtPop", "(kurtosis(", ") + 3.0D)"),
    # CH crypto hashes return FixedString binaries; Spark's return hex
    # strings — unhex restores the byte-level value (hex(MD5(x)) etc.
    # then agree across engines modulo case: CH hex is uppercase)
    ("MD5", "unhex(md5(", "))"),
    ("SHA1", "unhex(sha1(", "))"),
    ("SHA256", "unhex(sha2(", ", 256))"),
    ("negate", "(-(", "))"),
    # CH isInfinite is false for NaN (abs(NaN) != inf in IEEE compares,
    # matching); isFinite is a _CALLS row (references its arg twice)
    ("isInfinite", "(abs(", ") = double('Infinity'))"),
    ("toUUID", "CAST(", " AS STRING)"),
    # batch 19 ------------------------------------------------------------
    ("toStartOfSecond", "date_trunc('second', ", ")"),
    ("toStartOfMicrosecond", "date_trunc('microsecond', ", ")"),
    ("toRelativeYearNum", "year(", ")"),
    # batch 16 ------------------------------------------------------------
    # groupBitmap(x) returns the bitmap's cardinality — exactly distinct
    # count (the roaring-bitmap state itself stays out of scope, like
    # other -State kinds)
    ("groupBitmap", "count(DISTINCT ", ")"),
    # -OrNull / -OrZero parse-conversion family → try_cast (CH returns
    # NULL / the type default on unparseable input; same contract)
    ("toInt8OrNull", "try_cast(", " AS TINYINT)"),
    ("toInt16OrNull", "try_cast(", " AS SMALLINT)"),
    ("toInt32OrNull", "try_cast(", " AS INT)"),
    ("toInt64OrNull", "try_cast(", " AS BIGINT)"),
    ("toUInt32OrNull", "try_cast(", " AS BIGINT)"),
    ("toUInt64OrNull", "try_cast(", " AS DECIMAL(20,0))"),
    ("toFloat32OrNull", "try_cast(", " AS FLOAT)"),
    ("toFloat64OrNull", "try_cast(", " AS DOUBLE)"),
    ("toDateOrNull", "try_cast(", " AS DATE)"),
    ("toDateTimeOrNull", "try_cast(", " AS TIMESTAMP)"),
    ("toInt32OrZero", "coalesce(try_cast(", " AS INT), 0)"),
    ("toInt64OrZero", "coalesce(try_cast(", " AS BIGINT), CAST(0 AS BIGINT))"),
    ("toFloat32OrZero", "coalesce(try_cast(", " AS FLOAT), CAST(0 AS FLOAT))"),
    ("toFloat64OrZero", "coalesce(try_cast(", " AS DOUBLE), CAST(0 AS DOUBLE))"),
    # batch 22 ------------------------------------------------------------
    ("toUInt32OrZero", "coalesce(try_cast(", " AS BIGINT), CAST(0 AS BIGINT))"),
    (
        "toUInt64OrZero",
        "coalesce(try_cast(",
        " AS DECIMAL(20,0)), CAST(0 AS DECIMAL(20,0)))",
    ),
    # CH's Date/DateTime type default is the epoch (server-TZ there,
    # UTC-fixed here — the session-timezone house stance)
    ("toDateOrZero", "coalesce(try_cast(", " AS DATE), DATE'1970-01-01')"),
    (
        "toDateTimeOrZero",
        "coalesce(try_cast(",
        " AS TIMESTAMP), TIMESTAMP'1970-01-01 00:00:00')",
    ),
    ("sigmoid", "(1.0D / (1.0D + exp(-(", "))))"),
    # the SHA256 unhex stance above, for the rest of the sha2 family
    ("SHA224", "unhex(sha2(", ", 224))"),
    ("SHA384", "unhex(sha2(", ", 384))"),
    ("SHA512", "unhex(sha2(", ", 512))"),
    ("firstLine", "element_at(split(", ", '\\n'), 1)"),
    ("toMillisecond", "CAST(date_format(", ", 'SSS') AS INT)"),
    # ISO-year start = Monday of ISO week 1 = week-truncated Jan 4
    (
        "toStartOfISOYear",
        "CAST(date_trunc('week', make_date(extract(YEAROFWEEK FROM ",
        "), 1, 4)) AS DATE)",
    ),
    # UUID <-> FixedString(16) byte round-trips (canonical lowercase form)
    ("UUIDStringToNum", "unhex(replace(", ", '-', ''))"),
    ("UUIDNumToString",
     "regexp_replace(lower(hex(", ")), "
     "'^(.{8})(.{4})(.{4})(.{4})(.{12})$', '$1-$2-$3-$4-$5')"),
    # regexpQuoteMeta: backslash-escape RE2 metacharacters
    ("regexpQuoteMeta",
     "regexp_replace(", ", '([\\\\\\\\|()^$.\\\\[\\\\]?*+{:-])', '\\\\\\\\$1')"),
    # normalizeQuery: literals -> ?, value lists -> ?.. (CH's query-log
    # normalizer; close parity — CH additionally collapses complex aliases,
    # which needs a real parser).  normalizedQueryHash is engine-specific
    # on both sides (CH uses its own hash; we digest the normalized text).
    ("normalizedQueryHash",
     "xxhash64(regexp_replace(regexp_replace(regexp_replace(",
     ", '\\'[^\\']*\\'', '?'), "
     "'(?<![a-zA-Z_0-9\\\\.])-?\\\\d+(\\\\.\\\\d+)?([eE][-+]?\\\\d+)?', '?'), "
     "'\\\\?(\\\\s*,\\\\s*\\\\?)+', '?..'))"),
    ("normalizeQuery",
     "regexp_replace(regexp_replace(regexp_replace(",
     ", '\\'[^\\']*\\'', '?'), "
     "'(?<![a-zA-Z_0-9\\\\.])-?\\\\d+(\\\\.\\\\d+)?([eE][-+]?\\\\d+)?', '?'), "
     "'\\\\?(\\\\s*,\\\\s*\\\\?)+', '?..')"),
    # toNullable is a type-system no-op here (Spark columns are nullable)
    ("toNullable", "(", ")"),
    # batch 17 ------------------------------------------------------------
    # URL depth: CH's "first significant subdomain" rule is exactly
    # com|net|org|co → third-level label, otherwise second-level
    ("cutToFirstSignificantSubdomain",
     "element_at(transform(array(split(try_parse_url(", ", 'HOST'), "
     "'\\\\.')), __p -> CASE WHEN size(__p) >= 3 AND element_at(__p, -2) "
     "IN ('com', 'net', 'org', 'co') THEN "
     "array_join(slice(__p, size(__p) - 2, 3), '.') "
     "ELSE array_join(slice(__p, greatest(size(__p) - 1, 1), 2), '.') "
     "END), 1)"),
    ("firstSignificantSubdomain",
     "element_at(transform(array(split(try_parse_url(", ", 'HOST'), "
     "'\\\\.')), __p -> CASE WHEN size(__p) >= 3 AND element_at(__p, -2) "
     "IN ('com', 'net', 'org', 'co') THEN element_at(__p, -3) "
     "WHEN size(__p) >= 2 THEN element_at(__p, -2) "
     "ELSE element_at(__p, 1) END), 1)"),
    ("cutWWW", "regexp_replace(", ", '^((?:[a-z]+://)?)www\\\\.', '$1')"),
    ("netloc", "regexp_extract(", ", '^[a-z]+://([^/?#]*)', 1)"),
    ("basename", "substring_index(", ", '/', -1)"),
    # %20-exact percent encoding: url_encode form-encodes spaces as '+',
    # and literal '+' becomes %2B first, so the remaining '+' are spaces
    ("encodeURLComponent", "replace(url_encode(", "), '+', '%20')"),
    ("decodeURLComponent", "url_decode(", ")"),
    ("toISOYear", "extract(YEAROFWEEK FROM ", ")"),
    # proleptic Gregorian: year 0 is a leap year, 366 days to 0001-01-01
    ("toDaysSinceYearZero", "(datediff(", ", DATE'0001-01-01') + 366)"),
    # Twitter snowflake epoch 1288834974657 ms, timestamp in bits 22+
    ("snowflakeToDateTime",
     "timestamp_millis(shiftright(CAST(", " AS BIGINT), 22) "
     "+ 1288834974657)"),
    ("dateTimeToSnowflake", "shiftleft(unix_millis(", ") - 1288834974657, 22)"),
    ("medianTiming", "approx_percentile(", ", 0.5)"),
    ("toIntervalQuarter", "make_interval(0, (", ") * 3)"),
]

# same-shape renames (arity and semantics line up)
_RENAMES: list[tuple[str, str]] = [
    ("toDateTime", "to_timestamp"),
    ("toDate", "to_date"),
    # the uniq sketch family all map to Spark's HLL++ aggregate —
    # approximate on both engines, so values differ per engine (uniqExact
    # is the oracle path)
    ("uniqCombined64", "approx_count_distinct"),
    ("uniqCombined", "approx_count_distinct"),
    ("uniqTheta", "approx_count_distinct"),
    ("uniqHLL12", "approx_count_distinct"),
    ("uniq", "approx_count_distinct"),
    ("arrayJoin", "explode"),
    ("lcase", "lower"),
    ("ucase", "upper"),
    ("halfMD5", "xxhash64"),  # both: fast 64-bit non-cryptographic digest
    # aggregate analogs with matching arity/semantics
    ("argMax", "max_by"),
    ("argMin", "min_by"),
    ("groupArray", "collect_list"),
    ("groupUniqArray", "collect_set"),
    ("groupBitAnd", "bit_and"),
    ("groupBitOr", "bit_or"),
    ("groupBitXor", "bit_xor"),
    ("medianExact", "median"),
    # string/array functions with matching arity AND argument order
    ("match", "regexp_like"),       # both (haystack, pattern)
    ("has", "array_contains"),      # both (array, elem)
    ("indexOf", "array_position"),  # both (array, elem), 1-based, 0 = absent
    ("arrayDistinct", "array_distinct"),
    ("arraySort", "array_sort"),
    ("arrayReverse", "reverse"),
    ("arrayFlatten", "flatten"),
    ("arrayConcat", "concat"),
    ("startsWith", "startswith"),
    ("endsWith", "endswith"),
    ("trimBoth", "trim"),
    ("editDistance", "levenshtein"),
    ("levenshteinDistance", "levenshtein"),
    # batch 16: 1:1 builtins (soundex/initcap/char_length/octet_length/
    # ascii need no entry — the CH names ARE the Spark names)
    ("CRC32", "crc32"),
    ("initcapUTF8", "initcap"),
    # batch 17: 1:1 renames (Spark strings are UTF-8 native)
    ("leftUTF8", "left"),
    ("rightUTF8", "right"),
    ("concatWS", "concat_ws"),
    ("printf", "format_string"),
    ("denseRank", "dense_rank"),
    ("percentRank", "percent_rank"),
    ("mid", "substr"),          # both (s, offset[, length]), 1-based
    # batch 18: 1:1 renames — both (unit, value) with the same unit
    # strings ('year'..'second'; CH and Spark both truncate week→Monday)
    ("dateTrunc", "date_trunc"),
    # CH toJSONString serializes any value; Spark to_json covers the
    # container types (struct/array/map) — scalar args error by name
    ("toJSONString", "to_json"),
    ("timestampAdd", "timestampadd"),  # keyword-unit form, like dateAdd
    # CH sums in the argument's own width and lets it wrap; Spark sum
    # widens to BIGINT/DOUBLE — overflow wrap not reproduced (documented)
    ("sumWithOverflow", "sum"),
    # date-part extractors with identical numbering on both sides
    ("toYear", "year"),
    ("toMonth", "month"),
    ("toDayOfMonth", "dayofmonth"),
    ("toDayOfYear", "dayofyear"),
    ("toHour", "hour"),
    ("toMinute", "minute"),
    ("toSecond", "second"),
    ("toQuarter", "quarter"),
    ("toISOWeek", "weekofyear"),            # both ISO-8601 week numbering
    ("toTimeZone", "from_utc_timestamp"),   # both (ts, tz); session is UTC
    ("toUnixTimestamp", "unix_timestamp"),
    ("fromUnixTimestamp", "from_unixtime"),
    ("modulo", "mod"),                      # both keep the dividend's sign
    ("arrayMin", "array_min"),
    ("arrayMax", "array_max"),
    ("arraySlice", "slice"),                # both (arr, offset, length), 1-based
    ("arrayZip", "arrays_zip"),
    ("hasAny", "arrays_overlap"),
    ("leftPad", "lpad"),
    ("rightPad", "rpad"),
    ("trimLeft", "ltrim"),
    ("trimRight", "rtrim"),
    ("concatWithSeparator", "concat_ws"),
    # CH any()/anyLast() = first/last encountered value.  The rename is
    # REQUIRED, not cosmetic: Spark's own any() is a boolean-OR aggregate.
    # (The ANY join-strictness keyword is never followed by '(' so the
    # \bany\( pattern cannot touch it.)
    ("anyLast", "last"),
    ("any", "first"),
    ("countIf", "count_if"),  # the -If combinator Spark spells natively
    # Spark strings are UTF-8 native; the UTF8-suffixed CH variants are the
    # same operation
    ("lengthUTF8", "length"),
    ("lowerUTF8", "lower"),
    ("upperUTF8", "upper"),
    ("substringUTF8", "substring"),
    ("bitShiftLeft", "shiftleft"),
    ("bitShiftRight", "shiftright"),
    ("bitCount", "bit_count"),
    ("arrayIntersect", "array_intersect"),
    ("ifNull", "coalesce"),       # both: first non-NULL of two
    ("nullIf", "nullif"),
    # anyHeavy approximates the most frequent value; Spark's exact mode()
    # is the closest aggregate (deterministic, a strict upgrade)
    ("anyHeavy", "mode"),
    ("base64Encode", "base64"),
    # same (haystack, pattern, replacement) order; NOTE: CH backreferences
    # are \1, Spark's are $1 — patterns with backrefs need hand-porting
    ("replaceRegexpAll", "regexp_replace"),
    ("replaceAll", "replace"),
    # keyword-unit form dateAdd(DAY, n, ts) only (string-unit form passes
    # through for Spark to reject by name)
    ("dateAdd", "timestampadd"),
    # moment aggregates — identical definitions on both engines
    ("stddevPop", "stddev_pop"),
    ("stddevSamp", "stddev_samp"),
    ("varPop", "var_pop"),
    ("varSamp", "var_samp"),
    ("covarPop", "covar_pop"),
    ("covarSamp", "covar_samp"),
    # CH skewPop = population skewness m3/m2^1.5 — exactly Spark skewness
    # (kurtPop needs the +3 offset, see _WRAPS)
    ("skewPop", "skewness"),
    # engine-specific 64-bit digests: values differ from ClickHouse by
    # design (same stance as halfMD5 above) — use only where the digest is
    # an opaque partition/sample/dedup key, never for cross-engine parity
    ("sipHash64", "xxhash64"),
    ("cityHash64", "xxhash64"),
    # best-effort parse → Spark's default-format to_timestamp (strictly
    # narrower: CH accepts many layouts, Spark its session formats)
    ("parseDateTimeBestEffort", "to_timestamp"),
    # batch 22: BestEffort variants — Spark's to_timestamp already does
    # multi-format best-effort parsing; OrNull → try_ (NULL on failure)
    ("parseDateTimeBestEffortOrNull", "try_to_timestamp"),
    ("parseDateTime64BestEffortOrNull", "try_to_timestamp"),
    ("parseDateTime64BestEffort", "to_timestamp"),
    ("startsWithUTF8", "startswith"),
    ("endsWithUTF8", "endswith"),
    # batch 23: Spark url_encode/url_decode are the form-encoded ('+'
    # for space) variants — exactly CH's *FormComponent pair
    ("encodeURLFormComponent", "url_encode"),
    ("decodeURLFormComponent", "url_decode"),
    # algebraic aggregates ARE their own state (see the -State/-Merge
    # _CALLS rows); merging count states sums them
    ("sumState", "sum"),
    ("sumMerge", "sum"),
    ("sumSimpleState", "sum"),
    ("minState", "min"),
    ("minMerge", "min"),
    ("maxState", "max"),
    ("maxMerge", "max"),
    ("countState", "count"),
    ("countMerge", "sum"),
    # batch 25: Spark typeof() — type NAMES are engine-specific (the
    # uniq stance); toInt128/256 lanes are in _WRAPS (DECIMAL(38,0))
    ("toColumnTypeName", "typeof"),
    ("JSONArrayLength", "json_array_length"),
    ("mapConcat", "map_concat"),
    # banker's rounding IS Spark's bround
    ("roundBankers", "bround"),
    ("isNaN", "isnan"),
    ("generateUUIDv4", "uuid"),
    ("intHash64", "xxhash64"),  # engine-specific 64-bit digest (halfMD5 stance)
    ("arrayShuffle", "shuffle"),  # both: nondeterministic permutation
    ("mapKeys", "map_keys"),
    ("mapValues", "map_values"),
    ("mapContains", "map_contains_key"),
    ("mapFromArrays", "map_from_arrays"),
    ("toLastDayOfMonth", "last_day"),
    # CH window navigation: lagInFrame/leadInFrame respect the window
    # frame; Spark's lag/lead ignore it — identical under the default
    # frame, divergent only when an explicit frame would clip the offset
    ("lagInFrame", "lag"),
    ("leadInFrame", "lead"),
    ("firstValue", "first_value"),
    ("lastValue", "last_value"),
    ("nthValue", "nth_value"),
    # the -Stable moment aggregates are the same mathematical definitions
    # with a numerically stable algorithm — Spark's are already stable
    ("corrStable", "corr"),
    ("covarPopStable", "covar_pop"),
    ("covarSampStable", "covar_samp"),
    ("stddevPopStable", "stddev_pop"),
    ("stddevSampStable", "stddev_samp"),
    ("varPopStable", "var_pop"),
    ("varSampStable", "var_samp"),
    ("makeDate", "make_date"),
    ("makeDateTime", "make_timestamp"),
    ("fromUnixTimestamp64Milli", "timestamp_millis"),
    ("fromUnixTimestamp64Micro", "timestamp_micros"),
    ("toUnixTimestamp64Milli", "unix_millis"),
    ("toUnixTimestamp64Micro", "unix_micros"),
    ("translateUTF8", "translate"),
    ("substringIndex", "substring_index"),
    ("reverseUTF8", "reverse"),
    ("toDate32", "to_date"),
    ("max2", "greatest"),
    ("min2", "least"),
    # -OrNull combinator: Spark aggregates are already NULL on an empty
    # group (CH's non-OrNull forms return the type default instead)
    ("sumOrNull", "sum"),
    ("avgOrNull", "avg"),
    ("minOrNull", "min"),
    ("maxOrNull", "max"),
    ("anyOrNull", "first"),
    # CH locate() is MySQL-compat (needle, haystack[, start]) — Spark's
    # locate has the identical signature, so it passes through untouched
    # type names are engine-specific (UInt8 vs int) — structural use only,
    # same stance as the uniq sketch family
    ("toTypeName", "typeof"),
    # 64-bit digest family → xxhash64, 32-bit → hash (Murmur3-32, seed 42):
    # engine-specific values by design, the sipHash64/cityHash64 stance
    ("farmHash64", "xxhash64"),
    ("metroHash64", "xxhash64"),
    ("murmurHash2_64", "xxhash64"),
    ("murmurHash3_64", "xxhash64"),
    ("xxHash64", "xxhash64"),
    ("murmurHash3_32", "hash"),
    ("murmurHash2_32", "hash"),
    ("xxHash32", "hash"),
    ("javaHash", "hash"),
    ("hiveHash", "hash"),
    ("intHash32", "hash"),
    # UTF-8 validity (Spark 4 builtins; toValidUTF8 replaces ill-formed
    # sequences with U+FFFD on both engines)
    ("isValidUTF8", "is_valid_utf8"),
    ("toValidUTF8", "make_valid_utf8"),
    # sumKahan: Spark's sum is plain FP accumulation, not compensated —
    # same value modulo summation-order ulps (the -Stable stance)
    ("sumKahan", "sum"),
    ("concatAssumeInjective", "concat"),  # the hint has no Spark analog
    ("substringIndexUTF8", "substring_index"),
    # batch 19: 1:1 renames
    ("arrayUnion", "array_union"),            # both: distinct union
    ("JSONExtractKeys", "json_object_keys"),  # top-level object keys
    ("widthBucket", "width_bucket"),          # identical 4-arg semantics
    ("positiveModulo", "pmod"),               # both: result sign of divisor
    ("positive_modulo", "pmod"),
    # function forms: notLike(h, p) → NOT like(h, p); Spark has like()/
    # ilike() as functions too, so plain like/ilike pass through by name
    ("notLike", "NOT like"),
    ("notILike", "NOT ilike"),
    # batch 26: Spark lpad/rpad are already character-based (UTF-8-aware)
    ("leftPadUTF8", "lpad"),
    ("rightPadUTF8", "rpad"),
    # batch 26: 64-bit digest tail → xxhash64 (the sipHash64/cityHash64
    # engine-specific-values stance — opaque partition/sample/dedup keys,
    # never cross-engine parity)
    ("xxh3", "xxhash64"),
    ("wyHash64", "xxhash64"),
    ("farmFingerprint64", "xxhash64"),
    ("gccMurmurHash", "xxhash64"),
]

_ZERO_ARG: list[tuple[str, str]] = [
    ("now()", "current_timestamp()"),
    ("today()", "current_date()"),
    ("yesterday()", "date_sub(current_date(), 1)"),
    ("randCanonical()", "rand()"),  # both: uniform [0, 1)
    ("currentDatabase()", "current_database()"),
    ("currentUser()", "current_user()"),
    ("timezone()", "current_timezone()"),
    ("serverTimezone()", "current_timezone()"),
    ("now64()", "current_timestamp()"),
    ("UTCTimestamp()", "current_timestamp()"),  # session TZ is UTC
    # typed empty-array constructors
    ("emptyArrayString()", "CAST(array() AS ARRAY<STRING>)"),
    ("emptyArrayInt8()", "CAST(array() AS ARRAY<TINYINT>)"),
    ("emptyArrayInt16()", "CAST(array() AS ARRAY<SMALLINT>)"),
    ("emptyArrayInt32()", "CAST(array() AS ARRAY<INT>)"),
    ("emptyArrayInt64()", "CAST(array() AS ARRAY<BIGINT>)"),
    ("emptyArrayUInt8()", "CAST(array() AS ARRAY<SMALLINT>)"),
    ("emptyArrayUInt16()", "CAST(array() AS ARRAY<INT>)"),
    ("emptyArrayUInt32()", "CAST(array() AS ARRAY<BIGINT>)"),
    ("emptyArrayUInt64()", "CAST(array() AS ARRAY<BIGINT>)"),
    ("emptyArrayFloat32()", "CAST(array() AS ARRAY<FLOAT>)"),
    ("emptyArrayFloat64()", "CAST(array() AS ARRAY<DOUBLE>)"),
    ("emptyArrayDate()", "CAST(array() AS ARRAY<DATE>)"),
    ("emptyArrayDateTime()", "CAST(array() AS ARRAY<TIMESTAMP>)"),
    # batch 26: runtime introspection — engine-specific values by design
    # (the typeof stance); this engine reports a fixed host/uptime
    ("hostName()", "'localhost'"),
    ("uptime()", "CAST(0 AS BIGINT)"),
    # engine-random (values never comparable; pytest range checks)
    ("rand32()", "CAST(floor(rand() * 4294967296) AS BIGINT)"),
    ("rand64()", "CAST(floor(rand() * 9223372036854775807) AS BIGINT)"),
]


def _count_capture_groups(patt: str) -> int:
    """Count CAPTURING groups in a regex pattern, tracking backslash
    escapes and character-class state (a naive ``(?<!\\\\)\\((?!\\?)`` scan
    miscounts ``[(]`` and misses a group after an escaped backslash like
    ``\\\\(a)``).  Python's own compiler is authoritative when the pattern
    compiles; the manual scanner covers Java-only syntax Spark accepts but
    Python rejects (e.g. ``(?<name>...)`` named groups, which DO capture —
    unlike the ``(?<=``/``(?<!`` lookbehinds)."""
    try:
        return re.compile(patt).groups
    except re.error:
        pass
    n, i, in_cls = 0, 0, False
    while i < len(patt):
        c = patt[i]
        if c == "\\":
            i += 2
            continue
        if in_cls:
            if c == "]":
                in_cls = False
        elif c == "[":
            in_cls = True
        elif c == "(":
            nxt = patt[i + 1 : i + 2]
            if nxt != "?":
                n += 1
            elif patt[i + 2 : i + 3] == "<" and patt[i + 3 : i + 4] not in (
                "=",
                "!",
            ):
                n += 1  # Java named capture group
        i += 1
    return n


def _split_literals_spark(sql: str) -> list[tuple[bool, str]]:
    """(is_literal, chunk) segments for SPARK-dialect SQL: both the ``''``
    doubling AND backslash escapes (``\\'``, ``\\\\``) stay inside their
    literal.  Needed by the one pass that scans TRANSLATED output
    (:func:`_expand_select_modifiers`) — earlier rewrites legitimately
    generate ``\\'``-escaped quotes (e.g. the normalizeQuery pattern),
    which the ClickHouse-input splitter would misread as terminators."""
    out: list[tuple[bool, str]] = []
    buf: list[str] = []
    in_lit = False
    i = 0
    while i < len(sql):
        ch = sql[i]
        if in_lit and ch == "\\" and i + 1 < len(sql):
            buf.append(sql[i : i + 2])
            i += 2
            continue
        if in_lit and ch == "'" and i + 1 < len(sql) and sql[i + 1] == "'":
            buf.append("''")
            i += 2
            continue
        if ch == "'":
            out.append((in_lit, "".join(buf)))
            buf, in_lit = [], not in_lit
            i += 1
            continue
        buf.append(ch)
        i += 1
    out.append((in_lit, "".join(buf)))
    return out


def _split_literals(sql: str) -> list[tuple[bool, str]]:
    """(is_literal, chunk) segments; '' escapes stay inside their literal."""
    out: list[tuple[bool, str]] = []
    buf: list[str] = []
    in_lit = False
    i = 0
    while i < len(sql):
        ch = sql[i]
        if in_lit and ch == "'" and i + 1 < len(sql) and sql[i + 1] == "'":
            buf.append("''")
            i += 2
            continue
        if ch == "'":
            out.append((in_lit, "".join(buf)))
            buf, in_lit = [], not in_lit
            i += 1
            continue
        buf.append(ch)
        i += 1
    out.append((in_lit, "".join(buf)))
    return out


def _mask_literals(sql: str, split=_split_literals) -> tuple[str, list[str]]:
    """``sql`` with each string literal replaced by a ``\\x00<i>\\x00``
    placeholder, and the literals in placeholder order."""
    literals: list[str] = []
    masked: list[str] = []
    for is_lit, seg in split(sql):
        if is_lit:
            masked.append(f"\x00{len(literals)}\x00")
            literals.append(seg)
        else:
            masked.append(seg)
    return "".join(masked), literals


def _unmask_literals(s: str, literals: list[str]) -> str:
    """Put the literals :func:`_mask_literals` took out back into ``s``."""
    return re.sub(
        "\x00(\\d+)\x00", lambda m: f"'{literals[int(m.group(1))]}'", s
    )


_BACKTICK = r"`[^`]*`"
_BRACKETS = _BACKTICK + r"|[(\[]|[)\]]"


@functools.lru_cache(maxsize=None)
def _top_level_pat(words: tuple[str, ...]) -> re.Pattern:
    """:func:`_top_level`'s token pattern, compiled once per word tuple."""
    alts = [
        rf"(?<![\w.])(?i:{w})(?!\w)" if w[0].isalpha() else w for w in words
    ]
    return re.compile("|".join([_BRACKETS, *alts]))


def _top_level(chunk: str, words: tuple[str, ...] = (), start: int = 0):
    """The one top-level scanner.  Yields ``(index, text)`` for every
    occurrence of ``words`` (regex fragments: keywords, or ``","``) at
    depth 0 from ``start``, then ``(end, None)``.  The first match is
    ``next(_top_level(...))``.  Rules, the same for every caller:

    * depth counts ``(`` and ``[``;
    * masked string literals (``\\x00<i>\\x00``) and backtick identifiers
      are opaque — nothing inside one is a bracket, comma or keyword;
    * a keyword matches case-insensitively; it must not be preceded by
      ``[\\w.]`` (``t.where`` is a column) or followed by ``\\w``;
    * a scan that starts inside a block stops at the closer that ends
      that block: ``end`` is that closer's index, else ``len(chunk)``."""
    depth = 0
    for m in _top_level_pat(words).finditer(chunk, start):
        tok = m.group()
        if tok in "([":
            depth += 1
        elif tok in ")]":
            if not depth:
                yield m.start(), None
                return
            depth -= 1
        elif not depth and tok[0] != "`":
            yield m.start(), tok
    yield len(chunk), None


@functools.lru_cache(maxsize=None)
def _keyword_pat(pattern: str) -> re.Pattern:
    """:func:`_sub_keyword`'s pattern: a backtick identifier, or ``pattern``
    case-insensitively.  The backtick alternative captures nothing, so
    ``pattern``'s group numbers hold."""
    return re.compile(f"{_BACKTICK}|(?i:{pattern})")


def _sub_keyword(pattern: str, repl, chunk: str) -> str:
    """``re.sub(pattern, repl, chunk, flags=re.I)`` for a whole-statement
    keyword rewrite, with backtick identifiers opaque as in
    :func:`_top_level`: `` `prewhere` `` is a name, not a clause."""

    def sub(m: re.Match) -> str:
        if m.group()[0] == "`":
            return m.group()
        return repl(m) if callable(repl) else m.expand(repl)

    return _keyword_pat(pattern).sub(sub, chunk)


def _match_bracket(chunk: str, i: int) -> int:
    """The partner of the bracket at ``i``: for an opener, the index just
    past its closer (``len(chunk)`` when unclosed); for a closer, the
    index of its opener (0 when unopened)."""
    if chunk[i] in "([":
        end, _ = next(_top_level(chunk, (), i + 1))
        return min(end + 1, len(chunk))
    depth = 0
    for m in reversed(list(_top_level_pat(()).finditer(chunk, 0, i))):
        if m.group() in ")]":
            depth += 1
        elif m.group() in "([":
            if not depth:
                return m.start()
            depth -= 1
    return 0


def _split_top_comma(args: str) -> list[str]:
    """Split on top-level commas (argument boundaries), each part
    stripped — a ClickHouse ``[1, 2, 3]`` array literal argument stays
    one argument."""
    cuts = [i for i, tok in _top_level(args, (",",)) if tok]
    return [
        args[a + 1 : b].strip() for a, b in zip([-1, *cuts], [*cuts, len(args)])
    ]


# Ceiling on a statement chunk's size after any single rewrite splice.
# Rewrite templates that splice an argument at MULTIPLE sites grow
# multiplicatively under self-nesting — reinterpretAsUInt64 ∘
# reinterpretAsString composed 3 deep hit 587 KB of SQL and the
# analyzer's max-iterations cap before its argument was let-bound (r8
# deep-fuzz).  Real translations are ≤ ~10 KB; the guard turns the next
# multiplicative splice into a translate-time error naming the offender
# instead of a shipped blow-up (VERDICT r8 #6).
#
# The budget scales with the statement's size AT TRANSLATE ENTRY
# (ADVICE r9): an absolute ceiling alone would reject a legitimately
# large input (a machine-generated >256 KB IN-list) on its first benign
# rewrite, blaming that rewrite's name.  Benign templates reference an
# argument at most ~4× (intDiv's 3 + casts), so growth past
# _REWRITE_GROWTH_FACTOR× the entry size within one translate call is
# only reachable by a template multiplying under nesting (factor ~k^depth,
# k≈3) — tiny fuzz inputs still trip the absolute floor exactly as
# before, and giant benign statements sail through.
_MAX_REWRITE_CHARS = 262_144
_REWRITE_GROWTH_FACTOR = 8
# statement length at the current translate_clickhouse_sql entry; 0 when
# _rewrite_call runs outside a translate (direct helper/test use), which
# leaves the absolute floor as the whole budget — the pre-ADVICE behavior
_TRANSLATE_ENTRY_LEN = 0


@functools.lru_cache(maxsize=None)
def _call_pat(name: str) -> re.Pattern:
    """``\\bname\\(``, compiled once per name (the call tables hold ~570
    names — more than ``re``'s own 512-pattern cache)."""
    return re.compile(r"\b" + name + r"\(")


_OVER_PAT = re.compile(r"\s*OVER\s*(\(|\w+)", re.IGNORECASE)


def _rewrite_call(chunk: str, name: str, make, form: str = "args") -> str:
    """The one call-rewrite engine: find ``name(…)``, hand its arguments
    to ``make`` and replace the call with the result — ``make`` returns
    ``None`` to leave a call untouched (malformed arity passes through for
    Spark to error on by name).  ``form`` says what ``make`` receives:

    * ``"args"`` — the top-level arguments, split and stripped;
    * ``"raw"`` — the argument text exactly as written;
    * ``"curried"`` — ``name(params)(args)`` as two raw texts; ``args`` is
      ``None`` for a plain ``name(params)`` call;
    * ``"over"`` — the split arguments plus the ``OVER (…)``/``OVER w``
      text that must follow the call (no OVER: the call is left alone).

    Matches are processed INNERMOST-FIRST: nested calls start later in the
    text, so the last non-skipped match can contain no nested occurrence,
    and rewriting it never duplicates untranslated calls into the
    replacement (the bug class a naive resume-after-replacement scan has).
    Skipped-call positions are rebased after each splice so the loop
    terminates.  Every splice is checked against ``_MAX_REWRITE_CHARS`` —
    a template whose expansion multiplies under nesting fails loudly here,
    at translate time, with the offender's name."""
    if name + "(" not in chunk:
        return chunk
    pat = _call_pat(name)
    skipped: set[int] = set()
    while True:
        matches = [m for m in pat.finditer(chunk) if m.start() not in skipped]
        if not matches:
            return chunk
        m = matches[-1]
        end = _match_bracket(chunk, m.end() - 1)
        inner = chunk[m.end() : end - 1]
        if form == "raw":
            repl = make(inner)
        elif form == "curried":
            if end < len(chunk) and chunk[end] == "(":
                x_end = _match_bracket(chunk, end)
                repl = make(inner, chunk[end + 1 : x_end - 1])
                end = x_end
            else:
                repl = make(inner, None)
        elif form == "over":
            ov = _OVER_PAT.match(chunk, end)
            repl = None
            if ov:
                ov_end = (
                    _match_bracket(chunk, ov.end() - 1)
                    if ov.group(1) == "("
                    else ov.end()
                )
                repl = make(_split_top_comma(inner), chunk[end:ov_end])
                if repl is not None:
                    end = ov_end
        else:
            repl = make(_split_top_comma(inner))
        if repl is None:
            skipped.add(m.start())
            continue
        chunk = chunk[: m.start()] + repl + chunk[end:]
        budget = max(
            _MAX_REWRITE_CHARS, _REWRITE_GROWTH_FACTOR * _TRANSLATE_ENTRY_LEN
        )
        if len(chunk) > budget:
            raise ValueError(
                f"translate_clickhouse_sql: rewriting {name}() grew the "
                f"statement to {len(chunk)} chars "
                f"(> {budget}).  The rewrite template splices "
                "an argument at multiple sites and is multiplying under "
                "nesting — let-bind the argument once in the rewriter "
                "(the reinterpretAsUInt64 pattern)."
            )
        delta = len(repl) - (end - m.start())
        skipped = {s + delta if s >= end else s
                   for s in skipped if s < m.start() or s >= end}


def _curried(make):
    """Mark ``make(params, args)`` for the ``"curried"`` form."""
    make.form = "curried"
    return make


def _over(make):
    """Mark ``make(args, over)`` for the ``"over"`` form."""
    make.form = "over"
    return make


def _raw(make):
    """Mark ``make(text)`` for the ``"raw"`` form."""
    make.form = "raw"
    return make


def _template(arity, template):
    """``template.format(*args)`` when the call has ``arity`` arguments."""
    return lambda args: template.format(*args) if len(args) == arity else None


def _table(rows) -> list[tuple[str, object, str]]:
    """Normalize call-table rows to ``(name, make, form)``.  A row is
    ``(name, make)`` — a function, its form set by ``_curried``/``_over``/
    ``_raw`` — or ``(name, (arity, template))`` (:func:`_template`)."""
    out = []
    for name, rewrite in rows:
        make = _template(*rewrite) if isinstance(rewrite, tuple) else rewrite
        out.append((name, make, getattr(make, "form", "args")))
    return out


def _apply_calls(chunk: str, table) -> str:
    """Run every table row through :func:`_rewrite_call`, in order."""
    for name, make, form in table:
        chunk = _rewrite_call(chunk, name, make, form)
    return chunk


def _wrap_make(prefix: str, suffix: str):
    return _raw(lambda text: prefix + text + suffix)


# _WRAPS in table form (raw argument text, so any arity keeps its text)
# and _RENAMES as patterns compiled once; both run last, in finish()
_WRAP_CALLS = _table((name, _wrap_make(p, s)) for name, p, s in _WRAPS)
_RENAME_PATS = [
    (re.compile(r"\b" + src + r"\("), dst + "(") for src, dst in _RENAMES
]
_COUNT_STAR_PAT = re.compile(r"\bcount\(\s*\)", re.IGNORECASE)


# ClickHouse formatDateTime %-codes → Java SimpleDateFormat-style patterns
# (the common subset; unknown codes pass through literally)
_CH_FMT = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%M": "mm", "%S": "ss", "%F": "yyyy-MM-dd", "%T": "HH:mm:ss",
    "%e": "d", "%j": "DDD", "%a": "EEE", "%b": "MMM", "%p": "a",
    "%%": "%",
}

_DATEDIFF_UNITS = {
    "second": "SECOND", "minute": "MINUTE", "hour": "HOUR", "day": "DAY",
    "week": "WEEK", "month": "MONTH", "quarter": "QUARTER", "year": "YEAR",
}


class _Literals:
    """A statement's masked string literals, as the literal-aware rewrites
    see them: ``resolve`` reads a masked (``\\x00i\\x00``) argument back,
    ``new`` appends a literal for a replacement and returns its mask."""

    _MASK = re.compile("^\x00(\\d+)\x00$")

    def __init__(self, literals: list[str]):
        self.literals = literals

    def resolve(self, arg: str) -> str | None:
        m = self._MASK.match(arg.strip())
        return self.literals[int(m.group(1))] if m else None

    def new(self, value: str) -> str:
        # literals are stored in SOURCE form (the final restore wraps with
        # bare quotes, no escaping), so embedded quotes must be doubled here
        self.literals.append(value.replace("'", "''"))
        return f"\x00{len(self.literals) - 1}\x00"


def _fmt_to_java(fmt: str) -> str:
    # ClickHouse treats every non-% character as a LITERAL; Java patterns
    # treat letters as pattern codes — so literal runs that contain letters
    # must be single-quoted ('T' in ISO-8601, 'h' in '%Hh'), with embedded
    # quotes doubled.  Unknown %-codes keep their raw text but are quoted
    # too, never silently reinterpreted.
    parts = []  # (text, is_literal); adjacent literals merge so the
    # Java quoting below emits ONE '...' run (adjacent quoted runs would
    # read as an escaped quote)
    for tok in re.findall("%.|%|[^%]+", fmt):
        if tok.startswith("%") and tok in _CH_FMT and tok != "%%":
            parts.append((_CH_FMT[tok], False))
        else:
            text_seg = _CH_FMT[tok] if tok == "%%" else tok
            if parts and parts[-1][1]:
                parts[-1] = (parts[-1][0] + text_seg, True)
            else:
                parts.append((text_seg, True))
    out = []
    for text_seg, is_literal in parts:
        if is_literal and re.search("[A-Za-z']", text_seg):
            out.append("'" + text_seg.replace("'", "''") + "'")
        else:
            out.append(text_seg)
    return "".join(out)


def _format_date_time_make(args, lits):
    # formatDateTime(x, '%Y-%m-%d') → date_format(x, 'yyyy-MM-dd')
    # (_CH_FMT code table)
    if len(args) != 2:
        return None
    fmt = lits.resolve(args[1])
    if fmt is None:
        return None
    return f"date_format({args[0]}, {lits.new(_fmt_to_java(fmt))})"


def _parse_date_time_make(try_form: bool):
    # parseDateTime(s, '%Y-%m-%d…') — the MySQL-%-syntax parser, sharing
    # formatDateTime's code table in reverse direction.  OrNull →
    # try_to_timestamp (NULL on unparseable, as CH); the plain form
    # raises, matching CH under spark.sql.ansi.  Timezone 3rd arg /
    # Joda-syntax variants pass through.
    def make(args, lits):
        if len(args) != 2:
            return None
        fmt = lits.resolve(args[1])
        if fmt is None:
            return None
        fn = "try_to_timestamp" if try_form else "to_timestamp"
        return f"{fn}({args[0]}, {lits.new(_fmt_to_java(fmt))})"

    return make


def _date_diff_make(args, lits):
    # dateDiff('day', a, b) / date_diff → timestampdiff(DAY, a, b) — the
    # unit moves from a string literal to a keyword
    if len(args) != 3:
        return None
    unit = lits.resolve(args[0])
    if unit is None or unit.lower() not in _DATEDIFF_UNITS:
        return None
    kw = _DATEDIFF_UNITS[unit.lower()]
    return f"timestampdiff({kw}, {args[1]}, {args[2]})"


def _age_make(args, lits):
    # age('unit', start, end) — COMPLETE units between (dateDiff counts
    # boundary crossings; age counts full elapsed units).  Month-family:
    # calendar month delta minus one when the end hasn't reached the
    # start's (clamped) day-of-month — the add-months clamp means Jan 30 →
    # Feb 28 IS a complete month, which months_between's both-last-day
    # rule misses, hence the explicit threshold least(day(start), last day
    # of end's month).  Time units are integer division of the epoch
    # difference.  Defined for end ≥ start (CH's contract); both operands
    # are referenced several times (column-backed caveat).
    if len(args) != 3:
        return None
    unit = lits.resolve(args[0])
    if unit is None:
        return None
    u, s, e = unit.lower(), args[1], args[2]
    month_div = {"year": 12, "quarter": 3, "month": 1}
    if u in month_div:
        base = (
            f"((year({e}) * 12 + month({e})) - "
            f"(year({s}) * 12 + month({s})))"
        )
        thr = f"least(day({s}), day(last_day({e})))"

        def tod(x):
            return (
                f"(unix_timestamp({x}) - "
                f"unix_timestamp(date_trunc('day', {x})))"
            )

        incomplete = (
            f"(day({e}) < {thr} OR (day({e}) = {thr} "
            f"AND {tod(e)} < {tod(s)}))"
        )
        return (
            f"CAST(({base} - if({incomplete}, 1, 0)) "
            f"DIV {month_div[u]} AS BIGINT)"
        )
    sec_div = {"week": 604800, "day": 86400, "hour": 3600,
               "minute": 60, "second": 1}
    if u in sec_div:
        return (
            f"((unix_timestamp({e}) - unix_timestamp({s})) "
            f"DIV {sec_div[u]})"
        )
    return None


def _extract_groups_make(args, lits):
    # extractGroups(h, 'pattern') — array of the FIRST match's capture
    # groups; no match → empty array.  Literal patterns only (the group
    # count must be known at translation time); the haystack is
    # referenced N+1 times (column-backed caveat).
    if len(args) != 2:
        return None
    patt = lits.resolve(args[1])
    if patt is None:
        return None
    n = _count_capture_groups(patt)
    if n == 0:
        return None
    gets = ", ".join(
        f"regexp_extract({args[0]}, {args[1]}, {i})"
        for i in range(1, n + 1)
    )
    return (
        f"(CASE WHEN regexp_like({args[0]}, {args[1]}) "
        f"THEN array({gets}) ELSE CAST(array() AS ARRAY<STRING>) END)"
    )


def _tuple_element_make(args, lits):
    # tupleElement(t, 2) → (t).col2 — Spark's struct() names positional
    # fields col1..colN, matching CH's 1-based index; tupleElement(t,
    # 'name') → (t).`name`.  Only literal selectors resolve at translation
    # time; dynamic ones pass through.
    if len(args) != 2:
        return None
    t, sel = args[0], args[1].strip()
    if re.fullmatch(r"\d+", sel):
        return f"(({t}).col{sel})"
    name = lits.resolve(sel)
    if name is not None and re.fullmatch(r"\w+", name):
        return f"(({t}).`{name}`)"
    return None


def _array_reduce_make(args, lits):
    # arrayReduce('agg', arr) — aggregate-by-name over an array.  The
    # common names map to built-ins; sum/avg accumulate in DOUBLE (the
    # arraySum caveat).  Unknown aggregate names pass through.
    if len(args) != 2:
        return None
    agg = lits.resolve(args[0])
    if agg is None:
        return None
    arr = args[1]
    forms = {
        "max": f"array_max({arr})",
        "min": f"array_min({arr})",
        "sum": f"aggregate({arr}, CAST(0 AS DOUBLE), (__a, __v) -> __a + __v)",
        "avg": (
            f"(aggregate({arr}, CAST(0 AS DOUBLE), (__a, __v) -> __a + __v)"
            f" / nullif(size({arr}), 0))"
        ),
        "count": f"size({arr})",
        "uniqexact": f"size(array_distinct({arr}))",
    }
    return forms.get(agg.lower())


def _array_reduce_in_ranges_make(args, lits):
    # arrayReduceInRanges('agg', ranges, arr) — one reduce per (start,
    # length) tuple (1-based; negative starts count from the end, as Spark
    # slice); reuses the arrayReduce name->fold table
    if len(args) != 3:
        return None
    sliced = (
        f"slice({args[2]}, CAST(__r.col1 AS INT), CAST(__r.col2 AS INT))"
    )
    inner = _array_reduce_make([args[0], sliced], lits)
    if inner is None:
        return None
    return f"transform({args[1]}, __r -> {inner})"


def _extract_make(args, lits):
    # CH extract(haystack, pattern): first capture group when the pattern
    # has one, else the whole match.  The 1-arg SQL-standard form
    # extract(YEAR FROM ts) has one comma-free argument and passes
    # through untouched.
    if len(args) != 2:
        return None
    patt = lits.resolve(args[1])
    if patt is None:
        return None
    has_group = bool(re.search(r"(?<!\\)\((?!\?)", patt))
    return f"regexp_extract({args[0]}, {args[1]}, {1 if has_group else 0})"


_DATE_NAME_PARTS = {
    "year": "CAST(year({t}) AS STRING)",
    "quarter": "CAST(quarter({t}) AS STRING)",
    "month": "date_format({t}, 'MMMM')",
    "week": "CAST(weekofyear({t}) AS STRING)",
    "dayofyear": "CAST(dayofyear({t}) AS STRING)",
    "day": "CAST(dayofmonth({t}) AS STRING)",
    "weekday": "date_format({t}, 'EEEE')",
    "hour": "CAST(hour({t}) AS STRING)",
    "minute": "CAST(minute({t}) AS STRING)",
    "second": "CAST(second({t}) AS STRING)",
}


def _date_name_make(args, lits):
    # dateName('part', ts) → the named/numbered part AS STRING; only
    # literal parts resolve at translation time
    if len(args) != 2:
        return None
    part = lits.resolve(args[0])
    if part is None:
        return None
    tpl = _DATE_NAME_PARTS.get(part.lower())
    return tpl.format(t=args[1]) if tpl else None


def _accurate_cast_make(try_form: bool):
    # accurateCast(x, 'Type') / accurateCastOrNull — the CH type string
    # maps through the schema mapper; CH raises on overflow where Spark's
    # ANSI CAST also raises (OrNull → try_cast → NULL, matching exactly)
    def make(args, lits):
        if len(args) != 2:
            return None
        tname = lits.resolve(args[1])
        if tname is None:
            return None
        from clickhouse_flatfile_tool_spark.schema import clickhouse_to_spark

        dt, _ = clickhouse_to_spark(tname)
        fn = "try_cast" if try_form else "CAST"
        return f"{fn}({args[0]} AS {dt.simpleString()})"

    return make


def _dict_get_make(args, lits):
    # dictGet('dict', 'attr', key) → a correlated scalar subquery on the
    # registered dictionary table; Catalyst decorrelates it into a
    # (broadcastable) left outer join — the executor-local hash probe CH's
    # dictionary layout gives.  Missing keys yield NULL (CH's
    # dictGetOrNull; plain dictGet THROWS there — a per-row throw isn't
    # reproducible distributed, documented divergence; use
    # dictGetOrDefault for CH-portable behavior).  Single-attribute form
    # only (tuple attrs pass through); unknown dictionaries pass through
    # and error by name.
    if len(args) != 3:
        return None
    dname, attr = lits.resolve(args[0]), lits.resolve(args[1])
    if dname is None or attr is None:
        return None
    reg = _DICTIONARIES.get(dname.lower())
    if reg is None or not re.fullmatch(r"\w+", attr):
        return None
    table, key_col = reg
    # the dictionary side is a derived table that RENAMES its columns to
    # reserved names: with the raw table, a probe column sharing the key
    # column's name (the canonical CH pattern — dictGet with PRIMARY KEY
    # user_id probed by fact.user_id) is captured by the inner scope,
    # turning the predicate into a tautology (verified: dictHas
    # returned true for absent keys; dictGet hit
    # SCALAR_SUBQUERY_TOO_MANY_ROWS)
    return (
        f"(SELECT __dv FROM (SELECT `{key_col}` AS __dk, "
        f"`{attr}` AS __dv FROM {table}) WHERE __dk = ({args[2]}))"
    )


def _dict_get_or_default_make(args, lits):
    if len(args) != 4:
        return None
    inner = _dict_get_make(args[:3], lits)
    return None if inner is None else f"coalesce({inner}, {args[3]})"


def _dict_get_typed_make(cast_to: str):
    # typed dictGet variants — the dictGet probe with the name's declared
    # result type pinned by CAST (CH coerces the stored attribute to the
    # named type; same NULL-on-missing-key stance)
    def make(args, lits):
        inner = _dict_get_make(args, lits)
        return None if inner is None else f"CAST({inner} AS {cast_to})"

    return make


def _dict_has_make(args, lits):
    if len(args) != 2:
        return None
    dname = lits.resolve(args[0])
    if dname is None:
        return None
    reg = _DICTIONARIES.get(dname.lower())
    if reg is None:
        return None
    table, key_col = reg
    # derived-table rename for the same scope-capture reason as _dict_get_make
    return (
        f"((SELECT count(1) FROM (SELECT `{key_col}` AS __dk "
        f"FROM {table}) WHERE __dk = ({args[1]})) > 0)"
    )


def _join_get_make(args, lits):
    # joinGet('join_table', 'attr', key) — the Join-engine probe:
    # same derived-table scalar-subquery shape as dictGet, against the
    # Join-engine registry (CREATE TABLE … ENGINE = Join(ANY, LEFT, k)
    # routes here via api.query).  Missing keys yield NULL (CH
    # joinGetOrNull; plain joinGet ships the type default — NULL is the
    # house encoding, the dictGet note).
    if len(args) != 3:
        return None
    tname, attr = lits.resolve(args[0]), lits.resolve(args[1])
    if tname is None or attr is None:
        return None
    reg = _JOIN_TABLES.get(tname.lower())
    if reg is None or not re.fullmatch(r"\w+", attr):
        return None
    table, key_col = reg
    return (
        f"(SELECT __jv FROM (SELECT `{key_col}` AS __jk, "
        f"`{attr}` AS __jv FROM {table}) WHERE __jk = ({args[2]}))"
    )


def _extract_all_groups_make(horizontal: bool):
    # all-match group extraction.  Vertical (the default CH name
    # extractAllGroups is its alias) = match-major array<array>: one inner
    # array of N groups per match.  Horizontal = group-major: N inner
    # arrays, each all matches' values for one group.  Literal patterns
    # only (group count resolved at translation time, the extractGroups
    # stance); haystack referenced once per shape below.
    def make(args, lits):
        if len(args) != 2:
            return None
        patt = lits.resolve(args[1])
        if patt is None:
            return None
        n = _count_capture_groups(patt)
        if n == 0:
            return None
        if horizontal:
            per_group = ", ".join(
                f"transform(regexp_extract_all({args[0]}, {args[1]}, 0), "
                f"__m -> regexp_extract(__m, {args[1]}, {i}))"
                for i in range(1, n + 1)
            )
            return f"array({per_group})"
        gets = ", ".join(
            f"regexp_extract(__m, {args[1]}, {i})"
            for i in range(1, n + 1)
        )
        return (
            f"transform(regexp_extract_all({args[0]}, {args[1]}, 0), "
            f"__m -> array({gets}))"
        )

    return make


def _cut_url_parameter_make(args, lits):
    # cutURLParameter(url, 'name') — strips name=value and one adjoining
    # separator; a lone '?p=v' leaves the '?' (CH renders 'http://x/?'
    # for the last parameter cut)
    if len(args) != 2:
        return None
    name = lits.resolve(args[1])
    if name is None:
        return None
    esc = re.escape(name)
    # Spark string literals process backslash escapes — double every
    # regex backslash at the SQL-source level
    dbl = "\\\\"

    def sqlre(p: str) -> str:
        return lits.new(p.replace("\\", dbl))

    p1 = sqlre(f"(?<=[?&]){esc}=[^&#]*&")
    p2 = sqlre(f"&{esc}=[^&#]*")
    p3 = sqlre(f"(?<=\\?){esc}=[^&#]*")
    return (
        f"regexp_replace(regexp_replace(regexp_replace({args[0]}, "
        f"{p1}, ''), {p2}, ''), {p3}, '')"
    )


def _json_keys_and_values_make(args, lits):
    # JSONExtractKeysAndValues(j, 'T') — top-level (key, value) tuples via
    # from_json's map reader
    if len(args) != 2:
        return None
    t = lits.resolve(args[1])
    if t is None:
        return None
    spark_t = {
        "String": "string", "Int8": "bigint", "Int16": "bigint",
        "Int32": "bigint", "Int64": "bigint", "UInt8": "bigint",
        "UInt16": "bigint", "UInt32": "bigint", "UInt64": "bigint",
        "Float32": "double", "Float64": "double", "Bool": "boolean",
    }.get(t)
    if spark_t is None:
        return None
    schema = lits.new(f"map<string,{spark_t}>")
    return (
        f"transform(map_entries(from_json({args[0]}, {schema})), "
        f"__e -> named_struct('col1', __e.key, 'col2', __e.value))"
    )


def _format_row_make(newline: bool):
    # formatRow('JSONEachRow'|'TSV', x, y, ...) — the two wire formats
    # this engine itself speaks (sources/files.py); CSV's quoting rules
    # are format-settings-dependent in CH and stay out of scope.  Column
    # naming: bare identifiers keep their name, computed expressions get
    # expr_N (CH names them by expression text — engine-specific
    # rendering, the typeof stance).
    def make(args, lits):
        if len(args) < 2:
            return None
        fmt = lits.resolve(args[0])
        if fmt is None:
            return None
        cols = [a.strip() for a in args[1:]]
        if fmt == "JSONEachRow":
            pairs = ", ".join(
                f"{lits.new(c if re.fullmatch('[A-Za-z_][A-Za-z0-9_]*', c) else f'expr_{i + 1}')}, {c}"
                for i, c in enumerate(cols)
            )
            # ignoreNullFields=false: CH's JSONEachRow renders {"x":null};
            # Spark's to_json drops null fields by default
            body = (
                f"to_json(named_struct({pairs}), "
                f"map('ignoreNullFields', 'false'))"
            )
        elif fmt in ("TSV", "TabSeparated"):
            vals = ", ".join(f"CAST({c} AS STRING)" for c in cols)
            body = (
                f"array_join(array({vals}), {lits.new(chr(9))}, "
                f"{lits.new(chr(92) * 2 + 'N')})"
            )
        else:
            return None
        if newline:
            return f"concat({body}, {lits.new(chr(10))})"
        return body

    return make


def _ip_in_range_make(args, lits):
    # isIPAddressInRange(addr, 'cidr') — the CIDR is a literal (CH's own
    # call shape), so the masked network/prefix are computed at
    # translation time with the stdlib ipaddress module; the address side
    # stays a pure column expression (v4: octet-fold prefix compare; v6:
    # hex-prefix compare via _ipv6_hex_sql)
    if len(args) != 2:
        return None
    cidr = lits.resolve(args[1])
    if cidr is None or "/" not in cidr:
        return None
    import ipaddress

    try:
        net = ipaddress.ip_network(cidr, strict=False)
    except ValueError:
        return None
    addr, plen = args[0], net.prefixlen
    if net.version == 4:
        base = int(net.network_address) >> (32 - plen) if plen else 0
        fold = (
            f"aggregate(split({addr}, '\\\\.'), CAST(0 AS BIGINT), "
            f"(__a, __o) -> __a * 256 + CAST(__o AS BIGINT))"
        )
        return f"(shiftrightunsigned({fold}, {32 - plen}) = {base})"
    hexfull = "%032x" % int(net.network_address)
    fulln, rem = plen // 4, plen % 4
    hexpr = _ipv6_hex_sql(addr)
    conds = []
    if fulln:
        conds.append(
            f"substring({hexpr}, 1, {fulln}) = '{hexfull[:fulln]}'"
        )
    if rem:
        mask = 15 - ((1 << (4 - rem)) - 1)
        want = int(hexfull[fulln], 16) & mask
        conds.append(
            f"(CAST(conv(substring({hexpr}, {fulln + 1}, 1), 16, 10) "
            f"AS INT) & {mask}) = {want}"
        )
    if not conds:
        conds = ["({a}) = ({a})".format(a=addr)]
    return "(" + " AND ".join(conds) + ")"


_SEQ_NEXT_NODE_MODES = {
    ("forward", "head"),
    ("backward", "tail"),
    ("forward", "first_match"),
    ("backward", "last_match"),
}


@_curried
def _sequence_next_node_make(params, arg, lits):
    """ClickHouse ``sequenceNextNode(direction, base)(ts, value,
    base_cond, cond1, …, condK)`` — the value of the event FOLLOWING a
    matched chain of CONSECUTIVE events, NULL when the chain doesn't
    match (CH's next-action journey aggregate).

    Supported direction/base combos (the four meaningful pairings CH
    documents): ``('forward', 'head')`` — chain anchored at the earliest
    event; ``('backward', 'tail')`` — anchored at the latest, walking
    earlier; ``('forward', 'first_match')`` / ``('backward',
    'last_match')`` — anchored at the first/last event satisfying
    base_cond AND cond1.  Anything else passes through untranslated.

    Shape: one ``collect_list`` per key sorted by time (reversed for
    backward), then pure index probes — ``try_element_at`` everywhere, so
    short groups yield NULL instead of erroring under ANSI.  The match
    anchor for first/last_match binds once via the single-element
    ``transform`` let-form."""
    if arg is None:
        return None
    head = _split_top_comma(params)
    args = _split_top_comma(arg)
    direction = lits.resolve(head[0]) if len(head) == 2 else None
    base = lits.resolve(head[1]) if len(head) == 2 else None
    if (direction, base) not in _SEQ_NEXT_NODE_MODES or len(args) < 4:
        return None  # unsupported: pass through
    ts, val, base_cond, conds = args[0], args[1], args[2], args[3:]
    k = len(conds)
    fields = ", ".join(
        f"CAST({c}) AS BOOLEAN) AS s{j + 1}".replace("CAST(", "CAST((", 1)
        for j, c in enumerate(conds)
    )
    evs = (
        f"array_sort(collect_list(struct({ts} AS t, {val} AS v, "
        f"CAST(({base_cond}) AS BOOLEAN) AS b, {fields})))"
    )
    if direction == "backward":
        evs = f"reverse({evs})"
    if base in ("head", "tail"):
        chain = " AND ".join(
            f"try_element_at(__e, {j + 1}).s{j + 1}" for j in range(k)
        )
        body = (
            f"CASE WHEN try_element_at(__e, 1).b AND {chain} "
            f"THEN try_element_at(__e, {k + 1}).v END"
        )
    else:
        anchor = (
            "coalesce(array_min(filter("
            "sequence(1, greatest(size(__e), 1)), __i -> "
            "coalesce(try_element_at(__e, __i).b "
            "AND try_element_at(__e, __i).s1, false))), -1)"
        )
        rest = " AND ".join(
            f"try_element_at(__e, __ix + {j - 1}).s{j}"
            for j in range(2, k + 1)
        ) or "true"
        body = (
            f"element_at(transform(array({anchor}), __ix -> "
            f"CASE WHEN __ix > 0 AND {rest} "
            f"THEN try_element_at(__e, __ix + {k}).v END), 1)"
        )
    return f"element_at(transform(array({evs}), __e -> {body}), 1)"


def _sequence_match_make(is_count: bool):
    """ClickHouse ``sequenceMatch('(?1).*(?2)')(ts, c1, c2)`` /
    ``sequenceCount(...)`` → a codegen ``aggregate`` fold over the key's
    time-sorted events (the same machinery as ``events.window_funnel``,
    which is the timed variant):

    * sequenceMatch: state machine 0→1→…→K advancing one step per event
      that satisfies the next condition; result ``state = K`` —
      subsequence existence, greedy earliest-advance (optimal when there
      is no deadline).
    * sequenceCount: same machine plus a counter; completing step K
      increments and resets — ClickHouse's non-overlapping left-to-right
      count.

    Scope (documented): patterns of the form ``(?a).*(?b)...`` — step
    conditions separated by ``.*`` (match-anything), the overwhelmingly
    common shape.  Adjacency patterns (``(?1)(?2)``), time constraints
    (``(?t<=3600)``) and other regex atoms pass through untranslated
    (windowFunnel covers the timed case).  One collect_list per key —
    state O(events per key), like every per-key sequence op."""

    @_curried
    def make(params, arg, lits):
        if arg is None:
            return None
        pat_lit = lits.resolve(params)
        args = _split_top_comma(arg)
        steps = (
            [int(s) for s in re.findall(r"\(\?(\d+)\)", pat_lit)]
            if pat_lit is not None
            and re.fullmatch(r"\(\?\d+\)(?:\.\*\(\?\d+\))*", pat_lit)
            else None
        )
        if not steps or len(args) < 2 or max(steps) > len(args) - 1:
            return None  # unsupported: pass through
        ts, conds = args[0], args[1:]
        k = len(steps)
        fields = ", ".join(
            f"CAST({conds[idx - 1]} AS BOOLEAN) AS s{j + 1}"
            for j, idx in enumerate(steps)
        )
        evs = f"array_sort(collect_list(struct({ts} AS t, {fields})))"
        if not is_count:
            branches = " ".join(
                f"WHEN s = {j} AND e.s{j + 1} THEN {j + 1}"
                for j in range(k)
            )
            return (
                f"(aggregate({evs}, 0, (s, e) -> "
                f"CASE {branches} ELSE s END) = {k})"
            )
        done = (
            f"WHEN a.st = {k - 1} AND e.s{k} "
            f"THEN named_struct('st', 0, 'c', a.c + 1)"
        )
        advance = " ".join(
            f"WHEN a.st = {j} AND e.s{j + 1} "
            f"THEN named_struct('st', {j + 1}, 'c', a.c)"
            for j in range(k - 1)
        )
        return (
            f"aggregate({evs}, named_struct('st', 0, 'c', 0), "
            f"(a, e) -> CASE {done} {advance} ELSE a END, "
            f"a -> a.c)"
        )

    return make


# Rewrites that must read/transform a string-literal argument (masked as
# \x00i\x00 at this stage): each make takes the call's arguments plus the
# statement's _Literals, which resolves a mask and may add a NEW literal
# for the replacement.
_LITERAL_CALLS = _table([
    ("joinGetOrNull", _join_get_make),
    ("joinGet", _join_get_make),
    ("dictGetOrDefault", _dict_get_or_default_make),
    ("dictGetOrNull", _dict_get_make),
    ("dictGet", _dict_get_make),
    ("dictGetString", _dict_get_typed_make("STRING")),
    ("dictGetInt64", _dict_get_typed_make("BIGINT")),
    ("dictGetUInt64", _dict_get_typed_make("DECIMAL(20,0)")),
    ("dictGetFloat64", _dict_get_typed_make("DOUBLE")),
    ("dictGetDate", _dict_get_typed_make("DATE")),
    ("dictGetDateTime", _dict_get_typed_make("TIMESTAMP")),
    ("dictHas", _dict_has_make),
    ("accurateCastOrNull", _accurate_cast_make(True)),
    ("accurateCast", _accurate_cast_make(False)),
    ("dateName", _date_name_make),
    ("formatDateTime", _format_date_time_make),
    ("parseDateTimeOrNull", _parse_date_time_make(True)),
    ("parseDateTime", _parse_date_time_make(False)),
    ("age", _age_make),
    ("extractGroups", _extract_groups_make),
    ("extractAllGroupsHorizontal", _extract_all_groups_make(True)),
    ("extractAllGroupsVertical", _extract_all_groups_make(False)),
    ("extractAllGroups", _extract_all_groups_make(False)),
    ("dateDiff", _date_diff_make),
    ("date_diff", _date_diff_make),
    ("timestampDiff", _date_diff_make),
    ("timestamp_diff", _date_diff_make),
    ("tupleElement", _tuple_element_make),
    ("arrayReduceInRanges", _array_reduce_in_ranges_make),
    ("arrayReduce", _array_reduce_make),
    ("cutURLParameter", _cut_url_parameter_make),
    ("JSONExtractKeysAndValues", _json_keys_and_values_make),
    ("formatRowNoNewline", _format_row_make(False)),
    ("formatRow", _format_row_make(True)),
    ("isIPAddressInRange", _ip_in_range_make),
    ("extract", _extract_make),
    ("sequenceNextNode", _sequence_next_node_make),
    ("sequenceMatch", _sequence_match_make(False)),
    ("sequenceCount", _sequence_match_make(True)),
])


def _rewrite_literal_aware(chunk: str, literals: list[str]) -> str:
    """Run :data:`_LITERAL_CALLS` over ``chunk``, handing each make the
    statement's ``literals`` (appended to in place for new literals)."""
    lits = _Literals(literals)
    for name, make, form in _LITERAL_CALLS:
        chunk = _rewrite_call(
            chunk, name, functools.partial(make, lits=lits), form
        )
    return chunk


def _rewrite_any_join(chunk: str, spark) -> str:
    """``ANY [LEFT|INNER] JOIN t [alias] ON <equi-cond>`` — ClickHouse's
    first-match-only strictness: at most ONE right row joins per key, so
    the left side never fans out on duplicate right keys.  The right
    side collapses to one row per key BEFORE the join (row_number = 1
    over the ON keys), the same reduce-then-join shape as
    ``relational.any_join``.  CH picks an arbitrary matching row;
    this picks a DETERMINISTIC one (min over all right columns — needs
    the table's schema, hence the SparkSession; without one, or for
    non-equi/complex conditions, the statement passes through untouched
    and Spark errors by name).  Right tables with unorderable columns
    (maps) fail at analysis."""
    if spark is None:
        return chunk
    pat = re.compile(r"\bANY\s+(LEFT\s+|INNER\s+)?JOIN\b", re.IGNORECASE)
    m = pat.search(chunk)
    while m:
        tm = _ASOF_TABLE_PAT.match(chunk, m.end())
        if not tm:
            return chunk
        table = tm.group(1)
        alias = tm.group(2) or tm.group(3) or table
        cond_end, _ = next(_top_level(chunk, _ASOF_CLAUSE_END, tm.end()))
        cond = chunk[tm.end() : cond_end]
        keys: list[str] | None = []
        for part in re.split(r"(?i)\bAND\b", cond):
            mm = re.match(r"\s*([\w.]+)\s*=\s*([\w.]+)\s*$", part)
            if not mm:
                keys = None
                break
            a, b = mm.groups()
            if a.startswith(alias + "."):
                keys.append(a.split(".", 1)[1])
            elif b.startswith(alias + "."):
                keys.append(b.split(".", 1)[1])
            else:
                keys = None
                break
        if not keys:
            return chunk
        try:
            cols = spark.table(table).columns
        except Exception:  # noqa: BLE001 — unknown table: let Spark error
            return chunk
        sub = (
            f"(SELECT {', '.join(cols)} FROM (SELECT *, ROW_NUMBER() "
            f"OVER (PARTITION BY {', '.join(keys)} "
            f"ORDER BY {', '.join(cols)}) AS __rn1 FROM {table}) "
            f"WHERE __rn1 = 1) AS {alias}"
        )
        kind = (m.group(1) or "INNER ").upper().strip()
        repl = f"{kind} JOIN {sub} ON"
        chunk = chunk[: m.start()] + repl + chunk[tm.end() :]
        m = pat.search(chunk, m.start() + len(repl))
    return chunk


_WHERE_ALIAS_END = (
    "GROUP", "ORDER", "LIMIT", "HAVING", "WINDOW", "UNION", "SETTINGS",
    "FORMAT", "INTO",
)


def _rewrite_where_aliases(chunk: str) -> str:
    """ClickHouse lets WHERE reference SELECT-list aliases (`SELECT x + 1
    AS y … WHERE y > 0`) — aliases substitute everywhere in CH's
    analyzer; Spark's WHERE resolves against the FROM relation only.
    Statement-level repair: each top-level `expr AS alias` from the
    SELECT list substitutes as `(expr)` inside the top-level WHERE
    clause (only there — Spark itself resolves aliases in GROUP BY and
    ORDER BY).  Matches CH's alias-shadows-column semantics; plain
    column passthroughs (`col AS alias`) substitute harmlessly."""
    sm = re.match(r"(?is)^\s*SELECT\s+", chunk)
    if not sm:
        return chunk
    # the top-level FROM ends the select list
    from_at, w = next(_top_level(chunk, ("FROM",), sm.end()))
    if w is None:
        return chunk
    aliases = []
    for item in _split_top_comma(chunk[sm.end() : from_at]):
        im = re.match(r"(?is)^(.+?)\s+AS\s+(\w+)\s*$", item.strip())
        if im and not re.fullmatch(r"(?is)\w+", im.group(1).strip()):
            aliases.append((im.group(1).strip(), im.group(2)))
    if not aliases:
        return chunk
    # top-level WHERE span within the rest of the statement
    w_at, w = next(_top_level(chunk, ("WHERE",), from_at))
    if w is None:
        return chunk
    w_end, _ = next(_top_level(chunk, _WHERE_ALIAS_END, w_at + len(w)))
    where = chunk[w_at:w_end]
    for expr, alias in aliases:
        where = re.sub(
            r"\b" + re.escape(alias) + r"\b",
            lambda _m, e=expr: f"({e})",
            where,
        )
    return chunk[:w_at] + where + chunk[w_end:]


def _rewrite_scalar_with(chunk: str) -> str:
    """ClickHouse's scalar WITH — ``WITH <expr> AS <ident>, … SELECT …``
    (note the REVERSED order vs a CTE: the alias comes last) — has no
    Spark equivalent (Spark's WITH is CTE-only), so each alias
    substitutes textually as ``(<expr>)`` through the rest of the
    statement; the scalar-subquery form ``WITH (SELECT …) AS m`` becomes
    a Spark scalar subquery at each use site.  Later definitions may
    reference earlier aliases (CH allows it; substitution runs in
    order).  A WITH whose items are ALL CTE-shaped (``ident AS (…)``)
    passes through untouched; mixed forms pass through too (out of
    scope).  Statement-leading WITH only."""
    m = re.match(r"(?is)^(\s*)WITH\s+", chunk)
    if not m:
        return chunk
    # the top-level SELECT ends the WITH item list
    items_end, w = next(_top_level(chunk, ("SELECT",), m.end()))
    if w is None:
        return chunk
    items = _split_top_comma(chunk[m.end() : items_end].strip())
    pairs = []
    for item in items:
        im = re.match(r"(?is)^(.*\S)\s+AS\s+(\w+)\s*$", item.strip())
        if not im:
            # CTE items end with ')' (`ident AS (SELECT …)`) and never
            # match this alias-last shape — leave the whole WITH alone
            return chunk
        expr, ident = im.group(1).strip(), im.group(2)
        if re.fullmatch(r"\w+", expr) and not re.fullmatch(
            r"\d+(\.\d+)?", expr
        ):
            # bare-identifier expr (`WITH a AS b`) is too ambiguous with
            # dialect-side CTE names — pass through, conservative.
            # Bare NUMBERS are unambiguous (a CTE can't be named 10).
            return chunk
        pairs.append((expr, ident))
    body = chunk[items_end:]
    for k, (expr, ident) in enumerate(pairs):
        # substitute into the body AND into LATER definitions' exprs
        # (earlier aliases are visible to later ones in CH)
        sub = re.compile(r"\b" + re.escape(ident) + r"\b")
        body = sub.sub(lambda _m, e=expr: f"({e})", body)
        for j in range(k + 1, len(pairs)):
            pairs[j] = (
                sub.sub(lambda _m, e=expr: f"({e})", pairs[j][0]),
                pairs[j][1],
            )
    return m.group(1) + body


def _int_div_make(args):
    """``intDiv(a, b)`` → floor division on longs.  ClickHouse intDiv rounds
    toward -inf; Spark's ``DIV`` truncates toward zero, so a sign/remainder
    correction subtracts 1 when the signs differ and the division is inexact.
    Stays in 64-bit integer arithmetic end-to-end — ``FLOOR((a)/(b))`` over
    double division diverges from true integer division once the operands
    pass 2^53.  Operands are cast to BIGINT first (matching ClickHouse,
    which defines intDiv on integers).  The template references each
    argument 3× (DIV, remainder test, sign test), so a non-deterministic
    argument (``rand()``) would be evaluated per reference; ClickHouse SQL
    users don't write that, and a subquery can't be spliced textually."""
    if len(args) != 2:
        return None
    a = f"CAST({args[0]} AS BIGINT)"
    b = f"CAST({args[1]} AS BIGINT)"
    return (
        f"(({a} DIV {b}) + (CASE WHEN ({a} % {b}) != 0 "
        f"AND (({a} < 0) != ({b} < 0)) THEN -1 ELSE 0 END))"
    )


def _multi_if_make(args):
    """``multiIf(c1, v1, c2, v2, …, else)`` → a CASE WHEN chain (odd arity:
    condition/value pairs plus the final else)."""
    if len(args) >= 3 and len(args) % 2 == 1:
        whens = " ".join(
            f"WHEN {args[i]} THEN {args[i + 1]}"
            for i in range(0, len(args) - 1, 2)
        )
        return f"(CASE {whens} ELSE {args[-1]} END)"
    return None


def _array_string_concat_make(args):
    """``arrayStringConcat(arr[, sep])`` → ``array_join(arr, sep)`` (Spark
    requires the separator; ClickHouse defaults to '')."""
    if len(args) == 1:
        return f"array_join({args[0]}, '')"
    if len(args) == 2:
        return f"array_join({args[0]}, {args[1]})"
    return None


def _lambda_first_make(spark_name: str, zips: bool = False):
    """ClickHouse higher-order array functions put the LAMBDA FIRST
    (arrayMap(x -> e, arr)); Spark puts the array first (transform(arr,
    x -> e)).  Same lambda syntax (`->`) on both sides, so only the
    argument order moves.  Two-array arrayMap (ClickHouse zips the arrays)
    maps to Spark's zip_with."""

    def make(args):
        if len(args) >= 2 and "->" in args[0]:
            if len(args) == 2:
                return f"{spark_name}({args[1]}, {args[0]})"
            if len(args) == 3 and zips:
                return f"zip_with({args[1]}, {args[2]}, {args[0]})"
        return None  # lambda-less or >2 arrays: leave for Spark to name

    return make


# accessor family: CH returns the element TYPE's default (0 / '') when
# nothing matches — untypeable in a string rewrite, so these yield NULL
# instead (try_element_at), the one documented divergence;
# arrayFirstIndex/arrayCount keep CH's exact 0-based-none semantics
def _array_first_last_make(idx: int):
    def make(args):
        if len(args) == 2 and "->" in args[0]:
            return f"try_element_at(filter({args[1]}, {args[0]}), {idx})"
        return None

    return make


def _array_count_make(args):
    if len(args) == 2 and "->" in args[0]:
        return f"size(filter({args[1]}, {args[0]}))"
    if len(args) == 1 and "->" not in args[0]:
        return f"size(filter({args[0]}, __x -> __x != 0))"
    return None


# Curried (parametric) aggregates ``name(params)(args)``.  ClickHouse
# ``quantile`` is approximate (reservoir) — ``percentile`` is the semantic
# analog; exactness only improves the answer.  The sketch variants
# (TDigest/BFloat16/Timing/Deterministic) map to Spark's own sketch
# aggregate ``approx_percentile`` — approximate on both sides, so values
# differ per engine (the exact names are the oracle path).


def _quantile_gk_make(single: bool):
    # quantileGK/quantilesGK(accuracy, level…)(expr): Spark's
    # approx_percentile IS the Greenwald-Khanna sketch, so the mapping is
    # 1:1 including the accuracy knob (values still engine-specific — GK
    # summaries depend on merge order)
    @_curried
    def make(params, arg):
        head = _split_top_comma(params)
        if arg is None or len(head) < 2:
            return None
        levels = (
            head[1]
            if single and len(head) == 2
            else "array(" + ", ".join(head[1:]) + ")"
        )
        return f"approx_percentile({arg}, {levels}, {head[0]})"

    return make


@_curried
def _group_concat_make(params, arg):
    # groupConcat(sep)(expr) → listagg(expr, sep); the plain (uncurried)
    # groupConcat(x) and any other shape rename to listagg
    head = _split_top_comma(params)
    if arg is None:
        return f"listagg({params})"
    if len(head) == 1:
        return f"listagg({arg}, {head[0]})"
    return f"listagg({params})({arg})"


@_curried
def _group_array_sorted_make(params, arg):
    # smallest-N values, sorted (CH 23.x aggregate) — exact here
    head = _split_top_comma(params)
    if arg is None or len(head) != 1:
        return None
    return f"slice(array_sort(collect_list({arg})), 1, {head[0]})"


@_curried
def _top_k_weighted_make(params, arg):
    # topKWeighted(N)(x, w): most-frequent-N by SUM OF WEIGHTS.  Same
    # exact-with-pinned-tie-order stance as topK below (weight desc, value
    # asc), same O(d·n)-per-group caveat — weights accumulate in DOUBLE.
    head = _split_top_comma(params)
    inner = _split_top_comma(arg) if arg is not None else []
    if len(head) != 1 or len(inner) != 2:
        return None
    x, w = inner
    pairs = (
        f"collect_list(named_struct('e', {x}, "
        f"'w', CAST({w} AS DOUBLE)))"
    )
    return (
        f"slice(transform(array_sort(transform("
        f"array_distinct(collect_list({x})), "
        f"__v -> struct(-aggregate(filter({pairs}, "
        f"__p -> __p.e = __v), CAST(0 AS DOUBLE), "
        f"(__a, __p) -> __a + __p.w) AS __negw, "
        f"__v AS __v))), "
        f"__s -> __s.__v), 1, {head[0]})"
    )


@_curried
def _top_k_make(params, arg):
    # most-frequent-N values.  CH's SpaceSaving sketch is O(n) approximate
    # with engine-specific tie order; this form is EXACT with a pinned
    # order (count desc, value asc) but counts each distinct value by
    # scanning the collected group — O(d·n) per group, so for
    # heavy-hitter mining at corpus scale use relational.misra_gries_topk
    # (the documented scale path).  Single-argument form only.
    head = _split_top_comma(params)
    if arg is None or len(head) != 1 or len(_split_top_comma(arg)) != 1:
        return None
    return (
        f"slice(transform(array_sort(transform("
        f"array_distinct(collect_list({arg})), "
        f"__v -> struct(-size(filter(collect_list({arg}), "
        f"__e -> __e = __v)) AS __negc, __v AS __v))), "
        f"__s -> __s.__v), 1, {head[0]})"
    )


@_curried
def _mean_z_test_make(params, arg):
    # meanZTest(pop_var_x, pop_var_y, conf)(data, index): two-sample z with
    # KNOWN population variances; index 0/1 splits the rows into the two
    # samples (the CH two-sample-test calling convention).  The z
    # statistic only — CH's tuple also carries p-value + CI, which need
    # the normal CDF/quantile (engine-specific numerics); the confidence
    # level is therefore accepted and unused.  The data/index expressions
    # are each spliced twice (column-backed caveat).
    head = _split_top_comma(params)
    inner = _split_top_comma(arg) if arg is not None else []
    if len(head) != 3 or len(inner) != 2:
        return None
    x, idx = inner
    va, vb = head[0], head[1]
    sx = f"CASE WHEN ({idx}) = 0 THEN ({x}) END"
    sy = f"CASE WHEN ({idx}) = 1 THEN ({x}) END"
    return (
        f"((avg({sx}) - avg({sy})) / "
        f"sqrt(({va}) / count({sx}) + ({vb}) / count({sy})))"
    )


def _quantile_nearest_rank_make(plural: bool, rnd: str):
    # nearest-rank exact quantiles: sorted[⌊p·(n−1)⌋ + 1] (Low) or ⌈…⌉
    # (High), 1-based — the lower/upper median convention.
    # Collected-group exactness, the topK stance.  The plural forms return
    # one value per requested level, in order.
    @_curried
    def make(params, arg):
        head = _split_top_comma(params)
        if arg is None or not (plural or len(head) == 1):
            return None
        if len(_split_top_comma(arg)) != 1:
            return None
        pick = (
            f"element_at(__l, CAST({rnd}(__p * (size(__l) - 1)) "
            f"AS INT) + 1)"
        )
        if plural:
            levels = ", ".join(f"CAST({h} AS DOUBLE)" for h in head)
            body = f"transform(array({levels}), __p -> {pick})"
        else:
            body = pick.replace("__p", f"(CAST({head[0]} AS DOUBLE))")
        return (
            f"element_at(transform(array(array_sort("
            f"collect_list({arg}))), __l -> {body}), 1)"
        )

    return make


def _quantile_make(fn: str, plural: bool = False, weighted: bool = False):
    # quantile[s]<Kind>(p…)(x) → fn(x, p) / fn(x, array(p…)); the weighted
    # kinds take (x, w) inner args — Spark percentile's 3rd argument is the
    # integral frequency, exactly CH's weight
    @_curried
    def make(probs, arg):
        if arg is None:
            return None  # not curried: leave untouched
        probs_sql = f"array({probs})" if plural else probs
        if not weighted:
            return f"{fn}({arg}, {probs_sql})"
        inner = _split_top_comma(arg)
        if len(inner) != 2:
            return None  # wrong arity: pass through
        return f"{fn}({inner[0]}, {probs_sql}, {inner[1]})"

    return make


@_curried
def _uniq_up_to_make(cap, arg):
    """``uniqUpTo(N)(x)`` → ``least(count(DISTINCT x), (N) + 1)`` —
    ClickHouse counts exactly up to N and returns N+1 for anything beyond,
    so BOTH ``>= N`` and the idiomatic strict ``> N`` ("more than N
    distinct?") predicates keep their truth value under translation."""
    if arg is None:
        return None
    return f"least(count(DISTINCT {arg}), ({cap}) + 1)"


@_curried
def _window_funnel_make(params, arg):
    """``windowFunnel(W)(ts, c1, …, ck)`` → one codegen ``aggregate`` fold
    over the key's time-sorted events, O(E·k) per key (reference parity:
    the App.jsx query surface passes raw CH SQL through server.js:231;
    the DataFrame analog with strict modes is ``events.window_funnel``).

    State: per level j, the first-event (anchor) timestamp ``f_j`` of the
    chain that most recently reached level j (−1 = unreached).  For each
    event all levels update simultaneously from the pre-event state: a
    step-j event extends a level-(j−1) chain iff ``t ≤ f_{j-1} + W``,
    propagating the anchor; a step-1 event re-anchors ``f_1 = t``.  Since
    anchors are non-decreasing over the sorted scan and step validity is
    monotone in the anchor (later anchor = later deadline), the kept
    anchor per level is maximal — the fold is EXACT for default-mode
    semantics (non-decreasing timestamps, window measured from the
    chain's first event).  Strict modes and non-literal windows pass
    through untranslated (the DataFrame operator covers them).
    """
    if arg is None:
        return None
    w_args = _split_top_comma(params)
    args = _split_top_comma(arg)
    if (
        len(w_args) != 1
        or not re.fullmatch(r"\d+", w_args[0].strip())
        or len(args) < 2
    ):
        return None  # modes / dynamic window
    w_us = int(w_args[0].strip()) * 1_000_000
    ts, conds = args[0], args[1:]
    k = len(conds)
    fields = ", ".join(
        f"CAST({c} AS BOOLEAN) AS s{j + 1}" for j, c in enumerate(conds)
    )
    evs = (
        f"array_sort(collect_list(struct("
        f"unix_micros(CAST({ts} AS TIMESTAMP)) AS t, {fields})))"
    )
    init = ", ".join(f"'f{j + 1}', -1L" for j in range(k))
    upd = ["'f1', CASE WHEN e.s1 THEN e.t ELSE a.f1 END"]
    for j in range(2, k + 1):
        upd.append(
            f"'f{j}', CASE WHEN e.s{j} AND a.f{j - 1} >= 0L "
            f"AND e.t <= a.f{j - 1} + {w_us}L "
            f"THEN a.f{j - 1} ELSE a.f{j} END"
        )
    fin = " ".join(f"WHEN a.f{j} >= 0L THEN {j}" for j in range(k, 0, -1))
    return (
        f"aggregate({evs}, named_struct({init}), "
        f"(a, e) -> named_struct({', '.join(upd)}), "
        f"a -> CASE {fin} ELSE 0 END)"
    )


# Call rewrites that run BEFORE the bracket pass (_rewrite_array_literals):
# a curried ``f(p)(x)[i]`` must be one call again before ``)[`` reads as
# element access.
_EARLY_CALLS = _table([
    ("intDiv", _int_div_make),
    # ClickHouse -If combinator → conditional aggregate.  The CASE makes
    # non-matching rows NULL, which every aggregate here ignores; anyIf
    # needs an explicit ignore-nulls first_value, uniqIf a DISTINCT over
    # the CASE (countIf is the count_if rename).
    # two-argument aggregates: BOTH args null out on a false condition
    # (max_by/min_by ignore rows whose ordering value is NULL)
    (
        "argMaxIf",
        (3, "max_by(CASE WHEN {2} THEN {0} END, CASE WHEN {2} THEN {1} END)"),
    ),
    (
        "argMinIf",
        (3, "min_by(CASE WHEN {2} THEN {0} END, CASE WHEN {2} THEN {1} END)"),
    ),
    ("sumIf", (2, "sum(CASE WHEN {1} THEN {0} END)")),
    ("avgIf", (2, "avg(CASE WHEN {1} THEN {0} END)")),
    ("minIf", (2, "min(CASE WHEN {1} THEN {0} END)")),
    ("maxIf", (2, "max(CASE WHEN {1} THEN {0} END)")),
    ("anyIf", (2, "first_value(CASE WHEN {1} THEN {0} END, true)")),
    ("uniqIf", (2, "count(DISTINCT CASE WHEN {1} THEN {0} END)")),
    ("uniqExactIf", (2, "count(DISTINCT CASE WHEN {1} THEN {0} END)")),
    # the CASE nulls out non-matching rows; percentile and collect_list
    # both ignore NULLs, so the conditional forms compose the same way as
    # sum/avg
    ("medianIf", (2, "percentile(CASE WHEN {1} THEN {0} END, 0.5)")),
    ("medianExactIf", (2, "percentile(CASE WHEN {1} THEN {0} END, 0.5)")),
    ("groupArrayIf", (2, "collect_list(CASE WHEN {1} THEN {0} END)")),
    (
        "groupUniqArrayIf",
        (2, "array_distinct(collect_list(CASE WHEN {1} THEN {0} END))"),
    ),
    ("arrayMap", _lambda_first_make("transform", zips=True)),
    ("arrayFilter", _lambda_first_make("filter")),
    ("arrayExists", _lambda_first_make("exists")),
    ("arrayAll", _lambda_first_make("forall")),
    (
        "arrayFirstIndex",
        lambda a: (
            f"array_position(transform({a[1]}, {a[0]}), true)"
            if len(a) == 2 and "->" in a[0]
            else None
        ),
    ),
    ("arrayFirst", _array_first_last_make(1)),
    ("arrayLast", _array_first_last_make(-1)),
    ("arrayCount", _array_count_make),
    ("multiIf", _multi_if_make),
    # splitByChar/splitByString(sep, s) → split(s, sep) with the separator
    # wrapped in \Q…\E so Spark's regex split treats it literally
    # (ClickHouse splits on the raw string — a '.' or '|' separator must
    # not become a regex)
    ("splitByChar", (2, "split({1}, concat('\\\\Q', {0}, '\\\\E'))")),
    ("splitByString", (2, "split({1}, concat('\\\\Q', {0}, '\\\\E'))")),
    # splitByRegexp keeps the pattern AS a regex (arg order swaps)
    ("splitByRegexp", (2, "split({1}, {0})")),
    # alphaTokens: maximal a-zA-Z runs; splitting leaves '' stubs at the
    # edges, filtered out to match CH.  \P{Alpha} (ASCII, Java regex)
    # instead of a [^...] class — generated brackets would be re-parsed
    # as a CH array literal by a later rewrite stage
    (
        "alphaTokens",
        (1, "filter(split({0}, '\\\\P{{Alpha}}+'), __t -> __t != '')"),
    ),
    ("arrayStringConcat", _array_string_concat_make),
    ("quantilesGK", _quantile_gk_make(single=False)),
    ("quantileGK", _quantile_gk_make(single=True)),
    ("groupConcat", _group_concat_make),
    ("groupArraySorted", _group_array_sorted_make),
    ("topKWeighted", _top_k_weighted_make),
    ("topK", _top_k_make),
    ("meanZTest", _mean_z_test_make),
    ("quantilesExactLow", _quantile_nearest_rank_make(True, "floor")),
    ("quantilesExactHigh", _quantile_nearest_rank_make(True, "ceil")),
    ("quantileExactLow", _quantile_nearest_rank_make(False, "floor")),
    ("quantileExactHigh", _quantile_nearest_rank_make(False, "ceil")),
    # histogram(N)(x): CH's adaptive-bin histogram -> Spark's
    # histogram_numeric centroids — both adaptive sketches, so bin
    # boundaries/values are engine-specific (the uniq stance); use
    # relational.equi-height/fixed-bucket operators for oracle parity
    ("histogram", _quantile_make("histogram_numeric")),
    ("quantilesTDigest", _quantile_make("approx_percentile", plural=True)),
    ("quantileTDigest", _quantile_make("approx_percentile")),
    ("quantilesTiming", _quantile_make("approx_percentile", plural=True)),
    ("quantileTiming", _quantile_make("approx_percentile")),
    ("quantileBFloat16", _quantile_make("approx_percentile")),
    ("quantileDeterministic", _quantile_make("approx_percentile")),
    ("quantilesExactWeighted", _quantile_make("percentile", True, weighted=True)),
    ("quantileExactWeighted", _quantile_make("percentile", weighted=True)),
    # the other weighted-quantile kinds share the exact weighted lane —
    # Interpolated is exactly percentile-with-frequency; Timing/TDigest
    # are sketches on CH (the uniq stance: exactness only improves the
    # answer)
    (
        "quantilesInterpolatedWeighted",
        _quantile_make("percentile", True, weighted=True),
    ),
    ("quantileInterpolatedWeighted", _quantile_make("percentile", weighted=True)),
    ("quantilesTimingWeighted", _quantile_make("percentile", True, weighted=True)),
    ("quantileTimingWeighted", _quantile_make("percentile", weighted=True)),
    ("quantilesTDigestWeighted", _quantile_make("percentile", True, weighted=True)),
    ("quantileTDigestWeighted", _quantile_make("percentile", weighted=True)),
    ("quantilesExact", _quantile_make("percentile", plural=True)),
    ("quantileExact", _quantile_make("percentile")),
    ("quantiles", _quantile_make("percentile", plural=True)),
    ("quantile", _quantile_make("percentile")),
    ("uniqUpTo", _uniq_up_to_make),
    ("windowFunnel", _window_funnel_make),
])


# a '[' after one of these keywords (or after an operator/comma/open
# paren) opens an ARRAY LITERAL; after an identifier/')'/']' it is
# element access (arr[1] — both engines use the same indexing syntax)
_ARRAY_LIT_KEYWORDS = {
    "SELECT", "WHEN", "THEN", "ELSE", "IN", "AS", "ON", "AND", "OR", "NOT",
    "BY", "WHERE", "HAVING", "RETURN", "UNION", "ALL", "DISTINCT", "BETWEEN",
    "LIKE", "IS", "CASE", "END", "FROM", "LIMIT", "OFFSET", "INTERVAL",
}


def _rewrite_array_literals(chunk: str) -> str:
    """ClickHouse bracket syntax → Spark equivalents:

    * ``[1, 2, 3]`` array LITERALS → ``array(1, 2, 3)``
    * ``expr[i]`` element ACCESS → ``try_element_at(expr, i)`` — ClickHouse
      indexing is 1-based (negative = from the end); Spark's own bracket
      operator is 0-based, so leaving it untouched would silently shift
      every index.  ``try_element_at`` matches both conventions AND
      yields NULL for out-of-range indexes / missing map keys where
      ClickHouse returns the type's default value and plain element_at
      THROWS under ANSI (r5 fix; NULL is the relational encoding of the
      default, the arrayElement/dictGet convention).  Works for map
      access too (both engines say ``m['k']``).  Residual edge: a LITERAL
      zero array index (CH ``a[0]`` → default) still errors — zero can't
      be nullif'd away generically because ``m[0]`` is a legitimate map
      probe.

    A bracket after a value expression (identifier, ``)``, ``]``) is
    access; anything else — including after a KEYWORD like ``THEN [1]`` —
    opens a literal.  Chained access (``a[1][2]``) and nested literals
    rewrite through rescanning."""
    i = 0
    while i < len(chunk):
        if chunk[i] != "[":
            i += 1
            continue
        # classify by the token before the bracket
        j = i - 1
        while j >= 0 and chunk[j].isspace():
            j -= 1
        is_literal = True
        in_list = False  # `x IN [1,2,3]` → parenthesized list, not array()
        if j >= 0:
            prev = chunk[j]
            if prev in ")]" or prev == "\x00":
                # ')' / ']' end a value expression; '\x00' closes a masked
                # string literal ('abc'[1] is element access in ClickHouse)
                is_literal = False
            elif prev.isalnum() or prev == "_":
                # word before the bracket: literal only after a keyword
                k = j
                while k >= 0 and (chunk[k].isalnum() or chunk[k] == "_"):
                    k -= 1
                word = chunk[k + 1 : j + 1].upper()
                is_literal = word in _ARRAY_LIT_KEYWORDS
                # `x IN [1,2,3]` is the primary CH bracket idiom in the IN
                # position, but Spark can't parse `IN array(...)` — emit a
                # plain parenthesized value list instead
                in_list = word == "IN"
        e = _match_bracket(chunk, i)
        inner = chunk[i + 1 : e - 1]
        if is_literal:
            if in_list:
                chunk = chunk[:i] + "(" + inner + ")" + chunk[e:]
                i += 1  # rescan inside for nested literals
            else:
                chunk = chunk[:i] + "array(" + inner + ")" + chunk[e:]
                i += len("array(")  # rescan inside for nested literals
            continue
        # element access: walk back to the start of the indexed expression
        s = j
        if chunk[s] == "\x00":
            # masked string literal \x00N\x00 — walk to its opening marker.
            # Spark's element_at rejects STRING, so 1-based character
            # access goes through substr (negative index = from the end,
            # same convention both engines use for subscripts)
            s -= 1
            while s >= 0 and chunk[s] != "\x00":
                s -= 1
            base = chunk[s : j + 1]
            chunk = chunk[:s] + f"substr({base}, {inner}, 1)" + chunk[e:]
            i = s
            continue
        if chunk[s] in ")]":
            s = _match_bracket(chunk, s)
        # prefix identifier (function name / qualified column)
        while s > 0 and (chunk[s - 1].isalnum() or chunk[s - 1] in "_."):
            s -= 1
        base = chunk[s : j + 1]
        chunk = chunk[:s] + f"try_element_at({base}, {inner})" + chunk[e:]
        i = s  # rescan: base/inner may hold further brackets
    return chunk


_CLAUSE_TERMINATORS = ("GROUP", "ORDER", "LIMIT", "HAVING", "FORMAT", "WINDOW")


def _merge_prewhere(chunk: str) -> str:
    """``PREWHERE x WHERE y`` → ``WHERE (x) AND (y)``, with both the WHERE
    and the clause terminator found by :func:`_top_level`, so predicates
    that contain subqueries (their own WHERE/GROUP/LIMIT) merge intact and
    a column named like a keyword (`` `where` ``, ``t.where``) is no clause.

    Scope: merges the top-level pair only.  A *subquery* that itself uses
    both PREWHERE and WHERE is out of scope for name-level rewriting (its
    PREWHERE is renamed to WHERE, producing SQL Spark will reject with a
    clear parse error rather than silently mis-merging).  That rename, in
    :func:`_rewrite_clauses`, is a whole-statement :func:`_sub_keyword`
    rather than this scanner; a backtick name `` `prewhere` `` stays."""
    pre_at, w = next(_top_level(chunk, ("PREWHERE",)))
    if w is None:
        return chunk
    body_start = pre_at + len("PREWHERE")
    where_at, w = next(_top_level(chunk, ("WHERE",), body_start))
    if w is None:
        return chunk  # standalone PREWHERE; caller renames it to WHERE
    term_at, _ = next(
        _top_level(chunk, _CLAUSE_TERMINATORS, where_at + len("WHERE"))
    )
    pre = chunk[body_start:where_at].strip()
    where = chunk[where_at + len("WHERE") : term_at].strip()
    return chunk[:pre_at] + f"WHERE ({pre}) AND ({where}) " + chunk[term_at:]


def _rewrite_limit_by(chunk: str) -> str:
    """``ORDER BY <ord> LIMIT <n> BY <cols> [LIMIT <m>]`` (ClickHouse's
    top-n-per-group clause) → a row_number window subquery:

        SELECT * FROM (<query sans LIMIT BY>,
                       row_number() OVER (PARTITION BY cols ORDER BY ord))
        WHERE __rn <= n [LIMIT m]

    Scope (documented, conservative): top-level SELECT only, requires an
    explicit top-level ORDER BY (ClickHouse's per-group pick is otherwise
    nondeterministic anyway — same stance as the deterministic-pagination
    rework of the reference's LIMIT/OFFSET, SURVEY §2.11); the optional
    trailing LIMIT becomes the outer row limit.  Queries outside this shape
    pass through and error by name."""
    m = re.search(r"\bLIMIT\s+(\d+)\s+BY\s+", chunk, re.IGNORECASE)
    if not m:
        return chunk
    n = m.group(1)
    ord_at, w = next(_top_level(chunk, ("ORDER",)))
    if w is None or ord_at > m.start():
        return chunk
    om = re.compile(r"ORDER\s+BY\s+", re.IGNORECASE).match(chunk, ord_at)
    if not om:
        return chunk
    order_expr = chunk[om.end() : m.start()].strip()
    # BY-list runs to an optional trailing LIMIT (the outer row cap) or EOS
    tail = chunk[m.end():]
    tm = re.search(r"\bLIMIT\s+(\d+)\s*$", tail, re.IGNORECASE)
    if tm:
        cols = tail[: tm.start()].strip().rstrip(",")
        outer_limit = f" LIMIT {tm.group(1)}"
    else:
        cols = tail.strip().rstrip(",")
        outer_limit = ""
    inner = chunk[: ord_at].strip()
    return (
        f"SELECT * EXCEPT (__rn) FROM (SELECT __q.*, row_number() OVER "
        f"(PARTITION BY {cols} ORDER BY {order_expr}) AS __rn "
        f"FROM ({inner}) AS __q) WHERE __rn <= {n} "
        f"ORDER BY {order_expr}{outer_limit}"
    )


def _merge_with_totals(chunk: str) -> str:
    """``GROUP BY a, b WITH TOTALS`` → ``GROUP BY GROUPING SETS ((a, b),
    ())`` — ClickHouse's extra all-rows totals row as the standard grand-
    total grouping set.  Representation note: Spark/ANSI put NULL in the
    key columns of the totals row where ClickHouse renders zero values /
    empty strings (its JSON formats carry totals out-of-band); NULL is the
    faithful relational encoding.  Depth-0 only (a subquery's GROUP BY
    keeps its own TOTALS untouched and errors by name in Spark)."""
    g_at, w = next(_top_level(chunk, ("GROUP",)))
    if w is None:
        return chunk
    m = re.compile(r"GROUP\s+BY\s+", re.IGNORECASE).match(chunk, g_at)
    if not m:
        return chunk
    t_at, w = next(_top_level(chunk, (r"WITH\s+TOTALS",), m.end()))
    if w is None:
        return chunk
    cols = chunk[m.end() : t_at].strip().rstrip(",")
    return (
        chunk[:g_at]
        + f"GROUP BY GROUPING SETS (({cols}), ())"
        + chunk[t_at + len(w) :]
    )


def _rewrite_array_join_clause(chunk: str) -> str:
    """``[LEFT] ARRAY JOIN <expr> AS <alias>`` (ClickHouse's row-expanding
    clause) → ``LATERAL VIEW [OUTER] explode(<expr>) __aj<i> AS <alias>``.
    LEFT keeps rows whose array is empty/NULL (→ OUTER).  Single-expression
    form only (the common case); a comma list of arrays zips in ClickHouse,
    which LATERAL VIEW can't express name-level — those pass through and
    Spark errors by name."""
    pat = re.compile(
        r"\b(LEFT\s+)?ARRAY\s+JOIN\s+(.+?)\s+AS\s+(\w+)", re.IGNORECASE
    )
    i = 0

    def repl(m):
        nonlocal i
        outer = "OUTER " if m.group(1) else ""
        expr, alias = m.group(2).strip(), m.group(3)
        if "," in expr:  # multi-array zip form: out of scope, pass through
            return m.group(0)
        # multi-array form with per-array aliases ("ARRAY JOIN a AS x, b AS
        # y"): the comma sits AFTER the first alias, so check what follows —
        # rewriting only the first array would emit invalid SQL with the
        # ClickHouse clause name destroyed
        rest = chunk[m.end():]
        if re.match(r"\s*,\s*[^,\s]+\s+AS\s+\w+", rest, re.IGNORECASE):
            return m.group(0)
        i += 1
        return f"LATERAL VIEW {outer}explode({expr}) __aj{i} AS {alias}"

    return pat.sub(repl, chunk)


_WITH_FILL_PAT = re.compile(
    r"ORDER\s+BY\s+([A-Za-z_]\w*)\s+WITH\s+FILL"
    r"(?:\s+FROM\s+(\S+))?(?:\s+TO\s+(\S+))?(?:\s+STEP\s+(\S+))?"
    r"(?:\s+INTERPOLATE\s*\(([^)]*)\))?\s*;?\s*$",
    re.IGNORECASE,
)


def _rewrite_with_fill(chunk: str) -> str:
    """ClickHouse ``ORDER BY c WITH FILL [FROM a] [TO b] [STEP s]`` →
    a generated value sequence FULL-joined with the query (USING-join, so
    the fill column is coalesced per the SQL standard): every gap in the
    arithmetic progression appears as a row with NULL payload columns,
    original rows all survive — exactly CH's fill semantics (FROM
    inclusive, TO exclusive, default step 1; CH docs "ORDER BY Expr WITH
    FILL Modifier").  Scope (documented, conservative string level): one
    fill column, a plain column name, numeric progression, the statement's
    final ORDER BY.  Timestamp gap-fill is the ``events.gap_fill``
    operator (driver query ``gap_fill``, green r1) — this covers the SQL
    endpoint.  Without FROM/TO the bounds come from scalar-subquery
    min/max over the base result, the same one-extra-tiny-job shape as
    the operator."""
    m = _WITH_FILL_PAT.search(chunk)
    if not m:
        return chunk
    col, frm, to, step, interp = m.groups()
    base = chunk[: m.start()].rstrip()
    step = step or "1"
    frm_e = frm or f"(SELECT min({col}) FROM __fill_base)"
    to_e = f"({to}) - 1" if to else f"(SELECT max({col}) FROM __fill_base)"
    seq = (
        f"(SELECT explode(sequence({frm_e}, greatest({to_e}, {frm_e}), {step})) "
        f"AS {col})"
    )
    if not interp:
        return (
            f"WITH __fill_base AS ({base}) "
            f"SELECT * FROM {seq} FULL JOIN __fill_base USING ({col}) "
            f"ORDER BY {col}"
        )
    # INTERPOLATE (c1, c2, …): FILLED rows carry each listed column
    # forward from the last ORIGINAL row (CH's no-expression form —
    # original rows keep their own values, NULLs included; the
    # expression form `c AS expr` iterates per filled row and is out of
    # scope here, passing through for Spark to reject by syntax).
    # Implementation: an __orig marker distinguishes filled rows; the
    # carried value is last_value(ignoreNulls) over a STRUCT built only on
    # original rows — the struct is non-NULL for every original row even
    # when the column itself is NULL, so a fill after an original NULL
    # carries the NULL (CH's carry-previous-row semantics) instead of
    # skipping back to an older non-NULL value.
    # Interpolated columns move to the END of the row (the oracle
    # compare is column-name keyed, CH keeps positions — documented).
    cols = [c.strip() for c in interp.split(",") if c.strip()]
    if any(not re.fullmatch(r"[A-Za-z_]\w*", c) for c in cols):
        return chunk  # expression form: unsupported, leave untouched
    carried = ", ".join(
        f"CASE WHEN __orig THEN {c} ELSE (last_value("
        f"CASE WHEN __orig THEN struct({c} AS v) END, true) "
        f"OVER __wfill).v END AS {c}"
        for c in cols
    )
    return (
        f"WITH __fill_base AS (SELECT *, true AS __orig FROM ({base})), "
        f"__filled AS (SELECT * FROM {seq} FULL JOIN __fill_base "
        f"USING ({col})) "
        f"SELECT * EXCEPT(__orig, {', '.join(cols)}), {carried} "
        f"FROM __filled "
        f"WINDOW __wfill AS (ORDER BY {col} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) "
        f"ORDER BY {col}"
    )


_ASOF_PAT = re.compile(r"\bASOF\s+(LEFT\s+)?JOIN\b", re.IGNORECASE)
_ASOF_TABLE_PAT = re.compile(
    r"\s+([A-Za-z_][\w.]*)"
    r"(?:\s+AS\s+([A-Za-z_]\w*)|\s+(?!ON\b)([A-Za-z_]\w*))?"
    r"\s+ON\b",
    re.IGNORECASE,
)
# words that end an ON condition (as does the closer of its block)
_ASOF_CLAUSE_END = (
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION", "WINDOW", "JOIN",
    "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "ASOF", "SETTINGS", "FORMAT",
)
_ASOF_INEQ = re.compile(r"(<=|>=|<|>)")


_ASOF_LEFT_TABLE_PAT = re.compile(
    r"\bFROM\s+([A-Za-z_][\w.]*)"
    r"(?:\s+AS\s+([A-Za-z_]\w*)|\s+(?!ASOF\b)([A-Za-z_]\w*))?"
    r"\s*$",
    re.IGNORECASE,
)


def _asof_split_condition(cond: str, r_alias: str):
    """Split the ON condition into equality terms and THE inequality
    (ClickHouse's rule: exactly one inequality names the asof column).
    Returns (eq_pairs [(left_expr, right_expr)], ineq (l, r, op)) with
    each term's operands sorted so the right-alias side is second, or
    (None, None) when the shape isn't resolvable."""
    qual = re.compile(rf"^{re.escape(r_alias)}\s*\.", re.IGNORECASE)
    eq_pairs, ineq = [], None
    for part in re.split(r"\bAND\b", cond, flags=re.IGNORECASE):
        part = part.strip()
        if "(" in part:
            return None, None  # keep to simple comparison terms
        im = _ASOF_INEQ.search(part)
        if im:
            lhs, rhs = part[: im.start()].strip(), part[im.end() :].strip()
            op = im.group(1)
            if qual.match(rhs):
                pass  # left op right-side already
            elif qual.match(lhs):
                lhs, rhs = rhs, lhs
                op = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}[op]
            else:
                return None, None
            if ineq is not None:
                return None, None  # CH allows exactly one
            ineq = (lhs, rhs, op)
            continue
        if "=" in part:
            lhs, _, rhs = part.partition("=")
            lhs, rhs = lhs.strip(), rhs.strip()
            if qual.match(lhs):
                lhs, rhs = rhs, lhs
            if not qual.match(rhs):
                return None, None
            eq_pairs.append((lhs, rhs))
            continue
        return None, None
    if ineq is None:
        return None, None
    return eq_pairs, ineq


def _rewrite_asof_join(chunk: str) -> str:
    """ClickHouse ``A ASOF [LEFT] JOIN B ON A.k = B.k AND A.t >= B.t`` →
    the *union + running last_value* idiom — the same single-shuffle
    sort-merge shape as the DataFrame ``relational.asof_join`` — expressed
    generically by packing each side into a struct column NAMED BY ITS
    ALIAS, so the outer query's ``a.x`` / ``b.y`` references resolve as
    struct-field access unchanged::

        (SELECT __lv AS a, __rvm AS b FROM (
           SELECT __lv, __tag, last_value(__rv, true) OVER (
             PARTITION BY __k0.. ORDER BY __ts {ASC|DESC}, __tag
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __rvm
           FROM (SELECT struct(a.*), NULL, keys.., a.t, {ltag} FROM A a
                 UNION ALL
                 SELECT NULL, struct(b.*), keys.., b.t, {rtag} FROM B b))
         WHERE __tag = {ltag} [AND __rvm IS NOT NULL])

    One shuffle on the key, O(1) window state per key — a correlated
    LATERAL subquery here plans as a per-left-row nested loop (measured
    263 s vs 0.9 s at sf0.1).  The inequality's direction picks the scan
    order (right ≤ left probes backward/ASC-latest; ≥ probes
    forward/DESC-nearest) and its strictness the tag order (exact matches
    included for ≤/≥, exactly ClickHouse's rule, docs "ASOF JOIN Usage").
    Scope (documented): both sides plain table/view names (optionally
    aliased), simple comparison terms, column refs qualified by the two
    aliases; the outer query must use qualified references (``SELECT *``
    would yield the two structs).  Cross-checked by the ``dialect_asof``
    driver oracle (DuckDB native ASOF JOIN).
    Reference parity: ClickHouse ASOF JOIN; the reference passes raw join
    condition strings through (server/server.js:837-844)."""
    m = _ASOF_PAT.search(chunk)
    while m:
        is_left = bool(m.group(1))
        tm = _ASOF_TABLE_PAT.match(chunk, m.end())
        if not tm:
            return chunk  # unsupported shape — pass through, Spark errors
        r_table = tm.group(1)
        r_alias = tm.group(2) or tm.group(3) or r_table.split(".")[-1]
        cond_start = tm.end()
        end, _ = next(_top_level(chunk, _ASOF_CLAUSE_END, cond_start))
        cond = chunk[cond_start:end].strip()
        lm = _ASOF_LEFT_TABLE_PAT.search(chunk, 0, m.start())
        eq_pairs, ineq = _asof_split_condition(cond, r_alias)
        if lm is None or eq_pairs is None or not eq_pairs:
            # fallback: correlated LATERAL closest-match (correct but
            # per-left-row — only for shapes the window form can't parse)
            repl = _asof_lateral(cond, r_table, r_alias, is_left)
            if repl is None:
                return chunk
            chunk = chunk[: m.start()] + repl + chunk[end:]
            m = _ASOF_PAT.search(chunk, m.start() + len(repl))
            continue
        l_table = lm.group(1)
        l_alias = lm.group(2) or lm.group(3) or l_table.split(".")[-1]
        l_ts, r_ts, op = ineq  # left-side expr, right-side expr, l <op> r
        backward = op in (">", ">=")  # left ≥ right: latest earlier right
        inclusive = op in (">=", "<=")
        ltag, rtag = (1, 0) if inclusive else (0, 1)
        direction = "ASC" if backward else "DESC"
        l_keys = ", ".join(
            f"{le} AS __k{i}" for i, (le, _) in enumerate(eq_pairs)
        )
        r_keys = ", ".join(
            f"{re_} AS __k{i}" for i, (_, re_) in enumerate(eq_pairs)
        )
        part_keys = ", ".join(f"__k{i}" for i in range(len(eq_pairs)))
        inner_filter = "" if is_left else " AND __rvm IS NOT NULL"
        repl = (
            f"(SELECT __lv AS {l_alias}, __rvm AS {r_alias} FROM ("
            f"SELECT __lv, __tag, last_value(__rv, true) OVER ("
            f"PARTITION BY {part_keys} ORDER BY __ts {direction}, __tag ASC "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __rvm "
            f"FROM ("
            f"SELECT struct({l_alias}.*) AS __lv, NULL AS __rv, {l_keys}, "
            f"{l_ts} AS __ts, {ltag} AS __tag FROM {l_table} AS {l_alias} "
            f"UNION ALL "
            f"SELECT NULL AS __lv, struct({r_alias}.*) AS __rv, {r_keys}, "
            f"{r_ts} AS __ts, {rtag} AS __tag FROM {r_table} AS {r_alias}"
            f")) WHERE __tag = {ltag}{inner_filter}) "
        )
        # splice over "FROM <left> ... ON <cond>" — the FROM keyword stays
        chunk = chunk[: lm.start()] + "FROM " + repl + chunk[end:]
        m = _ASOF_PAT.search(chunk, lm.start() + len(repl))
    return chunk


def _asof_lateral(
    cond: str, r_table: str, r_alias: str, is_left: bool
) -> str | None:
    """LATERAL closest-match fallback (per-left-row — small dims only)."""
    sort_expr, direction = None, None
    qual = re.compile(rf"^{re.escape(r_alias)}\s*\.", re.IGNORECASE)
    for part in re.split(r"\bAND\b", cond, flags=re.IGNORECASE):
        im = _ASOF_INEQ.search(part)
        if not im or "(" in part:
            continue
        lhs, rhs = part[: im.start()].strip(), part[im.end() :].strip()
        op = im.group(1)
        if qual.match(lhs):
            se, lt = lhs, op in ("<", "<=")
        elif qual.match(rhs):
            se, lt = rhs, op not in ("<", "<=")
        else:
            continue
        sort_expr, direction = se, ("DESC" if lt else "ASC")
    if sort_expr is None:
        return None
    join_kw = "LEFT JOIN" if is_left else "JOIN"
    return (
        f"{join_kw} LATERAL (SELECT * FROM {r_table} AS {r_alias} "
        f"WHERE {cond} ORDER BY {sort_expr} {direction} LIMIT 1) "
        f"{r_alias} ON true "
    )


_PASTE_KW_PAT = re.compile(r"\bPASTE\s+JOIN\b", re.IGNORECASE)

# words that terminate a FROM item and therefore can never be an alias
_PASTE_STOP = {
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION", "WINDOW",
    "SETTINGS", "FORMAT", "PASTE", "JOIN", "LEFT", "RIGHT", "INNER",
    "CROSS", "FULL", "ON", "USING", "AS", "QUALIFY", "INTERSECT", "EXCEPT",
}


def _paste_left_operand(chunk: str, kw_start: int):
    """Parse the FROM item ending just before ``kw_start``: a plain
    table/view name or a parenthesized subquery, optionally aliased
    (with or without AS).  Returns ``(from_start, operand_sql, alias)``
    — from_start is the index of the FROM keyword — or None when the
    operand is not in FROM position."""

    def _back_word(j: int) -> tuple[int, str]:
        i = j
        while i > 0 and (chunk[i - 1].isalnum() or chunk[i - 1] in "_."):
            i -= 1
        return i, chunk[i:j]

    def _skip_ws_back(j: int) -> int:
        while j > 0 and chunk[j - 1].isspace():
            j -= 1
        return j

    j = _skip_ws_back(kw_start)
    alias = None
    if j > 0 and chunk[j - 1] == ")":
        start = _match_bracket(chunk, j - 1)
        sql = chunk[start:j]
    else:
        i, w = _back_word(j)
        if not w:
            return None
        p = _skip_ws_back(i)
        if p > 0 and chunk[p - 1] == ")":  # (subq) alias
            start = _match_bracket(chunk, p - 1)
            sql, alias = chunk[start:p], w
        else:
            i2, w2 = _back_word(p)
            if w2.upper() == "AS":
                p2 = _skip_ws_back(i2)
                if p2 > 0 and chunk[p2 - 1] == ")":  # (subq) AS alias
                    start = _match_bracket(chunk, p2 - 1)
                    sql, alias = chunk[start:p2], w
                else:  # tbl AS alias
                    start, sql = _back_word(p2)
                    alias = w
                    if not sql:
                        return None
            elif w2.upper() == "FROM":  # FROM tbl
                start, sql = i, w
            elif w2:  # tbl alias
                start, sql, alias = i2, w2, w
            else:
                return None
    q = _skip_ws_back(start)
    f_start, f_word = _back_word(q)
    if f_word.upper() != "FROM":
        return None
    return f_start, sql, alias


def _paste_right_operand(chunk: str, pos: int):
    """Parse the FROM item starting at ``pos`` (just past PASTE JOIN):
    plain name or parenthesized subquery, optional [AS] alias.  Returns
    ``(operand_sql, alias, end_index)`` or None."""
    j = pos
    while j < len(chunk) and chunk[j].isspace():
        j += 1
    if j < len(chunk) and chunk[j] == "(":
        end = _match_bracket(chunk, j)
        sql = chunk[j:end]
    else:
        m = re.match(r"[A-Za-z_][\w.]*", chunk[j:])
        if not m:
            return None
        sql, end = m.group(0), j + m.end()
    am = re.match(r"\s+(?:AS\s+)?([A-Za-z_]\w*)", chunk[end:], re.IGNORECASE)
    alias = None
    if am and am.group(1).upper() not in _PASTE_STOP:
        alias = am.group(1)
        end += am.end()
    return sql, alias, end


def _rewrite_paste_join(chunk: str) -> str:
    """ClickHouse ``A PASTE JOIN B`` — positional (horizontal) row
    concatenation, no join condition.  ClickHouse pastes in block-arrival
    order, which no distributed engine can reproduce; like the DataFrame
    operator (``relational.paste_join``, which this mirrors) position is
    defined by each side's full-row sort order — deterministic and
    engine-portable::

        FROM (SELECT __pl.*, __pr.* FROM
          (SELECT struct(a.*) AS __pl,
                  row_number() OVER (ORDER BY struct(a.*)) AS __pos
           FROM A AS a)
          JOIN (... B ...) USING (__pos))

    Unequal lengths truncate to the shorter side (inner join on the
    position), matching the DataFrame form.  Operands may be plain
    table/view names OR parenthesized subqueries (r6, VERDICT r5 #8a),
    each optionally aliased; chained ``A PASTE JOIN B PASTE JOIN C``
    resolves left-to-right because the rewritten left side is itself a
    parenthesized subquery.  The output flattens both rows, so the outer
    query uses UNQUALIFIED column names — the natural PASTE shape (sides
    with distinct columns).  The unpartitioned row_number is the honest
    cost of positional semantics (same note as relational.paste_join) —
    for result-shaped frames, not raw fact tables."""
    m = _PASTE_KW_PAT.search(chunk)
    while m:
        left = _paste_left_operand(chunk, m.start())
        right = _paste_right_operand(chunk, m.end())
        if left is None or right is None:
            m = _PASTE_KW_PAT.search(chunk, m.end())
            continue
        from_start, lt, la = left
        rt, ra, end = right
        la = la or (lt.split(".")[-1] if not lt.startswith("(") else "__pj_l")
        ra = ra or (rt.split(".")[-1] if not rt.startswith("(") else "__pj_r")
        repl = (
            f"FROM (SELECT __pl.*, __pr.* FROM "
            f"(SELECT struct({la}.*) AS __pl, row_number() OVER "
            f"(ORDER BY struct({la}.*)) AS __pos FROM {lt} AS {la}) "
            f"JOIN (SELECT struct({ra}.*) AS __pr, row_number() OVER "
            f"(ORDER BY struct({ra}.*)) AS __pos FROM {rt} AS {ra}) "
            f"USING (__pos))"
        )
        chunk = chunk[:from_start] + repl + chunk[end:]
        m = _PASTE_KW_PAT.search(chunk, from_start + len(repl))
    return chunk


# session-scoped dictionary registry (ClickHouse CREATE DICTIONARY analog):
# lowercase dict name → (catalog table/view, key column).  Populated by
# register_dictionary / api.query's CREATE DICTIONARY route; consumed by
# the dictGet/dictGetOrDefault/dictHas rewrites.
_DICTIONARIES: dict[str, tuple[str, str]] = {}


# session-scoped Join-engine table registry (ClickHouse ENGINE = Join):
# lowercase table name → (catalog table/view, key column).  Populated by
# api.query's CREATE TABLE … ENGINE = Join route; consumed by joinGet.
_JOIN_TABLES: dict[str, tuple[str, str]] = {}


def register_join_table(name: str, table: str, key_col: str) -> None:
    """Register a Join-engine table for the joinGet rewrite (CH
    ``CREATE TABLE t (…) ENGINE = Join(ANY, LEFT, key)``)."""
    _JOIN_TABLES[name.lower()] = (table, key_col)


def drop_join_table(name: str) -> bool:
    return _JOIN_TABLES.pop(name.lower(), None) is not None


def register_dictionary(name: str, table: str, key_col: str) -> None:
    """Register a catalog table/view as a ClickHouse-style dictionary for
    the ``dictGet*``/``dictHas`` SQL rewrites.  Keys are expected unique
    (CH dictionary layouts enforce this; a duplicate key makes the scalar
    subquery raise at runtime, which is the honest surface of the same
    contract)."""
    if not re.fullmatch(r"\w+", table) or not re.fullmatch(r"\w+", key_col):
        raise ValueError("register_dictionary: table/key must be identifiers")
    _DICTIONARIES[name.lower()] = (table, key_col)


def drop_dictionary(name: str) -> bool:
    return _DICTIONARIES.pop(name.lower(), None) is not None


_FINAL_PAT = re.compile(r"(?i)\b(FROM|JOIN)\s+(\w+)((?:\s+AS\s+\w+)?)\s+FINAL\b")


def _rewrite_final(chunk: str) -> str:
    """``FROM t [AS a] FINAL`` → ``FROM t__final [AS a]``: ClickHouse's
    read-time merge.  The ``__final`` view is materialized by the SQL
    endpoints' shared front end (``api._prepare``, behind ``api.query``,
    ``api.explain`` and ``api.query_profile``) from the table's registered
    engine (operators.mergetree.register_table_engine / final_read); bare
    ``translate_clickhouse_sql`` callers get the renamed reference and
    Spark's own missing-view error if they skipped registration."""
    return _FINAL_PAT.sub(
        lambda m: f"{m.group(1)} {m.group(2)}__final{m.group(3)}", chunk
    )


def final_tables(sql: str) -> list[str]:
    """Table names read with FINAL in ``sql`` (literal-masked scan) — the
    SQL endpoints' shared front end (``api._prepare``) uses this to
    materialize each ``<t>__final`` view."""
    masked = "".join(
        seg for is_lit, seg in _split_literals(sql) if not is_lit
    )
    return [m.group(2) for m in _FINAL_PAT.finditer(masked)]


def _rewrite_distinct_on(chunk: str) -> str:
    """``SELECT DISTINCT ON (k1, …) …`` (ClickHouse; no Spark support) —
    the FIRST row per key combination in the statement's ORDER BY order
    (keys themselves when no ORDER BY): row_number over the keys picks
    it, the outer ORDER BY/LIMIT tail reapplies.  Statement-level only."""
    m = re.match(
        r"(?is)^(\s*)SELECT\s+DISTINCT\s+ON\s*\(", chunk
    )
    if not m:
        return chunk
    keys_end = _match_bracket(chunk, m.end() - 1)
    keys = chunk[m.end() : keys_end - 1].strip()
    body = chunk[keys_end:]
    # split off a trailing top-level ORDER BY … [LIMIT …] tail
    orders = [i for i, w in _top_level(body, ("ORDER",)) if w]
    if orders:
        inner_body, tail = body[: orders[-1]], body[orders[-1] :]
        om = re.match(r"(?is)ORDER\s+BY\s+(.+?)(\s+LIMIT\s+.*)?$", tail)
        order = om.group(1).strip() if om else keys
    else:
        inner_body, tail, order = body, "", keys
    return (
        f"{m.group(1)}SELECT * EXCEPT(__dn) FROM (SELECT __q0.*, "
        f"ROW_NUMBER() OVER (PARTITION BY {keys} ORDER BY {order}) "
        f"AS __dn FROM (SELECT {inner_body}) AS __q0) "
        f"WHERE __dn = 1 {tail}"
    )


_QUALIFY_END = ("ORDER", "LIMIT", "UNION", "SETTINGS", "FORMAT", "INTO")


def _rewrite_qualify(chunk: str) -> str:
    """``… QUALIFY <window-pred> [tail]`` (ClickHouse 23.x; no Spark
    support) — filter on window-function results computed over the
    query's OUTPUT rows: the statement wraps as a subquery, the
    predicate evaluates in an outer projection (SELECT aliases are now
    plain columns, windows run post-aggregation — QUALIFY's definition),
    and the filter + tail apply outside.  Top-level occurrence only."""
    q_at, w = next(_top_level(chunk, ("QUALIFY",)))
    if w is None:
        return chunk
    inner = chunk[:q_at].strip()
    pred_at = q_at + len(w)
    # predicate runs to the next top-level clause keyword
    p_end, _ = next(_top_level(chunk, _QUALIFY_END, pred_at))
    pred, tail = chunk[pred_at:p_end].strip(), chunk[p_end:]
    return (
        f"SELECT * EXCEPT(__qual) FROM (SELECT *, ({pred}) AS __qual "
        f"FROM ({inner}) __qsub) WHERE __qual {tail}"
    )


def _rewrite_limit_with_ties(chunk: str) -> str:
    """``ORDER BY … LIMIT n WITH TIES`` (no Spark support) → a RANK()
    window over the same ordering: rank ≤ n is exactly "the first n rows
    plus everything tied with the n-th".  Statement-trailing form only
    (the overwhelmingly common shape); subquery occurrences pass
    through.  The sort keys may name SELECT aliases — they are columns
    of the wrapped subquery, so the window sees them."""
    m = re.search(
        r"(?is)\bORDER\s+BY\s+(.+?)\s+LIMIT\s+(\d+)\s+WITH\s+TIES\s*;?\s*$",
        chunk,
    )
    if not m:
        return chunk
    # the ORDER BY must be top-level
    if m.start() not in {i for i, w in _top_level(chunk, ("ORDER",)) if w}:
        return chunk
    head = chunk[: m.start()]
    order, n = m.group(1).strip(), m.group(2)
    return (
        f"SELECT * EXCEPT(__r) FROM (SELECT __q0.*, RANK() OVER "
        f"(ORDER BY {order}) AS __r FROM ({head.strip()}) AS __q0) "
        f"WHERE __r <= {n} ORDER BY {order}"
    )


def _rewrite_clauses(chunk: str) -> str:
    """ClickHouse-specific CLAUSES (not functions):

    * ``PREWHERE c`` — an optimizer hint in ClickHouse (filter before other
      columns are read); semantically just a filter.  ``PREWHERE x WHERE y``
      → ``WHERE (x) AND (y)``; standalone ``PREWHERE x`` → ``WHERE x``.
      Spark's parquet scan already does predicate pushdown, which is the
      very thing PREWHERE hand-requests.
    * ``SAMPLE 0.1`` / ``SAMPLE 10000`` after a table name →
      ``TABLESAMPLE (10.0 PERCENT)`` / ``TABLESAMPLE (10000 ROWS)``.
    * trailing ``FORMAT <name>`` (wire-format selector, e.g. JSONEachRow —
      every read in the reference appends it, server.js:141/232/458) —
      stripped; output format is the writer's job in Spark.
    """
    chunk = _sub_keyword(r"\s+FORMAT\s+\w+\s*;?\s*$", "", chunk)
    # SETTINGS name=value[, ...] — ClickHouse per-query knobs; Spark's
    # equivalents are session confs, so the clause is dropped
    chunk = _sub_keyword(
        r"\s+SETTINGS\s+\w+\s*=\s*\S+(\s*,\s*\w+\s*=\s*\S+)*\s*;?\s*$", "", chunk
    )
    chunk = _rewrite_array_join_clause(chunk)
    chunk = _rewrite_limit_by(chunk)
    # GLOBAL IN / GLOBAL JOIN — ClickHouse's "broadcast the subquery to all
    # shards" hint; Spark's optimizer owns that decision, so the keyword
    # drops.  ALL JOIN is ClickHouse's explicit default-multiplicity
    # modifier (≡ standard join semantics) — also dropped.  ANY JOIN
    # (first-match-only) is NOT translated: its semantics differ, so it
    # passes through and Spark errors by name.
    chunk = _sub_keyword(r"\bGLOBAL\s+(?=IN\b|JOIN\b|LEFT\b|RIGHT\b|INNER\b|FULL\b|CROSS\b|ANY\b|ALL\b)", "", chunk)
    chunk = _sub_keyword(r"\bALL\s+(?=((LEFT|RIGHT|INNER|FULL)\s+)?JOIN\b)", "", chunk)
    chunk = _merge_with_totals(chunk)
    chunk = _merge_prewhere(chunk)
    chunk = _sub_keyword(r"\bPREWHERE\b", "WHERE", chunk)
    chunk = _sub_keyword(
        r"\bSAMPLE\s+0?\.(\d+)\b",
        lambda m: f"TABLESAMPLE ({float('0.' + m.group(1)) * 100:g} PERCENT)",
        chunk,
    )
    return _sub_keyword(r"\bSAMPLE\s+(\d+)\b", r"TABLESAMPLE (\1 ROWS)", chunk)


_EMPTY_SITE_PAT = re.compile(r"\b(empty|notEmpty)\(")


def _wrap_empty_sites(chunk: str, flags: list[bool]) -> str:
    """Rewrite each ``empty(x)`` / ``notEmpty(x)`` site (textual scan
    order, outer before nested) to ``(length(x) = 0)`` (flag False) or
    ``(size(x) = 0)`` (flag True).  ClickHouse defines both on
    String AND Array/Map; Spark splits the surface between ``length``
    (string/binary) and ``size`` (array/map), so the per-site flag lets
    analysis feedback pick the right one."""
    idx = 0
    # its own scan, not a table row: each site takes the next per-site
    # flag in textual order, which the innermost-first engine can't give
    m = _EMPTY_SITE_PAT.search(chunk)
    while m:
        j = _match_bracket(chunk, m.end() - 1)
        inner = chunk[m.end() : j - 1]
        fn = "size" if (idx < len(flags) and flags[idx]) else "length"
        op = "= 0" if m.group(1) == "empty" else "> 0"
        head = f"({fn}("
        chunk = chunk[: m.start()] + head + inner + f") {op})" + chunk[j:]
        idx += 1
        # resume just inside the rewritten call so nested sites are seen
        m = _EMPTY_SITE_PAT.search(chunk, m.start() + len(head))
    return chunk


_PARAM_PAT = re.compile(r"\{(\w+)\s*:\s*([A-Za-z0-9()\s,]+?)\}")

# ClickHouse type-name spellings legal inside CAST(x AS T) / x::T —
# WHITELIST, because the schema mapper degrades unknown names to String
# and Spark's own type names (BIGINT, DOUBLE…) must pass through intact
_CH_TYPE_PAT = re.compile(
    r"(?:Nullable|LowCardinality|Array|Map)\s*\(.*\)$"
    r"|(?:U?Int(?:8|16|32|64)|Float(?:32|64)|String|FixedString\(\d+\)"
    r"|Date(?:32)?|DateTime(?:64)?(?:\([^()]*\))?|UUID|Bool"
    r"|Decimal(?:32|64|128)?\([\d\s,]+\))$"
)


def _spark_type_sql(ch_type: str) -> str | None:
    """``Float64`` → ``DOUBLE`` etc. for type tokens that are ClickHouse
    spellings (whitelisted); None for anything else — Spark's own names
    and column aliases must never be touched."""
    ch_type = ch_type.strip()
    if not _CH_TYPE_PAT.match(ch_type):
        return None
    from clickhouse_flatfile_tool_spark.schema import clickhouse_to_spark

    try:
        dt, _nullable = clickhouse_to_spark(ch_type)
    except Exception:  # noqa: BLE001 — unknown spelling: leave untouched
        return None
    return dt.simpleString()


def _rewrite_cast_types(chunk: str) -> str:
    """The postfix cast ``x::Float64`` → ``x::DOUBLE`` (only whitelisted
    ClickHouse spellings rewrite, so Spark-native types and aliases pass
    through); the ``CAST(x AS Float64)`` form is a ``_CALLS`` row."""

    def colon_sub(m: re.Match) -> str:
        spark_t = _spark_type_sql(m.group(1))
        return f"::{spark_t}" if spark_t else m.group(0)

    return re.sub(
        r"::\s*([A-Za-z]\w*(?:\([^()]*\))?)", colon_sub, chunk
    )


def bind_parameters(sql: str, params: dict) -> str:
    """ClickHouse query parameters — ``SELECT {p:UInt32}``-style
    placeholders bound server-side (the ``param_p=`` HTTP convention).
    Each ``{name:Type}`` site becomes a SQL literal cast through the
    declared ClickHouse type (``schema.clickhouse_to_spark`` — the same
    whitelist mapper the ingest path uses), so a string value can never
    splice into the statement as syntax: quotes are doubled inside the
    literal, everything else arrives through a CAST.  Unknown names
    raise (CH errors on unbound params too); extra params are ignored."""
    from pyspark.sql.types import DataType

    from clickhouse_flatfile_tool_spark.schema import clickhouse_to_spark

    def _sub(m: re.Match) -> str:
        name, ch_type = m.group(1), m.group(2).strip()
        if name not in params:
            raise ValueError(f"unbound query parameter {{{name}:{ch_type}}}")
        dt, _nullable = clickhouse_to_spark(ch_type)
        sql_type = (
            dt.simpleString() if isinstance(dt, DataType) else str(dt)
        )
        v = params[name]
        if v is None:
            return f"CAST(NULL AS {sql_type})"
        lit = str(v).replace("'", "''")
        return f"CAST('{lit}' AS {sql_type})"

    return _PARAM_PAT.sub(_sub, sql)


def _ngram_set(x: str) -> str:
    """Distinct 4-gram set of a string expression (SQL text): full 4-gram
    windows for length ≥ 4, the whole string as one gram for 1-3 chars,
    empty array for ''."""
    return (
        f"(CASE WHEN length({x}) >= 4 THEN array_distinct(transform("
        f"sequence(1, length({x}) - 3), __i -> substring({x}, __i, 4))) "
        f"WHEN length({x}) >= 1 THEN array({x}) "
        f"ELSE slice(array({x}), 1, 0) END)"
    )


def _ipv6_hex_sql(s: str) -> str:
    """32-char lowercase hex of the IPv6 address in string expression
    ``s``: handles ``::`` compression, dotted-IPv4 tails (and bare dotted
    quads, which map to ``::ffff:a.b.c.d`` — CH's own conversion), and
    mixed case.  Best-effort on malformed input (CH throws; this engine
    yields a zero-padded parse).  Pure built-ins: the let-bindings are
    single-element transform() closures (the geohashEncode pattern)."""
    v4 = "substring_index(__s0, ':', -1)"
    o = [
        f"CAST(element_at(split({v4}, '\\\\.'), {i}) AS BIGINT)"
        for i in (1, 2, 3, 4)
    ]
    ghi = f"lpad(lower(hex({o[0]} * 256 + {o[1]})), 4, '0')"
    glo = f"lpad(lower(hex({o[2]} * 256 + {o[3]})), 4, '0')"
    s2 = (
        f"IF(__s0 rlike '\\\\.', "
        f"concat(IF(__s0 rlike ':', "
        f"substring(__s0, 1, length(__s0) - length({v4})), '::ffff:'), "
        f"{ghi}, ':', {glo}), __s0)"
    )
    lg = (
        "filter(split(coalesce(try_element_at(split(__s1, '::'), 1), ''), "
        "':'), __x -> __x != '')"
    )
    rg = (
        "IF(__s1 rlike '::', "
        "filter(split(coalesce(try_element_at(split(__s1, '::'), 2), ''), "
        "':'), __x -> __x != ''), CAST(array() AS ARRAY<STRING>))"
    )
    full = (
        f"IF(__s1 rlike '::', concat({lg}, "
        f"array_repeat('0', 8 - size({lg}) - size({rg})), {rg}), "
        f"split(__s1, ':'))"
    )
    hex32 = (
        f"array_join(transform({full}, __g -> lpad(lower(__g), 4, '0')), '')"
    )
    return (
        f"element_at(transform(array(lower(trim({s}))), __s0 -> "
        f"element_at(transform(array({s2}), __s1 -> {hex32}), 1)), 1)"
    )


def _ipv6_text_sql(b: str) -> str:
    """RFC 5952 canonical text of the 16-byte IPv6 BINARY expression
    ``b``: per-group zero stripping, first-longest zero run of >= 2
    groups compressed to ``::``, IPv4-mapped addresses rendered
    ``::ffff:a.b.c.d`` (CH's own formatter behavior)."""
    garr = (
        "transform(sequence(0, 7), __gi -> regexp_replace("
        "substring(__h6, __gi * 4 + 1, 4), '^0{1,3}', ''))"
    )
    runfold = (
        "aggregate(sequence(0, 7), "
        "named_struct('cs', -1, 'cl', 0, 'bs', -1, 'bl', 0), "
        "(__st, __i) -> IF(substring(__h6, __i * 4 + 1, 4) = '0000', "
        "named_struct("
        "'cs', IF(__st.cl = 0, __i, __st.cs), "
        "'cl', __st.cl + 1, "
        "'bs', IF(__st.cl + 1 > __st.bl, IF(__st.cl = 0, __i, __st.cs), "
        "__st.bs), "
        "'bl', greatest(__st.cl + 1, __st.bl)), "
        "named_struct('cs', -1, 'cl', 0, 'bs', __st.bs, 'bl', __st.bl)))"
    )
    compressed = (
        f"IF(__rf.bl >= 2, concat("
        f"IF(__rf.bs > 0, array_join(slice({garr}, 1, __rf.bs), ':'), ''), "
        f"'::', "
        f"IF(__rf.bs + __rf.bl < 8, array_join(slice({garr}, "
        f"__rf.bs + __rf.bl + 1, 8 - __rf.bs - __rf.bl), ':'), '')), "
        f"array_join({garr}, ':'))"
    )
    dotted = ", '.', ".join(
        f"CAST(conv(substring(__h6, {25 + 2 * i}, 2), 16, 10) AS STRING)"
        for i in range(4)
    )
    return (
        f"element_at(transform(array(lower(hex({b}))), __h6 -> "
        f"IF(substring(__h6, 1, 24) = '00000000000000000000ffff', "
        f"concat('::ffff:', {dotted}), "
        f"element_at(transform(array({runfold}), __rf -> {compressed}), 1)"
        f")), 1)"
    )


# Lanczos approximation (g=7, 9 coefficients — the public Numerical
# Recipes / Wikipedia constants) for lgamma/tgamma.  Valid for z >= 0.5
# (~1e-13 relative); the reflection formula for smaller/negative z is out
# of scope (documented).  The SAME closed form is mirrored in the DuckDB
# oracle so the driver hash tests the translation, while pytest checks
# accuracy against math.lgamma.
_LANCZOS = (
    "0.99999999999980993", "676.5203681218851", "-1259.1392167224028",
    "771.32342877765313", "-176.61502916214059", "12.507343278686905",
    "-0.13857109526572012", "0.0000099843695780195716",
    "0.00000015056327351493116",
)


def _lgamma_sql(x: str) -> str:
    # let-bind the argument ONCE (the reinterpretAsUInt64 pattern): the
    # Lanczos form references z 12x — 89 KB of SQL under 3-deep
    # self-nesting before this (found by the r9 expanded fuzz once the
    # name recorder saw all 404 registered rewrites).  Values identical:
    # same arithmetic, same DuckDB oracle mirror.
    z = "__lgz"
    acc = " + ".join(
        [_LANCZOS[0]]
        + [f"{c} / ({z} + {i}.0D)" for i, c in enumerate(_LANCZOS[1:])]
    )
    # 0.9189385332046727 = ln(sqrt(2*pi))
    body = (
        f"(0.9189385332046727D + (({z}) - 0.5D) * ln(({z}) + 6.5D) "
        f"- (({z}) + 6.5D) + ln({acc}))"
    )
    return (
        f"element_at(transform(array(CAST(({x}) AS DOUBLE)), "
        f"__lgz -> {body}), 1)"
    )


def _erf_sql(x: str) -> str:
    # Abramowitz & Stegun 7.1.26 rational approximation (|err| < 1.5e-7);
    # mirrored verbatim in the oracle (accuracy pytest vs math.erf).
    # Argument let-bound (5 references — multiplicative under nesting,
    # the lgamma note).
    v = "__erfv"
    t = f"(1.0D / (1.0D + 0.3275911D * abs({v})))"
    poly = (
        f"({t} * (0.254829592D + {t} * (-0.284496736D + {t} * "
        f"(1.421413741D + {t} * (-1.453152027D + {t} * 1.061405429D)))))"
    )
    body = f"(sign({v}) * (1.0D - {poly} * exp(-({v}) * ({v}))))"
    return (
        f"element_at(transform(array(CAST(({x}) AS DOUBLE)), "
        f"__erfv -> {body}), 1)"
    )


_GEO_ALPHA32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _py_geohash(lon: float, lat: float, precision: int) -> str:
    """Plain-Python geohash encoder (same interval-halving closed form as
    the geohashEncode SQL rewrite) — used to constant-fold
    geohashesInBox, whose arguments are literal by CH's own call shape."""
    nbits = 5 * precision
    nlon, nlat = (nbits + 1) // 2, nbits // 2
    lo = min(max(int((lon + 180.0) / 360.0 * (1 << nlon)), 0), (1 << nlon) - 1)
    la = min(max(int((lat + 90.0) / 180.0 * (1 << nlat)), 0), (1 << nlat) - 1)
    out = []
    for c in range(precision):
        val = 0
        for j in range(5):
            i = 5 * c + j
            if i % 2 == 0:
                bit = (lo >> (nlon - 1 - i // 2)) & 1
            else:
                bit = (la >> (nlat - 1 - (i - 1) // 2)) & 1
            val = val * 2 + bit
        out.append(_GEO_ALPHA32[val])
    return "".join(out)


# ----------------------------------------------------------------------
# The _CALLS makes: rewrites that need code.  The table after them holds
# every row, templates included, in pipeline order.


def _json_extract_make(cast_to):
    def make(args):
        if len(args) != 2:
            return None
        inner = f"get_json_object({args[0]}, concat('$.', {args[1]}))"
        if cast_to:
            return f"CAST({inner} AS {cast_to})"
        return inner

    return make


def _cast_make(args):
    if len(args) != 1:
        return None
    m = re.match(r"(?is)^(.*\S)\s+AS\s+([A-Za-z][\w(),\s]*?)\s*$", args[0])
    if not m:
        return None
    spark_t = _spark_type_sql(m.group(2))
    return f"CAST({m.group(1)} AS {spark_t})" if spark_t else None


def _replace_one_make(args):
    # replaceOne: first occurrence only (Spark's replace family is
    # all-occurrences) — splice via instr; no-match leaves h intact
    if len(args) != 3:
        return None
    h, n, r = args
    at = f"instr({h}, {n})"
    return (
        f"(CASE WHEN {at} > 0 THEN concat(substr({h}, 1, {at} - 1), "
        f"{r}, substr({h}, {at} + length({n}))) ELSE {h} END)"
    )


def _auc_make(args):
    # rank-sum AUC with AVERAGE ranks for tied scores (the
    # Mann-Whitney identity; average ranks ≡ CH's ROC trapezoid on
    # ties — the previous sorted-position form over-/under-counted
    # tied scores and divided by zero on single-class input under
    # ANSI mode): rank(i) = #[s < s_i] + (#[s = s_i] + 1)/2,
    # O(len²) per ROW like CH's own per-array evaluation; degenerate
    # single-class inputs yield NULL (CH nan).
    if len(args) != 2:
        return None
    s, l = args
    rank_i = (
        f"size(filter({s}, __v -> __v < element_at({s}, __i))) "
        f"+ (size(filter({s}, __v -> __v = element_at({s}, __i))) + 1) "
        f"/ 2.0D"
    )
    sum_ranks = (
        f"aggregate(sequence(1, size({s})), 0.0D, "
        f"(__ac, __i) -> __ac + IF(element_at({l}, __i) > 0, "
        f"{rank_i}, 0.0D))"
    )
    p = f"CAST(size(filter({l}, __x -> __x > 0)) AS DOUBLE)"
    return (
        f"(({sum_ranks} - {p} * ({p} + 1) / 2) "
        f"/ nullif({p} * (size({s}) - {p}), 0))"
    )


def _regexp_extract_make(args):
    # regexpExtract(h, p[, idx]) — 3-arg maps straight to Spark's
    # regexp_extract; 2-arg defers to the extract() rewrite downstream
    # (first capture group if present, else whole match)
    if len(args) == 3:
        return f"regexp_extract({args[0]}, {args[1]}, {args[2]})"
    if len(args) == 2:
        return f"extract({args[0]}, {args[1]})"
    return None


def _int_div_or_zero_make(args):
    if len(args) != 2:
        return None
    a = f"CAST({args[0]} AS BIGINT)"
    b = f"CAST({args[1]} AS BIGINT)"
    return (
        f"(CASE WHEN {b} = 0 THEN 0L ELSE "
        f"(({a} DIV {b}) + (CASE WHEN ({a} % {b}) != 0 "
        f"AND (({a} < 0) != ({b} < 0)) THEN -1 ELSE 0 END)) END)"
    )


def _to_decimal_make(precision):
    def make(args):
        if len(args) != 2 or not re.fullmatch(r"\d+", args[1].strip()):
            return None
        return f"CAST({args[0]} AS DECIMAL({precision}, {args[1].strip()}))"

    return make


def _retention_make(args):
    # CH retention(c1, …, ck): r[0] = OR-over-rows(c1); r[i] =
    # OR-over-rows(c(i+1)) AND r[0] (source: AggregateFunctionRetention
    # finalize).  max(if(...)) is the OR; Spark dedups the repeated
    # max(c1) aggregate in the physical plan, so the anchor is
    # computed once.
    if len(args) < 1:
        return None
    anchor = f"max(CASE WHEN {args[0]} THEN 1 ELSE 0 END)"
    cells = [anchor] + [
        f"({anchor} * max(CASE WHEN {c} THEN 1 ELSE 0 END))"
        for c in args[1:]
    ]
    return "array(" + ", ".join(cells) + ")"


def _range_make(args):
    # range(n) = [0..n-1]; range(s, e) = [s..e-1].  The slice guard
    # matters: Spark's sequence(0, -1) DESCENDS instead of returning
    # [] for n = 0.
    if len(args) == 1:
        n = args[0]
        return (
            f"slice(sequence(0, greatest(({n}) - 1, 0)), "
            f"1, greatest(({n}), 0))"
        )
    if len(args) == 2:
        s, e = args
        return (
            f"slice(sequence(({s}), greatest(({e}) - 1, ({s}))), "
            f"1, greatest(({e}) - ({s}), 0))"
        )
    return None


def _fold_make(args):
    # arrayFold((acc, x) -> ..., arr, init) → aggregate(arr, init,
    # (acc, x) -> ...): same fold, the lambda moves from first to last
    if len(args) != 3 or "->" not in args[0]:
        return None
    lam, arr, init = args
    return f"aggregate({arr}, {init}, {lam})"


def _tsoi_make(args):
    # toStartOfInterval(ts, INTERVAL n unit) → epoch-aligned bucket
    # floor — the CH dashboard bucketing idiom.  Fixed-width units
    # only (second/minute/hour/day are epoch-aligned in CH too);
    # week/month/quarter/year have calendar origins — toMonday /
    # toStartOfMonth etc. cover those, so the variable-width forms
    # pass through untranslated.
    if len(args) != 2:
        return None
    m = re.fullmatch(
        r"(?is)\s*INTERVAL\s+(\d+)\s+(second|minute|hour|day)s?\s*",
        args[1],
    )
    if not m:
        return None
    mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
    secs = int(m.group(1)) * mult[m.group(2).lower()]
    return (
        f"timestamp_seconds((unix_timestamp({args[0]}) DIV {secs}) * {secs})"
    )


def _transform_value_make(args):
    # CH transform(x, [from...], [to...], default) — value mapping.
    # Spark spells the same thing map_from_arrays + element_at (missing
    # key → NULL → coalesce to the default).  Only the 4-arg form; the
    # 3-arg form (default = x itself) reuses x.  NOT the array
    # higher-order transform — that one takes a lambda 2nd argument
    # and is left to Spark's own transform() by checking for '->'.
    # Spark's element_at requires probe type = key type — EXACTLY the
    # constraint ClickHouse places on transform's x vs array_from, so
    # CH-valid queries analyze and CH-invalid ones fail the same way.
    if len(args) == 4 and "->" not in args[1]:
        x, f, t, d = args
        return (
            f"coalesce(element_at(map_from_arrays({f}, {t}), {x}), {d})"
        )
    if len(args) == 3 and "->" not in args[1]:
        x, f, t = args
        return (
            f"coalesce(element_at(map_from_arrays({f}, {t}), {x}), {x})"
        )
    return None


def _tuple_make(args):
    # tuple(a, b) → named_struct('col1', a, 'col2', b): plain struct()
    # names fields after the argument EXPRESSIONS (a column arg yields
    # its own name, not colN), which would break tupleElement's
    # 1-based positional access — forcing col1..colN restores CH's
    # positional tuple semantics.
    if not args:
        return None
    fields = ", ".join(f"'col{i + 1}', {a}" for i, a in enumerate(args))
    return f"named_struct({fields})"


def _resize_make(args):
    # arrayResize(a, n[, fill]): pad/truncate to n elements.  Index
    # probe via try_element_at keeps the element type without naming
    # it (a string rewrite can't) — the 2-arg form therefore pads
    # with NULL where CH pads with the type's default value, the same
    # documented divergence as arrayFirst.  The slice guard handles
    # n <= 0 (Spark's sequence(1, 0) DESCENDS instead of returning []).
    if len(args) == 2:
        a, n = args
        probe = f"try_element_at({a}, CAST(__i AS INT))"
    elif len(args) == 3:
        a, n, fill = args
        probe = (
            f"CASE WHEN __i <= size({a}) "
            f"THEN try_element_at({a}, CAST(__i AS INT)) "
            f"ELSE {fill} END"
        )
    else:
        return None
    return (
        f"transform(slice(sequence(1, greatest(({n}), 1)), "
        f"1, greatest(({n}), 0)), __i -> {probe})"
    )


def _rotate_make(left: bool):
    def make(args):
        # arrayRotateLeft/Right(a, n): n may exceed size or be
        # negative — pmod normalizes; the size<2 guard also dodges
        # pmod-by-zero on empty arrays
        if len(args) != 2:
            return None
        a, n = args
        k = f"({n})" if left else f"(-({n}))"
        return (
            f"(CASE WHEN size({a}) < 2 THEN {a} ELSE "
            f"concat(slice({a}, CAST(pmod({k}, size({a})) AS INT) + 1, "
            f"size({a})), "
            f"slice({a}, 1, CAST(pmod({k}, size({a})) AS INT))) END)"
        )
    return make


def _ngrams_make(args):
    # ngrams(s, n): all length-n character substrings; the slice
    # guard yields [] when length(s) < n (sequence(1, 0) descends)
    if len(args) != 2:
        return None
    s, n = args
    hi = f"greatest(length({s}) - ({n}) + 1, 1)"
    cnt = f"greatest(length({s}) - ({n}) + 1, 0)"
    return (
        f"transform(slice(sequence(1, {hi}), 1, {cnt}), "
        f"__i -> substr({s}, __i, {n}))"
    )


def _readable_size_make(args):
    # formatReadableSize: binary-prefixed '%.2f <unit>'.  greatest(|x|,
    # 1) keeps log defined at 0; the unit index is clamped to the table
    if len(args) != 1:
        return None
    x = f"CAST(({args[0]}) AS DOUBLE)"
    idx = f"least(floor(log(1024, greatest(abs({x}), 1))), 8)"
    return (
        f"format_string('%.2f %s', {x} / pow(1024, {idx}), "
        f"element_at(array('B', 'KiB', 'MiB', 'GiB', 'TiB', 'PiB', "
        f"'EiB', 'ZiB', 'YiB'), CAST({idx} AS INT) + 1))"
    )


def _readable_qty_make(args):
    # formatReadableQuantity: decimal thousands ('1.23 million');
    # below 1000 CH prints the bare '%.2f'
    if len(args) != 1:
        return None
    x = f"CAST(({args[0]}) AS DOUBLE)"
    idx = f"least(floor(log(1000, greatest(abs({x}), 1))), 5)"
    return (
        f"format_string('%.2f%s', {x} / pow(1000, {idx}), "
        f"element_at(array('', ' thousand', ' million', ' billion', "
        f"' trillion', ' quadrillion'), CAST({idx} AS INT) + 1))"
    )


def _bit_test_multi(op: str):
    def make(args):
        if len(args) < 2:
            return None
        n = args[0]
        bits = [
            f"CAST(shiftright(CAST(({n}) AS BIGINT), "
            f"CAST(({i}) AS INT)) & 1 AS INT)"
            for i in args[1:]
        ]
        return "(" + f" {op} ".join(bits) + ")"
    return make


def _great_circle_make(args):
    # greatCircleDistance/geoDistance(lon1, lat1, lon2, lat2) →
    # haversine on CH's mean-Earth radius (6372797.560856 m).  CH's
    # own implementation is a piecewise polynomial approximation of
    # this formula (±0.01% class error), so values agree to ~4
    # significant digits, not bit-for-bit — use for geo math, not
    # cross-engine hashing.
    if len(args) != 4:
        return None
    lon1, lat1, lon2, lat2 = (f"CAST(({a}) AS DOUBLE)" for a in args)
    return (
        f"(2 * 6372797.560856 * asin(sqrt("
        f"pow(sin(radians({lat2} - {lat1}) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians({lon2} - {lon1}) / 2), 2))))"
    )


def _great_circle_angle_make(args):
    # greatCircleAngle: the same haversine central angle, in DEGREES
    # (no radius factor) — same ~4-significant-digit agreement with
    # CH's polynomial approximation as greatCircleDistance.
    if len(args) != 4:
        return None
    lon1, lat1, lon2, lat2 = (f"CAST(({a}) AS DOUBLE)" for a in args)
    return (
        f"degrees(2 * asin(sqrt("
        f"pow(sin(radians({lat2} - {lat1}) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians({lon2} - {lon1}) / 2), 2))))"
    )


# --- vector math over array columns (the CH embeddings idiom) -------
# DOUBLE accumulation; each rewrite references its arguments more than
# once — fine for column-backed arrays (the documented intDiv caveat)
def _dot_make(args):
    if len(args) != 2:
        return None
    a, b = args
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0 AS DOUBLE), (s, v) -> s + v)"
    )


def _lp_dist(power: str):
    def make(args):
        if len(args) != 2:
            return None
        a, b = args
        diff = (
            f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) - y)"
        )
        if power == "1":
            return (
                f"aggregate({diff}, CAST(0 AS DOUBLE), "
                "(s, v) -> s + abs(v))"
            )
        if power == "inf":
            return f"array_max(transform({diff}, v -> abs(v)))"
        sq = (
            f"aggregate({diff}, CAST(0 AS DOUBLE), "
            "(s, v) -> s + v * v)"
        )
        return f"sqrt({sq})" if power == "2" else sq

    return make


def _norm_make(power: str):
    def make(args):
        if len(args) != 1:
            return None
        a = args[0]
        if power == "1":
            return (
                f"aggregate({a}, CAST(0 AS DOUBLE), "
                "(s, x) -> s + abs(CAST(x AS DOUBLE)))"
            )
        if power == "inf":
            return f"CAST(array_max(transform({a}, x -> abs(x))) AS DOUBLE)"
        return (
            f"sqrt(aggregate({a}, CAST(0 AS DOUBLE), "
            "(s, x) -> s + CAST(x AS DOUBLE) * x))"
        )

    return make


def _cosine_make(args):
    # cosineDistance = 1 - cos similarity; NULL (not NaN) on a zero
    # vector via nullif — CH returns nan there, the one divergence
    if len(args) != 2:
        return None
    a, b = args
    dot = _dot_make([a, b])
    na = _norm_make("2")([a])
    nb = _norm_make("2")([b])
    return f"(1 - {dot} / nullif({na} * {nb}, 0))"


def _rev_sort_make(args):
    # lambda-less form only; comparator forms pass through
    if len(args) == 1 and "->" not in args[0]:
        return f"reverse(array_sort({args[0]}))"
    return None


def _html_make(args):
    # extractTextFromHTML: script/style/comment removal → tag strip →
    # common entity decode → whitespace collapse.  RE2-compatible
    # patterns (no backreferences) so the same chain runs in oracle
    # engines; CH's C++ parser additionally handles CDATA/malformed
    # tags — corpus-cleanup parity, not byte parity.
    if len(args) != 1:
        return None
    out = args[0]
    for pat in (
        "(?is)<script[^>]*>.*?</script>",
        "(?is)<style[^>]*>.*?</style>",
        "(?s)<!--.*?-->",
        "<[^>]*>",
    ):
        out = f"regexp_replace({out}, '{pat}', ' ')"
    for ent, ch in (
        ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "''"), ("&apos;", "''"),
    ):
        out = f"replace({out}, '{ent}', '{ch}')"
    return f"trim(regexp_replace({out}, '\\\\s+', ' '))"


def _dec_string_make(args):
    # literal scale only (DECIMAL type params must be literals)
    if len(args) == 2 and re.fullmatch(r"\s*\d+\s*", args[1]):
        sc = int(args[1])
        return f"CAST(CAST(({args[0]}) AS DECIMAL(38, {sc})) AS STRING)"
    return None


@_raw
def _position_make(text):
    # 3-arg position(haystack, needle, start) → locate(needle, haystack,
    # start); every other arity renames to instr, which takes (haystack,
    # needle), 1-based, like CH (Spark strings are UTF-8 native, so
    # positionUTF8 is the same operation)
    args = _split_top_comma(text)
    if len(args) == 3:
        h, n, st = args
        return f"locate({n}, {h}, {st})"
    return f"instr({text})"


def _dt64_make(args):
    # toDateTime64(s, scale): Spark timestamps are fixed us precision
    # — the scale argument is storage metadata, value-irrelevant here
    if len(args) in (1, 2):
        return f"to_timestamp({args[0]})"
    return None


# map-lambda family: CH puts the lambda FIRST, Spark's map functions
# take it last
def _map_filter_make(args):
    if len(args) == 2 and "->" in args[0]:
        return f"map_filter({args[1]}, {args[0]})"
    return None


def _map_exists_make(args):
    if len(args) == 2 and "->" in args[0]:
        return f"(cardinality(map_filter({args[1]}, {args[0]})) > 0)"
    return None


def _map_all_make(args):
    if len(args) == 2 and "->" in args[0]:
        m = args[1]
        return (
            f"(cardinality(map_filter({m}, {args[0]})) = cardinality({m}))"
        )
    return None


# one dotted-quad octet, no leading zeros (CH's strict IPv4 parser)
_OCTET = "(25[0-5]|2[0-4]\\\\d|1\\\\d\\\\d|[1-9]?\\\\d)"


def _v6_parse_make(args):
    if len(args) != 1:
        return None
    return f"unhex({_ipv6_hex_sql(args[0])})"


def _cut_v6_make(args):
    # cutIPv6 zeroes trailing bytes and RENDERS text (CH returns
    # String here) — emits IPv6NumToString for the rewrite below
    if len(args) != 3:
        return None
    b, c6, c4 = args
    cut = (
        f"IF(substring(lower(hex({b})), 1, 24) = "
        f"'00000000000000000000ffff', CAST(({c4}) AS INT), "
        f"CAST(({c6}) AS INT))"
    )
    return (
        f"IPv6NumToString(unhex(concat("
        f"substring(lower(hex({b})), 1, 32 - {cut} * 2), "
        f"repeat('0', {cut} * 2))))"
    )


def _v6_cidr_make(args):
    if len(args) != 2:
        return None
    b, p = args
    pl = f"CAST(({p}) AS INT)"

    def nib(hi: bool) -> str:
        full, mask_op = ("'f'", "|") if hi else ("'0'", "&")
        part = f"(shiftleft(1, __i * 4 - {pl}) - 1)"
        mask = part if hi else f"(15 - {part})"
        return (
            f"IF(__i * 4 <= {pl}, substring(__h6, __i, 1), "
            f"IF((__i - 1) * 4 >= {pl}, {full}, "
            f"substring('0123456789abcdef', (CAST(conv("
            f"substring(__h6, __i, 1), 16, 10) AS INT) {mask_op} {mask})"
            f" + 1, 1)))"
        )

    def lane(hi: bool) -> str:
        return (
            f"unhex(array_join(transform(sequence(1, 32), "
            f"__i -> {nib(hi)}), ''))"
        )

    return (
        f"element_at(transform(array(lower(hex({b}))), __h6 -> "
        f"named_struct('col1', {lane(False)}, 'col2', {lane(True)})), 1)"
    )


def _unbin_sql(bits: str) -> str:
    return (
        f"CASE WHEN length({bits}) >= 8 THEN "
        f"array_join(transform(sequence(1, "
        f"CAST(length({bits}) / 8 AS INT)), __i -> "
        f"char(CAST(conv(substring({bits}, (__i - 1) * 8 + 1, 8), "
        f"2, 10) AS BIGINT))), '') ELSE '' END"
    )


def _bit_slice_make(args):
    if len(args) != 3:
        return None
    s, off, ln = args
    # bits from the UTF-8 BYTES via hex(CAST AS BINARY) — one 4-bit
    # group per hex nibble, byte-accurate for non-ASCII input (an
    # ascii()/bin() form would read CODEPOINTS and lpad-truncate
    # multi-byte ones)
    hx = f"lower(hex(CAST({s} AS BINARY)))"
    allbits = (
        f"array_join(transform(sequence(1, greatest(length({hx}), 1)), "
        f"__i -> lpad(conv(substring({hx}, __i, 1), 16, 2), 4, '0')), "
        f"'')"
    )
    sliced = (
        f"substring({allbits}, CAST(({off}) AS INT), "
        f"CAST(({ln}) AS INT))"
    )
    padded = (
        f"rpad({sliced}, CAST(ceil(length({sliced}) / 8.0) * 8 AS INT), "
        f"'0')"
    )
    return _unbin_sql(padded)


def _morton_encode_make(args):
    if len(args) != 2:
        return None
    x = f"CAST(({args[0]}) AS BIGINT)"
    y = f"CAST(({args[1]}) AS BIGINT)"
    return (
        f"aggregate(sequence(0, 31), CAST(0 AS BIGINT), (__ac, __i) -> "
        f"__ac | shiftleft(shiftrightunsigned({x}, __i) & 1, 2 * __i) "
        f"| shiftleft(shiftrightunsigned({y}, __i) & 1, 2 * __i + 1))"
    )


def _morton_decode_make(args):
    if len(args) != 2 or args[0].strip() != "2":
        return None
    c = f"CAST(({args[1]}) AS BIGINT)"
    lane = (
        "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (__ac, __i) -> "
        "__ac | shiftleft(shiftrightunsigned({c}, 2 * __i + {o}) & 1, "
        "__i))"
    )
    return (
        f"named_struct('col1', {lane.format(c=c, o=0)}, "
        f"'col2', {lane.format(c=c, o=1)})"
    )


def _reinterp_int_make(args):
    if len(args) != 1:
        return None
    # let-bind the argument ONCE (the base58 note): it is spliced at
    # two sites below, and textual splicing multiplies under nesting
    # — reinterpretAsUInt64∘reinterpretAsString self-composed 3 deep
    # hit 587 KB of SQL and the analyzer's max-iterations cap before
    # this (caught by the deep composition fuzz)
    s = "__ri8s"
    body = (
        f"aggregate(sequence(1, greatest(least(length({s}), 8), 1)), "
        f"CAST(0 AS BIGINT), (__ac, __i) -> __ac | "
        f"shiftleft(CAST(ascii(substring({s}, __i, 1)) AS BIGINT) & 255, "
        f"(__i - 1) * 8))"
    )
    return (
        f"element_at(transform(array({args[0]}), __ri8s -> {body}), 1)"
    )


def _reinterp_str_make(args):
    if len(args) != 1:
        return None
    # let-bound: v is spliced at TEN sites (7 threshold comparisons +
    # the guard + the byte extraction) — the _reinterp_int_make note
    v = "__ri8v"
    # highest nonzero byte via EXACT integer thresholds (a log2-on-
    # DOUBLE form miscounts when the double rounding crosses a
    # 2^(8k) boundary, emitting a spurious trailing NUL)
    hi = "CASE " + " ".join(
        f"WHEN {v} < {1 << (8 * (b + 1))} THEN {b}"
        for b in range(7)
    ) + " ELSE 7 END"
    body = (
        f"CASE WHEN {v} <= 0 THEN '' ELSE "
        f"array_join(transform(sequence(0, {hi}), __i -> "
        f"char(shiftrightunsigned({v}, __i * 8) & 255)), '') END"
    )
    return (
        f"element_at(transform(array(CAST(({args[0]}) AS BIGINT)), "
        f"__ri8v -> {body}), 1)"
    )


def _point_in_ellipses_make(args):
    if len(args) < 6 or (len(args) - 2) % 4 != 0:
        return None
    x = f"CAST(({args[0]}) AS DOUBLE)"
    y = f"CAST(({args[1]}) AS DOUBLE)"
    terms = []
    for k in range(2, len(args), 4):
        x0, y0, a0, b0 = (f"CAST(({a}) AS DOUBLE)" for a in args[k:k + 4])
        terms.append(
            f"(({x} - {x0}) * ({x} - {x0}) / ({a0} * {a0}) + "
            f"({y} - {y0}) * ({y} - {y0}) / ({b0} * {b0}) <= 1.0D)"
        )
    return "(" + " OR ".join(terms) + ")"


def _geohashes_in_box_make(args):
    if len(args) != 5:
        return None
    try:
        lon1, lat1, lon2, lat2 = (float(a.strip()) for a in args[:4])
        p = int(args[4].strip())
    except ValueError:
        return None
    if not 1 <= p <= 12 or lon2 < lon1 or lat2 < lat1:
        return None
    nbits = 5 * p
    nlon, nlat = (nbits + 1) // 2, nbits // 2
    slon, slat = 360.0 / (1 << nlon), 180.0 / (1 << nlat)
    i0, i1 = int((lon1 + 180.0) / slon), int((lon2 + 180.0) / slon)
    j0, j1 = int((lat1 + 90.0) / slat), int((lat2 + 90.0) / slat)
    i1, j1 = min(i1, (1 << nlon) - 1), min(j1, (1 << nlat) - 1)
    if (i1 - i0 + 1) * (j1 - j0 + 1) > 1024:
        return None
    cells = sorted(
        {
            _py_geohash(
                -180.0 + (i + 0.5) * slon, -90.0 + (j + 0.5) * slat, p
            )
            for i in range(i0, i1 + 1)
            for j in range(j0, j1 + 1)
        }
    )
    return "array(" + ", ".join(f"'{c}'" for c in cells) + ")"


def _random_ascii_make(args):
    if len(args) != 1:
        return None
    try:
        n = int(args[0].strip())
    except ValueError:
        return None
    if not 1 <= n <= 64:
        return None
    draws = ", ".join(
        "char(32 + CAST(floor(rand() * 95) AS INT))" for _ in range(n)
    )
    return f"concat({draws})"


def _rand_binomial_make(args):
    if len(args) != 2:
        return None
    try:
        t = int(args[0].strip())
    except ValueError:
        return None
    if not 1 <= t <= 256:
        return None
    p = f"CAST(({args[1]}) AS DOUBLE)"
    return (
        "(" + " + ".join(f"IF(rand() < {p}, 1, 0)" for _ in range(t)) + ")"
    )


def _rand_poisson_make(args):
    if len(args) != 1:
        return None
    try:
        lam = float(args[0].strip())
    except ValueError:
        return None
    # lam <= 700: exp(-lam) underflows to 0.0 past ~745, which would
    # flatten every CDF threshold to 0 and return a deterministic
    # constant; larger lambdas pass through (error by name)
    if not 0 < lam <= 700:
        return None
    # inverse-CDF thresholds: k = #{j : CDF(j) < u} for one uniform u
    ts, cdf, pk = [], 0.0, math.exp(-lam)
    k = 0
    while cdf < 1.0 - 1e-12 and k < lam + 12 * math.sqrt(lam) + 30:
        cdf += pk
        ts.append(repr(min(cdf, 1.0)))
        pk *= lam / (k + 1)
        k += 1
    arr = ", ".join(f"{t}D" for t in ts)
    return (
        f"aggregate(array({arr}), named_struct('u', rand(), 'k', 0), "
        f"(__s, __t) -> named_struct('u', __s.u, "
        f"'k', __s.k + IF(__t < __s.u, 1, 0)), __s -> __s.k)"
    )


# randConstant: one random constant per CALL SITE (distinct sites get
# distinct values, all rows share one) — keyed on current_timestamp,
# which Spark evaluates once per query.  _translate_once resets the site
# counter, so the numbering (and the translation) depends on the
# statement alone.
_RAND_CONSTANT_SITE = [0]


def _rand_const_make(args):
    # randConstant() or randConstant(expr) — the argument only pins
    # the constant's type in CH and is accepted-and-ignored here
    if len(args) > 1:
        return None
    _RAND_CONSTANT_SITE[0] += 1
    return (
        f"pmod(xxhash64(CAST(current_timestamp() AS STRING), "
        f"{_RAND_CONSTANT_SITE[0]}), 4294967296)"
    )


# base58Encode/Decode — Bitcoin-alphabet radix conversion as NESTED
# aggregate folds (outer over input units, inner over the growing
# digit array doing multiply-add with carry propagation): O(n^2) in
# the input length, fine for the short keys/hashes base58 carries.
# Decode returns BINARY (CH String holds raw bytes; BINARY is this
# engine's faithful lane for that, the IPv6 FixedString stance).
_B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"

# aggregate() demands the merge lambda's type equal the zero's
# INCLUDING nullability — IF(true, ..., NULL) makes the zero arrays
# nullable so they unify with the (nullable) concat results
_NULLABLE_INTS = "IF(true, CAST(array() AS ARRAY<INT>), NULL)"


def _base58_encode_make(args):
    if len(args) != 1:
        return None
    # let-bind the hex form ONCE (single-element transform closure):
    # the argument may itself be a large expression, and it is
    # referenced from ~6 sites below — textual splicing at each site
    # blows the expression tree up multiplicatively when calls nest
    # (base58Decode(base58Encode(x)) went 1.8s -> 17.9s before this)
    hx = "__b58h"
    byte = (
        f"CAST(conv(substring({hx}, __bi * 2 - 1, 2), 16, 10) AS INT)"
    )
    inner = (
        f"aggregate(__st, "
        f"named_struct('nd', {_NULLABLE_INTS}, 'c', {byte}), "
        f"(__s2, __d) -> named_struct("
        f"'nd', concat(__s2.nd, array((__d * 256 + __s2.c) % 58)), "
        f"'c', CAST((__d * 256 + __s2.c) DIV 58 AS INT)))"
    )
    # after multiply-add the residual carry is < 256 -> at most two
    # more base-58 digits
    step = (
        f"element_at(transform(array({inner}), __s3 -> "
        f"concat(__s3.nd, "
        f"CASE WHEN __s3.c >= 58 "
        f"THEN array(__s3.c % 58, CAST(__s3.c DIV 58 AS INT)) "
        f"WHEN __s3.c > 0 THEN array(__s3.c) "
        f"ELSE CAST(array() AS ARRAY<INT>) END)), 1)"
    )
    fold = (
        f"aggregate(sequence(1, greatest(length({hx}) DIV 2, 1)), "
        f"{_NULLABLE_INTS}, "
        f"(__st, __bi) -> {step}, "
        f"__st -> array_join(transform(reverse(__st), "
        f"__d58 -> substring('{_B58}', __d58 + 1, 1)), ''))"
    )
    # leading 0x00 bytes render as leading '1's (the Bitcoin rule);
    # the fold above drops them (value arithmetic), so re-prepend
    zeros = (
        f"CAST((length({hx}) - length(regexp_replace({hx}, '^(00)+', "
        f"''))) DIV 2 AS INT)"
    )
    body = (
        f"CASE WHEN length({hx}) = 0 THEN '' ELSE "
        f"concat(repeat('1', {zeros}), "
        f"CASE WHEN regexp_replace({hx}, '^(00)+', '') = '' THEN '' "
        f"ELSE {fold} END) END"
    )
    return (
        f"element_at(transform(array(lower(hex(CAST(({args[0]}) "
        f"AS BINARY)))), __b58h -> {body}), 1)"
    )


def _base58_decode_make(args):
    if len(args) != 1:
        return None
    s = "__b58s"  # let-bound once below (the encode-side note)
    digit = (
        f"CAST(instr('{_B58}', substring({s}, __ci, 1)) - 1 AS INT)"
    )
    inner = (
        f"aggregate(__st, "
        f"named_struct('nb', {_NULLABLE_INTS}, 'c', {digit}), "
        f"(__s2, __b) -> named_struct("
        f"'nb', concat(__s2.nb, array((__b * 58 + __s2.c) % 256)), "
        f"'c', CAST((__b * 58 + __s2.c) DIV 256 AS INT)))"
    )
    step = (
        f"element_at(transform(array({inner}), __s3 -> "
        f"concat(__s3.nb, "
        f"CASE WHEN __s3.c > 0 THEN array(__s3.c) "
        f"ELSE CAST(array() AS ARRAY<INT>) END)), 1)"
    )
    hexout = (
        f"aggregate(sequence(1, greatest(length({s}), 1)), "
        f"{_NULLABLE_INTS}, "
        f"(__st, __ci) -> {step}, "
        f"__st -> array_join(transform(reverse(__st), "
        f"__b2 -> lpad(lower(hex(__b2)), 2, '0')), ''))"
    )
    ones = (
        f"(length({s}) - length(regexp_replace({s}, '^1+', '')))"
    )
    # invalid alphabet chars -> NULL (CH throws; NULL is this
    # engine's OrNull-style analog, matching try_-family behavior)
    body = (
        f"CASE WHEN {s} rlike '^[1-9A-HJ-NP-Za-km-z]*$' THEN "
        f"unhex(concat(repeat('00', {ones}), "
        f"CASE WHEN regexp_replace({s}, '^1+', '') = '' THEN '' "
        f"ELSE {hexout} END)) END"
    )
    return (
        f"element_at(transform(array({args[0]}), __b58s -> {body}), 1)"
    )


def _dec_arith_make(op):
    def make(args):
        if len(args) == 2:
            s = "10"
        elif len(args) == 3 and re.fullmatch(r"\d+", args[2].strip()):
            s = args[2].strip()
        else:
            return None
        return (
            f"CAST(CAST({args[0]} AS DECIMAL(38, 10)) {op} "
            f"CAST({args[1]} AS DECIMAL(38, 10)) AS DECIMAL(38, {s}))"
        )

    return make


def _readable_dec_make(args):
    if len(args) != 1:
        return None
    x = f"CAST(({args[0]}) AS DOUBLE)"
    idx = f"least(floor(log(1000, greatest(abs({x}), 1))), 8)"
    return (
        f"format_string('%.2f %s', {x} / pow(1000, {idx}), "
        f"element_at(array('B', 'KB', 'MB', 'GB', 'TB', 'PB', "
        f"'EB', 'ZB', 'YB'), CAST({idx} AS INT) + 1))"
    )


def _sum_arg_make(better: str):
    def make(args):
        if len(args) != 2:
            return None
        x, a = args
        return (
            f"aggregate(collect_list(struct(CAST({x} AS DOUBLE) AS v, "
            f"CAST({a} AS DOUBLE) AS a)), "
            f"named_struct('m', CAST(NULL AS DOUBLE), 's', 0.0D), "
            f"(__ac, __q) -> CASE "
            f"WHEN __ac.m IS NULL OR __q.a {better} __ac.m "
            f"THEN named_struct('m', __q.a, 's', __q.v) "
            f"WHEN __q.a = __ac.m "
            f"THEN named_struct('m', __ac.m, 's', __ac.s + __q.v) "
            f"ELSE __ac END, "
            f"__ac -> __ac.s)"
        )

    return make


# -ForEach: padded element-wise folds over collected arrays
def _foreach_make(op):
    def make(args):
        if len(args) != 1:
            return None
        v = args[0]
        pad_a = "concat(__ac, array_repeat(__init, greatest(size(__x) - size(__ac), 0)))"
        pad_x = "concat(__x, array_repeat(__init, greatest(size(__ac) - size(__x), 0)))"
        if op == "sum":
            init, comb = "0.0D", "__p + __q"
        elif op == "min":
            init, comb = (
                "double('Infinity')", "least(__p, __q)"
            )
        elif op == "max":
            init, comb = (
                "double('-Infinity')", "greatest(__p, __q)"
            )
        else:  # avg: fold (sum, count) pairs, divide at finish
            pairs = (
                f"aggregate(collect_list(transform({v}, "
                f"__e -> CAST(__e AS DOUBLE))), "
                f"CAST(array() AS ARRAY<STRUCT<s: DOUBLE, c: BIGINT>>), "
                f"(__ac, __x) -> zip_with("
                f"concat(__ac, array_repeat(named_struct('s', 0.0D, "
                f"'c', CAST(0 AS BIGINT)), "
                f"greatest(size(__x) - size(__ac), 0))), "
                f"concat(transform(__x, __e -> named_struct('s', __e, "
                f"'c', CAST(1 AS BIGINT))), "
                f"array_repeat(named_struct('s', 0.0D, "
                f"'c', CAST(0 AS BIGINT)), "
                f"greatest(size(__ac) - size(__x), 0))), "
                f"(__p, __q) -> named_struct('s', __p.s + __q.s, "
                f"'c', __p.c + __q.c)), "
                f"__ac -> transform(__ac, __e -> __e.s / __e.c))"
            )
            return pairs
        body = (
            f"aggregate(collect_list(transform({v}, "
            f"__e -> CAST(__e AS DOUBLE))), "
            f"CAST(array() AS ARRAY<DOUBLE>), "
            f"(__ac, __x) -> zip_with({pad_a}, {pad_x}, "
            f"(__p, __q) -> {comb}))"
        )
        return body.replace("__init", init)

    return make


@_curried
def _quantile_merge_make(params, arg):
    # quantileMerge(p)(state) — interpolated quantile over the flattened
    # merged value lists (percentile's interpolation rule)
    head = _split_top_comma(params)
    args = _split_top_comma(arg) if arg is not None else []
    if len(head) != 1 or len(args) != 1:
        return None
    p, s = head[0], args[0]
    pick = (
        f"element_at(__l, CAST(floor((({p})) * (size(__l) - 1)) AS INT) "
        f"+ 1) * (1.0D - ((({p})) * (size(__l) - 1) "
        f"- floor((({p})) * (size(__l) - 1)))) "
        f"+ element_at(__l, least(CAST(floor((({p})) * (size(__l) - 1)) "
        f"AS INT) + 2, size(__l))) * ((({p})) * (size(__l) - 1) "
        f"- floor((({p})) * (size(__l) - 1)))"
    )
    # IF guard: an all-empty merged state (every per-group value NULL)
    # has size(__l) = 0, where the pick's element_at index would be 0 —
    # INVALID_INDEX_OF_ZERO at runtime.  NULL instead (the
    # groupArrayInsertAt hazard class).
    return (
        f"element_at(transform(array(array_sort(flatten("
        f"collect_list({s})))), __l -> IF(size(__l) = 0, "
        f"CAST(NULL AS DOUBLE), {pick})), 1)"
    )


def _resample_make(agg: str):
    # <agg>Resample(start, end, step)(x, key) — literal bounds, explicit
    # per-bucket CASE aggregates (scale-safe, no collection)
    @_curried
    def make(params, arg):
        head = _split_top_comma(params)
        args = _split_top_comma(arg) if arg is not None else []
        num = r"-?\d+(\.\d+)?"
        if (
            len(head) != 3
            or len(args) != 2
            or not all(re.fullmatch(num, h.strip()) for h in head)
        ):
            return None
        start, end, step = (float(h) for h in head)
        if step <= 0 or end <= start:
            return None
        nb = int(math.ceil((end - start) / step))
        if nb > 64:
            return None
        x, key = args
        cells = []
        for b in range(nb):
            lo = start + b * step
            hi = min(start + (b + 1) * step, end)
            cond = f"({key}) >= {lo} AND ({key}) < {hi}"
            if agg == "count":
                cells.append(f"count(CASE WHEN {cond} THEN 1 END)")
            else:
                cells.append(f"{agg}(CASE WHEN {cond} THEN ({x}) END)")
        return f"array({', '.join(cells)})"

    return make


@_curried
def _group_array_insert_at_make(params, arg):
    # groupArrayInsertAt(def, size)(x, pos) — fixed-size slot scatter via
    # index-aware transform fold (duplicate positions keep an arbitrary
    # writer, CH's own contract)
    head = _split_top_comma(params)
    args = _split_top_comma(arg) if arg is not None else []
    if len(head) != 2 or len(args) != 2:
        return None
    dflt, size = head
    x, pos = args
    # per-slot lookup over the collected pairs, not an aggregate() fold:
    # aggregate demands the merge lambda's return type match the init
    # EXACTLY (a -1.0 default types as DECIMAL and clashes with DOUBLE
    # values); coalesce coerces default/value freely.  try_element_at:
    # an empty slot's filtered list has 0 elements — strict element_at
    # RAISES there instead of falling through to the default
    # (fuzz-caught, hazard-values harness)
    return (
        f"element_at(transform(array(collect_list(struct("
        f"CAST({pos} AS INT) AS p, ({x}) AS v))), "
        f"__ps -> transform(sequence(0, CAST({size} AS INT) - 1), "
        f"__i -> coalesce(try_element_at(transform(filter(__ps, "
        f"__q -> __q.p = __i), __q -> __q.v), 1), {dflt}))), 1)"
    )


def _t_test_make(pooled: bool):
    def make(args):
        if len(args) != 2:
            return None
        x, idx = args
        sx = f"CASE WHEN ({idx}) = 0 THEN CAST({x} AS DOUBLE) END"
        sy = f"CASE WHEN ({idx}) = 1 THEN CAST({x} AS DOUBLE) END"
        if pooled:
            sp2 = (
                f"(((count({sx}) - 1) * var_samp({sx}) + "
                f"(count({sy}) - 1) * var_samp({sy})) / "
                f"(count({sx}) + count({sy}) - 2))"
            )
            denom = (
                f"sqrt({sp2} * (1.0D / count({sx}) + 1.0D / count({sy})))"
            )
        else:
            denom = (
                f"sqrt(var_samp({sx}) / count({sx}) + "
                f"var_samp({sy}) / count({sy}))"
            )
        return f"((avg({sx}) - avg({sy})) / {denom})"

    return make


@_over
def _non_negative_derivative_make(args, over):
    # nonNegativeDerivative(m, t) OVER (…) / OVER w — the window text is
    # duplicated onto each lag
    if len(args) != 2:
        return None
    mm, tt = args
    mv = f"CAST({mm} AS DOUBLE)"
    tv = f"CAST(unix_timestamp({tt}) AS DOUBLE)"
    prev_m = f"lag({mv}){over}"
    prev_t = f"lag({tv}){over}"
    return (
        f"(CASE WHEN {prev_m} IS NULL THEN CAST(NULL AS DOUBLE) "
        f"ELSE greatest(0.0D, ({mv} - {prev_m}) / "
        f"nullif({tv} - {prev_t}, 0.0D)) END)"
    )


def _normalize_make(acc: str, l2: bool):
    def make(args):
        if len(args) != 1:
            return None
        v = args[0]
        total = f"aggregate({v}, 0.0D, (__a, __y) -> {acc})"
        if l2:
            total = f"sqrt({total})"
        return f"transform({v}, __x -> CAST(__x AS DOUBLE) / {total})"

    return make


_UUID_RE = (
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)


@_curried
def _group_array_sample_make(params, arg):
    # groupArraySample(n[, seed])(x)
    head = _split_top_comma(params)
    args = _split_top_comma(arg) if arg is not None else []
    if len(head) not in (1, 2) or len(args) != 1:
        return None
    return (
        f"slice(shuffle(collect_list({args[0]})), 1, "
        f"CAST({head[0]} AS INT))"
    )


@_curried
def _group_array_last_make(params, arg):
    # groupArrayLast(n)(x)
    head = _split_top_comma(params)
    args = _split_top_comma(arg) if arg is not None else []
    if len(head) != 1 or len(args) != 1:
        return None
    n, x = head[0], args[0]
    return (
        f"element_at(transform(array(collect_list({x})), "
        f"__l -> slice(__l, greatest(size(__l) + 1 - ({n}), 1), "
        f"CAST({n} AS INT))), 1)"
    )


def _json_arr_raw_make(args):
    if len(args) == 1:
        j = args[0]
    elif len(args) == 2:
        j = f"get_json_object({args[0]}, concat('$.', {args[1]}))"
    else:
        return None
    return (
        f"(CASE WHEN json_array_length({j}) > 0 THEN "
        f"transform(sequence(0, json_array_length({j}) - 1), "
        f"__i -> get_json_object({j}, "
        f"concat('$[', CAST(__i AS STRING), ']'))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END)"
    )


def _matrix_make(agg):
    def make(args):
        if not args or any(not a.strip() for a in args):
            return None
        rows = ", ".join(
            "array("
            + ", ".join(f"{agg}({xi}, {xj})" for xj in args)
            + ")"
            for xi in args
        )
        return f"array({rows})"

    return make


def _decimal_scale_make(precision, try_only):
    def make(args):
        if len(args) != 2 or not re.fullmatch(r"\d+", args[1].strip()):
            return None
        t = f"try_cast({args[0]} AS DECIMAL({precision}, {args[1].strip()}))"
        if try_only:
            return t
        return (
            f"coalesce({t}, CAST(0 AS "
            f"DECIMAL({precision}, {args[1].strip()})))"
        )

    return make


def _map_sort_make(desc):
    def make(args):
        if len(args) != 1:
            return None
        order = (
            "(__a, __b) -> CASE WHEN __a.key < __b.key THEN 1 "
            "WHEN __a.key > __b.key THEN -1 ELSE 0 END"
            if desc
            else None
        )
        inner = f"map_entries({args[0]})"
        sorted_ = (
            f"array_sort({inner}, {order})" if order else f"array_sort({inner})"
        )
        return f"map_from_entries({sorted_})"

    return make


def _quantile_if_make(plural: bool):
    # quantileIf(p)(x, cond) / quantilesIf(...)(x, cond)
    @_curried
    def make(params, arg):
        ps = _split_top_comma(params)
        args = _split_top_comma(arg) if arg is not None else []
        if len(args) != 2 or (not plural and len(ps) != 1):
            return None
        x, cond = args
        tgt = f"array({', '.join(ps)})" if plural else ps[0]
        return f"percentile(CASE WHEN {cond} THEN {x} END, {tgt})"

    return make


def _bar_make(args):
    if len(args) != 4:
        return None
    x, lo, hi, w = args
    frac = (
        f"(CAST({x} AS DOUBLE) - ({lo})) / "
        f"nullif(CAST({hi} AS DOUBLE) - ({lo}), 0.0D)"
    )
    n = f"least(greatest(CAST(round({frac} * ({w})) AS INT), 0), CAST({w} AS INT))"
    return f"repeat('█', coalesce({n}, 0))"


def _parse_td_make(args):
    if len(args) != 1:
        return None
    s = args[0]
    pat = r"'([0-9]+(?:\\.[0-9]+)?)\\s*([a-zA-Z]+)'"
    # numeric and unit capture groups extracted separately (Spark's
    # regexp_extract_all takes ONE group index), zipped and folded
    nums = f"regexp_extract_all({s}, {pat}, 1)"
    units = f"regexp_extract_all({s}, {pat}, 2)"
    mult = (
        "CASE WHEN u RLIKE '(?i)^(w|week)' THEN 604800.0D "
        "WHEN u RLIKE '(?i)^(d|day)' THEN 86400.0D "
        "WHEN u RLIKE '(?i)^(h|hour|hr)' THEN 3600.0D "
        "WHEN u RLIKE '(?i)^(ms|milli)' THEN 0.001D "
        "WHEN u RLIKE '(?i)^(m|min)' THEN 60.0D "
        "WHEN u RLIKE '(?i)^(s|sec)' THEN 1.0D "
        "ELSE 0.0D END"
    )
    return (
        f"aggregate(zip_with({nums}, {units}, "
        f"(n, u) -> CAST(n AS DOUBLE) * ({mult})), "
        f"0.0D, (__acc, __v) -> __acc + coalesce(__v, 0.0D))"
    )


def _fmt_td_make(args):
    if len(args) != 1:
        return None
    # let-bind the argument ONCE (the reinterpretAsUInt64 pattern):
    # the template references it ~20x across the four units, which
    # multiplied to 134 KB of SQL under 3-deep self-nesting — found
    # by the self-composition fuzz, the only multiplicative
    # splicer left among all 238 call rewrites
    v = "CAST(__ftd AS BIGINT)"
    units = [
        (f"CAST({v} / 86400 AS BIGINT)", "day"),
        (f"CAST(({v} % 86400) / 3600 AS BIGINT)", "hour"),
        (f"CAST(({v} % 3600) / 60 AS BIGINT)", "minute"),
        (f"({v} % 60)", "second"),
    ]
    parts = ", ".join(
        f"IF({n} > 0, concat({n}, ' {u}', IF({n} = 1, '', 's')), NULL)"
        for n, u in units
    )
    body = (
        f"coalesce(nullif(concat_ws(', ', {parts}), ''), '0 seconds')"
    )
    return (
        f"element_at(transform(array({args[0]}), __ftd -> {body}), 1)"
    )


@_curried
def _exponential_moving_average_make(params, arg):
    # exponentialMovingAverage(hl)(value, time)
    hl_args = _split_top_comma(params)
    args = _split_top_comma(arg) if arg is not None else []
    if len(hl_args) != 1 or len(args) != 2:
        return None
    hl, v, t = hl_args[0], args[0], args[1]
    # reserved __ac/__ev lambda params: the user hl expression is spliced
    # INSIDE the fold lambda, so bare a/e would capture a column of that
    # name (the same capture class as the other folds' __ params)
    decay = (
        f"CASE WHEN __ac.tp IS NULL THEN 1.0D "
        f"ELSE pow(0.5D, (__ev.t - __ac.tp) / CAST({hl} AS DOUBLE)) END"
    )
    return (
        f"aggregate(array_sort(collect_list(struct("
        f"CAST({t} AS DOUBLE) AS t, CAST({v} AS DOUBLE) AS v))), "
        f"named_struct('n', 0.0D, 'd', 0.0D, 'tp', CAST(NULL AS DOUBLE)), "
        f"(__ac, __ev) -> named_struct("
        f"'n', __ac.n * {decay} + __ev.v, "
        f"'d', __ac.d * {decay} + 1.0D, "
        f"'tp', __ev.t), "
        f"__ac -> CASE WHEN __ac.d = 0.0D THEN NULL "
        f"ELSE __ac.n / __ac.d END)"
    )


def _map_apply_make(args):
    if len(args) != 2:
        return None
    lam, m = args
    lm = re.match(
        r"^\s*\(\s*([A-Za-z_]\w*)\s*,\s*([A-Za-z_]\w*)\s*\)\s*->\s*\((.*)\)\s*$",
        lam,
        re.DOTALL,
    )
    if not lm:
        return None
    kname, vname, body = lm.groups()
    # shadowing guard: the param substitution below is textual, so a
    # nested lambda inside the body DECLARING the same name would be
    # captured (the fuzz-caught arrayProduct `v` case — generated
    # lambdas now use __-reserved params, but user-written nested
    # lambdas can still collide).  Pass through on collision rather
    # than corrupt silently.
    nested = set()
    for pm in re.finditer(r"\(([\w\s,]+)\)\s*->|\b(\w+)\s*->", body):
        grp = pm.group(1) or pm.group(2)
        nested |= {p.strip() for p in grp.split(",")}
    if nested & {kname, vname}:
        return None
    parts = _split_top_comma(body)
    if len(parts) != 2:
        return None
    ke, ve = parts
    for src, dst in ((kname, "__me.key"), (vname, "__me.value")):
        ke = re.sub(rf"\b{src}\b", dst, ke)
        ve = re.sub(rf"\b{src}\b", dst, ve)
    return (
        f"map_from_entries(transform(map_entries({m}), "
        f"__me -> struct({ke} AS key, {ve} AS value)))"
    )


def _json_type_make(args):
    if len(args) != 1:
        return None
    j = args[0]
    head = f"left(ltrim({j}), 1)"
    # head sentinels via chr(): a bare '[' / '{' literal spliced into
    # the chunk breaks the bracket-depth tracking of every LATER
    # rewrite that arg-splits an expression containing this one
    # (found by the execution fuzz: arrayShiftLeft(JSONType(...)))
    return (
        f"(CASE WHEN try_parse_json({j}) IS NULL THEN NULL "
        f"WHEN {head} = chr(123) THEN 'Object' "
        f"WHEN {head} = chr(91) THEN 'Array' "
        f"WHEN {head} = chr(34) THEN 'String' "
        f"WHEN ltrim(rtrim({j})) IN ('true', 'false') THEN 'Bool' "
        f"WHEN ltrim(rtrim({j})) = 'null' THEN 'Null' "
        f"WHEN ltrim(rtrim({j})) RLIKE '[.eE]' THEN 'Double' "
        f"ELSE 'Int64' END)"
    )


def _case_with_expr_make(args):
    if len(args) < 3:
        return None
    x, rest = args[0], args[1:]
    pairs, dflt = (
        (rest, "NULL") if len(rest) % 2 == 0 else (rest[:-1], rest[-1])
    )
    whens = " ".join(
        f"WHEN {pairs[i]} THEN {pairs[i + 1]}"
        for i in range(0, len(pairs), 2)
    )
    return f"(CASE {x} {whens} ELSE {dflt} END)"


def _shift_make(left: bool):
    def make(args):
        if len(args) not in (2, 3):
            return None
        arr, n = args[0], args[1]
        dflt = args[2] if len(args) == 3 else None
        sign = "+" if left else "-"
        idx = f"__i + 1 {sign} ({n})"
        base = (
            f"if(({idx}) < 1, NULL, try_element_at({arr}, {idx}))"
        )
        if dflt is not None:
            base = (
                f"if(({idx}) < 1 OR ({idx}) > size({arr}), {dflt}, "
                f"try_element_at({arr}, {idx}))"
            )
        return f"transform({arr}, (__x, __i) -> {base})"

    return make


def _replace_rx_one_make(args):
    if len(args) != 3:
        return None
    h, p, r = args
    m = f"regexp_extract({h}, {p}, 0)"
    pos = f"instr({h}, {m})"
    return (
        f"(CASE WHEN NOT regexp_like({h}, {p}) OR length({m}) = 0 "
        f"THEN {h} ELSE concat(left({h}, {pos} - 1), {r}, "
        f"substr({h}, {pos} + length({m}))) END)"
    )


def _time_slots_make(args):
    if len(args) not in (2, 3):
        return None
    start, dur = args[0], args[1]
    size = args[2] if len(args) == 3 else "1800"
    return (
        f"transform(sequence("
        f"(unix_timestamp({start}) DIV ({size})) * ({size}), "
        f"((unix_timestamp({start}) + ({dur})) DIV ({size})) * ({size}), "
        f"({size})), __s -> to_timestamp(__s))"
    )


def _throw_if_make(args):
    if len(args) == 1:
        return f"(CASE WHEN assert_true(NOT ({args[0]})) IS NULL THEN 0 END)"
    if len(args) == 2:
        return (
            f"(CASE WHEN assert_true(NOT ({args[0]}), {args[1]}) "
            f"IS NULL THEN 0 END)"
        )
    return None


def _week_expr(d: str) -> str:
    return (
        f"CAST(floor((dayofyear({d}) - 1 - pmod(8 - "
        f"dayofweek(trunc({d}, 'year')), 7)) / 7.0) + 1 AS INT)"
    )


def _to_week_make(args):
    if len(args) == 1:
        return _week_expr(args[0])
    if len(args) == 2:
        mode = args[1].strip()
        if mode == "0":
            return _week_expr(args[0])
        if mode == "3":
            return f"weekofyear({args[0]})"
    return None


def _to_yearweek_make(args):
    # toYearWeek mode 0 (MySQL YEARWEEK): year*100 + week, where a
    # week-0 date belongs to the PREVIOUS year's numbering — its week
    # = Sunday-start week count from the previous year's first Sunday
    # (verified: 2016-01-01 → 201552, 2017-01-01 → 201701).  Mode 3 =
    # ISO → yearofweek*100 + weekofyear.
    if len(args) not in (1, 2):
        return None
    d = args[0]
    if len(args) == 2 and args[1].strip() == "3":
        return (
            f"(extract(YEAROFWEEK FROM {d}) * 100 + weekofyear({d}))"
        )
    if len(args) == 2 and args[1].strip() != "0":
        return None
    pj = f"make_date(year({d}) - 1, 1, 1)"
    prev_first_sun = f"date_add({pj}, pmod(8 - dayofweek({pj}), 7))"
    prev_week = (
        f"CAST(floor(datediff({d}, {prev_first_sun}) / 7.0) + 1 AS INT)"
    )
    return (
        f"(CASE WHEN {_week_expr(d)} > 0 "
        f"THEN year({d}) * 100 + {_week_expr(d)} "
        f"ELSE (year({d}) - 1) * 100 + {prev_week} END)"
    )


def _ngram_distance_make(args):
    if len(args) != 2:
        return None
    a, b = _ngram_set(args[0]), _ngram_set(args[1])
    return (
        f"(CASE WHEN size({a}) + size({b}) = 0 THEN 0.0D ELSE "
        f"1.0D - 2.0D * size(array_intersect({a}, {b})) "
        f"/ (size({a}) + size({b})) END)"
    )


def _ngram_search_make(args):
    if len(args) != 2:
        return None
    h, n = _ngram_set(args[0]), _ngram_set(args[1])
    return (
        f"(CASE WHEN size({n}) = 0 THEN 1.0D ELSE "
        f"CAST(size(array_intersect({n}, {h})) AS DOUBLE) "
        f"/ size({n}) END)"
    )


def _string_jaccard_make(args):
    if len(args) != 2:
        return None
    a, b = args
    u = f"array_union(split({a}, ''), split({b}, ''))"
    i = f"array_intersect(split({a}, ''), split({b}, ''))"
    return (
        f"(CASE WHEN size({u}) = 0 THEN CAST(1 AS DOUBLE) "
        f"ELSE CAST(size({i}) AS DOUBLE) / size({u}) END)"
    )


def _fill_make(reverse):
    def make(args):
        if len(args) != 2 or "->" not in args[0]:
            return None
        f, a = args
        if reverse:
            # no later match -> the LAST element's original value
            # propagates left (a[n] is never replaced)
            idx = (
                "coalesce(array_min(filter(sequence(__i, size(__s.a)), "
                "__j -> element_at(__s.m, __j))), size(__s.a))"
            )
        else:
            # no earlier match -> the FIRST element's original value
            # propagates right (a[1] is never replaced)
            idx = (
                "coalesce(array_max(filter(sequence(1, __i), "
                "__j -> element_at(__s.m, __j))), 1)"
            )
        return (
            f"(CASE WHEN size({a}) = 0 THEN {a} ELSE "
            f"element_at(transform(array(named_struct("
            f"'a', {a}, 'm', transform({a}, {f}))), __s -> "
            f"transform(sequence(1, size(__s.a)), __i -> "
            f"element_at(__s.a, {idx}))), 1) END)"
        )

    return make


def _split_make(reverse):
    def make(args):
        if len(args) != 2 or "->" not in args[0]:
            return None
        f, a = args
        if reverse:
            # cut AFTER matches: group starts at 1 and right after
            # every index whose predicate held
            bnd = (
                "filter(sequence(1, size(__s.a)), __i -> __i = 1 "
                "OR element_at(__s.m, __i - 1))"
            )
        else:
            # cut BEFORE matches (the first element always starts
            # a group)
            bnd = (
                "filter(sequence(1, size(__s.a)), __i -> __i = 1 "
                "OR element_at(__s.m, __i))"
            )
        return (
            f"(CASE WHEN size({a}) = 0 THEN slice(array({a}), 1, 0) "
            f"ELSE element_at(transform(array(named_struct("
            f"'a', {a}, 'm', transform({a}, {f}))), __s -> "
            f"element_at(transform(array({bnd}), __b -> "
            f"transform(sequence(1, size(__b)), __i -> "
            f"slice(__s.a, element_at(__b, __i), "
            f"coalesce(try_element_at(__b, __i + 1), size(__s.a) + 1) "
            f"- element_at(__b, __i)))), 1)), 1) END)"
        )

    return make


def _url_hierarchy_make(path_only):
    def make(args):
        if len(args) != 1:
            return None
        (u,) = args
        prefix = (
            "''" if path_only
            else f"regexp_extract({u}, '^([a-z]+://[^/?#]*)', 1)"
        )
        body = (
            f"element_at(transform(array(named_struct("
            f"'p', {prefix}, "
            f"'r', regexp_replace({u}, '^[a-z]+://[^/?#]*', ''))), "
            f"__s -> CASE WHEN __s.r = '' THEN array(__s.p) ELSE "
            f"element_at(transform(array(filter("
            f"split(__s.r, '(?<=[/?])'), __p -> __p != '')), __t -> "
            f"transform(sequence(1, size(__t)), __i -> "
            f"concat(__s.p, array_join(slice(__t, 1, __i), '')))), 1) "
            f"END), 1)"
        )
        if path_only:
            # CH URLPathHierarchy omits the bare '/' root entry
            return f"filter({body}, __u -> __u != '/')"
        return body

    return make


def _point_in_polygon_make(args):
    # pointInPolygon((px, py), [(x1, y1), …]) — even-odd ray casting,
    # UNROLLED per edge (the polygon is a LITERAL vertex list in CH
    # queries; a polygon column passes through untranslated).  Each
    # edge term: the edge straddles py vertically AND the rightward
    # ray from (px, py) crosses it — try_divide keeps horizontal
    # edges NULL-safe under ANSI (false AND NULL = false).  Boundary
    # points follow the strict >/< convention.  px/py are spliced
    # per edge (column-backed caveat).  Returns UInt8-style 0/1.
    if len(args) != 2:
        return None
    pt = args[0].strip()
    poly = args[1].strip()
    if not (pt.startswith("(") and pt.endswith(")")):
        return None
    if not (poly.startswith("array(") and poly.endswith(")")):
        return None
    pxy = _split_top_comma(pt[1:-1])
    verts = []
    for v in _split_top_comma(poly[len("array(") : -1]):
        v = v.strip()
        if not (v.startswith("(") and v.endswith(")")):
            return None
        xy = _split_top_comma(v[1:-1])
        if len(xy) != 2:
            return None
        verts.append((xy[0], xy[1]))
    if len(pxy) != 2 or len(verts) < 3:
        return None
    px, py = pxy
    terms = []
    for i, (xi, yi) in enumerate(verts):
        xj, yj = verts[(i + 1) % len(verts)]
        cross = (
            f"((CAST(({yi}) AS DOUBLE) > ({py})) != "
            f"(CAST(({yj}) AS DOUBLE) > ({py}))) AND "
            f"(({px}) < try_divide((CAST(({xj}) AS DOUBLE) - ({xi})) "
            f"* (({py}) - ({yi})), (CAST(({yj}) AS DOUBLE) - ({yi}))) "
            f"+ ({xi}))"
        )
        terms.append(f"CAST(coalesce({cross}, false) AS INT)")
    return f"(({' + '.join(terms)}) % 2)"


def _geohash_encode_make(args):
    # geohashEncode(lon, lat[, precision]) — textbook interval-halving
    # geohash, computed CLOSED-FORM: the lon/lat bit streams are the
    # binary expansions of floor((coord+offset)/range · 2^nbits), and
    # each base32 character extracts its 5 interleaved bits with
    # shifts (lon stream first).  The bit streams bind once via the
    # single-element transform; precision must be an integer literal
    # (CH's own call shape; default 12 → 30+30 bits, well under 2^53
    # double precision).  Coordinates clamp to the valid range.
    if len(args) == 2:
        p = 12
    elif len(args) == 3:
        try:
            p = int(args[2].strip())
        except ValueError:
            return None
        if not 1 <= p <= 12:
            return None
    else:
        return None
    # CAST to DOUBLE: Spark parses 166.25 as a DECIMAL literal, and
    # decimal division rounds at a fixed scale — floor() then lands
    # in the wrong cell for coordinates near a bit boundary
    lon = f"CAST(({args[0]}) AS DOUBLE)"
    lat = f"CAST(({args[1]}) AS DOUBLE)"
    n = 5 * p
    nlon, nlat = (n + 1) // 2, n // 2
    chars = []
    for c in range(p):
        terms = []
        for j in range(5):
            i = 5 * c + j
            if i % 2 == 0:
                bit = f"(shiftright(__g.lo, {nlon - 1 - i // 2}) & 1)"
            else:
                bit = (
                    f"(shiftright(__g.la, {nlat - 1 - (i - 1) // 2})"
                    f" & 1)"
                )
            terms.append(f"{bit} * {1 << (4 - j)}")
        chars.append(
            f"substr('{_GEO_ALPHA32}', "
            f"CAST({' + '.join(terms)} AS INT) + 1, 1)"
        )
    return (
        f"element_at(transform(array(named_struct("
        f"'lo', least(greatest(CAST(floor((({lon}) + 180.0) / 360.0 "
        f"* {1 << nlon}) AS BIGINT), 0), {(1 << nlon) - 1}), "
        f"'la', least(greatest(CAST(floor((({lat}) + 90.0) / 180.0 "
        f"* {1 << nlat}) AS BIGINT), 0), {(1 << nlat) - 1}))), "
        f"__g -> concat({', '.join(chars)})), 1)"
    )


def _geohash_decode_make(args):
    # geohashDecode(s) → tuple (longitude, latitude) of the CELL
    # CENTER — one aggregate fold over the characters rebuilding the
    # two bit streams (state: lon bits, lat bits, stream parity; each
    # 5-bit group splits 3/2 or 2/3 by the parity it starts on).
    # Positional tuple fields col1/col2, like the tuple() rewrite.
    if len(args) != 1:
        return None
    (s,) = args
    v = f"(instr('{_GEO_ALPHA32}', __c) - 1)"
    b = lambda k: f"(shiftright({v}, {k}) & 1)"  # noqa: E731
    even = (
        f"named_struct('lo', __s.lo * 8 + {b(4)} * 4 + {b(2)} * 2 "
        f"+ {b(0)}, 'la', __s.la * 4 + {b(3)} * 2 + {b(1)}, 'p', 1)"
    )
    odd = (
        f"named_struct('lo', __s.lo * 4 + {b(3)} * 2 + {b(1)}, "
        f"'la', __s.la * 8 + {b(4)} * 4 + {b(2)} * 2 + {b(0)}, 'p', 0)"
    )
    fold = (
        f"aggregate(split({s}, ''), named_struct("
        f"'lo', CAST(0 AS BIGINT), 'la', CAST(0 AS BIGINT), 'p', 0), "
        f"(__s, __c) -> CASE WHEN __s.p = 0 THEN {even} "
        f"ELSE {odd} END)"
    )
    nlon = f"CAST((5 * length({s}) + 1) DIV 2 AS INT)"
    nlat = f"CAST((5 * length({s})) DIV 2 AS INT)"
    return (
        f"element_at(transform(array({fold}), __f -> named_struct("
        f"'col1', -180.0 + 360.0 * (CAST(__f.lo AS DOUBLE) + 0.5) "
        f"/ power(2, {nlon}), "
        f"'col2', -90.0 + 180.0 * (CAST(__f.la AS DOUBLE) + 0.5) "
        f"/ power(2, {nlat}))), 1)"
    )


def _map_agg_make(combine, init):
    # sumMap/minMap/maxMap(k, v) over per-row parallel ARRAYS (the
    # SummingMergeTree/AggregatingMergeTree metric-map idiom): a
    # tuple of (key-sorted distinct keys, per-key combined values).
    # The flattened pair list binds once, the sorted key list binds
    # once more (nested single-element transforms); the per-key
    # combine is O(d·n) per group — the same exact-with-caveat
    # stance as topK; relational.map_aggregate is the scale path.
    # Values accumulate in DOUBLE (the arraySum stance).
    def make(args):
        if len(args) != 2:
            return None
        k, v = args
        pairs = (
            f"flatten(collect_list(zip_with({k}, {v}, "
            f"(__k, __v) -> struct(__k AS k, "
            f"CAST(__v AS DOUBLE) AS v))))"
        )
        per_key = (
            f"aggregate(filter(__p, __q -> __q.k = __k), "
            f"CAST({init} AS DOUBLE), (__a, __q) -> {combine})"
        )
        return (
            f"element_at(transform(array({pairs}), __p -> "
            f"element_at(transform(array(array_sort(array_distinct("
            f"transform(__p, __e -> __e.k)))), __ks -> named_struct("
            f"'col1', __ks, "
            f"'col2', transform(__ks, __k -> {per_key}))), 1)), 1)"
        )

    return make


@_curried
def _sum_map_filtered_make(keys, arg):
    # sumMapFiltered([keys])(k, v) — keep only pairs whose key is in the
    # literal list, then delegate to the sumMap row that follows
    args = _split_top_comma(arg) if arg is not None else []
    if len(args) != 2:
        return None
    k, v = args
    zipped = (
        f"filter(zip_with({k}, {v}, (__fk, __fv) -> "
        f"struct(__fk AS k, __fv AS v)), "
        f"__fp -> array_contains({keys}, __fp.k))"
    )
    return (
        f"sumMap(transform({zipped}, __fp -> __fp.k), "
        f"transform({zipped}, __fp -> __fp.v))"
    )


def _entropy_make(args):
    # entropy(x): Shannon entropy (log2) of the group's value
    # distribution — exact over the collected group, O(d·n) like
    # topK; relational.value_entropy is the shuffle-based scale path.
    if len(args) != 1:
        return None
    (x,) = args
    cnt = "size(filter(__l, __e -> __e <=> __v))"
    return (
        f"element_at(transform(array(collect_list({x})), __l -> "
        f"aggregate(array_distinct(__l), CAST(0 AS DOUBLE), "
        f"(__a, __v) -> __a - (CAST({cnt} AS DOUBLE) / size(__l)) "
        f"* log2(CAST({cnt} AS DOUBLE) / size(__l)))), 1)"
    )


def _gcd_lcm_make(is_lcm):
    # Euclid as a bounded aggregate fold — 96 iterations covers the
    # worst case for 64-bit inputs (consecutive Fibonacci numbers
    # need ~90 steps); converged state is a fixpoint, so extra
    # iterations are no-ops.  gcd(0, 0) = 0, like CH.  Both args
    # spliced twice (column-backed caveat); lcm divides BEFORE
    # multiplying to keep intermediate products in range.
    def make(args):
        if len(args) != 2:
            return None
        a, b = args
        g = (
            f"(aggregate(sequence(1, 96), named_struct("
            f"'a', CAST(abs({a}) AS BIGINT), "
            f"'b', CAST(abs({b}) AS BIGINT)), "
            f"(__s, __i) -> IF(__s.b = 0, __s, named_struct("
            f"'a', __s.b, 'b', __s.a % __s.b)))).a"
        )
        if not is_lcm:
            return g
        return (
            f"(CASE WHEN ({a}) = 0 OR ({b}) = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE (CAST(abs({a}) AS BIGINT) DIV {g}) "
            f"* CAST(abs({b}) AS BIGINT) END)"
        )

    return make


def _qsf_make(args):
    # queryStringAndFragment(url): 'query#fragment' — empty string
    # when neither part exists (CH's convention)
    if len(args) != 1:
        return None
    (u,) = args
    q = f"try_parse_url({u}, 'QUERY')"
    r = f"try_parse_url({u}, 'REF')"
    return (
        f"concat(coalesce({q}, ''), CASE WHEN {r} IS NOT NULL "
        f"THEN concat('#', {r}) ELSE '' END)"
    )


def _num_to_str(args):
    if len(args) != 1:
        return None
    a = f"CAST({args[0]} AS BIGINT)"
    return (
        f"concat(CAST(({a} DIV 16777216) % 256 AS STRING), '.', "
        f"CAST(({a} DIV 65536) % 256 AS STRING), '.', "
        f"CAST(({a} DIV 256) % 256 AS STRING), '.', "
        f"CAST({a} % 256 AS STRING))"
    )


def _cidr_to_range(args):
    # IPv4CIDRToRange(ip, prefix) → CH's (lo, hi) tuple as the
    # positional struct; emits IPv4NumToString(...) text that the
    # rewrites below then translate (CH IPv4 values render dotted)
    if len(args) != 2:
        return None
    ip = f"CAST({args[0]} AS BIGINT)"
    span = f"shiftleft(CAST(1 AS BIGINT), 32 - ({args[1]}))"
    lo = f"(({ip} DIV {span}) * {span})"
    return (
        f"named_struct('col1', IPv4NumToString({lo}), "
        f"'col2', IPv4NumToString({lo} + {span} - 1))"
    )


# validity predicates — pure regexp, no UDF.  isIPv4String rejects
# leading zeros (matching CH's strict parser); isIPv6String covers
# full and ::-compressed hex forms (not IPv4-mapped ones — CH accepts
# those too; port by hand if needed)

_H = "[0-9A-Fa-f]{1,4}"

_IP6 = (
    f"^(({_H}:){{7}}{_H}|({_H}:){{1,7}}:|({_H}:){{1,6}}:{_H}"
    f"|({_H}:){{1,5}}(:{_H}){{1,2}}|({_H}:){{1,4}}(:{_H}){{1,3}}"
    f"|({_H}:){{1,3}}(:{_H}){{1,4}}|({_H}:){{1,2}}(:{_H}){{1,5}}"
    f"|{_H}:(:{_H}){{1,6}}|:((:{_H}){{1,7}}|:))$"
)


def _numbers_make(args):
    if len(args) == 1:
        return f"(SELECT id AS number FROM range({args[0]}))"
    if len(args) == 2:
        return (
            f"(SELECT id AS number FROM range({args[0]}, "
            f"({args[0]}) + ({args[1]})))"
        )
    return None


_CALLS = _table([
    # ------------------------------------------------------------------
    # ClickHouse ``JSONExtract*(json, 'key')`` / ``visitParam*`` →
    # ``get_json_object(json, '$.key')`` with the result cast per the name's
    # declared type.  Key arguments are literal masks at this stage
    # (\x00N\x00), so the '$.' prefix is applied via concat at SQL level —
    # get_json_object accepts any string expression as the path.
    ("JSONExtractString", _json_extract_make(None)),
    ("JSONExtractInt", _json_extract_make("BIGINT")),
    # the UInt names share the BIGINT lane (CH clamps negatives to 0 there;
    # house stance keeps the parsed value — fixture JSON carries
    # non-negative values)
    ("JSONExtractUInt", _json_extract_make("BIGINT")),
    ("JSONExtractFloat", _json_extract_make("DOUBLE")),
    ("JSONExtractBool", _json_extract_make("BOOLEAN")),
    ("JSONExtractRaw", _json_extract_make(None)),
    ("visitParamExtractString", _json_extract_make(None)),
    ("visitParamExtractInt", _json_extract_make("BIGINT")),
    ("visitParamExtractUInt", _json_extract_make("BIGINT")),
    ("visitParamExtractFloat", _json_extract_make("DOUBLE")),
    ("visitParamExtractBool", _json_extract_make("BOOLEAN")),
    # simpleJSONExtract* is the current ClickHouse name for visitParam*
    ("simpleJSONExtractString", _json_extract_make(None)),
    ("simpleJSONExtractInt", _json_extract_make("BIGINT")),
    ("simpleJSONExtractUInt", _json_extract_make("BIGINT")),
    ("simpleJSONExtractFloat", _json_extract_make("DOUBLE")),
    ("simpleJSONExtractBool", _json_extract_make("BOOLEAN")),
    ("simpleJSONExtractRaw", _json_extract_make(None)),
    # JSONHas(json, 'key') → path lookup IS NOT NULL
    ("JSONHas", (2, "(get_json_object({0}, concat('$.', {1})) IS NOT NULL)")),
    # ------------------------------------------------------------------
    # ClickHouse type names inside explicit casts → Spark types:
    # ``CAST(x AS Float64)`` (the postfix ``x::Float64`` form is
    # _rewrite_cast_types; only whitelisted CH spellings rewrite, so
    # Spark-native types and aliases pass through).
    ("CAST", _cast_make),
    ("cast", _cast_make),
    ("Cast", _cast_make),
    # ------------------------------------------------------------------
    # Map arithmetic, moving/delta aggregates, rounding helpers, and AUC:
    #
    # * ``mapAdd/mapSubtract(m1, m2)`` → ``map_zip_with`` with coalesced
    #   cell math (key union, missing = 0 — CH Map-form semantics)
    # * ``mapPopulateSeries(m)`` → dense integer key range via ``sequence``
    # * ``groupArrayMovingSum(x)`` → ``arrayCumSum(collect_list(x))`` (CH's
    #   default window = total row count ⇒ prefix sums); ``…MovingAvg``
    #   divides by that window size.  Encounter-order caveat as groupArray.
    # * ``deltaSum(x)`` → positive consecutive differences summed (DOUBLE)
    # * ``bitHammingDistance(a, b)`` → ``bit_count(a ^ b)``
    # * ``intExp2/intExp10`` → integer powers (intExp10 exact to 1e15)
    # * ``roundToExp2 / roundDown / roundAge / roundDuration`` → CH's
    #   bucket-floor family (fixed ladders from FunctionRoundAge/Duration)
    # * ``replaceOne(h, n, r)`` → first-occurrence splice via ``instr``
    # * ``arrayAUC(scores, labels)`` → rank-sum AUC (Mann-Whitney); exact
    #   when scores are distinct (CH tie-averages via its ROC trapezoid)
    #
    # The ``arrayCumSum``/``arrayDifference`` text these rows emit is
    # rewritten by the rows of those names further down.  Multi-reference
    # templates carry the intDiv caveat (column-backed arguments only).
    (
        "mapAdd",
        (2, "map_zip_with({0}, {1}, (__k, __a, __b) -> coalesce(__a, "
            "0) + coalesce(__b, 0))"),
    ),
    (
        "mapSubtract",
        (2, "map_zip_with({0}, {1}, (__k, __a, __b) -> coalesce(__a, "
            "0) - coalesce(__b, 0))"),
    ),
    (
        "mapPopulateSeries",
        (1, "map_from_arrays(sequence(array_min(map_keys({0})), "
            "array_max(map_keys({0}))), "
            "transform(sequence(array_min(map_keys({0})), "
            "array_max(map_keys({0}))), __k -> coalesce(element_at({0}, "
            "__k), 0)))"),
    ),
    ("groupArrayMovingSum", (1, "arrayCumSum(collect_list({0}))")),
    # nullif guard: collect_list skips NULLs, so an all-NULL group
    # yields an empty list — size 0 would ANSI-divide-by-zero
    (
        "groupArrayMovingAvg",
        (1, "transform(arrayCumSum(collect_list({0})), "
            "__s -> __s / CAST(nullif(size(collect_list({0})), "
            "0) AS DOUBLE))"),
    ),
    (
        "deltaSum",
        (1, "aggregate(filter(arrayDifference(collect_list({0})), "
            "__v -> __v > 0), CAST(0 AS DOUBLE), (__a, __v) -> __a + __v)"),
    ),
    ("bitHammingDistance", (2, "bit_count(({0}) ^ ({1}))")),
    ("intExp2", (1, "shiftleft(CAST(1 AS BIGINT), {0})")),
    # exact through 10^15; CH goes to 10^18 (documented narrowing)
    ("intExp10", (1, "CAST(round(power(10, {0})) AS BIGINT)")),
    # exact integer bit math (highest set bit via bin() length), not
    # power(2, floor(log2(x))) — log2 of exact powers of two can land an
    # ULP low and floor() then drops a whole bucket
    (
        "roundToExp2",
        (1, "(CASE WHEN ({0}) < 1 THEN 0 ELSE shiftleft(CAST(1 AS BIGINT), "
            "length(bin(CAST(floor({0}) AS BIGINT))) - 1) END)"),
    ),
    (
        "roundDown",
        (2, "coalesce(array_max(filter({1}, __e -> __e <= ({0}))), "
            "element_at({1}, 1))"),
    ),
    (
        "roundAge",
        (1, "(CASE WHEN ({0}) < 1 THEN 0 WHEN ({0}) <= 17 THEN 17 WHEN "
            "({0}) <= 24 THEN 18 WHEN ({0}) <= 34 THEN 25 WHEN ({0}) <= 44 "
            "THEN 35 WHEN ({0}) <= 54 THEN 45 ELSE 55 END)"),
    ),
    (
        "roundDuration",
        (1, "(CASE WHEN ({0}) < 1 THEN 0 ELSE array_max(filter(array(1, "
            "10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800, 3600, 7200, "
            "18000, 36000), __e -> __e <= ({0}))) END)"),
    ),
    ("replaceOne", _replace_one_make),
    ("arrayAUC", _auc_make),
    ("arrayROCAUC", _auc_make),
    ("regexpExtract", _regexp_extract_make),
    # occurrence rank of each element among its predecessors (CH funnel
    # helper).  O(n²) per row by construction; column-backed args only
    # (the intDiv multi-reference caveat — the lambda captures the array)
    (
        "arrayEnumerateUniq",
        (1, "transform({0}, (__v, __i) -> size(filter(slice({0}, 1, "
            "__i + 1), __e -> __e = __v)))"),
    ),
    # arrayElement → try_element_at (both 1-based, both support negative
    # from-the-end indexes); CH yields the TYPE DEFAULT (0/'') for
    # out-of-range or zero indexes where ANSI element_at THROWS —
    # try_element_at + nullif(idx, 0) yields NULL instead, the relational
    # encoding of CH's default (the dictGet/arrayAvg convention; plain
    # element_at errored under spark.sql.ansi).
    # DOCUMENTED DIVERGENCE: arrayElement also accepts MAPS,
    # and on a map that legitimately stores key 0 the nullif masks that
    # lookup → NULL where CH returns the stored value.  The type isn't
    # statically known here, and index 0 on ARRAYS (the dominant case)
    # must stay NULL; maps keyed by 0 use the m[0] subscript form, whose
    # rewrite deliberately has no nullif.
    ("arrayElement", (2, "try_element_at({0}, nullif({1}, 0))")),
    (
        "bitmaskToArray",
        (1, "filter(transform(sequence(0, 62), "
            "__i -> shiftleft(CAST(1 AS BIGINT), __i)), "
            "__b -> (CAST({0} AS BIGINT) & __b) != 0)"),
    ),
    # ------------------------------------------------------------------
    # Multi-argument rewrites (the single-arg wraps and same-order renames
    # can't express them):
    #
    # * ``hasAll(a, b)`` → ``size(array_except(b, a)) = 0``
    # * ``bitAnd/bitOr/bitXor(a, b)`` → the ``&``/``|``/``^`` operators
    # * ``positionCaseInsensitive(h, n)`` → ``instr(lower(h), lower(n))``
    # * ``extractAll(s, re)`` → ``regexp_extract_all(s, re, 0)`` (whole-match
    #   group; CH extracts the first capture group when one exists — port
    #   group-using patterns by hand)
    # * ``arrayAvg(x)`` → sum-fold / size (DOUBLE; references x twice —
    #   fine for column-backed arrays, the caveat the intDiv rewrite
    #   documents)
    # * ``addDays(ts, n)`` / ``subtractHours(ts, n)`` / … →
    #   ``timestampadd(UNIT, ±n, ts)`` (argument order moves)
    # * ``dateSub(UNIT, n, ts)`` → ``timestampadd(UNIT, -(n), ts)``
    ("hasAll", (2, "(size(array_except({1}, {0})) = 0)")),
    ("bitAnd", (2, "(({0}) & ({1}))")),
    ("bitOr", (2, "(({0}) | ({1}))")),
    ("bitXor", (2, "(({0}) ^ ({1}))")),
    ("positionCaseInsensitive", (2, "instr(lower({0}), lower({1}))")),
    ("extractAll", (2, "regexp_extract_all({0}, {1}, 0)")),
    # multiSearchAny(haystack, [needles]) — any-substring test; the array
    # side iterates under exists so the haystack is referenced once
    (
        "multiSearchAnyCaseInsensitive",
        (2, "exists({1}, __n -> contains(lower({0}), lower(__n)))"),
    ),
    ("multiSearchAny", (2, "exists({1}, __n -> contains({0}, __n))")),
    # simpleLinearRegression(x, y) → CH's (k, b) tuple as the positional
    # struct (col1=slope, col2=intercept) tupleElement/.1 access expects;
    # Spark's regr_* take the DEPENDENT variable first
    (
        "simpleLinearRegression",
        (2, "named_struct('col1', regr_slope({1}, {0}), 'col2', "
            "regr_intercept({1}, {0}))"),
    ),
    # function-form arithmetic (CH exposes the operators as functions too);
    # divide is always floating-point in CH — Spark's / on integers is
    # DOUBLE division as well, so the operator maps directly
    ("plus", (2, "(({0}) + ({1}))")),
    ("minus", (2, "(({0}) - ({1}))")),
    ("multiply", (2, "(({0}) * ({1}))")),
    ("divide", (2, "(({0}) / ({1}))")),
    ("intDivOrZero", _int_div_or_zero_make),
    # finiteness family (CH: NaN is neither finite nor infinite); the
    # double-reference caveat matches intDiv's documentation
    ("isFinite", (1, "(NOT isnan({0}) AND abs({0}) != double('Infinity'))")),
    (
        "ifNotFinite",
        (2, "(CASE WHEN isnan({0}) OR abs({0}) = double('Infinity') THEN "
            "{1} ELSE {0} END)"),
    ),
    # CH toDecimal32/64/128(x, scale): 9/18/38-digit decimals
    ("toDecimal32", _to_decimal_make(9)),
    ("toDecimal64", _to_decimal_make(18)),
    ("toDecimal128", _to_decimal_make(38)),
    # Decimal256 shares the DECIMAL(38) lane — Spark's widest
    # (the toInt128/256 documented-bound stance)
    ("toDecimal256", _to_decimal_make(38)),
    ("retention", _retention_make),
    # nullif(size, 0): empty arrays yield NULL instead of an ANSI
    # DIVIDE_BY_ZERO (CH returns nan; NULL is the relational encoding,
    # the arrayAUC convention)
    (
        "arrayAvg",
        (1, "(aggregate({0}, CAST(0 AS DOUBLE), (__a, "
            "__v) -> __a + __v) / nullif(size({0}), 0))"),
    ),
    # arrayDifference([a1,a2,a3]) = [0, a2-a1, a3-a2]: element-wise
    # subtract against the right-shifted array (references the
    # argument 3× — fine for column-backed arrays, the documented
    # intDiv-style caveat)
    # greatest(size-1, 0): for an empty array slice(a, 1, -1) raises
    # INVALID_PARAMETER_VALUE.LENGTH in Spark, while ClickHouse's
    # arrayDifference([]) returns [] — clamping makes the shifted
    # array [] / [a1] for empty / 1-element inputs, so zip_with
    # yields [] / [0] exactly like ClickHouse
    (
        "arrayDifference",
        (1, "zip_with({0}, concat(slice({0}, 1, 1), slice({0}, 1, "
            "greatest(size({0}) - 1, 0))), (a, b) -> a - b)"),
    ),
    # arrayCompact: drop CONSECUTIVE duplicates (keep the first of
    # each run) — filter on (value, index) pairs vs the predecessor
    (
        "arrayCompact",
        (1, "transform(filter(transform({0}, (v, i) -> struct(v AS v, "
            "i AS i)), s -> s.i = 0 OR NOT s.v <=> element_at({0}, s.i)), "
            "s -> s.v)"),
    ),
    # arrayCumSum: one aggregate fold carrying (running sum, out array)
    # — O(n), no slice-per-element.  DOUBLE accumulation like the
    # arraySum rewrite (cast back where integer exactness matters).
    (
        "arrayCumSum",
        (1, "aggregate({0}, named_struct('s', CAST(0 AS DOUBLE), 's_arr', "
            "CAST(array() AS ARRAY<DOUBLE>)), (acc, "
            "x) -> named_struct('s', acc.s + x, 's_arr', concat(acc.s_arr, "
            "array(acc.s + x))), acc -> acc.s_arr)"),
    ),
    # avgWeighted(x, w) = Σ x·w / Σ w (CH returns NaN on zero weight
    # sum; Spark returns NULL — the honest SQL analog)
    ("avgWeighted", (2, "(sum(({0}) * ({1})) / sum({1}))")),
    # countEqual(arr, v): NULL-safe equality so countEqual(a, NULL)
    # counts NULL elements like ClickHouse
    ("countEqual", (2, "size(filter({0}, __x -> __x <=> ({1})))")),
    ("range", _range_make),
    ("arrayPushBack", (2, "concat({0}, array({1}))")),
    ("arrayPushFront", (2, "concat(array({1}), {0})")),
    ("arrayPopBack", (1, "slice({0}, 1, greatest(size({0}) - 1, 0))")),
    ("arrayPopFront", (1, "slice({0}, 2, greatest(size({0}) - 1, 0))")),
    ("arrayFold", _fold_make),
    # countSubstrings(h, n): non-overlapping occurrence count via the
    # length-delta trick — pure codegen, no regex
    (
        "countSubstrings",
        (2, "(CASE WHEN length({1}) = 0 THEN 0 ELSE (length({0}) - "
            "length(replace({0}, {1}, ''))) DIV length({1}) END)"),
    ),
    ("countMatches", (2, "size(regexp_extract_all({0}, {1}, 0))")),
    ("toStartOfInterval", _tsoi_make),
    # assumeNotNull is a type-level assertion in CH; value-wise identity
    ("assumeNotNull", (1, "({0})")),
    ("transform", _transform_value_make),
    ("tuple", _tuple_make),
    # addDays(ts, n) / subtractHours(ts, n) / … → timestampadd(UNIT, ±n, ts)
    # (argument order moves)
    ("addSeconds", (2, "timestampadd(SECOND, ({1}), {0})")),
    ("addMinutes", (2, "timestampadd(MINUTE, ({1}), {0})")),
    ("addHours", (2, "timestampadd(HOUR, ({1}), {0})")),
    ("addDays", (2, "timestampadd(DAY, ({1}), {0})")),
    ("addWeeks", (2, "timestampadd(WEEK, ({1}), {0})")),
    ("addMonths", (2, "timestampadd(MONTH, ({1}), {0})")),
    ("addYears", (2, "timestampadd(YEAR, ({1}), {0})")),
    ("subtractSeconds", (2, "timestampadd(SECOND, -({1}), {0})")),
    ("subtractMinutes", (2, "timestampadd(MINUTE, -({1}), {0})")),
    ("subtractHours", (2, "timestampadd(HOUR, -({1}), {0})")),
    ("subtractDays", (2, "timestampadd(DAY, -({1}), {0})")),
    ("subtractWeeks", (2, "timestampadd(WEEK, -({1}), {0})")),
    ("subtractMonths", (2, "timestampadd(MONTH, -({1}), {0})")),
    ("subtractYears", (2, "timestampadd(YEAR, -({1}), {0})")),
    ("dateSub", (3, "timestampadd({0}, -({1}), {2})")),
    ("arrayResize", _resize_make),
    ("arrayRotateLeft", _rotate_make(True)),
    ("arrayRotateRight", _rotate_make(False)),
    # arrayProduct returns Float64 in CH regardless of input type
    (
        "arrayProduct",
        (1, "aggregate({0}, CAST(1 AS DOUBLE), (__a, __v) -> __a * __v)"),
    ),
    # arrayCumSumNonNegative: running sum clamped at 0 after every
    # step — same one-pass fold shape as arrayCumSum above
    (
        "arrayCumSumNonNegative",
        (1, "aggregate({0}, named_struct('s', CAST(0 AS DOUBLE), 's_arr', "
            "CAST(array() AS ARRAY<DOUBLE>)), (acc, "
            "x) -> named_struct('s', greatest(acc.s + x, "
            "CAST(0 AS DOUBLE)), 's_arr', concat(acc.s_arr, "
            "array(greatest(acc.s + x, CAST(0 AS DOUBLE))))), "
            "acc -> acc.s_arr)"),
    ),
    # tokens(s): maximal alphanumeric runs.  \P{Alnum} instead of a
    # [^...] class for the same reason as alphaTokens — generated
    # brackets would be re-read as a CH array literal downstream
    ("tokens", (1, "filter(split({0}, '\\\\P{{Alnum}}+'), __t -> __t != '')")),
    ("ngrams", _ngrams_make),
    ("monthName", (1, "date_format({0}, 'MMMM')")),
    ("formatReadableSize", _readable_size_make),
    ("formatReadableQuantity", _readable_qty_make),
    (
        "toStartOfFiveMinutes",
        (1, "timestamp_seconds((unix_timestamp({0}) DIV 300) * 300)"),
    ),
    (
        "toStartOfTenMinutes",
        (1, "timestamp_seconds((unix_timestamp({0}) DIV 600) * 600)"),
    ),
    (
        "toStartOfFifteenMinutes",
        (1, "timestamp_seconds((unix_timestamp({0}) DIV 900) * 900)"),
    ),
    # timeSlot rounds down to the half-hour
    (
        "timeSlot",
        (1, "timestamp_seconds((unix_timestamp({0}) DIV 1800) * 1800)"),
    ),
    # Modified Julian Day epoch is 1858-11-17
    ("toModifiedJulianDay", (1, "datediff(to_date({0}), DATE '1858-11-17')")),
    # CH returns the date in text form; DATE prints identically
    (
        "fromModifiedJulianDay",
        (1, "date_add(DATE '1858-11-17', CAST(({0}) AS INT))"),
    ),
    # bitTest(n, i) → UInt8-style 0/1 (the empty() type convention)
    (
        "bitTest",
        (2, "CAST(shiftright(CAST(({0}) AS BIGINT), "
            "CAST(({1}) AS INT)) & 1 AS INT)"),
    ),
    ("bitTestAll", _bit_test_multi("&")),
    ("bitTestAny", _bit_test_multi("|")),
    ("greatCircleDistance", _great_circle_make),
    ("geoDistance", _great_circle_make),
    ("greatCircleAngle", _great_circle_angle_make),
    ("randUniform", (2, "(({0}) + rand() * (({1}) - ({0})))")),
    ("randNormal", (2, "(({0}) + randn() * ({1}))")),
    ("arrayDotProduct", _dot_make),
    ("dotProduct", _dot_make),
    ("arrayL1Distance", _lp_dist("1")),
    ("L1Distance", _lp_dist("1")),
    ("arrayL2Distance", _lp_dist("2")),
    ("L2Distance", _lp_dist("2")),
    ("arrayL2SquaredDistance", _lp_dist("2sq")),
    ("L2SquaredDistance", _lp_dist("2sq")),
    ("arrayLinfDistance", _lp_dist("inf")),
    ("LinfDistance", _lp_dist("inf")),
    ("L1Norm", _norm_make("1")),
    ("L2Norm", _norm_make("2")),
    ("LinfNorm", _norm_make("inf")),
    ("cosineDistance", _cosine_make),
    # token = maximal alphanumeric run, same boundary rule as the tokens()
    # row above
    (
        "hasTokenCaseInsensitive",
        (2, "array_contains(split(lower({0}), '\\\\P{{Alnum}}+'), "
            "lower({1}))"),
    ),
    ("hasToken", (2, "array_contains(split({0}, '\\\\P{{Alnum}}+'), {1})")),
    ("arrayReverseSort", _rev_sort_make),
    # dense id by FIRST APPEARANCE — array_distinct preserves first-
    # occurrence order, so positions in it are exactly CH's dense ids
    (
        "arrayEnumerateDense",
        (1, "transform({0}, __x -> array_position(array_distinct({0}), "
            "__x))"),
    ),
    # bitmaskToList: the powers of two summing to n, ascending, as a
    # comma-separated STRING (CH returns String)
    (
        "bitmaskToList",
        (1, "array_join(transform(filter(sequence(0, 62), "
            "__i -> (shiftright(CAST(({0}) AS BIGINT), "
            "CAST(__i AS INT)) & 1) = 1), __i -> CAST(shiftleft(CAST(1 AS "
            "BIGINT), CAST(__i AS INT)) AS STRING)), ',')"),
    ),
    # CH returns '' on invalid input; try_to_binary gives NULL
    (
        "tryBase64Decode",
        (1, "coalesce(CAST(try_to_binary({0}, 'base64') AS STRING), '')"),
    ),
    ("extractTextFromHTML", _html_make),
    # sumCount(x) → (sum, count) positional tuple, tupleElement-ready
    ("sumCount", (1, "named_struct('col1', sum({0}), 'col2', count({0}))")),
    # boundingRatio(x, y): slope between the min-x and max-x points
    (
        "boundingRatio",
        (2, "((max_by({1}, {0}) - min_by({1}, "
            "{0})) / nullif(CAST(max({0}) - min({0}) AS DOUBLE), 0))"),
    ),
    ("toRelativeSecondNum", (1, "(unix_timestamp({0}) DIV 1)")),
    ("toRelativeMinuteNum", (1, "(unix_timestamp({0}) DIV 60)")),
    ("toRelativeHourNum", (1, "(unix_timestamp({0}) DIV 3600)")),
    ("toRelativeDayNum", (1, "(unix_timestamp({0}) DIV 86400)")),
    (
        "arrayJaccardIndex",
        (2, "(CAST(size(array_intersect({0}, {1})) AS DOUBLE) / "
            "nullif(size(array_union({0}, {1})), 0))"),
    ),
    (
        "arrayRandomSample",
        (2, "slice(shuffle({0}), 1, least(({1}), size({0})))"),
    ),
    ("toDecimalString", _dec_string_make),
    # per-position char mismatches; zip_with NULL-pads the shorter
    # side and <=> counts the pad as a difference — CH's length-delta
    # behavior exactly
    (
        "byteHammingDistance",
        (2, "size(filter(zip_with(split({0}, ''), split({1}, ''), (x, "
            "y) -> x <=> y), __m -> NOT __m))"),
    ),
    # multiSearchFirstPosition: leftmost occurrence position over all
    # needles; 0 when none matches (CH's none-value)
    (
        "multiSearchFirstPosition",
        (2, "coalesce(array_min(filter(transform({1}, __n -> instr({0}, "
            "__n)), __p -> __p > 0)), 0)"),
    ),
    ("positionUTF8", _position_make),
    ("position", _position_make),
    (
        "countSubstringsCaseInsensitive",
        (2, "(CASE WHEN length({1}) = 0 THEN 0 ELSE (length({0}) - "
            "length(replace(lower({0}), lower({1}), "
            "''))) DIV length({1}) END)"),
    ),
    (
        "splitByWhitespace",
        (1, "filter(split({0}, '\\\\s+'), __t -> __t != '')"),
    ),
    # splitByNonAlpha: separators are whitespace + punctuation, i.e.
    # maximal alphanumeric runs — the tokens() boundary rule
    (
        "splitByNonAlpha",
        (1, "filter(split({0}, '\\\\P{{Alnum}}+'), __t -> __t != '')"),
    ),
    # toTime: keep the time of day, move the date to 1970-01-02
    # (ClickHouse's documented anchor date)
    (
        "toTime",
        (1, "timestamp_seconds(86400 + pmod(unix_timestamp({0}), 86400))"),
    ),
    ("toDateTime64", _dt64_make),
    ("now64", lambda a: "current_timestamp()" if len(a) <= 1 else None),
    ("toIntervalYear", (1, "make_interval(({0}), 0, 0, 0, 0, 0, 0)")),
    ("toIntervalMonth", (1, "make_interval(0, ({0}), 0, 0, 0, 0, 0)")),
    ("toIntervalWeek", (1, "make_interval(0, 0, ({0}), 0, 0, 0, 0)")),
    ("toIntervalDay", (1, "make_interval(0, 0, 0, ({0}), 0, 0, 0)")),
    ("toIntervalHour", (1, "make_interval(0, 0, 0, 0, ({0}), 0, 0)")),
    ("toIntervalMinute", (1, "make_interval(0, 0, 0, 0, 0, ({0}), 0)")),
    ("toIntervalSecond", (1, "make_interval(0, 0, 0, 0, 0, 0, ({0}))")),
    ("arrayWithConstant", (2, "array_repeat({1}, CAST(({0}) AS INT))")),
    ("identity", (1, "({0})")),
    ("materialize", (1, "({0})")),
    # ignore() always returns 0 whatever its arguments
    ("ignore", lambda a: "0"),
    (
        "toYYYYMMDDhhmmss",
        (1, "CAST(date_format({0}, 'yyyyMMddHHmmss') AS BIGINT)"),
    ),
    # Joda patterns are Spark's own datetime patterns
    ("fromUnixTimestampInJodaSyntax", (2, "from_unixtime({0}, {1})")),
    ("formatDateTimeInJodaSyntax", (2, "date_format({0}, {1})")),
    # UInt8-style 0/1 (the empty()/bitTest type convention)
    ("isZeroOrNull", (1, "CAST(({0}) IS NULL OR ({0}) = 0 AS INT)")),
    (
        "moduloOrZero",
        (2, "(CASE WHEN ({1}) = 0 THEN 0 ELSE ({0}) % ({1}) END)"),
    ),
    # 64-bit rotate via shiftleft | unsigned shiftright
    (
        "bitRotateLeft",
        (2, "(shiftleft(CAST(({0}) AS BIGINT), "
            "CAST(({1}) AS INT)) | shiftrightunsigned(CAST(({0}) AS "
            "BIGINT), 64 - CAST(({1}) AS INT)))"),
    ),
    ("mapFilter", _map_filter_make),
    ("mapExists", _map_exists_make),
    ("mapAll", _map_all_make),
    # -Array aggregate combinator: aggregate over all elements of the array
    # arguments across the group — the element fold runs per row (DOUBLE
    # accumulation, the arraySum stance), the group aggregate on top of it
    (
        "sumArray",
        (1, "sum(aggregate({0}, CAST(0 AS DOUBLE), (s, v) -> s + v))"),
    ),
    ("minArray", (1, "min(array_min({0}))")),
    ("maxArray", (1, "max(array_max({0}))")),
    (
        "avgArray",
        (1, "(sum(aggregate({0}, CAST(0 AS DOUBLE), (s, v) -> s + v)) "
            "/ nullif(sum(size({0})), 0))"),
    ),
    ("countArray", (1, "sum(size({0}))")),
    # -Distinct combinator
    ("sumDistinct", (1, "sum(DISTINCT {0})")),
    ("avgDistinct", (1, "avg(DISTINCT {0})")),
    ("countDistinct", (1, "count(DISTINCT {0})")),
    # ------------------------------------------------------------------
    # IPv4/IPv6 family.
    #
    # Representation: IPv6 values are 16-byte BINARY (CH's
    # FixedString(16)); IPv4 values are the existing BIGINT lane.
    #
    # * ``IPv6StringToNum`` / ``toIPv6`` — full text parse (``::``
    #   compression, dotted-IPv4 tails, mixed case) via
    #   :func:`_ipv6_hex_sql`; best-effort on malformed input (CH
    #   throws).
    # * ``IPv6NumToString`` — RFC 5952 canonical printer (first-longest
    #   zero-run compression, ``::ffff:`` dotted rendering) via
    #   :func:`_ipv6_text_sql`.
    # * ``cutIPv6(b, c6, c4)`` — zeroes the trailing c6 (or, for
    #   IPv4-mapped values, c4) bytes and prints the result.
    # * ``IPv6CIDRToRange(b, p)`` — (lo, hi) tuple via nibble-wise prefix
    #   masking.
    # * ``IPv4StringToNumOrNull`` — strict dotted-quad gate, else NULL;
    #   ``toIPv4`` — alias of IPv4StringToNum; ``IPv4ToIPv6`` — the
    #   ``::ffff:`` mapped 16-byte form.
    #
    # ``isIPAddressInRange`` is a _LITERAL_CALLS row (its CIDR argument is
    # a string literal at this stage).
    (
        "IPv4StringToNumOrNull",
        lambda a: (
            f"IF(({a[0]}) RLIKE '^({_OCTET}\\\\.){{3}}{_OCTET}$', "
            f"IPv4StringToNum({a[0]}), CAST(NULL AS BIGINT))"
            if len(a) == 1
            else None
        ),
    ),
    ("toIPv4", (1, "IPv4StringToNum({0})")),
    (
        "IPv4ToIPv6",
        (1, "unhex(concat('00000000000000000000ffff', "
            "lpad(lower(hex(CAST(({0}) AS BIGINT))), 8, '0')))"),
    ),
    ("IPv6StringToNum", _v6_parse_make),
    ("toIPv6", _v6_parse_make),
    ("cutIPv6", _cut_v6_make),
    ("IPv6CIDRToRange", _v6_cidr_make),
    (
        "IPv6NumToString",
        lambda a: _ipv6_text_sql(a[0]) if len(a) == 1 else None,
    ),
    # ------------------------------------------------------------------
    # Math, bit, geo, random and encoding functions:
    #
    # * ``erf``/``erfc`` — Abramowitz & Stegun 7.1.26 closed form;
    #   ``lgamma``/``tgamma`` — Lanczos g=7 (z >= 0.5 scope; tgamma via
    #   exp(lgamma), positive arguments).
    # * ``emptyArrayToSingle`` — NUMERIC scope (the type default of a
    #   string/date element is not expressible without a type argument:
    #   coalesce(DATE, 0) has no common type and fails analysis, so
    #   date/string arrays error loudly rather than silently diverge;
    #   CH returns ['1970-01-01'] / [''] there).
    # * ``hasSubsequence`` — in-order character scan as a single
    #   ``aggregate`` fold over the haystack characters.
    # * ``unbin`` — whole-byte scope ('01000001' -> 'A'); ``bitSlice`` —
    #   positive offset/length scope, zero-padded to the byte boundary
    #   (composes the bin/unbin machinery).
    # * ``mortonEncode(x, y)`` / ``mortonDecode(2, code)`` — 2-D bit
    #   interleave over 32 bit positions (UInt32 lanes; 3-D+ passes
    #   through).  y's bit 31 lands on BIGINT's sign bit, so codes with
    #   y >= 2^31 read negative — the UInt64-as-signed-BIGINT lane every
    #   64-bit digest in this engine uses (xxhash64 stance); decode
    #   round-trips exactly either way.
    # * ``reinterpretAsUInt64/Int64`` (first 8 bytes, little-endian,
    #   single-byte-codepoint scope) and ``reinterpretAsString``
    #   (positive values, trailing zero bytes trimmed — CH's contract).
    # * ``pointInEllipses(x, y, x0, y0, a0, b0, ...)`` — OR-chain of the
    #   ellipse inequality over the variadic (center, axes) quadruples.
    # * ``tupleToNameValuePairs`` — string-valued pairs via a JSON
    #   round-trip (CH keeps the homogeneous value type; documented).
    # * ``untuple(t)`` — struct star-expansion for named operands.
    # * ``geohashesInBox`` — constant-folded at translation time (all five
    #   arguments are literal in CH's call shape): the covering grid is
    #   enumerated in Python with the same closed form as geohashEncode
    #   and emitted as a sorted array literal; grids over 1024 cells pass
    #   through (CH itself throws past a size cap).
    # * ``base58Encode``/``base58Decode`` — Bitcoin-alphabet radix
    #   conversion as NESTED aggregate folds (outer over input bytes/
    #   chars, inner multiply-add with carry over the growing digit
    #   array; O(n^2), fine for the short keys base58 carries); decode
    #   returns BINARY (the IPv6 FixedString lane) and NULLs on invalid
    #   alphabet chars where CH throws.  NOTE the neighboring ``bin()``
    #   pass-through keeps SPARK semantics (number -> unpadded binary
    #   digits); CH's byte-padded, type-width-aware bin would need the
    #   argument's type at translation time — compose hex()/unbin() for
    #   byte-exact bit strings instead.
    # * ``randomString``/``randomPrintableASCII`` (printable-ASCII scope,
    #   literal length <= 64, unrolled independent rand() draws),
    #   ``randBinomial`` (literal trial count <= 256, unrolled Bernoulli
    #   sum), ``randPoisson`` (literal lambda, inverse-CDF on a single
    #   uniform via a threshold-array fold), ``randConstant`` — one draw
    #   per CALL SITE, constant across rows (keyed on current_timestamp,
    #   which Spark fixes at query start).
    ("erf", lambda a: _erf_sql(a[0]) if len(a) == 1 else None),
    ("erfc", lambda a: f"(1.0D - {_erf_sql(a[0])})" if len(a) == 1 else None),
    ("lgamma", lambda a: _lgamma_sql(a[0]) if len(a) == 1 else None),
    ("tgamma", lambda a: f"exp({_lgamma_sql(a[0])})" if len(a) == 1 else None),
    (
        "emptyArrayToSingle",
        (1, "IF(size({0}) = 0, array(coalesce(try_element_at({0}, 1), 0)), "
            "{0})"),
    ),
    (
        "hasSubsequence",
        (2, "(aggregate(split({0}, ''), 0, (__ac, __c) -> IF(__ac < "
            "length({1}) AND __c = substring({1}, __ac + 1, 1), __ac + 1, "
            "__ac)) = length({1}))"),
    ),
    (
        "hasSubsequenceUTF8",
        (2, "(aggregate(split({0}, ''), 0, (__ac, __c) -> IF(__ac < "
            "length({1}) AND __c = substring({1}, __ac + 1, 1), __ac + 1, "
            "__ac)) = length({1}))"),
    ),
    ("unbin", lambda a: _unbin_sql(a[0]) if len(a) == 1 else None),
    ("bitSlice", _bit_slice_make),
    ("mortonEncode", _morton_encode_make),
    ("mortonDecode", _morton_decode_make),
    ("reinterpretAsUInt64", _reinterp_int_make),
    ("reinterpretAsInt64", _reinterp_int_make),
    ("reinterpretAsString", _reinterp_str_make),
    ("pointInEllipses", _point_in_ellipses_make),
    (
        "tupleToNameValuePairs",
        (1, "transform(map_entries(from_json(to_json({0}), "
            "'map<string,string>')), __e -> named_struct('col1', __e.key, "
            "'col2', __e.value))"),
    ),
    (
        "untuple",
        lambda a: (
            f"{a[0].strip()}.*"
            if len(a) == 1
            and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", a[0].strip())
            else None
        ),
    ),
    ("geohashesInBox", _geohashes_in_box_make),
    ("randomPrintableASCII", _random_ascii_make),
    ("randomString", _random_ascii_make),
    ("randBinomial", _rand_binomial_make),
    ("randPoisson", _rand_poisson_make),
    ("randConstant", _rand_const_make),
    # sleep/sleepEachRow return 0 in CH; the delay side effect is
    # deliberately not performed (a per-row sleep is a scale hazard, not a
    # semantic — same stance as the dropped offset-paged ingest)
    ("sleepEachRow", (1, "CAST(({0}) * 0 AS INT)")),
    ("sleep", (1, "CAST(({0}) * 0 AS INT)")),
    ("base58Encode", _base58_encode_make),
    ("base58Decode", _base58_decode_make),
    # 128-bit digest tail — engine-specific values (the sipHash64 stance),
    # rendered as the 32-hex-char string CH users feed to hex() anyway
    (
        "sipHash128",
        lambda a: (
            f"md5(CAST(concat({', '.join(a)}) AS BINARY))"
            if len(a) >= 1
            else None
        ),
    ),
    (
        "murmurHash3_128",
        lambda a: (
            f"substring(sha2(CAST(concat({', '.join(a)}) AS BINARY), 256), "
            f"1, 32)"
            if len(a) >= 1
            else None
        ),
    ),
    # ------------------------------------------------------------------
    # Comparison functions, decimal arithmetic and more:
    #
    # * function-call forms of the comparison operators (``equals(a,b)``
    #   …) → the operators themselves;
    # * ``bitRotateRight`` (mirror of the existing left rotate),
    #   ``byteSwap`` (64-bit byte reversal via an 8-byte fold — CH swaps
    #   at the integer's own width; the 64-bit form is the documented
    #   scope);
    # * ``timezoneOffset(t)`` — session zone's UTC offset at t (DST-aware
    #   via to_utc_timestamp; 0 under this engine's fixed-UTC session);
    # * ``toRelativeWeekNum`` — Monday-aligned weeks since the epoch week
    #   (CH's own docs define the anchor only as "a certain fixed point
    #   in the past" — the VALUE is engine-specific, differences are
    #   portable; the uniq stance);
    # * ``multiplyDecimal/divideDecimal(a, b[, scale])`` — DECIMAL(38, s)
    #   arithmetic (literal scale, default 10; CH allows 76 digits —
    #   Spark's 38 is the documented bound);
    # * ``toInt128/256, toUInt128/256`` → DECIMAL(38,0) (same bound);
    # * ``formatReadableDecimalSize`` — the 1000-based sibling of the
    #   existing binary formatReadableSize;
    # * ``hasTokenOrNull`` — hasToken, NULL when the needle is not a
    #   valid token; ``visibleWidth`` → string length;
    #   ``toColumnTypeName`` → ``typeof`` (engine-specific type names).
    # function-call forms of the comparison operators
    ("notEquals", (2, "(({0}) != ({1}))")),
    ("equals", (2, "(({0}) = ({1}))")),
    ("lessOrEquals", (2, "(({0}) <= ({1}))")),
    ("greaterOrEquals", (2, "(({0}) >= ({1}))")),
    ("less", (2, "(({0}) < ({1}))")),
    ("greater", (2, "(({0}) > ({1}))")),
    (
        "bitRotateRight",
        (2, "(shiftrightunsigned(CAST(({0}) AS BIGINT), "
            "CAST(({1}) AS INT)) | shiftleft(CAST(({0}) AS BIGINT), "
            "64 - CAST(({1}) AS INT)))"),
    ),
    (
        "byteSwap",
        (1, "aggregate(sequence(0, 7), CAST(0 AS BIGINT), (__ac, "
            "__i) -> __ac | shiftleft(shiftrightunsigned(CAST(({0}) AS "
            "BIGINT), __i * 8) & CAST(255 AS BIGINT), (7 - __i) * 8))"),
    ),
    (
        "timezoneOffset",
        (1, "(unix_timestamp({0}) - unix_timestamp(to_utc_timestamp({0}, "
            "current_timezone())))"),
    ),
    (
        "toRelativeWeekNum",
        (1, "CAST(floor(datediff({0}, DATE'1969-12-29') / 7) AS INT)"),
    ),
    ("multiplyDecimal", _dec_arith_make("*")),
    ("divideDecimal", _dec_arith_make("/")),
    ("formatReadableDecimalSize", _readable_dec_make),
    (
        "hasTokenOrNull",
        (2, "(CASE WHEN {1} rlike '^[\\\\p{{Alnum}}]+$' THEN "
            "array_contains(split({0}, '\\\\P{{Alnum}}+'), {1}) END)"),
    ),
    ("visibleWidth", (1, "length(CAST({0} AS STRING))")),
    # ------------------------------------------------------------------
    # The -State/-Merge/-ForEach/-OrDefault/-Resample combinator families
    # plus the aggregate-argument tail:
    #
    # * ``-State``/``-Merge``: ClickHouse's State is an opaque
    #   ``AggregateFunction`` binary; the faithful Spark representation
    #   is the state's VALUE — algebraic aggregates are their own state
    #   (sumState ≡ sum, merging count states sums them), avgState is
    #   the (sum, count) struct, quantileState is the collected value
    #   list (exact superset of CH's reservoir — exactness only
    #   improves).  Reading CH's binary state columns stays out of
    #   scope (cross-system wire format); uniqState/uniqMerge keep
    #   their real sketch mapping (Spark HLL, in _WRAPS).
    # * ``-ForEach``: element-wise aggregation across array rows —
    #   zero-padded zip folds over the collected arrays (per-group
    #   O(n·d), the sumMap/topK collected-group stance).
    # * ``-OrDefault``: CH returns the type default (0) on an empty
    #   aggregation state → ``coalesce(agg, 0)``.
    # * ``-Resample(start, end, step)(x, key)``: literal bounds only —
    #   the bucket count is resolved at translation time and emitted as
    #   an explicit ``array(agg(CASE bucket_i)…)`` (scale-safe, no
    #   collection); bucket count capped at 64, beyond passes through.
    # * ``sumArgMin/sumArgMax(x, arg)``: single collected fold carrying
    #   (best arg, running sum), restarting the sum on a new best.
    # * ``groupArrayInsertAt(def, size)(x, pos)``: scatter into a
    #   fixed-size slot array via an index-aware transform fold.
    # * ``arrayLastIndex(λ, arr)``: last matching 1-based position, 0
    #   when none (mirror of arrayFirstIndex via reverse).
    ("sumArgMin", _sum_arg_make("<")),
    ("sumArgMax", _sum_arg_make(">")),
    ("sumForEach", _foreach_make("sum")),
    ("minForEach", _foreach_make("min")),
    ("maxForEach", _foreach_make("max")),
    ("avgForEach", _foreach_make("avg")),
    ("sumOrDefault", (1, "coalesce(sum({0}), 0)")),
    ("avgOrDefault", (1, "coalesce(avg({0}), 0)")),
    ("minOrDefault", (1, "coalesce(min({0}), 0)")),
    ("maxOrDefault", (1, "coalesce(max({0}), 0)")),
    # avgState/avgMerge + quantileState (plain calls)
    (
        "avgState",
        (1, "named_struct('sum', sum(CAST({0} AS DOUBLE)), 'cnt', "
            "count({0}))"),
    ),
    ("avgMerge", (1, "(sum(({0}).sum) / sum(({0}).cnt))")),
    ("quantileState", (1, "collect_list(CAST({0} AS DOUBLE))")),
    ("quantileMerge", _quantile_merge_make),
    ("sumResample", _resample_make("sum")),
    ("countResample", _resample_make("count")),
    ("avgResample", _resample_make("avg")),
    ("minResample", _resample_make("min")),
    ("maxResample", _resample_make("max")),
    ("groupArrayInsertAt", _group_array_insert_at_make),
    (
        "arrayLastIndex",
        lambda a: (
            f"(CASE WHEN array_position(reverse(transform({a[1]}, {a[0]})), "
            f"true) = 0 THEN CAST(0 AS BIGINT) ELSE size({a[1]}) + 1 "
            f"- array_position(reverse(transform({a[1]}, {a[0]})), true) END)"
            if len(a) == 2 and "->" in a[0]
            else None
        ),
    ),
    # ------------------------------------------------------------------
    # Statistical tests, vector norms, URL and random functions:
    #
    # * ``studentTTest(x, idx)`` / ``welchTTest(x, idx)`` — two-sample t
    #   statistics from pure sum aggregates (pooled / Welch variance),
    #   the meanZTest convention: the statistic only (CH's tuple carries
    #   a p-value needing the t CDF — engine-specific numerics), index
    #   0/1 splits samples, scale-safe (no collection).  The rank-based
    #   tests (mannWhitneyUTest/kolmogorovSmirnovTest/rankCorr) and the
    #   categorical family (cramersV/theilsU/contingency/ANOVA) are
    #   engine OPERATORS (relational.py, driver-proven) — a faithful SQL
    #   aggregate form needs global ranks/cells no single aggregate
    #   expression can compute scale-safely; DIALECT_COVERAGE.md reports
    #   them as operator-only.
    # * ``nonNegativeDerivative(m, t) OVER …`` — per-second positive rate
    #   via lag over the SAME window (both forms: ``OVER (…)`` and a
    #   named window); NULL on the partition's first row (CH), clamped
    #   at 0 otherwise.  2-arg form only (the INTERVAL scale factor
    #   passes through).
    # * ``mapUpdate(m1, m2)`` — m2 wins on key collisions (entry filter +
    #   concat; Spark's map_concat raises on duplicates by default).
    # * ``isNotDistinctFrom`` → ``<=>``; ``multiSearchAllPositions`` →
    #   per-needle instr (1-based, 0 = absent, CH's encoding).
    # * ``LpNorm(v, p)`` / ``normalizeL1/L2(v)`` — higher-order folds
    #   (the vector arg is referenced twice in normalize*, column-backed
    #   caveat).
    # * ``JSONExtractKeysAndValuesRaw(j)`` — (key, raw value) struct
    #   array over ``json_object_keys``.
    # * ``toUUIDOrNull`` — format-validated pass/NULL.
    # * ``cutQueryStringAndFragment`` / ``extractURLParameters`` /
    #   ``extractURLParameterNames`` — URL-family tails over
    #   try_parse_url/regexp.
    # * ``randBernoulli/randExponential/randLogNormal`` — engine-random
    #   (values never comparable; pytest range checks); randLogNormal uses
    #   one Box-Muller draw.  rand32()/rand64() are _ZERO_ARG rows.
    # * ``groupArraySample(n[, seed])(x)`` — slice of shuffled
    #   collect_list (random sample; the uniq stance — the seed is
    #   accepted and unused, Spark's shuffle takes none).
    ("studentTTest", _t_test_make(pooled=True)),
    ("welchTTest", _t_test_make(pooled=False)),
    ("nonNegativeDerivative", _non_negative_derivative_make),
    (
        "mapUpdate",
        (2, "map_from_entries(concat(filter(map_entries({0}), "
            "__e -> NOT map_contains_key({1}, __e.key)), map_entries({1})))"),
    ),
    ("isNotDistinctFrom", (2, "(({0}) <=> ({1}))")),
    (
        "multiSearchAllPositions",
        (2, "transform({1}, __n -> CAST(instr({0}, __n) AS BIGINT))"),
    ),
    (
        "LpNorm",
        (2, "pow(aggregate({0}, 0.0D, (__a, __x) -> __a + pow(abs(CAST(__x "
            "AS DOUBLE)), {1})), 1.0D / ({1}))"),
    ),
    ("normalizeL1", _normalize_make("__a + abs(CAST(__y AS DOUBLE))", False)),
    (
        "normalizeL2",
        _normalize_make(
            "__a + CAST(__y AS DOUBLE) * CAST(__y AS DOUBLE)", True
        ),
    ),
    (
        "JSONExtractKeysAndValuesRaw",
        (1, "transform(json_object_keys({0}), __k -> struct(__k AS col1, "
            "get_json_object({0}, concat('$.', __k)) AS col2))"),
    ),
    (
        "toUUIDOrNull",
        lambda a: (
            f"(CASE WHEN CAST({a[0]} AS STRING) rlike '{_UUID_RE}' "
            f"THEN CAST({a[0]} AS STRING) END)"
            if len(a) == 1
            else None
        ),
    ),
    ("cutQueryStringAndFragment", (1, "regexp_replace({0}, '[?#].*$', '')")),
    (
        "extractURLParameters",
        (1, "filter(split(coalesce(try_parse_url({0}, 'QUERY'), ''), '&'), "
            "__p -> __p != '')"),
    ),
    (
        "extractURLParameterNames",
        (1, "transform(filter(split(coalesce(try_parse_url({0}, 'QUERY'), "
            "''), '&'), __p -> __p != ''), __p -> element_at(split(__p, "
            "'='), 1))"),
    ),
    (
        "randBernoulli",
        (1, "CAST(CASE WHEN rand() < ({0}) THEN 1 ELSE 0 END AS BIGINT)"),
    ),
    ("randExponential", (1, "(-ln(1.0D - rand()) / CAST({0} AS DOUBLE))")),
    (
        "randLogNormal",
        (2, "exp(CAST({0} AS DOUBLE) + CAST({1} AS DOUBLE) * sqrt(-2.0D * "
            "ln(1.0D - rand())) * cos(2.0D * pi() * rand()))"),
    ),
    ("groupArraySample", _group_array_sample_make),
    # ------------------------------------------------------------------
    # Multi-pattern search, JSON arrays, matrices and decimal parsing:
    #
    # * ``multiMatchAny(s, [p…])`` → ``exists`` over ``rlike`` (boolean,
    #   the ``match`` stance); ``multiMatchAnyIndex`` /
    #   ``multiSearchFirstIndex`` → 1-based first-true position, 0 when
    #   none (CH's encoding).
    # * ``JSONExtractArrayRaw(j[, key])`` → per-index ``get_json_object``
    #   over ``sequence``; raw JSON for object/array elements, unquoted
    #   scalars (Spark's get_json_object rendering — the JSONExtractRaw
    #   stance; CH keeps string elements quoted).
    # * ``corrMatrix(x1…xn)`` / ``covarSampMatrix`` → the explicit n×n
    #   ``array(array(corr(xi,xj)…)…)`` — pairwise built-in aggregates,
    #   no custom state.
    # * ``groupArrayLast(n)(x)`` → last-n slice of ``collect_list`` (the
    #   groupArray order caveat: Spark collection order is partition-
    #   dependent unless the input is single-partition/sorted).
    # * ``xor(a, b)`` → boolean inequality; ``timeDiff(a, b)`` → epoch-
    #   second difference b−a; ``appendTrailingCharIfAbsent(s, c)`` →
    #   endswith-guarded concat (s referenced twice, column-backed
    #   caveat); ``add/subtractMilliseconds(t, n)`` → ``timestampadd``.
    # * ``toDecimal32/64OrNull/OrZero(x, scale)`` → ``try_cast`` to
    #   DECIMAL(9|18, scale) (literal scale only).
    # * ``mapSort/mapReverseSort(m)`` → entries → ``array_sort`` →
    #   ``map_from_entries`` (1-arg form; the lambda form passes
    #   through).
    ("groupArrayLast", _group_array_last_make),
    ("multiMatchAny", (2, "exists({1}, __p -> ({0}) rlike __p)")),
    (
        "multiMatchAnyIndex",
        (2, "coalesce(CAST(array_position(transform({1}, "
            "__p -> ({0}) rlike __p), true) AS BIGINT), CAST(0 AS BIGINT))"),
    ),
    # CH returns the index of the needle whose OCCURRENCE is leftmost
    # in the haystack (array order only breaks position ties) — not
    # the first needle in array order that occurs anywhere
    (
        "multiSearchFirstIndex",
        (2, "element_at(transform(array(transform({1}, __n -> instr({0}, "
            "__n))), __ps -> coalesce(CAST(array_position(__ps, "
            "array_min(filter(__ps, __q -> __q > 0))) AS BIGINT), "
            "CAST(0 AS BIGINT))), 1)"),
    ),
    ("JSONExtractArrayRaw", _json_arr_raw_make),
    ("corrMatrix", _matrix_make("corr")),
    ("covarSampMatrix", _matrix_make("covar_samp")),
    ("xor", (2, "(CAST({0} AS BOOLEAN) != CAST({1} AS BOOLEAN))")),
    ("timeDiff", (2, "(unix_timestamp({1}) - unix_timestamp({0}))")),
    (
        "appendTrailingCharIfAbsent",
        (2, "(CASE WHEN endswith({0}, {1}) THEN {0} ELSE concat({0}, "
            "{1}) END)"),
    ),
    ("addMilliseconds", (2, "timestampadd(MILLISECOND, {1}, {0})")),
    ("subtractMilliseconds", (2, "timestampadd(MILLISECOND, -({1}), {0})")),
    ("toDecimal32OrNull", _decimal_scale_make(9, True)),
    ("toDecimal32OrZero", _decimal_scale_make(9, False)),
    ("toDecimal64OrNull", _decimal_scale_make(18, True)),
    ("toDecimal64OrZero", _decimal_scale_make(18, False)),
    ("mapSort", _map_sort_make(False)),
    ("mapReverseSort", _map_sort_make(True)),
    # ------------------------------------------------------------------
    # Conditional quantiles, bars and time deltas:
    #
    # * ``quantileIf(p)(x, cond)`` / ``quantilesIf(p1, …)(x, cond)`` —
    #   curried conditional quantiles: the CASE nulls out non-matching
    #   rows, percentile ignores NULLs (the -If combinator convention).
    # * ``bar(x, lo, hi, width)`` — ASCII bar chart: FULL '█' blocks only
    #   (CH draws eighth-block partials; the relational ``sparkbar``
    #   operator carries the same note), clamped to [0, width]; lo = hi
    #   yields an empty bar (NULL-guarded division).
    # * ``space(n)`` → ``repeat(' ', n)``.
    # * ``parseTimeDelta('1 d 2h 3.5m')`` — unit-suffixed duration parse to
    #   SECONDS: zip the numeric and unit capture groups, fold with the
    #   multiplier ladder (s/m/h/d/w, case-insensitive, 'sec'/'min'/…
    #   prefixes accepted); unknown units contribute 0 (CH throws — the
    #   NULL/0 house stance), no matches → 0.
    # * ``formatReadableTimeDelta(sec)`` — '2 hours, 8 minutes, 13 seconds'
    #   (CH's rendering: zero units skipped, singular at 1, all-zero →
    #   '0 seconds').  Days are the largest unit emitted (CH's optional
    #   years/months are calendar-approximate; documented scope).
    ("quantilesIf", _quantile_if_make(plural=True)),
    ("quantileIf", _quantile_if_make(plural=False)),
    ("bar", _bar_make),
    ("space", (1, "repeat(' ', {0})")),
    ("parseTimeDelta", _parse_td_make),
    ("formatReadableTimeDelta", _fmt_td_make),
    # ------------------------------------------------------------------
    # Interval/time-series aggregate folds — the windowFunnel machinery
    # (collect → array_sort → codegen ``aggregate`` fold, one collect_list
    # per group, all JVM-side) applied to ClickHouse's interval/time-series
    # aggregates:
    #
    # * ``exponentialMovingAverage(hl)(v, t)`` — half-life-weighted mean of
    #   an irregular time series (CH's published model): walking the
    #   t-sorted values, both numerator and denominator decay by
    #   ``2^(-Δt/hl)`` between samples; result ``Σ2^(-(tn-ti)/hl)·vi /
    #   Σ2^(-(tn-ti)/hl)``.  ``t`` is any numeric (CH passes unix seconds).
    # * ``intervalLengthSum(s, e)`` — total length of the UNION of the
    #   group's [s, e] segments (overlaps counted once): sweep over
    #   (s, e)-sorted intervals carrying the covered frontier.  Returns
    #   DOUBLE (CH returns the argument type).
    # * ``maxIntersections(s, e)`` — maximum number of simultaneously
    #   overlapping intervals: ±1 sweep over sorted endpoint events; ends
    #   sort before starts at the same point (struct sort on (t, d) with
    #   d = −1 for ends), so touching intervals [a,b],[b,c] do NOT count
    #   as intersecting — CH counts half-open occupancy the same way.
    # * ``deltaSumTimestamp(v, t)`` — sum of POSITIVE deltas of consecutive
    #   t-ordered values (CH's counter-reset-tolerant rate primitive; the
    #   unordered ``deltaSum`` keeps its separate rewrite).
    #
    # All four are exact single-pass folds; the per-group state is O(1) and
    # the collected array is the group's own rows — the same scale contract
    # as windowFunnel/sequenceMatch (bounded by per-key event volume).
    ("exponentialMovingAverage", _exponential_moving_average_make),
    (
        "intervalLengthSum",
        (2, "aggregate(array_sort(collect_list(struct(CAST({0} AS DOUBLE) "
            "AS s, CAST({1} AS DOUBLE) AS e))), named_struct('tot', 0.0D, "
            "'fr', CAST(NULL AS DOUBLE)), (a, iv) -> named_struct('tot', "
            "a.tot + greatest(0.0D, iv.e - greatest(iv.s, coalesce(a.fr, "
            "iv.s))), 'fr', greatest(coalesce(a.fr, iv.e), iv.e)), "
            "a -> a.tot)"),
    ),
    # maxIntersectionsPosition — the sweep position (the
    # start-event t) where the maximum occupancy is FIRST reached:
    # same ±1 endpoint sweep, with an argmax slot updated only on a
    # strict new best (later ties keep the first position, CH's
    # leftmost answer)
    (
        "maxIntersectionsPosition",
        (2, "aggregate(array_sort(flatten(transform(collect_list(struct(CAS"
            "T({0} AS DOUBLE) AS s, CAST({1} AS DOUBLE) AS e)), "
            "__iv -> array(struct(__iv.s AS t, 1 AS d), "
            "struct(__iv.e AS t, -1 AS d))))), named_struct('c', 0, 'b', "
            "0, 'bp', CAST(NULL AS DOUBLE)), (a, ev) -> named_struct('c', "
            "a.c + ev.d, 'b', greatest(a.b, a.c + ev.d), 'bp', "
            "CASE WHEN a.c + ev.d > a.b THEN ev.t ELSE a.bp END), "
            "a -> a.bp)"),
    ),
    (
        "maxIntersections",
        (2, "aggregate(array_sort(flatten(transform(collect_list(struct(CAS"
            "T({0} AS DOUBLE) AS s, CAST({1} AS DOUBLE) AS e)), "
            "__iv -> array(struct(__iv.s AS t, 1 AS d), "
            "struct(__iv.e AS t, -1 AS d))))), named_struct('c', 0, 'b', "
            "0), (a, ev) -> named_struct('c', a.c + ev.d, 'b', "
            "greatest(a.b, a.c + ev.d)), a -> a.b)"),
    ),
    (
        "deltaSumTimestamp",
        (2, "aggregate(array_sort(collect_list(struct(CAST({1} AS DOUBLE) "
            "AS t, CAST({0} AS DOUBLE) AS v))), named_struct('tot', 0.0D, "
            "'pv', CAST(NULL AS DOUBLE)), (a, e) -> named_struct('tot', "
            "a.tot + CASE WHEN a.pv IS NOT NULL AND e.v > a.pv THEN e.v - "
            "a.pv ELSE 0.0D END, 'pv', e.v), a -> a.tot)"),
    ),
    # ------------------------------------------------------------------
    # Map, JSON-type and serial-date scalars:
    #
    # * ``mapApply((k, v) -> (ke, ve), m)`` — entrywise map transform via
    #   ``map_from_entries(transform(map_entries(m), …))``; the CH lambda's
    #   tuple result becomes a struct, parameter names substituted on word
    #   boundaries.  Lambdas not of the 2-param → 2-tuple shape pass
    #   through.
    # * ``isValidJSON(j)`` → ``try_parse_json(j) IS NOT NULL`` (VARIANT
    #   parse — full JSON validation, not a prefix probe).
    # * ``JSONType(j)`` (no-path form) — 'Object'/'Array'/'String'/'Bool'/
    #   'Null'/'Int64'/'Double' by inspecting the trimmed document head
    #   after validation (CH returns the same tags; numeric split Int64 vs
    #   Double by the presence of ./e/E).  Path forms pass through.
    # * ``addQuarters/subtractQuarters(d, n)`` → ``add_months(d, ±3n)``.
    # * ``YYYYMMDDToDate(n)`` / ``YYYYMMDDhhmmssToDateTime(n)`` — numeric
    #   serial date forms via try_to_date/try_to_timestamp (NULL on
    #   invalid serials; CH returns epoch defaults — NULL is the house
    #   encoding, see arrayElement).
    # * ``toTimezone(ts, tz)`` → ``convert_timezone(current_timezone(),
    #   tz, ts)`` — CH changes display metadata only; Spark timestamps have
    #   no per-value zone, so the rewrite materializes the wall-clock shift
    #   (the observable toString behavior).
    # * ``timezoneOf(ts)`` → session timezone (CH: the column's zone
    #   attribute; Spark has exactly one, the session's).
    # * ``nowInBlock()`` → ``current_timestamp()`` (per-block freshness is
    #   meaningless under whole-stage codegen).
    # * ``caseWithExpression(x, a, ra, b, rb, …[, dflt])`` → ``CASE x WHEN
    #   a THEN ra … ELSE dflt END`` (the function form of operator CASE).
    # * ``dateTime64ToSnowflake`` — same epoch shift as the existing
    #   dateTimeToSnowflake wrap.
    ("mapApply", _map_apply_make),
    ("isValidJSON", (1, "(try_parse_json({0}) IS NOT NULL)")),
    ("JSONType", _json_type_make),
    ("addQuarters", (2, "add_months({0}, 3 * ({1}))")),
    ("subtractQuarters", (2, "add_months({0}, -3 * ({1}))")),
    (
        "YYYYMMDDToDate",
        (1, "try_to_date(CAST(CAST({0} AS BIGINT) AS STRING), 'yyyyMMdd')"),
    ),
    (
        "YYYYMMDDhhmmssToDateTime",
        (1, "try_to_timestamp(CAST(CAST({0} AS BIGINT) AS STRING), "
            "'yyyyMMddHHmmss')"),
    ),
    ("toTimezone", (2, "convert_timezone(current_timezone(), {1}, {0})")),
    ("timezoneOf", (1, "current_timezone()")),
    (
        "nowInBlock",
        lambda args: "current_timestamp()" if len(args) in (0, 1) else None,
    ),
    ("caseWithExpression", _case_with_expr_make),
    (
        "dateTime64ToSnowflake",
        (1, "shiftleft(unix_millis({0}) - 1288834974657, 22)"),
    ),
    # ------------------------------------------------------------------
    # Relative months, array shifts, sample moments and regex splices:
    #
    # * ``toRelativeMonthNum(t)`` → ``year·12 + month`` (CH's month serial).
    # * ``arrayShiftLeft/Right(arr, n[, default])`` — elements shift by n,
    #   vacated slots take ``default`` (CH fills the TYPE default; the NULL
    #   encoding is the house convention, see arrayElement).  Index
    #   arithmetic guards against element_at's negative-index-from-end
    #   semantics.
    # * ``simpleJSONHas(j, 'k')`` — top-level key membership via
    #   ``json_object_keys`` (exact: present-with-null keys count, as CH).
    # * ``skewSamp/kurtSamp`` — sample central moments over the sample
    #   variance: m₃/varSamp^1.5 and m₄/varSamp² (ClickHouse's published
    #   formulas), derived from Spark's population forms by the
    #   (varPop/varSamp)^k correction.
    # * ``replaceRegexpOne(h, p, r)`` — first-match-only regex replace via
    #   regexp_extract(group 0) + instr splice.  Replacement backrefs
    #   (\1/$1) are NOT supported (pass through by erroring at runtime is
    #   avoided — the raw replacement is spliced literally); patterns with
    #   lookarounds may splice at an earlier literal occurrence of the
    #   matched text (documented).  Column-backed h only (multi-reference).
    # * ``timeSlots(start, duration[, size])`` — array of period starts
    #   covering [start, start+duration], default size 1800 s (CH's).
    # * ``throwIf(cond[, msg])`` → ``assert_true`` (0 when the condition
    #   is false, error when true — Spark's error carries the message).
    ("toRelativeMonthNum", (1, "(year({0}) * 12 + month({0}))")),
    ("arrayShiftLeft", _shift_make(True)),
    ("arrayShiftRight", _shift_make(False)),
    (
        "simpleJSONHas",
        (2, "coalesce(array_contains(json_object_keys({0}), {1}), false)"),
    ),
    # visitParam* is the legacy ClickHouse name for simpleJSON*
    (
        "visitParamHas",
        (2, "coalesce(array_contains(json_object_keys({0}), {1}), false)"),
    ),
    (
        "skewSamp",
        (1, "(skewness({0}) * pow(var_pop({0}) / nullif(var_samp({0}), "
            "0.0D), 1.5D))"),
    ),
    (
        "kurtSamp",
        (1, "((kurtosis({0}) + 3.0D) * pow(var_pop({0}) / "
            "nullif(var_samp({0}), 0.0D), 2.0D))"),
    ),
    ("replaceRegexpOne", _replace_rx_one_make),
    ("timeSlots", _time_slots_make),
    ("throwIf", _throw_if_make),
    # ------------------------------------------------------------------
    # Week numbers, n-gram distances and JSON length:
    #
    # * ``toWeek(d[, mode])`` — CH mode 0 (default): Sunday-start weeks
    #   numbered 0-53, week 1 = the first week containing a Sunday; days
    #   before the year's first Sunday are week 0.  Derived arithmetically:
    #   ``floor((dayofyear − 1 − daysBeforeFirstSunday) / 7) + 1`` where
    #   daysBeforeFirstSunday = (8 − dayofweek(Jan 1)) mod 7.  Mode 3 =
    #   ISO → ``weekofyear``.  Other modes pass through (error by name).
    # * ``ngramDistance(a, b)`` / ``ngramSearch(h, n)`` — DISTINCT-set
    #   4-gram variants (documented divergence: CH counts multisets):
    #   distance = 1 − 2|A∩B|/(|A|+|B|), search = |N∩H|/|N| (1 = found).
    #   Strings of 1-3 chars gram as themselves; both-empty → identical.
    # * ``JSONLength(j)`` — array length or object key count (CH returns
    #   the container's length; path-arg forms pass through).
    ("toWeek", _to_week_make),
    ("toYearWeek", _to_yearweek_make),
    ("ngramDistance", _ngram_distance_make),
    ("ngramSearch", _ngram_search_make),
    (
        "JSONLength",
        (1, "coalesce(json_array_length({0}), size(json_object_keys({0})))"),
    ),
    # ------------------------------------------------------------------
    # String/array/URL depth:
    #
    # * ``timestampSub(UNIT, n, ts)`` → ``timestampadd(UNIT, -(n), ts)``
    #   (same shape as the existing ``dateSub`` rewrite).
    # * ``toFixedString(s, n)`` → ``rpad(s, n, chr(0))`` — CH pads with NUL
    #   bytes; divergence: CH *throws* when ``length(s) > n``, rpad truncates.
    # * ``hasSubstr(a, b)`` — contiguous-subsequence test via an ``exists``
    #   over every start offset (empty needle → true, as in CH).
    # * ``stringJaccardIndex(a, b)`` — set-of-characters Jaccard.  CH
    #   operates on the byte set, identical for ASCII text; both-empty
    #   is defined as 1.0 (identical strings).
    # * ``arrayFill`` / ``arrayReverseFill`` — fill-forward/backward: element
    #   i becomes a[j] for the nearest j ≤ i (≥ i) where the predicate held,
    #   original value if none.  The predicate is materialized once as a
    #   boolean mask; the index scan is O(n²) per array by construction.
    # * ``arraySplit`` / ``arrayReverseSplit`` — cut before (after) each
    #   element where the predicate holds; boundary offsets drive ``slice``.
    #   Empty input → ``[]`` (typed via ``slice(array(a), 1, 0)``).
    # * ``URLHierarchy`` / ``URLPathHierarchy`` — progressive prefixes cut
    #   after every ``/`` or ``?`` past the host (CH's definition); the
    #   path-only variant drops protocol/host and the bare ``/`` root.
    #
    # Single-binding ``transform(array(x), v -> …)`` is used as a let-form
    # so each derived value (mask, boundary list) is computed once; the
    # *source* argument is still spliced 2–3× where noted, so the usual
    # column-backed-argument caveat applies (same stance as ``intDiv``).
    ("timestampSub", (3, "timestampadd({0}, -({1}), {2})")),
    ("toFixedString", (2, "rpad({0}, {1}, chr(0))")),
    # greatest(…, 1): when the needle is longer than the haystack the
    # offset count would be ≤ 0, and Spark's sequence(1, 0) DESCENDS
    # to [1, 0] — offset 0 then crashes slice.  One offset always
    # exists under the floor; its shorter slice can never equal b.
    (
        "hasSubstr",
        (2, "(CASE WHEN size({1}) = 0 THEN true ELSE exists(sequence(1, "
            "greatest(size({0}) - size({1}) + 1, 1)), __i -> slice({0}, "
            "__i, size({1})) = {1}) END)"),
    ),
    ("stringJaccardIndex", _string_jaccard_make),
    ("arrayReverseFill", _fill_make(True)),
    ("arrayFill", _fill_make(False)),
    ("arrayReverseSplit", _split_make(True)),
    ("arraySplit", _split_make(False)),
    ("URLPathHierarchy", _url_hierarchy_make(True)),
    ("URLHierarchy", _url_hierarchy_make(False)),
    ("pointInPolygon", _point_in_polygon_make),
    ("geohashEncode", _geohash_encode_make),
    ("geohashDecode", _geohash_decode_make),
    ("sumMapFiltered", _sum_map_filtered_make),
    ("sumMap", _map_agg_make("__a + __q.v", "0")),
    (
        "minMap",
        _map_agg_make(
            "CASE WHEN isnan(__a) OR __q.v < __a THEN __q.v ELSE __a END",
            "double('NaN')",
        ),
    ),
    (
        "maxMap",
        _map_agg_make(
            "CASE WHEN isnan(__a) OR __q.v > __a THEN __q.v ELSE __a END",
            "double('NaN')",
        ),
    ),
    ("entropy", _entropy_make),
    ("gcd", _gcd_lcm_make(False)),
    ("lcm", _gcd_lcm_make(True)),
    ("queryStringAndFragment", _qsf_make),
    # arrayShingles(a, n): consecutive length-n windows — [] when the
    # array is shorter than n (typed via slice(array(a), 1, 0); the
    # sequence guard avoids Spark's descending sequence(1, 0))
    (
        "arrayShingles",
        (2, "(CASE WHEN size({0}) < ({1}) THEN slice(array({0}), 1, "
            "0) ELSE transform(sequence(1, size({0}) - ({1}) + 1), "
            "__i -> slice({0}, __i, {1})) END)"),
    ),
    # arrayPartialSort(limit, arr): first `limit` elements sorted,
    # remainder in UNSPECIFIED order (CH docs) — a full sort is a valid
    # (and deterministic) refinement
    (
        "arrayPartialReverseSort",
        (2, "array_sort({1}, (__x, __y) -> CASE WHEN __x > __y THEN -1 "
            "WHEN __x < __y THEN 1 ELSE 0 END)"),
    ),
    ("arrayPartialSort", (2, "array_sort({1})")),
    # ------------------------------------------------------------------
    # ``IPv4NumToString(n)`` → dotted quad via octet math;
    # ``IPv4StringToNum(s)`` → big-endian octet fold.  Both stay in integer
    # built-ins (no UDF) and agree with ClickHouse for the full u32 range.
    ("IPv4CIDRToRange", _cidr_to_range),
    ("IPv4NumToString", _num_to_str),
    (
        "IPv4StringToNum",
        (1, "(CAST(split({0}, '\\\\.')[0] AS BIGINT) * 16777216 + "
            "CAST(split({0}, '\\\\.')[1] AS BIGINT) * 65536 + "
            "CAST(split({0}, '\\\\.')[2] AS BIGINT) * 256 + "
            "CAST(split({0}, '\\\\.')[3] AS BIGINT))"),
    ),
    (
        "isIPv4String",
        lambda a: f"(({a[0]}) RLIKE '^({_OCTET}\\\\.){{3}}{_OCTET}$')"
        if len(a) == 1 else None,
    ),
    (
        "isIPv6String",
        lambda a: f"(({a[0]}) RLIKE '{_IP6}')" if len(a) == 1 else None,
    ),
    # ------------------------------------------------------------------
    # ``extractURLParameter(url, name)`` → ``parse_url(url, 'QUERY',
    # name)`` — the key argument moves from second position to third, after
    # the part selector (arity 2 only; anything else passes through).
    # the key argument moves from second position to third, after the part
    # selector (arity 2 only; anything else passes through)
    ("extractURLParameter", (2, "try_parse_url({0}, 'QUERY', {1})")),
    # ------------------------------------------------------------------
    # ``numbers(N)`` / ``numbers(offset, N)`` (ClickHouse's integer table
    # function, column ``number``) → a ``range()`` subquery exposing the same
    # column name.
    ("numbers", _numbers_make),
])

# every call table, in pipeline order (the name-uniqueness test and
# scripts/fuzz_dialect.py read their names from here)
_CALL_TABLES = (_EARLY_CALLS, _CALLS, _LITERAL_CALLS, _WRAP_CALLS)


_MOD_BASE_PAT = re.compile(
    r"(?<![\w.`'\"])(\*|COLUMNS\()", re.IGNORECASE
)
_MOD_KW_PAT = re.compile(r"\s*(EXCEPT|REPLACE|APPLY)\s*\(", re.IGNORECASE)
_MOD_TAIL_STOP = (
    "GROUP", "HAVING", "ORDER", "LIMIT", "WINDOW", "QUALIFY", "UNION",
    "INTERSECT", r"EXCEPT\s+(?:ALL|DISTINCT|SELECT)",
)


def _expand_select_modifiers(sql: str, spark=None) -> str:
    """ClickHouse SELECT-list column modifiers (public docs,
    "SELECT modifiers"): ``* EXCEPT(cols)`` (Spark-native, kept),
    ``* REPLACE(expr AS col, …)``, ``COLUMNS('re')``, and ``APPLY(fn)``,
    chainable in any order.  Runs as a POST-pass on the fully translated
    SQL: with a SparkSession the enclosing block's FROM tail is
    analysis-probed (``SELECT * FROM <tail>`` — lazy, no job) for the
    column list and the modifier chain expands POSITIONALLY, exactly the
    CH evaluation order: base selection (star, or names matched by the
    COLUMNS regex) → EXCEPT removals → REPLACE substitutions in place →
    APPLY wrapping ``fn(expr) AS `fn(name)``` (CH's result naming).
    Without a SparkSession only the schema-free ``* REPLACE`` form
    rewrites (to ``* EXCEPT(cols), expr AS col`` — the replaced columns
    move to the END of the row, documented divergence); COLUMNS/APPLY
    pass through for Spark to error on by name.  Qualified-star bases
    (``t.*``) and set-op tails pass through untouched.

    String literals are masked with ``\\x00<i>\\x00`` placeholders for the
    whole scan (this was the one pass that previously ran unmasked — a
    literal containing ``' * REPLACE(x AS y) ... FROM t'`` would match the
    modifier patterns and get corrupted) and restored at exit; the schema
    probe un-masks its FROM-tail slice before calling ``spark.sql``."""
    out, literals = _mask_literals(sql, _split_literals_spark)
    i = 0
    while True:
        m = _MOD_BASE_PAT.search(out, i)
        if not m:
            return _unmask_literals(out, literals)
        base = m.group(1)
        pos = m.end()
        cols_regex = None
        if base != "*":  # COLUMNS('re') — the literal arrives masked
            close = _match_bracket(out, m.end() - 1)
            lit = re.fullmatch(
                r"\s*(?:'([^']*)'|\x00(\d+)\x00)\s*",
                out[m.end() : close - 1],
            )
            if not lit:
                i = close
                continue
            cols_regex = (
                lit.group(1)
                if lit.group(1) is not None
                else literals[int(lit.group(2))]
            )
            pos = close
        # consume the modifier chain
        mods: list[tuple[str, list[str]]] = []
        while True:
            km = _MOD_KW_PAT.match(out, pos)
            if not km:
                break
            kend = _match_bracket(out, km.end() - 1)
            mods.append(
                (
                    km.group(1).upper(),
                    _split_top_comma(out[km.end() : kend - 1]),
                )
            )
            pos = kend
        needs_schema = cols_regex is not None or any(
            k == "APPLY" for k, _ in mods
        )
        has_rewrite = needs_schema or any(k == "REPLACE" for k, _ in mods)
        if not has_rewrite:  # plain * or Spark-native * EXCEPT(...)
            i = pos
            continue
        if spark is None and needs_schema:
            i = pos
            continue
        if spark is None:
            # schema-free * REPLACE [EXCEPT] trick: replaced columns
            # re-emitted at the end of the row
            excepts, repls = [], []
            for k, args in mods:
                (excepts if k == "EXCEPT" else repls).extend(args)
            names = []
            malformed = False
            for r in repls:
                am = re.search(r"\s+AS\s+(`[^`]+`|\w+)\s*$", r, re.IGNORECASE)
                if not am:
                    malformed = True  # e.g. real multiplication `x * replace(s,'a','b')`
                    break
                names.append(am.group(1).strip("`"))
            if malformed:
                # skip THIS candidate only — keep scanning so a genuine
                # modifier chain later in the statement still expands
                i = pos
                continue
            repl_sql = (
                "* EXCEPT("
                + ", ".join(f"`{n}`" for n in names + [e.strip("` ") for e in excepts])
                + "), "
                + ", ".join(repls)
            )
            out = out[: m.start()] + repl_sql + out[pos:]
            i = m.start() + len(repl_sql)
            continue
        # schema path: probe the enclosing block's FROM tail
        from_idx, w = next(_top_level(out, ("FROM",), pos))
        if w is None:
            i = pos
            continue
        end_idx, _ = next(_top_level(out, _MOD_TAIL_STOP, from_idx))
        try:
            cols = spark.sql(
                "SELECT * " + _unmask_literals(out[from_idx:end_idx], literals)
            ).columns
        except Exception:  # noqa: BLE001 — unprobeable tail: leave as-is
            i = pos
            continue
        if cols_regex is not None:
            try:
                pat = re.compile(cols_regex)
            except re.error:
                i = pos
                continue
            items = [(c, c) for c in cols if pat.search(c)]
        else:
            items = [(c, c) for c in cols]
        malformed = False
        for k, args in mods:
            if k == "EXCEPT":
                drop = {a.strip(" `").lower() for a in args}
                items = [it for it in items if it[1].lower() not in drop]
            elif k == "REPLACE":
                for r in args:
                    am = re.search(
                        r"\s+AS\s+(`[^`]+`|\w+)\s*$", r, re.IGNORECASE
                    )
                    if not am:
                        malformed = True
                        break
                    nm = am.group(1).strip("`")
                    expr = r[: am.start()].strip()
                    items = [
                        (expr, n) if n.lower() == nm.lower() else (e, n)
                        for e, n in items
                    ]
                if malformed:
                    break
            else:  # APPLY
                if len(args) != 1 or not re.fullmatch(r"\w+", args[0].strip()):
                    malformed = True
                    break
                fn = args[0].strip()
                items = [
                    (f"{fn}({e})", f"{fn}({n})") for e, n in items
                ]
        if malformed or not items:
            # unparseable candidate: pass it through locally, keep scanning
            i = pos
            continue
        repl_sql = ", ".join(
            e if e == n else f"{e} AS `{n}`" for e, n in items
        )
        out = out[: m.start()] + repl_sql + out[pos:]
        i = m.start() + len(repl_sql)


def translate_clickhouse_sql(sql: str, spark=None) -> str:
    """See :func:`_translate_once` for the rewrite pipeline.  With a
    SparkSession, one extra repair pass runs on ANALYSIS FAILURE only:
    ClickHouse lets WHERE reference SELECT-list aliases (`SELECT x + 1
    AS y … WHERE y > 0`) — if the default translation doesn't analyze
    and the alias-substituted variant does, the variant wins.  Failure-
    gated so a real column sharing an alias's name keeps Spark's (and
    the previous rounds') resolution on queries that already work."""
    global _TRANSLATE_ENTRY_LEN
    prev_entry_len = _TRANSLATE_ENTRY_LEN
    _TRANSLATE_ENTRY_LEN = len(sql)
    try:
        out = _translate_once(sql, spark)
        out = _expand_select_modifiers(out, spark)
        if spark is None:
            return out
        # Probe (and alias-repair) ONLY query-shaped statements: spark.sql
        # is lazy for queries but EAGER for commands (INSERT/CREATE/
        # DROP/...), so probing a command would execute it here AND again
        # at the caller's spark.sql — double inserts, 'already exists' on
        # the real run.  CTAS is a command too, so the gate keys on the
        # statement head, not on whether a SELECT appears anywhere.
        if not re.match(r"(?is)\s*[(]*\s*(SELECT|WITH|VALUES|TABLE)\b", out):
            return out
        try:
            spark.sql(out)  # analysis only — no job for query-shaped input
            return out
        except Exception:  # noqa: BLE001 — try the alias repair
            pass
        candidate = _translate_once(sql, spark, where_aliases=True)
        if candidate != out:
            try:
                spark.sql(candidate)
                return candidate
            except Exception:  # noqa: BLE001
                pass
        return out  # surface Spark's own error upstream
    finally:
        _TRANSLATE_ENTRY_LEN = prev_entry_len


def _translate_once(sql: str, spark=None, where_aliases: bool = False) -> str:
    """Translate the common ClickHouse function surface to Spark SQL.

    Unknown names pass through; string literals are never modified — they
    are masked with ``\\x00<i>\\x00`` placeholders for the duration of the
    rewrites (so a ``'...'`` inside an argument list can't confuse paren or
    comma matching) and restored verbatim at the end.  The clause, join
    and call passes find brackets, argument commas and clause keywords
    with :func:`_top_level`, whose docstring states the scanning rules
    once for all of them (the keyword renames in :func:`_rewrite_clauses`
    are plain whole-statement regexes).

    Pipeline: zero-arg names, then the clause and join passes, then the
    call tables in order — ``_EARLY_CALLS``, the bracket-syntax pass,
    ``_CALLS``, ``_LITERAL_CALLS`` — then the ``empty()`` sites,
    ``_WRAPS`` and ``_RENAMES``.  Each call row runs through
    :func:`_rewrite_call`; the row order is load-bearing where one row's
    output is another row's input (``regexpExtract`` emits ``extract``,
    ``sumMapFiltered`` emits ``sumMap``).

    When ``spark`` is given, ``empty()``/``notEmpty()`` calls are resolved
    schema-aware: the default ``length()`` form is tried first, and if the
    statement fails analysis the translator retries with ``size()`` at
    each call site (fewest substitutions first) until one analyzes —
    covering ClickHouse's array/map ``empty()`` without a SQL parser."""
    chunk, literals = _mask_literals(sql)

    # ClickHouse double-quoted IDENTIFIERS ("user id" — ANSI identifier
    # quoting, NOT a string literal) → Spark backticks; Spark's default
    # mode reads "..." as a string literal, which would silently turn a
    # column reference into a constant.  Runs on the masked chunk, so
    # double quotes inside single-quoted literals are untouched; the ""
    # escape unescapes to a literal quote inside the name.
    chunk = re.sub(
        r'"((?:[^"]|"")*)"',
        lambda m: "`" + m.group(1).replace('""', '"').replace("`", "``") + "`",
        chunk,
    )

    for src, dst in _ZERO_ARG:
        chunk = chunk.replace(src, dst)
    # ClickHouse's zero-arg count() — Spark requires count(*)
    chunk = _COUNT_STAR_PAT.sub("count(*)", chunk)
    chunk = _rewrite_scalar_with(chunk)
    if where_aliases:
        chunk = _rewrite_where_aliases(chunk)
    chunk = _rewrite_distinct_on(chunk)
    chunk = _rewrite_qualify(chunk)
    chunk = _rewrite_limit_with_ties(chunk)
    chunk = _rewrite_final(chunk)
    chunk = _rewrite_clauses(chunk)
    chunk = _rewrite_with_fill(chunk)
    chunk = _rewrite_paste_join(chunk)
    chunk = _rewrite_asof_join(chunk)
    chunk = _rewrite_any_join(chunk, spark)
    chunk = _apply_calls(chunk, _EARLY_CALLS)
    chunk = _rewrite_array_literals(chunk)
    chunk = _rewrite_cast_types(chunk)
    _RAND_CONSTANT_SITE[0] = 0
    chunk = _apply_calls(chunk, _CALLS)
    chunk = _rewrite_literal_aware(chunk, literals)
    n_empty = len(_EMPTY_SITE_PAT.findall(chunk))

    def finish(flags: list[bool]) -> str:
        c = _wrap_empty_sites(chunk, flags) if n_empty else chunk
        c = _apply_calls(c, _WRAP_CALLS)
        for pat, dst in _RENAME_PATS:
            c = pat.sub(dst, c)
        return _unmask_literals(c, literals)

    default = finish([False] * n_empty)
    if spark is None or n_empty == 0:
        return default
    # same command-eagerness hazard as the probe in translate_clickhouse_sql:
    # spark.sql EXECUTES non-query statements, so the empty()/size() search
    # must never analyze-probe a command (INSERT would run once per combo)
    if not re.match(r"(?is)\s*[(]*\s*(SELECT|WITH|VALUES|TABLE)\b", default):
        return default
    # analysis feedback: prefer the fewest size() substitutions (keeps the
    # schema-free behavior when length() analyzes); cap the search so a
    # pathological query can't explode (2^6 = 64 cheap analyses max)
    import itertools

    if n_empty > 6:
        return default
    combos = sorted(
        itertools.product([False, True], repeat=n_empty), key=sum
    )
    for flags in combos:
        candidate = finish(list(flags))
        try:
            spark.sql(candidate)  # analysis only — no job is triggered
            return candidate
        except Exception:  # noqa: BLE001 — analysis failure, try next
            continue
    return default  # nothing analyzes: surface Spark's own error upstream
