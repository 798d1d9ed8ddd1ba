"""Pinot-named scalar functions as Spark SQL UDF macros.

Each entry becomes ``CREATE OR REPLACE TEMPORARY FUNCTION <name>(<sig>)
RETURNS <type> RETURN <body>``.  Spark 4 SQL UDFs are inlined by Catalyst at
analysis time, so every one of these optimizes and codegens exactly like the
built-in expression in its body — the Pinot spelling is free.

A function is registered on first use, not up front: :func:`register_calls`
registers the ones a SQL text calls, :func:`register` the ones named.  Each
name is created at most once per session (a ``spark.newSession()`` has its
own temporary-function catalog), under one lock; the functions its body
calls are created first.  :func:`register_all` registers every one.

Pinot semantics anchors are public Apache Pinot 1.2 docs (SURVEY §2 [P1.2]);
the reference deployment pins that version at
resources/bastion/bastionUserData.sh:7.
"""

from __future__ import annotations

import threading

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

from ..operators.clp import CLPDECODE_SQL_BODY as _CLPDECODE_SQL_BODY
from . import sqltext

# dotted-quad IPv4 -> bigint, as a reusable SQL fragment
IP2LONG = ("aggregate(split({0}, '\\\\.'), cast(0 as bigint), "
           "(a, x) -> a * 256 + cast(x as bigint))")


def _dimcheck(name: str, body: str) -> str:
    """Wrap a two-vector macro body in the dimension-mismatch guard.
    CONTRACT: the caller's SQL-UDF signature must name its vector
    parameters exactly ``a`` and ``b`` — the guard references them
    verbatim (a mismatched signature fails at CREATE FUNCTION time).

    Why the guard exists:
    zip_with pads the shorter array with NULLs, which would turn a
    mismatch into a silent NULL — Pinot throws 'Vector lengths do not
    match', so these raise loudly too.  NULL inputs still pass through
    as NULL (size(NULL) is NULL and the CASE falls to the body)."""
    return (
        f"CASE WHEN size(a) != size(b) THEN cast(raise_error(concat("
        f"'{name}: vector lengths do not match: ', "
        f"cast(size(a) as string), ' vs ', cast(size(b) as string))) "
        f"as double) ELSE {body} END"
    )

# (name, arg signature, return type, body expression)
_FUNCTIONS: tuple[tuple[str, str, str, str], ...] = (
    # ---- date/time (B51) -------------------------------------------------
    ("DATETRUNC", "unit STRING, ts TIMESTAMP", "TIMESTAMP", "date_trunc(unit, ts)"),
    # `div` not floor(/): Pinot's conversions are Java LONG divisions,
    # and a double quotient loses integer precision past 2^53
    ("TOEPOCHSECONDS", "millis BIGINT", "BIGINT", "millis div 1000"),
    ("TOEPOCHMINUTES", "millis BIGINT", "BIGINT", "millis div 60000"),
    ("TOEPOCHHOURS", "millis BIGINT", "BIGINT", "millis div 3600000"),
    ("TOEPOCHDAYS", "millis BIGINT", "BIGINT", "millis div 86400000"),
    ("FROMEPOCHSECONDS", "s BIGINT", "BIGINT", "s * 1000"),
    ("FROMEPOCHMINUTES", "m BIGINT", "BIGINT", "m * 60000"),
    ("FROMEPOCHHOURS", "h BIGINT", "BIGINT", "h * 3600000"),
    ("FROMEPOCHDAYS", "d BIGINT", "BIGINT", "d * 86400000"),
    # FromDateTime(str, fmt) -> epoch millis; ToDateTime(millis, fmt) -> str
    (
        "FROMDATETIME",
        "s STRING, fmt STRING",
        "BIGINT",
        "unix_millis(to_timestamp(s, fmt))",
    ),
    (
        "TODATETIME",
        "millis BIGINT, fmt STRING",
        "STRING",
        "date_format(timestamp_millis(millis), fmt)",
    ),
    ("TIMEZONEHOUR", "tz STRING", "INT", "hour(from_utc_timestamp(timestamp'1970-01-01', tz))"),
    # Pinot timezoneMinute **[P1.2]**: Joda getMinuteOfHour at epoch in
    # the zone — the same epoch-shift reading as TIMEZONEHOUR above
    # (for a -05:30 zone Pinot itself returns hour 18, minute 30)
    ("TIMEZONEMINUTE", "tz STRING", "INT",
     "minute(from_utc_timestamp(timestamp'1970-01-01', tz))"),
    # Pinot toEpochXXXRounded(millis, n) **[P1.2]**: unit conversion
    # floored to the nearest multiple of n (Pinot: (millis/unit/n)*n);
    # toEpochXXXBucket(millis, n): the bucket ordinal (millis/unit/n);
    # fromEpochXXXBucket(v, n): the inverse (v*n*unit).  Integer floor
    # division throughout — Spark's `div` operator is exactly Java's
    # long division for the non-negative epochs these serve.
    ("TOEPOCHSECONDSROUNDED", "millis BIGINT, n BIGINT", "BIGINT",
     "(millis div 1000 div n) * n"),
    ("TOEPOCHMINUTESROUNDED", "millis BIGINT, n BIGINT", "BIGINT",
     "(millis div 60000 div n) * n"),
    ("TOEPOCHHOURSROUNDED", "millis BIGINT, n BIGINT", "BIGINT",
     "(millis div 3600000 div n) * n"),
    ("TOEPOCHDAYSROUNDED", "millis BIGINT, n BIGINT", "BIGINT",
     "(millis div 86400000 div n) * n"),
    ("TOEPOCHSECONDSBUCKET", "millis BIGINT, n BIGINT", "BIGINT",
     "millis div 1000 div n"),
    ("TOEPOCHMINUTESBUCKET", "millis BIGINT, n BIGINT", "BIGINT",
     "millis div 60000 div n"),
    ("TOEPOCHHOURSBUCKET", "millis BIGINT, n BIGINT", "BIGINT",
     "millis div 3600000 div n"),
    ("TOEPOCHDAYSBUCKET", "millis BIGINT, n BIGINT", "BIGINT",
     "millis div 86400000 div n"),
    ("FROMEPOCHSECONDSBUCKET", "v BIGINT, n BIGINT", "BIGINT",
     "v * n * 1000"),
    ("FROMEPOCHMINUTESBUCKET", "v BIGINT, n BIGINT", "BIGINT",
     "v * n * 60000"),
    ("FROMEPOCHHOURSBUCKET", "v BIGINT, n BIGINT", "BIGINT",
     "v * n * 3600000"),
    ("FROMEPOCHDAYSBUCKET", "v BIGINT, n BIGINT", "BIGINT",
     "v * n * 86400000"),
    # YEAR/MONTH/DAY/HOUR/MINUTE/SECOND/DAYOFYEAR/WEEKOFYEAR/QUARTER are Spark
    # builtins with matching Pinot semantics — no registration needed (and Spark
    # refuses to shadow builtins with SQL UDFs).
    ("MONTHOFYEAR", "ts TIMESTAMP", "INT", "month(ts)"),
    # Pinot millisecond(tsMillis): the millis-of-second of an epoch-millis
    # value (Spark has no builtin of this name; the other Pinot epoch
    # extractors — year/hour/... — collide with Spark's timestamp
    # builtins, which serve this engine's TIMESTAMP columns natively)
    # pmod, not %: pre-1970 epochs must land in 0-999 (Joda millisOfSecond)
    ("MILLISECOND", "millis BIGINT", "INT", "pmod(millis, 1000)"),
    ("DAYOFMONTH", "ts TIMESTAMP", "INT", "day(ts)"),
    # Pinot DAY_OF_WEEK is ISO (Monday=1..Sunday=7); Spark's builtin dayofweek
    # is 1=Sunday — divergent semantics, so the Pinot behavior gets its own name.
    ("DAYOFWEEKISO", "ts TIMESTAMP", "INT", "((dayofweek(ts) + 5) % 7) + 1"),
    ("QUARTEROFYEAR", "ts TIMESTAMP", "INT", "quarter(ts)"),
    ("NOWMILLIS", "", "BIGINT", "unix_millis(now())"),
    # ---- math (B49) ------------------------------------------------------
    # ABS/CEIL/FLOOR/EXP/LN/SQRT/POWER/MOD/SIGN/ROUND and the trig family are
    # Spark builtins with matching semantics; only Pinot-specific spellings here.
    ("ADD", "a DOUBLE, b DOUBLE", "DOUBLE", "a + b"),
    ("SUB", "a DOUBLE, b DOUBLE", "DOUBLE", "a - b"),
    ("MULT", "a DOUBLE, b DOUBLE", "DOUBLE", "a * b"),
    ("DIV", "a DOUBLE, b DOUBLE", "DOUBLE", "a / b"),
    ("INTDIV", "a BIGINT, b BIGINT", "BIGINT", "cast(a / b as bigint)"),
    # ROUNDDECIMAL/TRUNCATE: Spark's round/floor builtins cover these; a SQL
    # UDF can't express them because round() needs a foldable scale argument.
    # ---- string (B50) ----------------------------------------------------
    ("STRPOS", "s STRING, sub STRING", "INT", "locate(sub, s) - 1"),  # Pinot 0-based, -1 if absent
    ("SUBSTR", "s STRING, start INT, len INT", "STRING", "substring(s, start + 1, len)"),
    ("CODEPOINT", "s STRING", "INT", "ascii(s)"),
    ("NORMALIZE", "s STRING", "STRING", "s"),  # NFC normalize: identity for ASCII fixtures
    (
        "SPLITPART",
        "s STRING, sep STRING, idx INT",
        "STRING",
        "split_part(s, sep, idx + 1)",
    ),
    ("REPEATN", "s STRING, n INT", "STRING", "repeat(s, n)"),
    ("LEFTSTR", "s STRING, n INT", "STRING", "left(s, n)"),
    ("RIGHTSTR", "s STRING, n INT", "STRING", "right(s, n)"),
    ("STARTSWITH", "s STRING, p STRING", "BOOLEAN", "startswith(s, p)"),
    ("ENDSWITH", "s STRING, p STRING", "BOOLEAN", "endswith(s, p)"),
    ("CONTAINSSTR", "s STRING, p STRING", "BOOLEAN", "contains(s, p)"),
    ("REGEXPLIKE", "s STRING, re STRING", "BOOLEAN", "s rlike re"),
    # ---- JSON (B52) ------------------------------------------------------
    ("JSONFORMAT", "j STRING", "STRING", "to_json(parse_json(j))"),
    ("JSONEXTRACTKEY", "j STRING, path STRING", "ARRAY<STRING>", "json_object_keys(j)"),
    # ---- hash / binary (B54) --------------------------------------------
    ("SHA", "b BINARY", "STRING", "sha1(b)"),
    ("SHA256HASH", "b BINARY", "STRING", "sha2(b, 256)"),
    ("SHA512HASH", "b BINARY", "STRING", "sha2(b, 512)"),
    # the exact Pinot doc spellings **[P1.2]** (sha256/sha512; md5 and
    # crc32 are Spark builtins with identical semantics and keep native
    # resolution — the *HASH forms above are the engine's historical
    # aliases)
    ("SHA256", "b BINARY", "STRING", "sha2(b, 256)"),
    ("SHA512", "b BINARY", "STRING", "sha2(b, 512)"),
    ("MD5HASH", "b BINARY", "STRING", "md5(b)"),
    ("CRC32HASH", "b BINARY", "BIGINT", "crc32(b)"),
    ("TOBASE64", "b BINARY", "STRING", "base64(b)"),
    ("FROMBASE64", "s STRING", "BINARY", "unbase64(s)"),
    ("HEXSTR", "b BINARY", "STRING", "hex(b)"),
    # Pinot toUtf8/fromUtf8 **[P1.2]**: STRING <-> UTF-8 BYTES (Spark's
    # string<->binary casts are exactly UTF-8)
    ("TOUTF8", "s STRING", "BINARY", "cast(s as binary)"),
    ("FROMUTF8", "b BINARY", "STRING", "cast(b as string)"),
    # ---- geospatial (B55, optional Pinot plugin — minimal surface) -------
    # Pinot's ST_* family is an optional plugin, unused by the reference
    # config (SURVEY B55).  The core is covered with points as
    # STRUCT<lon,lat> (Pinot serializes points to BYTES — divergence
    # documented), great-circle distance in meters on the WGS84 mean sphere
    # (R=6371008.8 m, Haversine — Pinot geography distance semantics), and
    # rectangle containment; general polygons stay out of scope.
    (
        "STPOINT",
        "lon DOUBLE, lat DOUBLE",
        "STRUCT<lon: DOUBLE, lat: DOUBLE>",
        "named_struct('lon', lon, 'lat', lat)",
    ),
    ("STX", "p STRUCT<lon: DOUBLE, lat: DOUBLE>", "DOUBLE", "p.lon"),
    ("STY", "p STRUCT<lon: DOUBLE, lat: DOUBLE>", "DOUBLE", "p.lat"),
    ("STASTEXT", "p STRUCT<lon: DOUBLE, lat: DOUBLE>", "STRING",
     "concat('POINT (', p.lon, ' ', p.lat, ')')"),
    (
        "STDISTANCE",
        "lon1 DOUBLE, lat1 DOUBLE, lon2 DOUBLE, lat2 DOUBLE",
        "DOUBLE",
        "2 * 6371008.8 * asin(sqrt("
        "pow(sin(radians(lat2 - lat1) / 2), 2)"
        " + cos(radians(lat1)) * cos(radians(lat2))"
        " * pow(sin(radians(lon2 - lon1) / 2), 2)))",
    ),
    (
        "STCONTAINSBOX",
        "minLon DOUBLE, minLat DOUBLE, maxLon DOUBLE, maxLat DOUBLE, lon DOUBLE, lat DOUBLE",
        "BOOLEAN",
        "lon >= minLon AND lon <= maxLon AND lat >= minLat AND lat <= maxLat",
    ),
    # ---- Pinot-exact ST_* spellings (B55) --------------------------------
    # the same minimal point surface as the ST*-named macros above, under
    # the names Pinot queries actually use: points are STRUCT<lon,lat>
    # (Pinot serializes to BYTES — documented divergence), ST_DISTANCE
    # takes two POINTS (Pinot geography semantics: meters on the WGS84
    # mean sphere); polygons stay out of scope.
    (
        "ST_POINT",
        "lon DOUBLE, lat DOUBLE",
        "STRUCT<lon: DOUBLE, lat: DOUBLE>",
        "named_struct('lon', lon, 'lat', lat)",
    ),
    ("ST_X", "p STRUCT<lon: DOUBLE, lat: DOUBLE>", "DOUBLE", "p.lon"),
    ("ST_Y", "p STRUCT<lon: DOUBLE, lat: DOUBLE>", "DOUBLE", "p.lat"),
    ("ST_ASTEXT", "p STRUCT<lon: DOUBLE, lat: DOUBLE>", "STRING",
     "concat('POINT (', p.lon, ' ', p.lat, ')')"),
    (
        "ST_DISTANCE",
        "p1 STRUCT<lon: DOUBLE, lat: DOUBLE>, p2 STRUCT<lon: DOUBLE, lat: DOUBLE>",
        "DOUBLE",
        "2 * 6371008.8 * asin(sqrt("
        "pow(sin(radians(p2.lat - p1.lat) / 2), 2)"
        " + cos(radians(p1.lat)) * cos(radians(p2.lat))"
        " * pow(sin(radians(p2.lon - p1.lon) / 2), 2)))",
    ),
    (
        "ST_GEOGFROMTEXT",
        "s STRING",
        "STRUCT<lon: DOUBLE, lat: DOUBLE>",
        "named_struct("
        "'lon', cast(regexp_extract(s, 'POINT\\\\s*\\\\(\\\\s*([-+0-9.eE]+)', 1) as double), "
        "'lat', cast(regexp_extract(s, 'POINT\\\\s*\\\\(\\\\s*[-+0-9.eE]+\\\\s+([-+0-9.eE]+)', 1) as double))",
    ),
    (
        "ST_GEOMFROMTEXT",
        "s STRING",
        "STRUCT<lon: DOUBLE, lat: DOUBLE>",
        "named_struct("
        "'lon', cast(regexp_extract(s, 'POINT\\\\s*\\\\(\\\\s*([-+0-9.eE]+)', 1) as double), "
        "'lat', cast(regexp_extract(s, 'POINT\\\\s*\\\\(\\\\s*[-+0-9.eE]+\\\\s+([-+0-9.eE]+)', 1) as double))",
    ),
    # ---- time-unit conversion (B51) --------------------------------------
    # Pinot TIMECONVERT(value, fromUnit, toUnit) **[P1.2]**: truncating
    # integer conversion between epoch units — LONG multiply then LONG
    # `div`, exactly Java's arithmetic (a double quotient loses integer
    # precision past 2^53)
    (
        "TIMECONVERT",
        "v BIGINT, fu STRING, tu STRING",
        "BIGINT",
        "(v * "
        "CASE upper(fu) WHEN 'MILLISECONDS' THEN 1 WHEN 'SECONDS' THEN 1000 "
        "WHEN 'MINUTES' THEN 60000 WHEN 'HOURS' THEN 3600000 "
        "WHEN 'DAYS' THEN 86400000 END) div "
        "CASE upper(tu) WHEN 'MILLISECONDS' THEN 1 WHEN 'SECONDS' THEN 1000 "
        "WHEN 'MINUTES' THEN 60000 WHEN 'HOURS' THEN 3600000 "
        "WHEN 'DAYS' THEN 86400000 END",
    ),
    # ---- JSONPATH typed extractors (B52) ----------------------------------
    ("JSONPATHSTRING", "js STRING, p STRING", "STRING",
     "get_json_object(js, p)"),
    ("JSONPATHLONG", "js STRING, p STRING", "BIGINT",
     "cast(get_json_object(js, p) as bigint)"),
    ("JSONPATHDOUBLE", "js STRING, p STRING", "DOUBLE",
     "cast(get_json_object(js, p) as double)"),
    ("JSONPATHARRAY", "js STRING, p STRING", "ARRAY<STRING>",
     "from_json(get_json_object(js, p), 'array<string>')"),
    # Pinot jsonPathArrayDefaultEmpty **[P1.2]**: the array extractor
    # that answers [] instead of NULL when the path is missing
    ("JSONPATHARRAYDEFAULTEMPTY", "js STRING, p STRING", "ARRAY<STRING>",
     "coalesce(from_json(get_json_object(js, p), 'array<string>'), "
     "array())"),
    # ---- network (B56 kin) ------------------------------------------------
    # IPv6 plumbing for ISSUBNETOF (round-7: Pinot handles IPv6; the old
    # macro silently compared garbage on ':' inputs).  128-bit math as a
    # (hi, lo) BIGINT pair: PINOT_IPV6_PAD expands the '::' compression to
    # all 8 hex groups ('a::b' splits to groups+1 parts, so the gap is
    # 9 - size '0:' repetitions), PINOT_IPV6_GROUPS parses them, HI/LO
    # fold each 4-group half with shiftleft|OR (bit-exact at the signed
    # boundary, unlike multiply which would overflow).  SQL UDFs may call
    # previously-registered SQL UDFs — Catalyst inlines the whole chain.
    (
        "PINOT_IPV6_PAD",
        "s STRING",
        "STRING",
        "CASE WHEN s = '::' THEN '0:0:0:0:0:0:0:0' "
        "WHEN startswith(s, '::') THEN concat('0', s) "
        "WHEN endswith(s, '::') THEN concat(s, '0') ELSE s END",
    ),
    (
        "PINOT_IPV6_GROUPS",
        "s STRING",
        "ARRAY<BIGINT>",
        "transform(split(CASE WHEN contains(PINOT_IPV6_PAD(s), '::') "
        "THEN replace(PINOT_IPV6_PAD(s), '::', concat(':', "
        "repeat('0:', 9 - size(split(PINOT_IPV6_PAD(s), ':'))))) "
        "ELSE PINOT_IPV6_PAD(s) END, ':'), "
        "g -> cast(conv(g, 16, 10) as bigint))",
    ),
    (
        "PINOT_IPV6_HI",
        "s STRING",
        "BIGINT",
        "shiftleft(PINOT_IPV6_GROUPS(s)[0], 48) | "
        "shiftleft(PINOT_IPV6_GROUPS(s)[1], 32) | "
        "shiftleft(PINOT_IPV6_GROUPS(s)[2], 16) | PINOT_IPV6_GROUPS(s)[3]",
    ),
    (
        "PINOT_IPV6_LO",
        "s STRING",
        "BIGINT",
        "shiftleft(PINOT_IPV6_GROUPS(s)[4], 48) | "
        "shiftleft(PINOT_IPV6_GROUPS(s)[5], 32) | "
        "shiftleft(PINOT_IPV6_GROUPS(s)[6], 16) | PINOT_IPV6_GROUPS(s)[7]",
    ),
    # Pinot isSubnetOf(cidr, address) **[P1.2]** — IPv4 AND IPv6 (round-7;
    # shiftrightunsigned is the logical shift the unsigned-prefix compare
    # needs, and Java shift counts wrap at 64 so prefix 0 is special-cased
    # and prefixes 64/128 land on shift-by-0 full compares).  Mixed
    # address families and IPv4-embedded-in-IPv6 forms raise loudly —
    # Pinot throws on those too, and a silent false would hide data bugs.
    (
        "ISSUBNETOF",
        "cidr STRING, ip STRING",
        "BOOLEAN",
        "CASE "
        "WHEN contains(cidr, ':') != contains(ip, ':') THEN "
        "cast(raise_error(concat('ISSUBNETOF: mixed address families: ', "
        "cidr, ' vs ', ip)) as boolean) "
        "WHEN contains(cidr, ':') THEN ("
        "CASE WHEN contains(cidr, '.') OR contains(ip, '.') THEN "
        "cast(raise_error('ISSUBNETOF: IPv4-embedded-in-IPv6 forms are "
        "not supported') as boolean) "
        "WHEN PFX = 0 THEN true "
        "WHEN PFX <= 64 THEN "
        "shiftrightunsigned(PINOT_IPV6_HI(split(cidr, '/')[0]), 64 - PFX) "
        "= shiftrightunsigned(PINOT_IPV6_HI(ip), 64 - PFX) "
        "ELSE PINOT_IPV6_HI(split(cidr, '/')[0]) = PINOT_IPV6_HI(ip) AND "
        "shiftrightunsigned(PINOT_IPV6_LO(split(cidr, '/')[0]), 128 - PFX) "
        "= shiftrightunsigned(PINOT_IPV6_LO(ip), 128 - PFX) END) "
        "WHEN PFX = 0 THEN true "
        "ELSE shiftright(IP2L_NET, 32 - PFX) "
        "= shiftright(IP2L_IP, 32 - PFX) END"
        .replace("IP2L_NET", IP2LONG.format("split(cidr, '/')[0]"))
        .replace("IP2L_IP", IP2LONG.format("ip"))
        .replace("PFX", "cast(split(cidr, '/')[1] as int)"),
    ),
    # ---- misc Pinot spellings (B49-B54 stragglers) ------------------------
    # AGO('PT1H') **[P1.2]**: now minus an ISO-8601 duration, as epoch
    # millis (Pinot returns millis).  ISO-8601 'PT..' parses natively as a
    # Spark day-time interval string.
    # the duration parse mirrors java.time.Duration (what Pinot calls):
    # days/hours/minutes/seconds only — Duration.parse rejects months and
    # years too, so the subset is exact parity, not a shortcut
    ("AGO", "iso STRING", "BIGINT",
     "unix_millis(now()) - cast((CASE WHEN upper(iso) NOT RLIKE '^[+-]?P(-?[0-9]+D)?(T(-?[0-9]+H)?(-?[0-9]+M)?(-?[0-9]+([.][0-9]+)?S)?)?$' OR upper(iso) NOT RLIKE '[DHMS]' THEN cast(raise_error(concat('AGO: unparseable ISO-8601 duration ', iso)) as bigint) ELSE (CASE WHEN iso LIKE '-%' THEN -1 ELSE 1 END) * (coalesce(try_cast(regexp_extract(upper(iso), 'P(-?[0-9]+)D', 1) as bigint), 0) * 86400000 + coalesce(try_cast(regexp_extract(upper(iso), 'T(-?[0-9]+)H', 1) as bigint), 0) * 3600000 + coalesce(try_cast(regexp_extract(upper(iso), 'T(?:-?[0-9]+H)?(-?[0-9]+)M', 1) as bigint), 0) * 60000 + coalesce(try_cast(regexp_extract(upper(iso), '(-?[0-9.]+)S', 1) as double), 0) * 1000) END) as bigint)"),
    ("TEXTCONTAINS", "s STRING, sub STRING", "BOOLEAN", "contains(s, sub)"),
    # round(v, n) needs a FOLDABLE scale, which a function parameter is
    # not — spell HALF_UP rounding arithmetically (Pinot's RoundingMode).
    # The multiply runs in DECIMAL: double->decimal cast goes through the
    # shortest decimal representation (like BigDecimal.valueOf, which
    # Pinot rounds on), so 1.005 rounds to 1.01, not the binary-double
    # 1.00499... artifact (round-6 review).  Round-7 (ADVICE): a NEGATIVE
    # scale rounds to tens/hundreds via divide-then-multiply (the old
    # power-cast truncated to decimal 0 and returned 0.0), and |v| >=
    # 1e13 — past decimal(25,12)'s integer digits — falls back to plain
    # double arithmetic instead of a NULL-returning overflow cast (at
    # those magnitudes a double's ulp exceeds the decimal artifacts the
    # decimal path exists to kill).  decimal(25,12) x decimal(12,0) ->
    # (38,12) exactly fits Spark's cap; widening either loses scale —
    # so |n| > 11 (power(10, 12) needs 13 digits and would raise an ANSI
    # overflow, round-7 review) also takes the double path, where a
    # scale-12+ rounding of a double is a no-op-or-ulp question anyway.
    ("ROUNDDECIMAL", "v DOUBLE, n INT", "DOUBLE",
     "CASE"
     " WHEN n >= 0 AND n <= 11 AND abs(v) < 1e13 THEN"
     " cast(sign(v) * floor(abs(cast(v as decimal(25,12)))"
     " * cast(power(10, n) as decimal(12,0)) + 0.5) / power(10, n)"
     " as double)"
     # double branches: floor(DOUBLE) returns BIGINT and SATURATES at
     # Long.MAX_VALUE (round-7 review: the Infinity-only guard let
     # scaled magnitudes in [2^63, inf) silently return 9.22e18-shaped
     # garbage) — whenever the scaled magnitude reaches 2^63 the double
     # has no representable fraction at that scale, so rounding is the
     # identity and v is returned directly
     " WHEN n >= 0 THEN"
     " cast(CASE WHEN abs(v) * power(10, n) >= 9.223372036854776e18"
     " THEN v"
     " ELSE sign(v) * floor(abs(v) * power(10, n) + 0.5) / power(10, n)"
     " END as double)"
     " WHEN n >= -11 AND abs(v) < 1e13 THEN"
     " cast(sign(v) * floor(abs(cast(v as decimal(25,12)))"
     " / cast(power(10, -n) as decimal(12,0)) + 0.5) * power(10, -n)"
     " as double)"
     " ELSE"
     " cast(CASE WHEN power(10, -n) = cast('Infinity' as double)"
     " THEN 0.0"  # rounding to a multiple beyond the double range
     " WHEN abs(v) / power(10, -n) >= 9.223372036854776e18 THEN v"
     " ELSE sign(v) * floor(abs(v) / power(10, -n) + 0.5) * power(10, -n)"
     " END as double)"
     " END"),
    # 2-arg form returns the WHOLE match (group 0) — Pinot's
    # regexpExtract(value, regexp) default; group selection is the 3-arg
    # REGEXPEXTRACTGROUP (round-6 review: group 1 threw on group-less
    # patterns and returned the wrong span on grouped ones)
    ("REGEXPEXTRACT", "s STRING, p STRING", "STRING", "regexp_extract(s, p, 0)"),
    ("REGEXPEXTRACTGROUP", "s STRING, p STRING, g INT", "STRING",
     "regexp_extract(s, p, g)"),
    # Pinot regexpReplace(input, pattern, replacement) **[P1.2]**: its
    # canonical no-underscore spelling (Spark's regexp_replace builtin
    # serves the underscored form; both replace ALL occurrences).
    # Pinot's 4-6 arg forms (matchStartPos/occurrence/flags) need arity
    # overloading SQL UDFs lack — out of scope.
    ("REGEXPREPLACE", "s STRING, p STRING, r STRING", "STRING",
     "regexp_replace(s, p, r)"),
    ("TOJSONMAPSTR", "m MAP<STRING, STRING>", "STRING", "to_json(m)"),
    # ---- URL / misc (B56) -----------------------------------------------
    ("ENCODEURL", "s STRING", "STRING", "url_encode(s)"),
    ("DECODEURL", "s STRING", "STRING", "url_decode(s)"),
    # ---- vector scalar functions (Pinot 1.2 vector index kin, B66) --------
    # the scalar companions of VECTOR_SIMILARITY: pure higher-order-function
    # bodies (zip_with + aggregate), codegen'd, no UDF.  ARRAY<DOUBLE>
    # signatures — Spark coerces ARRAY<FLOAT> embedding columns implicitly.
    # COSINEDISTANCE is the 2-arg Pinot form: a zero-norm side yields NaN
    # (0/0), exactly Pinot's no-default behavior; Pinot's optional 3rd
    # default argument is the caller's coalesce(nanvl(...)) away.
    (
        "INNERPRODUCT",
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "DOUBLE",
        _dimcheck(
            "INNERPRODUCT",
            "aggregate(zip_with(a, b, (x, y) -> x * y), "
            "cast(0.0 as double), (s, x) -> s + x)",
        ),
    ),
    (
        "VECTORNORM",
        "a ARRAY<DOUBLE>",
        "DOUBLE",
        "sqrt(aggregate(a, cast(0.0 as double), (s, x) -> s + x * x))",
    ),
    ("VECTORDIMS", "a ARRAY<DOUBLE>", "INT", "size(a)"),
    (
        "L1DISTANCE",
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "DOUBLE",
        _dimcheck(
            "L1DISTANCE",
            "aggregate(zip_with(a, b, (x, y) -> abs(x - y)), "
            "cast(0.0 as double), (s, x) -> s + x)",
        ),
    ),
    (
        "L2DISTANCE",
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "DOUBLE",
        _dimcheck(
            "L2DISTANCE",
            "sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), "
            "cast(0.0 as double), (s, x) -> s + x))",
        ),
    ),
    (
        "COSINEDISTANCE",
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "DOUBLE",
        # its OWN dimcheck (round-7 second review: a mismatched pair with
        # a zero-norm side hit the NaN branch before INNERPRODUCT's guard
        # could fire); the zero-norm branch stays explicit — ANSI sessions
        # raise DIVIDE_BY_ZERO even on doubles, and Pinot's contract is NaN
        _dimcheck(
            "COSINEDISTANCE",
            "CASE WHEN VECTORNORM(a) * VECTORNORM(b) = 0.0 "
            "THEN cast('NaN' as double) "
            "ELSE 1.0 - INNERPRODUCT(a, b) "
            "/ (VECTORNORM(a) * VECTORNORM(b)) END",
        ),
    ),
    # ---- CLP log columns (B68) ------------------------------------------
    # Pinot CLPDECODE(logtype, dictionaryVars, encodedVars) **[P1.2]** —
    # reassembles a CLP-encoded log message (operators/clp.py holds the
    # encoder and semantics; the body is the same codegen aggregate walk).
    ("CLPDECODE", "lt STRING, dv ARRAY<STRING>, ev ARRAY<BIGINT>", "STRING",
     _CLPDECODE_SQL_BODY),
    # ---- multi-value / array (B53) --------------------------------------
    ("ARRAYLENGTH", "a ARRAY<STRING>", "INT", "size(a)"),
    ("ARRAYLENGTHINT", "a ARRAY<INT>", "INT", "size(a)"),
    ("ARRAYMININT", "a ARRAY<INT>", "INT", "array_min(a)"),
    ("ARRAYMAXINT", "a ARRAY<INT>", "INT", "array_max(a)"),
    ("ARRAYSUMINT", "a ARRAY<INT>", "BIGINT", "aggregate(a, 0L, (s, x) -> s + x)"),
    ("ARRAYSUMDOUBLE", "a ARRAY<DOUBLE>", "DOUBLE", "aggregate(a, 0D, (s, x) -> s + x)"),
    ("ARRAYDISTINCTSTR", "a ARRAY<STRING>", "ARRAY<STRING>", "array_distinct(a)"),
    ("ARRAYSORTSTR", "a ARRAY<STRING>", "ARRAY<STRING>", "array_sort(a)"),
    ("ARRAYREVERSESTR", "a ARRAY<STRING>", "ARRAY<STRING>", "reverse(a)"),
    (
        "ARRAYSLICESTR",
        "a ARRAY<STRING>, fromIdx INT, toIdx INT",
        "ARRAY<STRING>",
        "slice(a, fromIdx + 1, toIdx - fromIdx)",  # Pinot arraySlice is [from, to) 0-based
    ),
    ("ARRAYCONTAINSSTR", "a ARRAY<STRING>, v STRING", "BOOLEAN", "array_contains(a, v)"),
    # Pinot arrayIndexOf* returns 0-based index, -1 when absent.
    ("ARRAYINDEXOFSTR", "a ARRAY<STRING>, v STRING", "INT", "array_position(a, v) - 1"),
    (
        "ARRAYCONCATSTR",
        "a ARRAY<STRING>, b ARRAY<STRING>",
        "ARRAY<STRING>",
        "concat(a, b)",
    ),
    # ---- the exact Pinot 1.2 spellings of the array family (round 8) ----
    # Pinot's scalar ArrayFunctions are typed with FULL suffixes —
    # arraySortString, arrayReverseInt, ... — so a dashboard sending the
    # real names must resolve; the short STR/INT forms above stay as the
    # engine's historical aliases.  Semantics anchors **[P1.2]**:
    # arrayIndexOf* is 0-based with -1 when absent; arraySlice* is
    # 0-based half-open [from, to); arrayUnion* dedups keeping FIRST-seen
    # order (array_distinct(concat(..)) preserves exactly that).
    ("ARRAYSORTSTRING", "a ARRAY<STRING>", "ARRAY<STRING>", "array_sort(a)"),
    ("ARRAYSORTINT", "a ARRAY<INT>", "ARRAY<INT>", "array_sort(a)"),
    ("ARRAYREVERSESTRING", "a ARRAY<STRING>", "ARRAY<STRING>", "reverse(a)"),
    ("ARRAYREVERSEINT", "a ARRAY<INT>", "ARRAY<INT>", "reverse(a)"),
    ("ARRAYDISTINCTSTRING", "a ARRAY<STRING>", "ARRAY<STRING>",
     "array_distinct(a)"),
    ("ARRAYDISTINCTINT", "a ARRAY<INT>", "ARRAY<INT>", "array_distinct(a)"),
    ("ARRAYUNIONSTRING", "a ARRAY<STRING>, b ARRAY<STRING>",
     "ARRAY<STRING>", "array_distinct(concat(a, b))"),
    ("ARRAYUNIONINT", "a ARRAY<INT>, b ARRAY<INT>", "ARRAY<INT>",
     "array_distinct(concat(a, b))"),
    ("ARRAYCONCATSTRING", "a ARRAY<STRING>, b ARRAY<STRING>",
     "ARRAY<STRING>", "concat(a, b)"),
    ("ARRAYCONCATINT", "a ARRAY<INT>, b ARRAY<INT>", "ARRAY<INT>",
     "concat(a, b)"),
    ("ARRAYCONTAINSSTRING", "a ARRAY<STRING>, v STRING", "BOOLEAN",
     "array_contains(a, v)"),
    ("ARRAYCONTAINSINT", "a ARRAY<INT>, v INT", "BOOLEAN",
     "array_contains(a, v)"),
    ("ARRAYINDEXOFSTRING", "a ARRAY<STRING>, v STRING", "INT",
     "array_position(a, v) - 1"),
    ("ARRAYINDEXOFINT", "a ARRAY<INT>, v INT", "INT",
     "array_position(a, v) - 1"),
    ("ARRAYSLICESTRING", "a ARRAY<STRING>, fromIdx INT, toIdx INT",
     "ARRAY<STRING>", "slice(a, fromIdx + 1, toIdx - fromIdx)"),
    ("ARRAYSLICEINT", "a ARRAY<INT>, fromIdx INT, toIdx INT",
     "ARRAY<INT>", "slice(a, fromIdx + 1, toIdx - fromIdx)"),
    # the remaining typed members of Pinot's documented MV-function
    # table **[P1.2]**: arrayConcat{Long,Float,Double} and
    # arrayRemove{Int,String} (remove EVERY occurrence of the value —
    # exactly Spark's array_remove)
    ("ARRAYCONCATLONG", "a ARRAY<BIGINT>, b ARRAY<BIGINT>",
     "ARRAY<BIGINT>", "concat(a, b)"),
    ("ARRAYCONCATFLOAT", "a ARRAY<FLOAT>, b ARRAY<FLOAT>",
     "ARRAY<FLOAT>", "concat(a, b)"),
    ("ARRAYCONCATDOUBLE", "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
     "ARRAY<DOUBLE>", "concat(a, b)"),
    ("ARRAYREMOVEINT", "a ARRAY<INT>, v INT", "ARRAY<INT>",
     "array_remove(a, v)"),
    ("ARRAYREMOVESTRING", "a ARRAY<STRING>, v STRING", "ARRAY<STRING>",
     "array_remove(a, v)"),
    # ---- string / JSON tails (round 8) -----------------------------------
    # Pinot StringFunctions.remove(input, search): strip every occurrence
    ("REMOVE", "s STRING, sub STRING", "STRING", "replace(s, sub, '')"),
    # Pinot hammingDistance(s1, s2): -1 when lengths differ, else the
    # count of differing positions (split('', '') is per-character)
    ("HAMMINGDISTANCE", "a STRING, b STRING", "INT",
     "CASE WHEN a IS NULL OR b IS NULL THEN cast(NULL AS INT) "
     "WHEN length(a) != length(b) THEN -1 "
     "ELSE aggregate(zip_with(split(a, ''), split(b, ''), "
     "(x, y) -> CAST(x != y AS INT)), 0, (acc, e) -> acc + e) END"),
    # Pinot isJson(str): parses-cleanly boolean (NULL in, NULL out)
    ("ISJSON", "s STRING", "BOOLEAN",
     "CASE WHEN s IS NULL THEN cast(NULL AS BOOLEAN) "
     "ELSE try_parse_json(s) IS NOT NULL END"),
    # Pinot's generic numeric MV transforms (TransformFunctionType:
    # arrayMin/arrayMax/arraySum/arrayAverage) — numeric MV in, DOUBLE
    # out; arrayAverage of an empty array is NULL here (loud, not NaN).
    ("ARRAYMIN", "a ARRAY<DOUBLE>", "DOUBLE", "array_min(a)"),
    ("ARRAYMAX", "a ARRAY<DOUBLE>", "DOUBLE", "array_max(a)"),
    ("ARRAYSUM", "a ARRAY<DOUBLE>", "DOUBLE",
     "aggregate(a, 0D, (s, x) -> s + x)"),
    ("ARRAYAVERAGE", "a ARRAY<DOUBLE>", "DOUBLE",
     "CASE WHEN size(a) = 0 THEN cast(null as double) "
     "ELSE aggregate(a, 0D, (s, x) -> s + x) / size(a) END"),
)


# name -> (signature, return type, body)
_BY_NAME = {name: (sig, ret, body) for name, sig, ret, body in _FUNCTIONS}
# the Pinot functions each body calls: CREATE FUNCTION resolves its body,
# so they must exist first (a body calling its own name means the builtin)
_DEPS = {
    name: tuple(dict.fromkeys(
        u for c, _, _ in sqltext.calls(body)
        if (u := c.upper()) in _BY_NAME and u != name
    ))
    for name, (_, _, body) in _BY_NAME.items()
}
_LOCK = threading.Lock()


def _create(spark: SparkSession, done: dict[str, bool], name: str) -> None:
    """Create ``name`` (its body's Pinot functions first) unless ``done``
    has it; record True, or False when Spark refuses to shadow a builtin
    of that name.  Caller holds :data:`_LOCK`."""
    if name in done:
        return
    for dep in _DEPS[name]:
        _create(spark, done, dep)
    sig, ret, body = _BY_NAME[name]
    try:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({sig}) RETURNS {ret} RETURN {body}"
        )
        done[name] = True
    except AnalysisException as exc:  # builtin-shadowing refusal
        if "CANNOT_REPLACE_NON_SQL_UDF" not in str(exc):
            raise
        done[name] = False


def register(spark: SparkSession, *names: str) -> None:
    """Register the Pinot functions among ``names`` (any case; other names
    are ignored) on ``spark``, each at most once per session."""
    done = getattr(spark, "_pinot_fns", {})
    todo = [u for n in names if (u := n.upper()) in _BY_NAME and u not in done]
    if not todo:
        return
    with _LOCK:
        done = spark.__dict__.setdefault("_pinot_fns", {})
        for name in todo:
            _create(spark, done, name)


def register_calls(spark: SparkSession, sql: str) -> None:
    """Register the Pinot functions that ``sql`` calls (call sites in code:
    literals and comments name nothing)."""
    register(spark, *(name for name, _, _ in sqltext.calls(sql)))


def register_all(spark: SparkSession) -> list[str]:
    """Register every Pinot-named SQL UDF; returns the names skipped because
    Spark refuses to replace its builtin of that name.  Two of them differ
    from Pinot and answer with Spark's meaning: ``DIV`` (Spark's ``div``
    divides integers; Pinot's divides doubles) and ``SUBSTR`` (Spark's
    start is 1-based; Pinot's is 0-based).  Neither is rewritten: the
    ``b53_array_scalar_fns`` query feeds ``substr(event_type, 1, 2)``
    through ``rewrite_pinot_aggregates`` meaning Spark's substr, and the
    DuckDB oracle statement it is checked against stays as it is."""
    register(spark, *_BY_NAME)
    return [n for n, ok in spark._pinot_fns.items() if not ok]
