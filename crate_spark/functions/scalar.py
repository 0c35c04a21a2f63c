"""Scalar functions missing from Spark's built-in library.

Reference surface: SURVEY.md §2.8 (148 files under
``server/src/main/java/io/crate/expression/scalar/``). Spark covers
~80% with same-name built-ins; these fill the notable gaps, each as a
pure Column composition (JVM-side, codegen-friendly, no Python in the
row path).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# date/time
# ---------------------------------------------------------------------------
def date_bin(stride: str | Column, ts: Column | str, origin: Column | str) -> Column:
    """Floor ``ts`` to an arbitrary interval anchored at ``origin``.

    Reference: ``expression/scalar/DateBinFunction.java:41`` — CrateDB
    semantics: bin start for negative offsets rounds toward -infinity
    (floor division), which ``F.floor`` gives us. ``stride`` is an
    interval string like '15 minutes' or a Column of day-time interval.

    Pure epoch arithmetic — stays in whole-stage codegen; at 100 TB this
    is the time-bucketing primitive for rollups, so it must not be a UDF.
    """
    # Casting a day-time interval to bigint yields units of its END field
    # (e.g. INTERVAL '15 minutes' -> 15); normalize to seconds first.
    iv = F.expr(f"INTERVAL '{stride}'") if isinstance(stride, str) else stride
    stride_us = iv.cast("interval second").cast("bigint") * 1_000_000
    ts_us = F.unix_micros(_col(ts).cast("timestamp"))
    origin_us = F.unix_micros(_col(origin).cast("timestamp"))
    binned = F.floor((ts_us - origin_us) / stride_us) * stride_us + origin_us
    return F.timestamp_micros(binned.cast("bigint"))


def age(ts1: Column | str, ts2: Column | str | None = None) -> Column:
    """PG ``age(ts[, ts2])``: symbolic interval between timestamps.

    Reference: ``expression/scalar/AgeFunction.java`` (joda Period —
    full y/m/d/h/m/s decomposition). PG semantics:

    - whole months by field arithmetic, truncated TOWARD ZERO (a
      1.5-month deficit is -1 month -15 days, not -2 months +15 days);
    - the day + time-of-day remainder from the actual microsecond
      difference after the month shift (so ``age('...12:00','...')``
      yields 12:00:00, not 0).
    """
    a = _col(ts1).cast("timestamp")
    b = (F.current_timestamp() if ts2 is None else _col(ts2)).cast("timestamp")

    def _shift(months: Column) -> Column:
        return b + F.make_interval(
            F.lit(0), months, F.lit(0), F.lit(0), F.lit(0), F.lit(0), F.lit(0)
        )

    raw = ((F.year(a) - F.year(b)) * 12 + (F.month(a) - F.month(b))).cast("int")
    # borrow one month when the field-difference overshoots the target
    # (day/time of a earlier than b's within the month), either direction
    over = (raw > 0) & (_shift(raw) > a)
    under = (raw < 0) & (_shift(raw) < a)
    months = raw - over.cast("int") + under.cast("int")
    anchored = _shift(months)
    micros = F.unix_micros(a) - F.unix_micros(anchored)
    days = (micros / F.lit(86_400_000_000)).cast("bigint")  # truncates toward 0
    rem_us = micros - days * F.lit(86_400_000_000)
    return F.make_interval(
        F.lit(0),
        months,
        F.lit(0),
        days.cast("int"),
        F.lit(0),
        F.lit(0),
        (rem_us / F.lit(1_000_000)).cast("decimal(18,6)"),
    )


# ---------------------------------------------------------------------------
# 3-valued logic
# ---------------------------------------------------------------------------
def ignore3vl(c: Column | str) -> Column:
    """NULL -> FALSE, so NOT/AND/OR behave 2-valued.

    Reference: ``expression/scalar/Ignore3vlFunction``.
    """
    return F.coalesce(_col(c), F.lit(False))


def quote_ident(c: Column | str) -> Column:
    """PG ``quote_ident``: wrap in double quotes (doubling embedded
    quotes) unless the string is already a safe lowercase identifier
    (reference ``scalar/string/QuoteIdentFunction.java``)."""
    v = _col(c)
    return F.when(
        v.rlike("^[a-z_][a-z0-9_]*$"), v
    ).otherwise(F.concat(F.lit('"'), F.replace(v, F.lit('"'), F.lit('""')), F.lit('"')))


# ---------------------------------------------------------------------------
# interval columns
# ---------------------------------------------------------------------------
# CrateDB's INTERVAL column type is a (months, days, micros) Period
# (``types/IntervalType.java:38``, ``io/crate/interval/``). Spark's
# CalendarIntervalType is not comparable/collectable from PySpark, so
# interval COLUMNS are carried as struct<months:int, days:int,
# micros:bigint> with the PG/CrateDB operations defined below.

#: PG justification constants: 1 month = 30 days, 1 day = 24 h —
#: exactly how IntervalType.compareTo normalizes before comparing.
_MICROS_PER_DAY = 86_400_000_000
_MICROS_PER_MONTH = 30 * _MICROS_PER_DAY


def interval_make(months, days, micros) -> Column:
    """Construct an interval struct column."""

    def c(v):
        return F.lit(v) if isinstance(v, int) else _col(v)

    return F.struct(
        c(months).cast("int").alias("months"),
        c(days).cast("int").alias("days"),
        c(micros).cast("bigint").alias("micros"),
    )


def interval_total_micros(iv: Column | str) -> Column:
    """Normalized magnitude for comparisons (IntervalType.java:38
    compareTo: months -> 30 days, days -> 24 h, then total micros)."""
    v = _col(iv)
    return (
        v["months"].cast("bigint") * F.lit(_MICROS_PER_MONTH)
        + v["days"].cast("bigint") * F.lit(_MICROS_PER_DAY)
        + v["micros"]
    )


def interval_sum(iv: Column | str) -> Column:
    """SUM aggregate over interval columns: field-wise sums
    (``impl/IntervalSumAggregation.java`` — Period.plus per field)."""
    v = _col(iv)
    return F.struct(
        F.sum(v["months"]).cast("int").alias("months"),
        F.sum(v["days"]).cast("int").alias("days"),
        F.sum(v["micros"]).cast("bigint").alias("micros"),
    )


# ---------------------------------------------------------------------------
# network
# ---------------------------------------------------------------------------
def ip_in_cidr(ip: Column | str, cidr: str) -> Column:
    """IPv4 ``ip << 'net/prefix'`` containment (CIDROperator.java).

    Converts dotted-quad to uint32 with JVM string ops — no UDF.
    """
    net, _, prefix = cidr.partition("/")
    prefix_len = int(prefix)
    mask = (0xFFFFFFFF << (32 - prefix_len)) & 0xFFFFFFFF if prefix_len else 0

    def ip_to_long(c: Column) -> Column:
        # try_cast: malformed addresses yield NULL (and the predicate
        # NULL) instead of an ANSI cast error — IpType validation
        # rejects them rather than aborting the scan
        parts = F.split(c, r"\.")
        return (
            parts.getItem(0).try_cast("bigint") * 16777216
            + parts.getItem(1).try_cast("bigint") * 65536
            + parts.getItem(2).try_cast("bigint") * 256
            + parts.getItem(3).try_cast("bigint")
        )

    net_long = sum(
        int(p) * m for p, m in zip(net.split("."), (16777216, 65536, 256, 1))
    )
    return ip_to_long(_col(ip)).cast("bigint").bitwiseAND(F.lit(mask).cast("bigint")) == F.lit(
        net_long & mask
    )


# ---------------------------------------------------------------------------
# uri
# ---------------------------------------------------------------------------
def parse_uri(c: Column | str) -> Column:
    """``parse_uri(text)`` -> struct(scheme, host, port, path, query, fragment).

    Reference: ``expression/scalar/ParseUriFunction``; built on Spark's
    JVM ``parse_url``.
    """
    u = _col(c)
    return F.struct(
        F.parse_url(u, F.lit("PROTOCOL")).alias("scheme"),
        F.parse_url(u, F.lit("HOST")).alias("host"),
        F.regexp_extract(F.parse_url(u, F.lit("AUTHORITY")), r":(\d+)$", 1)
        .try_cast("int")
        .alias("port"),
        F.parse_url(u, F.lit("PATH")).alias("path"),
        F.parse_url(u, F.lit("QUERY")).alias("query"),
        F.parse_url(u, F.lit("REF")).alias("fragment"),
    )


# ---------------------------------------------------------------------------
# arrays (reference array_* functions Spark spells differently or lacks)
# ---------------------------------------------------------------------------
def array_unique(*cols: Column | str) -> Column:
    """``array_unique(a[, b])`` — distinct elements of concatenated arrays
    (reference ``scalar/ArrayUniqueFunction``)."""
    arrs = [_col(c) for c in cols]
    merged = arrs[0] if len(arrs) == 1 else F.concat(*arrs)
    return F.array_distinct(merged)


def array_difference(a: Column | str, b: Column | str) -> Column:
    """Elements of ``a`` not in ``b`` (reference ``ArrayDifferenceFunction``).
    Unlike array_except, preserves duplicates in ``a`` — uses a filter HOF."""
    return F.filter(_col(a), lambda x: ~F.array_contains(_col(b), x))


def array_overlap(a: Column | str, b: Column | str) -> Column:
    """``array_overlap/&&`` — true if arrays share any element."""
    return F.arrays_overlap(_col(a), _col(b))


def array_sum(c: Column | str) -> Column:
    """``array_sum`` (reference ``ArraySummationFunction``) via aggregate HOF."""
    return F.aggregate(_col(c), F.lit(0.0), lambda acc, x: acc + x.cast("double"))


def array_avg(c: Column | str) -> Column:
    """``array_avg`` — NULL-element-aware mean."""
    arr = F.filter(_col(c), lambda x: x.isNotNull())
    return F.when(F.size(arr) > 0, array_sum(arr) / F.size(arr))


def array_min(c: Column | str) -> Column:
    return F.array_min(_col(c))


def array_max(c: Column | str) -> Column:
    return F.array_max(_col(c))


def array_slice(c: Column | str, frm, to) -> Column:
    """``array_slice(arr, from, to)`` — 1-based INCLUSIVE bounds
    (reference ``scalar/ArraySliceFunction``; docs
    general/builtins/scalar-functions.rst). Spark's slice takes
    (start, length), so length = to - from + 1, clamped at 0."""
    frm_c = frm if isinstance(frm, Column) else F.lit(frm)
    to_c = to if isinstance(to, Column) else F.lit(to)
    return F.slice(_col(c), frm_c, F.greatest(to_c - frm_c + F.lit(1), F.lit(0)))


def array_unnest(c: Column | str) -> Column:
    """``array_unnest`` — flatten one nesting level (reference
    ``scalar/ArrayUnnestFunction``); the scalar sibling of UNNEST."""
    return F.flatten(_col(c))


def string_to_array(c: Column | str, sep, null_str=None) -> Column:
    """PG ``string_to_array(str, sep[, null_string])`` (reference
    ``scalar/StringToArrayFunction``): split on a LITERAL separator
    (regex metachars escaped); elements equal to ``null_string``
    become NULL."""
    import re as _re

    sep_lit = sep if isinstance(sep, Column) else F.lit(_re.escape(sep))
    parts = F.split(_col(c), sep_lit)
    if null_str is None:
        return parts
    ns = null_str if isinstance(null_str, Column) else F.lit(null_str)
    return F.transform(parts, lambda x: F.when(x != ns, x))


def gen_random_text_uuid() -> Column:
    """``gen_random_text_uuid()`` (reference
    ``scalar/GenRandomTextUUIDFunction``) — random text id; maps to
    Spark's uuid(). Nondeterministic by contract -> no oracle."""
    return F.uuid()


# ---------------------------------------------------------------------------
# PG formatting
# ---------------------------------------------------------------------------
def to_char(ts: str, fmt: str) -> Column:
    """PG ``to_char(timestamp, template)`` — the reference's FULL
    template engine (``formatting/PGDateTimeTemplates.java``: every
    token spelling, padding rules, th/TH ordinal suffixes), compiled at
    plan time by :mod:`crate_spark.functions.pgformat` into one
    expression of Spark built-ins — JVM-side, codegen-eligible, no UDF.
    ``ts`` is an SQL expression string (column name or expression); the
    compiler splices it into the generated built-in calls."""
    from crate_spark.functions.pgformat import compile_to_sql

    return F.expr(compile_to_sql(f"CAST({ts} AS TIMESTAMP)", fmt))


#: MySQL date_format %-codes -> java.time patterns. Reference:
#: ``scalar/TimestampFormatter.java`` ("Formatting DateTime instances
#: using the MySQL date_format format"). Longest-match-first.
_MYSQL_FMT_MAP = [
    ("%%", "%"), ("%Y", "yyyy"), ("%y", "yy"), ("%M", "MMMM"), ("%m", "MM"),
    ("%c", "M"), ("%d", "dd"), ("%e", "d"), ("%H", "HH"), ("%k", "H"),
    ("%h", "hh"), ("%I", "hh"), ("%i", "mm"), ("%S", "ss"), ("%s", "ss"),
    ("%f", "SSSSSS"), ("%p", "a"), ("%b", "MMM"), ("%a", "EEE"),
    ("%W", "EEEE"), ("%j", "DDD"), ("%T", "HH:mm:ss"), ("%r", "hh:mm:ss a"),
]


def _mysql_template_to_java(fmt: str) -> str:
    out, run, i = [], [], 0

    def flush():
        if run:
            text = "".join(run)
            if any(c.isalpha() for c in text):
                out.append("'" + text + "'")
            else:
                out.append(text)
            run.clear()

    while i < len(fmt):
        for key, java in _MYSQL_FMT_MAP:
            if fmt.startswith(key, i):
                flush()
                out.append(java)
                i += len(key)
                break
        else:
            run.append(fmt[i])
            i += 1
    flush()
    return "".join(out)


def date_format_mysql(ts: Column | str, fmt: str) -> Column:
    """CrateDB ``date_format(format, timestamp)`` with MySQL %-codes
    (``scalar/DateFormatFunction.java`` + ``TimestampFormatter.java``),
    translated at plan time — JVM-side, codegen-eligible."""
    return F.date_format(_col(ts), _mysql_template_to_java(fmt))


# ---------------------------------------------------------------------------
# hashes
# ---------------------------------------------------------------------------
try:  # pragma: no cover - native wheel, faster when present
    import blake3 as _blake3_mod
except ImportError:
    _blake3_mod = None


def blake3(c: Column | str) -> Column:
    """``blake3(text)`` hex digest (reference scalar ``blake3``,
    ``HashFunctions.java:43,61`` — commons-codec Blake3, 32-byte
    output, hex).

    Arrow-batched pandas UDF: the native ``blake3`` wheel when
    installed, else the pure-Python spec implementation
    (``functions/_blake3.py``) — cross-validated against the JVM's
    commons-codec Blake3 and the reference's test vectors in
    tests/test_functions.py. NULL -> NULL (STRICTNULL)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if _blake3_mod is not None:
        def _hex(v: str) -> str:
            return _blake3_mod.blake3(v.encode()).hexdigest()
    else:
        from crate_spark.functions._blake3 import blake3_hex

        def _hex(v: str) -> str:
            return blake3_hex(v.encode())

    @pandas_udf("string")
    def _b3(s: pd.Series) -> pd.Series:
        return s.map(lambda v: _hex(v) if v is not None else None)

    return _b3(_col(c))


def _blake3_batch(s: "pd.Series") -> "pd.Series":  # noqa: F821
    """Arrow-batch blake3 (SQL registration; engine.CrateSession)."""
    if _blake3_mod is not None:
        return s.map(
            lambda v: _blake3_mod.blake3(v.encode()).hexdigest()
            if v is not None else None
        )
    from crate_spark.functions._blake3 import blake3_hex

    return s.map(lambda v: blake3_hex(v.encode()) if v is not None else None)
