"""Scalar function surface (SURVEY.md §2.9): the SSIS expression
language + ClickHouse/PG snippet functions, mapped 1:1 onto built-in
Spark SQL expressions.

Every wrapper returns a plain Column built from ``pyspark.sql.functions``
— JVM-side, codegen'd, never a Python UDF — so using these names keeps
plans on the fast path while giving reference users their vocabulary:

  SSIS expression language  PRO/Глава 06, Глава 11:14-23
  ClickHouse array/json     DM/arrayZip.md, DM/Правильное построение...
  PG string/date snippets   SCRIPTS/Скрипт для миграции...md:29-68
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from bi_etl_and_integration_spark.operators.fuzzy import tokenize

__all__ = [
    "findstring", "substring", "left", "right", "length", "trim",
    "ltrim", "rtrim", "replace", "replacenull", "isnull_ternary",
    "upper", "lower", "concat_ws", "token", "reverse_str",
    "getdate", "getutcdate", "dateadd", "datediff", "datepart",
    "year", "month", "day", "date_trunc",
    "codepoint", "char_of", "hex_of", "sign", "square", "power",
    "abs_of", "ceiling", "floor_of", "round_half_up",
    "cast_dt", "try_cast_dt", "json_value", "json_object",
    "levenshtein_similarity", "soundex_of", "null_if", "coalesce",
]

# ----------------------------------------------------- string (DT_WSTR)


def findstring(s: Column | str, find: str, occurrence: int = 1) -> Column:
    """SSIS FINDSTRING(s, find, occurrence): 1-based position of the
    n-th occurrence, 0 when absent (PRO/Глава 11:17)."""
    c = F.col(s) if isinstance(s, str) else s
    if occurrence == 1:
        return F.instr(c, find)
    # n-th occurrence via successive locate (SQL-registry call: the
    # Python locate() wrapper only takes an int start); once a step
    # misses (0) the result stays 0 instead of wrapping around
    pos = F.lit(0)
    for i in range(occurrence):
        nxt = F.call_function("locate", F.lit(find), c, pos + 1)
        pos = nxt if i == 0 else F.when(pos == 0, F.lit(0)).otherwise(nxt)
    return pos


def substring(s: Column | str, start: int | Column,
              length: int | Column) -> Column:
    """SSIS SUBSTRING — 1-based, like Spark's."""
    return F.substring(F.col(s) if isinstance(s, str) else s, start, length)


def left(s: Column | str, n: int) -> Column:
    return F.expr(f"left({_n(s)}, {n})") if isinstance(s, str) \
        else F.substring(s, 1, n)


def right(s: Column | str, n: int) -> Column:
    c = F.col(s) if isinstance(s, str) else s
    return F.substring(c, -n, n)


def length(s: Column | str) -> Column:
    """SSIS LEN."""
    return F.length(F.col(s) if isinstance(s, str) else s)


def trim(s: Column | str) -> Column:
    return F.trim(F.col(s) if isinstance(s, str) else s)


def ltrim(s: Column | str) -> Column:
    return F.ltrim(F.col(s) if isinstance(s, str) else s)


def rtrim(s: Column | str) -> Column:
    return F.rtrim(F.col(s) if isinstance(s, str) else s)


def replace(s: Column | str, search: str, repl: str) -> Column:
    """SSIS REPLACE (literal, not regex)."""
    c = F.col(s) if isinstance(s, str) else s
    return F.replace(c, F.lit(search), F.lit(repl))


def upper(s: Column | str) -> Column:
    return F.upper(F.col(s) if isinstance(s, str) else s)


def lower(s: Column | str) -> Column:
    return F.lower(F.col(s) if isinstance(s, str) else s)


def concat_ws(sep: str, *cols: Column | str) -> Column:
    """PG ``||`` / SSIS ``+`` concatenation with separator
    (FullName = FirstName + ' ' + LastName, PRO/Глава 12:33-40)."""
    return F.concat_ws(sep, *cols)


def token(s: Column | str, delimiters: str, occurrence: int) -> Column:
    """SSIS TOKEN(s, delimiters, n): n-th token, 1-based; empty tokens
    skipped (split on runs of any delimiter char)."""
    import re as _re
    pattern = "[" + _re.escape(delimiters) + "]+"
    return F.element_at(tokenize(s, lower=False, pattern=pattern),
                        occurrence)


def reverse_str(s: Column | str) -> Column:
    return F.reverse(F.col(s) if isinstance(s, str) else s)


def _n(s: str) -> str:
    return f"`{s}`"

# -------------------------------------------------- null / conditional


def replacenull(c: Column | str, default) -> Column:
    """SSIS REPLACENULL (PRO/Глава 06:118-122)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.coalesce(col, F.lit(default))


def isnull_ternary(c: Column | str, if_null, if_not_null) -> Column:
    """SSIS ``ISNULL(x) ? a : b`` idiom."""
    col = F.col(c) if isinstance(c, str) else c
    return F.when(col.isNull(), F.lit(if_null)).otherwise(F.lit(if_not_null))


def null_if(c: Column | str, value) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.nullif(col, F.lit(value))


def coalesce(*cols: Column | str) -> Column:
    return F.coalesce(*[F.col(c) if isinstance(c, str) else c for c in cols])

# ----------------------------------------------------------- date/time


def getdate() -> Column:
    """SSIS GETDATE (PRO/Глава 06:93) — session-local now."""
    return F.current_timestamp()


def getutcdate() -> Column:
    return F.to_utc_timestamp(F.current_timestamp(), "UTC")


_DATEPART_ALIASES = {
    "yy": "year", "yyyy": "year", "year": "year",
    "mm": "month", "m": "month", "month": "month",
    "dd": "day", "d": "day", "day": "day",
    "hh": "hour", "hour": "hour",
    "mi": "minute", "n": "minute", "minute": "minute",
    "ss": "second", "s": "second", "second": "second",
    "wk": "week", "ww": "week", "week": "week",
    "qq": "quarter", "q": "quarter", "quarter": "quarter",
    "dw": "dow", "weekday": "dow",
    "dy": "doy", "dayofyear": "doy",
}


def dateadd(part: str, n: int | Column, d: Column | str) -> Column:
    """SSIS/T-SQL DATEADD(part, n, date) (PRO/Глава 06:98-114)."""
    unit = _DATEPART_ALIASES.get(part.lower(), part.lower())
    c = F.col(d) if isinstance(d, str) else d
    return F.timestamp_add(unit.upper(),
                           F.lit(n) if isinstance(n, int) else n, c)


def datediff(part: str, start: Column | str, end: Column | str) -> Column:
    """T-SQL DATEDIFF(part, start, end) — boundary-crossing count for
    day-level parts, full-unit diff otherwise (the HoursOfDataLossRisk
    formula, PRACT/004 CDC.md:292-298)."""
    unit = _DATEPART_ALIASES.get(part.lower(), part.lower())
    s = F.col(start) if isinstance(start, str) else start
    e = F.col(end) if isinstance(end, str) else end
    return F.timestamp_diff(unit.upper(), s, e)


def datepart(part: str, d: Column | str) -> Column:
    """SSIS DATEPART (PRO/Глава 06:144-148)."""
    unit = _DATEPART_ALIASES.get(part.lower(), part.lower())
    c = F.col(d) if isinstance(d, str) else d
    return F.date_part(F.lit(unit), c)


def year(d: Column | str) -> Column:
    return F.year(F.col(d) if isinstance(d, str) else d)


def month(d: Column | str) -> Column:
    return F.month(F.col(d) if isinstance(d, str) else d)


def day(d: Column | str) -> Column:
    return F.dayofmonth(F.col(d) if isinstance(d, str) else d)


def date_trunc(part: str, d: Column | str) -> Column:
    c = F.col(d) if isinstance(d, str) else d
    return F.date_trunc(part, c)

# ---------------------------------------------------------------- math


def codepoint(s: Column | str) -> Column:
    """SSIS CODEPOINT — Unicode code point of the first char."""
    return F.ascii(F.col(s) if isinstance(s, str) else s)


def char_of(n: Column | str) -> Column:
    return F.char(F.col(n) if isinstance(n, str) else n)


def hex_of(c: Column | str) -> Column:
    return F.hex(F.col(c) if isinstance(c, str) else c)


def sign(c: Column | str) -> Column:
    return F.signum(F.col(c) if isinstance(c, str) else c)


def square(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col * col


def power(c: Column | str, p) -> Column:
    return F.pow(F.col(c) if isinstance(c, str) else c, p)


def abs_of(c: Column | str) -> Column:
    return F.abs(F.col(c) if isinstance(c, str) else c)


def ceiling(c: Column | str) -> Column:
    return F.ceil(F.col(c) if isinstance(c, str) else c)


def floor_of(c: Column | str) -> Column:
    return F.floor(F.col(c) if isinstance(c, str) else c)


def round_half_up(c: Column | str, scale: int = 0) -> Column:
    """SSIS ROUND — half-up like T-SQL (Spark's round is half-up for
    positive values too; HALF_EVEN would be bround)."""
    return F.round(F.col(c) if isinstance(c, str) else c, scale)

# ------------------------------------------------------ casts / json


def cast_dt(c: Column | str, dtype: str) -> Column:
    """SSIS ``(DT_*)`` cast (PRO/Глава 06:61): strict — errors under
    ANSI semantics on bad input (the divert-row path uses try_cast)."""
    return (F.col(c) if isinstance(c, str) else c).cast(dtype)


def try_cast_dt(c: Column | str, dtype: str) -> Column:
    """Cast with divertable failure: null on bad input, pair with
    ``cleanse.cast_with_quarantine`` for the error stream."""
    return (F.col(c) if isinstance(c, str) else c).try_cast(dtype)


def json_value(c: Column | str, path: str) -> Column:
    """ClickHouse/PG json extraction on String-stored JSON
    (SCRIPTS/Перелив...md:188-189)."""
    return F.get_json_object(F.col(c) if isinstance(c, str) else c, path)


def json_object(c: Column | str, schema: str) -> Column:
    """Parse a JSON string column into a typed struct."""
    return F.from_json(F.col(c) if isinstance(c, str) else c, schema)

# ------------------------------------------------------ similarity


def levenshtein_similarity(a: Column | str, b: Column | str) -> Column:
    """Fuzzy-score analog in [0,1] (PRO/Глава 11:33)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return (1.0 - F.levenshtein(ca, cb)
            / F.greatest(F.length(ca), F.length(cb), F.lit(1))
            ).cast("double")


def soundex_of(c: Column | str) -> Column:
    return F.soundex(F.col(c) if isinstance(c, str) else c)
