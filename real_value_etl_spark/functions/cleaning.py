"""Column-expression library: every row-wise pandas UDF in the reference
re-expressed as a Catalyst expression (SURVEY.md §2.8/§2.10 — all 14 of the
reference's apply/lambda UDFs compile to built-ins; uuid5 is handled in
ids.py). Staying JVM-side keeps the hot path inside whole-stage codegen,
which is the difference between O(cores) and O(python-interpreter) at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EPOCH = "1970-01-01 00:00:00"


def to_num(col: Column | str) -> Column:
    """pd.to_numeric(errors='coerce') equivalent: cast -> null on bad input
    (reference transformation.py:33-35,39-47 and ~20 more sites)."""
    c = F.col(col) if isinstance(col, str) else col
    # try_cast: Spark 4 runs ANSI mode by default, where cast() throws on
    # malformed input; errors='coerce' semantics require null-on-failure.
    return c.try_cast("double")


def to_int(col: Column | str) -> Column:
    """to_numeric(...).astype('Int64') and np.floor(to_numeric(...))
    .astype('Int64') (reference transformation.py:33-35, :51-53, :60-62,
    :264-266 etc). Floors the double first so '7.0' -> 7 like pandas'
    Int64 cast of a float."""
    return F.floor(to_num(col)).cast("long")


def norm_ts(col: Column | str) -> Column:
    """The reference's 4-step timestamp normalization
    (transformation.py:68-78, :272-282, :428-431):
    parse UTC (coerce->null) -> drop tz -> NaT->epoch -> floor to second.
    Session timezone is pinned to UTC (session.py), so to_timestamp already
    yields naive-UTC; date_trunc replicates .dt.floor('s')."""
    c = F.col(col) if isinstance(col, str) else col
    ts = F.date_trunc("second", c.try_cast("timestamp"))
    return F.coalesce(ts, F.lit(EPOCH).cast("timestamp"))


def fill_str(col: Column | str, default: str = "") -> Column:
    """fillna('')/fillna('Unknown') on strings (transformation.py:48-50 etc)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.cast("string"), F.lit(default))


def fill_num(col: Column | str, default: float = 0.0) -> Column:
    """fillna(0) numeric defaults (transformation.py:116-118, :142-147)."""
    return F.coalesce(to_num(col), F.lit(float(default)))


def bool_flag(col: Column | str) -> Column:
    """`1 if pd.notna(x) and x else 0` (transformation.py:119-124).

    Canonical semantics (documented deviation, SURVEY §7 risk list): CSV
    booleans arrive as 'True'/'False'/''/null; pandas' inference turns a
    clean True/False column into real bools, so 'False' -> 0. We replicate
    the *inferred-bool* behavior: false-ish strings ('false', '0', ''),
    null -> 0, anything else -> 1.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.lower(F.trim(c.cast("string")))
    return (
        F.when(c.isNull() | s.isin("", "false", "0", "0.0", "nan", "none"), 0)
        .otherwise(1)
        .cast("int")
    )


def parse_str_list(col: Column | str, element_type: str = "string") -> Column:
    """Parse a stringified Python list from CSV — the reference uses
    eval() (`_safe_eval`, transformation.py:204-212, :361-369, :539-546);
    we parse with from_json after normalizing quotes, never executing code
    (SURVEY §1.4.2). Non-list / unparseable / null -> [] exactly like
    `_safe_eval`'s fallback.
    """
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c.cast("string"))
    # '[...]' with single quotes -> JSON double quotes. Python repr escapes
    # embedded apostrophes as \\' - park those on a \\x01 placeholder so they
    # survive the quote swap as literal apostrophes.
    jsonish = F.regexp_replace(trimmed, r"\\'", "\x01")
    jsonish = F.regexp_replace(jsonish, "'", '"')
    jsonish = F.regexp_replace(jsonish, "\x01", "'")
    parsed = F.from_json(jsonish, f"array<{element_type}>")
    return F.when(
        trimmed.isNotNull() & trimmed.startswith("["), F.coalesce(parsed, F.array())
    ).otherwise(F.array().cast(f"array<{element_type}>"))


def prefix_each(arr: Column, base: str, strip_leading_slash: bool = False) -> Column:
    """Array map: prefix every element with a base URL
    (transformation.py:157-159,185-187 domclick; :357-359 yandex which also
    lstrip('/')s each element first)."""
    if strip_leading_slash:
        return F.transform(
            arr, lambda u: F.concat(F.lit(base), F.regexp_replace(u, "^/+", ""))
        )
    return F.transform(arr, lambda u: F.concat(F.lit(base), u))


def bounded_hash(col: Column | str) -> Column:
    """abs(hash(x)) % 10**10 fallback ids (transformation.py:98-104,
    :418-419). Python's hash() is per-process salted => nondeterministic;
    we use xxhash64 instead (deterministic, SURVEY §1.4.1)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.abs(F.xxhash64(c.cast("string"))), F.lit(10**10)).cast("long")


def extract_offer_id(url: Column | str) -> Column:
    """`/offer/(\\d+)` id extraction, null when absent
    (transformation.py:371-384)."""
    c = F.col(url) if isinstance(url, str) else url
    m = F.regexp_extract(c, r"/offer/(\d+)", 1)
    return F.when(m != "", m.cast("long"))


def array_of_nonblank(*cols: Column) -> Column:
    """Build array from scalar columns, dropping null/blank entries
    (avito metro names, transformation.py:467-470)."""
    arr = F.array(*[c.cast("string") for c in cols])
    return F.filter(arr, lambda x: x.isNotNull() & (F.trim(x) != ""))


def array_of_nonnull_doubles(*cols: Column) -> Column:
    """Array from numeric scalars, NaN/null filtered out
    (avito metro distances, transformation.py:472-481)."""
    arr = F.array(*[to_num(c) for c in cols])
    return F.filter(arr, lambda x: x.isNotNull() & ~F.isnan(x))
