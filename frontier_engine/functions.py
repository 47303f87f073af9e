"""Catalyst-native operator library (SURVEY §2.2–§2.4, §2.3 native rows).

Everything here compiles to JVM expressions inside whole-stage codegen —
no Python workers.  These are the engine's equivalents of the reference's
pandas post-processing stage (main.py:160-224) and its scalar helpers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# F1 — post-processing filters (main.py:171-186)
# ---------------------------------------------------------------------------


def op_filter(df: DataFrame, column: str, value, condition: str = "equals") -> DataFrame:
    """main.py:171-186 — equals/contains/greater_than/less_than; missing
    column → warn + no-op (the reference logs and skips)."""
    if column not in df.columns:
        return df
    c = F.col(column)
    if condition == "equals":
        return df.filter(c == F.lit(value))
    if condition == "contains":
        # pandas .astype(str).str.contains(value, na=False)
        return df.filter(c.cast("string").contains(str(value)))
    if condition == "greater_than":
        return df.filter(c > F.lit(value))
    if condition == "less_than":
        return df.filter(c < F.lit(value))
    return df


# ---------------------------------------------------------------------------
# A4 — sort (main.py:188-195)
# ---------------------------------------------------------------------------


def op_sort(df: DataFrame, column: str, ascending: bool = True) -> DataFrame:
    if column not in df.columns:
        return df
    return df.orderBy(F.col(column).asc() if ascending else F.col(column).desc())


# ---------------------------------------------------------------------------
# A5 — deduplicate keep-first (main.py:197-206)
# ---------------------------------------------------------------------------


def op_deduplicate(df: DataFrame, columns: list[str], order_by: list) -> DataFrame:
    """pandas drop_duplicates keeps the FIRST row in frame order; Spark has
    no frame order, so determinism requires an explicit order key
    (SURVEY §7.4): keep the min(order_by) row per duplicate group.
    ``order_by`` entries may be column names or Column sort expressions
    (the pipeline interpreter passes the current sort order through)."""
    valid = [c for c in columns if c in df.columns]
    subset = valid if valid else df.columns
    w = Window.partitionBy(*subset).orderBy(*[F.col(c) if isinstance(c, str) else c for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# scalar helpers (native rows of SURVEY §2.3)
# ---------------------------------------------------------------------------


def humanize_size_col(num_bytes: Column) -> Column:
    """E18 (storage.py:185-191) — 1024-step units, one decimal."""
    b = num_bytes.cast("double")
    kb, mb, gb, tb = (b / 1024.0, b / 1024.0**2, b / 1024.0**3, b / 1024.0**4)
    # format_string, not format_number: format_number inserts thousands
    # separators ('1,024.0 KB') where the reference f'{v:.1f}' and the
    # DuckDB printf('%.1f') oracle emit '1024.0'
    fmt = lambda v, u: F.concat(F.format_string("%.1f", v), F.lit(f" {u}"))  # noqa: E731
    return (
        F.when(b < 1024, fmt(b, "B"))
        .when(kb < 1024, fmt(kb, "KB"))
        .when(mb < 1024, fmt(mb, "MB"))
        .when(gb < 1024, fmt(gb, "GB"))
        .otherwise(fmt(tb, "TB"))
    )


def domain_route_col(url: Column) -> Column:
    """F7 (scraper.py:755, :889; cli.py:138) — domain predicate dispatch as
    a routing column: the reference's ``'youtube.com' in url`` chains become
    one expression that downstream ops branch on (youtube → E13 id
    extraction, soundcloud → E14, else the generic page path)."""
    return (
        F.when(url.contains("youtube.com") | url.contains("youtu.be"), F.lit("youtube"))
        .when(url.contains("soundcloud.com"), F.lit("soundcloud"))
        .otherwise(F.lit("generic"))
    )
