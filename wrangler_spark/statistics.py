"""Column statistics — parity with the service's summary endpoint
(``wrangler-core/.../statistics/BasicStatistics.java:40-83``): per-column
null/empty/non-null fractions plus regex-typed fractions, computed as ONE
aggregation over the frame unpivoted to one row per (column index, value):
the same ten averages whatever the frame's width, grouped by the column's
index (so a name holding any character is its own key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# type-detection regexes, mirroring the reference's ColumnTypeDetector set
_TYPE_RES = {
    "integer": r"^[+-]?\d+$",
    "number": r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$",
    "boolean": r"^(?i)(true|false|yes|no|t|f)$",
    "date": r"^\d{4}-\d{2}-\d{2}([ T].*)?$",
    "time": r"^\d{1,2}:\d{2}(:\d{2})?$",
    "email": r"^[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}$",
    "ip": r"^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$",
    "url": r"^(https?|ftp)://[^\s/$.?#].[^\s]*$",
}


def _col(name: str):
    """A column by its exact name (dots and backticks taken literally)."""
    return F.col("`" + name.replace("`", "``") + "`")


def basic_statistics(df: DataFrame) -> dict[str, dict[str, float]]:
    """{column: {'general.null': f, 'general.empty': f, 'general.non-null': f,
    'types.<t>': f, ...}} — fractions in [0,1] like the reference's
    summary() response; a type appears only when some value has it. Every
    column is keyed, a zero-row frame's too (null and empty 0.0,
    non-null 1.0)."""
    cols = df.columns
    if not cols:
        return {}
    cells = F.inline(F.array(*[
        F.struct(F.lit(i).alias("i"), _col(c).isNull().alias("n"), _col(c).cast("string").alias("s"))
        for i, c in enumerate(cols)
    ]))
    s = F.col("s")
    aggs = [
        F.avg(F.col("n").cast("double")).alias("null"),
        F.avg((~F.col("n") & (F.trim(s) == "")).cast("double")).alias("empty"),
        *(F.avg(F.coalesce(s.rlike(pat), F.lit(False)).cast("double")).alias(t)
          for t, pat in _TYPE_RES.items()),
    ]
    found = {r["i"]: r for r in df.select(cells).groupBy("i").agg(*aggs).collect()}
    out: dict[str, dict[str, float]] = {}
    for i, c in enumerate(cols):
        r = found.get(i)
        d = out[c] = {"general.null": r["null"] if r else 0.0, "general.empty": r["empty"] if r else 0.0}
        for t in _TYPE_RES:
            if r and r[t]:
                d[f"types.{t}"] = r[t]
        d["general.non-null"] = 1.0 - d["general.null"]
    return out
