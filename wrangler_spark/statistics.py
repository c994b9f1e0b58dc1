"""Column statistics — parity with the service's summary endpoint
(``wrangler-core/.../statistics/BasicStatistics.java:40-83``): per-column
null/empty/non-null fractions plus regex-typed fractions.

The frame is a bounded sample (the design workspace's, at most a few
hundred rows): bound it first, since every row's flags come back to the
driver. Spark evaluates one projection, one array of flag bitmasks per
row (``transform`` over the row's cells cast to string: null, blank after
``trim``, and each ``_TYPE_RES`` pattern under ``RLIKE``); the driver
counts the bits and divides by the row count, which gives the same
doubles an ``avg`` of 0/1 values does. Over a driver-local sample (a
``LocalTableScan``, as a ``Workspace`` holds) the optimizer folds the
projection into the local table, so the summary runs no Spark job.

The projection is one SQL string applied with ``selectExpr``: the same
flags built as ``Column`` trees cost a py4j round-trip per node. Over a
100-row, 22-column local sample (220 flags) the trees took 0.84 s a
summary and the one string 44 ms (medians of 9, 4 vCPU, ``local[2]``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

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

def _flags(verbatim: bool) -> str:
    """The SQL lambda body of one cell's bitmask: bit 0 null, bit 1
    empty, bit 2 + k the k-th ``_TYPE_RES`` pattern. ``verbatim``: the
    parser takes string literals as written
    (``spark.sql.parser.escapedStringLiterals``), so a backslash is not
    doubled."""
    def lit(pat):
        return pat if verbatim else pat.replace("\\", "\\\\")

    return "IF(s IS NULL, 1, IF(trim(s) = '', 2, 0) | {})".format(" | ".join(
        f"IF(s RLIKE '{lit(pat)}', {4 << k}, 0)" for k, pat in enumerate(_TYPE_RES.values())))


def basic_statistics(df: DataFrame) -> dict[str, dict[str, float]]:
    """{column: {'general.null': f, 'general.empty': f, 'general.non-null': f,
    'types.<t>': f, ...}} — fractions in [0,1] like the reference's
    summary() response; a type appears only when some value has it. Every
    column is keyed, a zero-row frame's too (null and empty 0.0,
    non-null 1.0). Bound ``df`` first (a design sample, or ``limit``):
    every row's flags are collected to the driver."""
    cols = df.columns
    if not cols:
        return {}
    cells = ", ".join("CAST(`{}` AS STRING)".format(c.replace("`", "``")) for c in cols)
    verbatim = df.sparkSession.conf.get("spark.sql.parser.escapedStringLiterals") == "true"
    rows = [r[0] for r in df.selectExpr(f"transform(array({cells}), s -> {_flags(verbatim)})").collect()]
    n = max(len(rows), 1)
    out: dict[str, dict[str, float]] = {}
    for c, masks in zip(cols, zip(*rows) if rows else [()] * len(cols)):
        null, empty, *types = (sum(m >> b & 1 for m in masks) / n for b in range(2 + len(_TYPE_RES)))
        d = out[c] = {"general.null": null, "general.empty": empty}
        for t, f in zip(_TYPE_RES, types):
            if f:
                d[f"types.{t}"] = f
        d["general.non-null"] = 1.0 - null
    return out
