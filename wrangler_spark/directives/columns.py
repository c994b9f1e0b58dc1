"""Projection / column-shape directives (SURVEY §2.3).

All compile to pure projections — `select`/`drop`/`toDF` — which Catalyst
collapses into the scan's column pruning; none of these cost anything at
runtime on a columnar source.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wrangler_spark.context import CompileContext
from wrangler_spark.directive import Arg, Directive
from wrangler_spark.errors import DirectiveApplyError
from wrangler_spark.parser.tokens import TokenType
from wrangler_spark.registry import directive


@directive
class Drop(Directive):
    """drop :c1[,:c2...] — remove columns (ref: column/Drop.java:71)."""

    name = "drop"
    usage = [Arg("columns", TokenType.COLUMN_LIST)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        cols = ctx.resolve_all(df, self.args["columns"], required=False)
        return df.drop(*cols) if cols else df


@directive
class Keep(Directive):
    """keep :c1[,:c2...] — keep only listed columns (ref: column/Keep.java:75)."""

    name = "keep"
    usage = [Arg("columns", TokenType.COLUMN_LIST)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        cols = ctx.resolve_all(df, self.args["columns"])
        return df.select(*cols)


@directive
class Rename(Directive):
    """rename :src :dst — errors if dst already exists
    (ref: column/Rename.java:71 + utils/ColumnConverter.java:40-57)."""

    name = "rename"
    usage = [Arg("source", TokenType.COLUMN), Arg("destination", TokenType.COLUMN)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        src = ctx.resolve(df, self.args["source"])
        dst = self.args["destination"]
        existing = ctx.resolve(df, dst, required=False)
        if existing is not None and existing.lower() != src.lower():
            raise DirectiveApplyError(f"column '{dst}' already exists")
        return df.withColumnRenamed(src, dst)


@directive
class SetHeaders(Directive):
    """set-headers :c1,:c2,... — positional rename of the first N columns
    (ref: column/SetHeader.java:72)."""

    name = "set-headers"
    usage = [Arg("columns", TokenType.COLUMN_LIST)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        names = self.args["columns"]
        if len(names) > len(df.columns):
            raise DirectiveApplyError(
                f"{len(names)} names given but only {len(df.columns)} columns present"
            )
        new = list(names) + df.columns[len(names):]
        return df.toDF(*new)


@directive
class Copy(Directive):
    """copy :src :dst [force] — duplicate a column (ref: column/Copy.java:76)."""

    name = "copy"
    usage = [
        Arg("source", TokenType.COLUMN),
        Arg("destination", TokenType.COLUMN),
        Arg("force", TokenType.BOOL, optional=True, default=False),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        src = ctx.resolve(df, self.args["source"])
        dst = self.args["destination"]
        if ctx.resolve(df, dst, required=False) is not None and not self.args["force"]:
            raise DirectiveApplyError(f"column '{dst}' already exists (use force)")
        return df.withColumn(dst, F.col(src))


@directive
class Merge(Directive):
    """merge :c1 :c2 :dst 'sep' — string concat with separator
    (ref: column/Merge.java:87)."""

    name = "merge"
    usage = [
        Arg("col1", TokenType.COLUMN),
        Arg("col2", TokenType.COLUMN),
        Arg("destination", TokenType.COLUMN),
        Arg("separator", TokenType.TEXT),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        c1 = ctx.resolve(df, self.args["col1"])
        c2 = ctx.resolve(df, self.args["col2"])
        # reference concats only when both present; null stays null via concat
        return df.withColumn(
            self.args["destination"],
            F.concat(F.col(c1).cast("string"), F.lit(self.args["separator"]), F.col(c2).cast("string")),
        )


@directive
class Swap(Directive):
    """swap :a :b — swap two column names (ref: column/Swap.java:70)."""

    name = "swap"
    usage = [Arg("left", TokenType.COLUMN), Arg("right", TokenType.COLUMN)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        a = ctx.resolve(df, self.args["left"])
        b = ctx.resolve(df, self.args["right"])
        sel = []
        for c in df.columns:
            if c == a:
                sel.append(F.col(c).alias(b))
            elif c == b:
                sel.append(F.col(c).alias(a))
            else:
                sel.append(F.col(c))
        return df.select(*sel)


@directive
class SplitToColumns(Directive):
    """split-to-columns :col 'regex' — regex split into col_1..col_n
    (ref: column/SplitToColumns.java:75). Output width = max parts seen in a
    compile-time sample (ragged-row resolution per SURVEY §1.2)."""

    name = "split-to-columns"
    usage = [Arg("column", TokenType.COLUMN), Arg("regex", TokenType.TEXT)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        regex = self.args["regex"]
        parts = F.split(F.col(col), regex, -1)
        n = ctx.frame_fact(df, ("split-parts", col, regex), lambda frame: _sample_max_parts(frame, parts))
        out = df.withColumn("__parts", parts)
        out = out.withColumns({f"{col}_{i + 1}": F.get("__parts", i) for i in range(n)})
        return out.drop("__parts")


def _sample_max_parts(df: DataFrame, parts_col, sample: int = 100) -> int:
    """Compile-time bounded sample to fix the output arity of a split parse
    (mirrors the service's sample-driven schema inference); nulls are in
    the sample, and an all-null sample gives one column."""
    rows = df.select(F.size(parts_col).alias("n")).limit(sample).agg(F.max("n")).collect()
    n = rows[0][0] if rows and rows[0][0] is not None else 1
    return max(int(n), 1)


@directive
class CleanseColumnNames(Directive):
    """cleanse-column-names — trim, lowercase, non-alnum → '_'
    (ref: column/CleanseColumnNames.java:72)."""

    name = "cleanse-column-names"
    usage: list[Arg] = []

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        names = [re.sub(r"[^a-zA-Z0-9_]", "_", c.strip().lower()) for c in df.columns]
        return df.toDF(*names)


@directive
class ChangeColumnCase(Directive):
    """change-column-case [upper|lower] (ref: column/ChangeColCaseNames.java:76)."""

    name = "change-column-case"
    usage = [Arg("case", TokenType.IDENTIFIER, optional=True, default="lower")]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        upper = str(self.args["case"]).lower().startswith("up")
        return df.toDF(*[c.upper() if upper else c.lower() for c in df.columns])


@directive
class ColumnsReplace(Directive):
    """columns-replace 's/regex/replacement/' — sed over column names
    (ref: column/ColumnsReplace.java:71)."""

    name = "columns-replace"
    usage = [Arg("sed", TokenType.TEXT)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        pattern, replacement = parse_sed(self.args["sed"])
        return df.toDF(*[re.sub(pattern, replacement, c) for c in df.columns])


def parse_sed(expr: str) -> tuple[str, str]:
    """Parse 's/regex/replacement/[g]' (shared with find-and-replace)."""
    if not expr.startswith("s") or len(expr) < 4:
        raise DirectiveApplyError(f"bad sed expression {expr!r}; expected s/regex/replacement/")
    delim = expr[1]
    parts = re.split(rf"(?<!\\){re.escape(delim)}", expr[2:])
    if len(parts) < 2:
        raise DirectiveApplyError(f"bad sed expression {expr!r}")
    pattern = parts[0].replace(f"\\{delim}", delim)
    replacement = parts[1].replace(f"\\{delim}", delim)
    # sed backrefs \1 → Java/Spark $1
    replacement = re.sub(r"\\(\d)", r"$\1", replacement)
    return pattern, replacement


@directive
class SetType(Directive):
    """set-type :col type [scale] [prop:{...}] — cast with the reference's
    string-parse rules (ref: column/SetType.java + utils/ColumnConverter.java:87-286;
    null/empty passthrough at :73-75 — Spark non-ANSI cast already yields
    null for unparseable strings)."""

    name = "set-type"
    usage = [
        Arg("column", TokenType.COLUMN),
        Arg("type", TokenType.IDENTIFIER),
        Arg("scale", TokenType.NUMERIC, optional=True),
        Arg("properties", TokenType.PROPERTIES, optional=True),
    ]

    TYPES = {
        "int": "int", "integer": "int", "i32": "int",
        "short": "short", "i16": "short",
        "long": "long", "i64": "long",
        "float": "float", "double": "double",
        "decimal": "decimal", "bool": "boolean", "boolean": "boolean",
        "string": "string", "bytes": "binary",
        "timestamp": "timestamp", "date": "date", "datetime": "timestamp_ntz",
    }

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        tname = str(self.args["type"]).lower()
        spark_t = self.TYPES.get(tname)
        if spark_t is None:
            raise DirectiveApplyError(f"unknown type '{tname}'")
        if spark_t == "decimal":
            scale = self.args.value("scale")
            props = self.args.value("properties") or {}
            precision = int(props.get("precision", 38))
            spark_t = f"decimal({precision},{int(scale) if scale is not None else 2})"
        src = F.col(col)
        if spark_t in ("int", "short", "long"):
            # reference's lenient Number path truncates decimal strings; plain
            # try_cast of "3.9" to int would null, so go via double
            dt = dict(df.dtypes)[col]
            if dt == "string":
                src = F.trim(src)
                casted = F.when(src.rlike(r"^-?\d+$"), src.try_cast(spark_t)).otherwise(
                    src.try_cast("double").try_cast(spark_t)
                )
                return df.withColumn(col, casted)
        return df.withColumn(col, src.try_cast(spark_t))
