"""String / scalar 1:1 transforms (SURVEY §2.6) — all native Column exprs.

Each directive rewrites one column (or adds derived columns) with built-in
pyspark.sql.functions, keeping the whole recipe inside whole-stage codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from wrangler_spark.context import CompileContext
from wrangler_spark.directive import Arg, Directive
from wrangler_spark.directives.columns import parse_sed
from wrangler_spark.errors import DirectiveApplyError
from wrangler_spark.parser.tokens import TokenType
from wrangler_spark.registry import directive
from wrangler_spark.udfs import value_udf


def _string_inplace(name_: str, fn, ref: str):
    """Factory for single-column in-place string transforms."""

    @directive
    class _D(Directive):
        name = name_
        usage = [Arg("column", TokenType.COLUMN)]
        __doc__ = f"{name_} :col (ref: {ref})"

        def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
            col = ctx.resolve(df, self.args["column"])
            return df.withColumn(col, fn(F.col(col)))

    _D.__name__ = "".join(p.capitalize() for p in name_.split("-"))
    return _D


Uppercase = _string_inplace("uppercase", F.upper, "transformation/Upper.java:67")
Lowercase = _string_inplace("lowercase", F.lower, "transformation/Lower.java:67")
TitleCase = _string_inplace("titlecase", F.initcap, "transformation/TitleCase.java:67")
Trim = _string_inplace("trim", F.trim, "transformation/Trim.java:68")
LTrim = _string_inplace("ltrim", F.ltrim, "transformation/LeftTrim.java:67")
RTrim = _string_inplace("rtrim", F.rtrim, "transformation/RightTrim.java:68")
UrlEncode = _string_inplace("url-encode", F.url_encode, "transformation/UrlEncode.java:76")
UrlDecode = _string_inplace("url-decode", F.url_decode, "transformation/UrlDecode.java:68")


@directive
class SetColumn(Directive):
    """set-column :col exp:{...} — assign an expression result
    (ref: transformation/ColumnExpression.java:96). The JEXL expression is
    compiled to a native Column (SURVEY §2.9 / §7 step 4)."""

    name = "set-column"
    usage = [Arg("column", TokenType.COLUMN), Arg("expression", TokenType.EXPRESSION)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        from wrangler_spark.expression import compile_expression

        return df.withColumn(
            self.args["column"],
            compile_expression(self.args["expression"], df, ctx.variables),
        )


@directive
class FindAndReplace(Directive):
    """find-and-replace :c1[,:c2...] 's/regex/replacement/g'
    (ref: transformation/FindAndReplace.java:74)."""

    name = "find-and-replace"
    usage = [Arg("columns", TokenType.COLUMN_LIST), Arg("sed", TokenType.TEXT)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        pattern, replacement = parse_sed(self.args["sed"])
        for col in ctx.resolve_all(df, self.args["columns"]):
            df = df.withColumn(col, F.regexp_replace(F.col(col).cast("string"), pattern, replacement))
        return df


@directive
class ExtractRegexGroups(Directive):
    """extract-regex-groups :col 'regex' — capture groups → col_1..col_n
    (ref: transformation/ExtractRegexGroups.java:75)."""

    name = "extract-regex-groups"
    usage = [Arg("column", TokenType.COLUMN), Arg("regex", TokenType.TEXT)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        regex = self.args["regex"]
        ngroups = re.compile(regex).groups
        # reference appends a group only when matched; fixed schema → null when absent
        return df.withColumns(
            {
                f"{col}_{i}": F.when(F.col(col).rlike(regex), F.regexp_extract(F.col(col), regex, i))
                for i in range(1, ngroups + 1)
            }
        )


@directive
class IndexSplit(Directive):
    """index-split :source start end :destination (deprecated in reference;
    ref: transformation/IndexSplit.java:82) — substring [start, end]."""

    name = "index-split"
    usage = [
        Arg("source", TokenType.COLUMN),
        Arg("start", TokenType.NUMERIC),
        Arg("end", TokenType.NUMERIC),
        Arg("destination", TokenType.COLUMN),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["source"])
        start = int(self.args["start"])
        end = int(self.args["end"])
        return df.withColumn(
            self.args["destination"], F.substring(F.col(col), start + 1, end - start)
        )


@directive
class Split(Directive):
    """split :source 'delim' :first :second (deprecated;
    ref: transformation/Split.java:80) — text before/after first delimiter."""

    name = "split"
    usage = [
        Arg("source", TokenType.COLUMN),
        Arg("delimiter", TokenType.TEXT),
        Arg("first", TokenType.COLUMN),
        Arg("second", TokenType.COLUMN),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["source"])
        d = self.args["delimiter"]
        parts = F.split(F.col(col), re.escape(d), 2)
        return df.withColumn(self.args["first"], parts.getItem(0)).withColumn(
            self.args["second"], F.when(F.size(parts) > 1, parts.getItem(1))
        )


@directive
class SplitEmail(Directive):
    """split-email :col → col_account, col_domain
    (ref: transformation/SplitEmail.java:72 — splits on the LAST '@')."""

    name = "split-email"
    usage = [Arg("column", TokenType.COLUMN)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        c = F.col(col)
        has_at = c.contains("@")
        # account = text before last '@'; domain = text after last '@'
        account = F.when(has_at, F.left(c, F.length(c) - F.length(F.substring_index(c, "@", -1)) - 1))
        domain = F.when(has_at, F.substring_index(c, "@", -1))
        return df.withColumn(f"{col}_account", account).withColumn(f"{col}_domain", domain)


@directive
class SplitUrl(Directive):
    """split-url :col → col_protocol/_authority/_host/_port/_path/_query/_filename
    (ref: transformation/SplitURL.java:83) via native parse_url."""

    name = "split-url"
    usage = [Arg("column", TokenType.COLUMN)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        c = F.col(col)
        proto = F.parse_url(c, F.lit("PROTOCOL"))
        host = F.parse_url(c, F.lit("HOST"))
        path = F.parse_url(c, F.lit("PATH"))
        query = F.parse_url(c, F.lit("QUERY"))
        # authority = host[:port]; port: extract from URL text (parse_url has no PORT part)
        port_str = F.regexp_extract(c, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/:?#]+:(\d+)", 1)
        port = F.when(port_str != "", port_str.cast("int")).otherwise(F.lit(-1))
        authority = F.when(port_str != "", F.concat(host, F.lit(":"), port_str)).otherwise(host)
        filename = F.when(query.isNotNull(), F.concat(path, F.lit("?"), query)).otherwise(path)
        return df.withColumns(
            {
                f"{col}_protocol": proto,
                f"{col}_authority": authority,
                f"{col}_host": host,
                f"{col}_port": port,
                f"{col}_path": path,
                f"{col}_query": query,
                f"{col}_filename": filename,
            }
        )


@directive
class FillNullOrEmpty(Directive):
    """fill-null-or-empty :col 'value' (ref: transformation/FillNullOrEmpty.java:74)."""

    name = "fill-null-or-empty"
    usage = [Arg("column", TokenType.COLUMN), Arg("value", TokenType.TEXT)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"], required=False)
        value = self.args["value"]
        if col is None:
            return df.withColumn(self.args["column"], F.lit(value))
        dt = dict(df.dtypes)[col]
        c = F.col(col)
        if dt == "string":
            filled = F.when(c.isNull() | (F.length(c) == 0), F.lit(value)).otherwise(c)
        else:
            filled = F.coalesce(c, F.lit(value).cast(dt))
        return df.withColumn(col, filled)


@directive
class CutCharacter(Directive):
    """cut-character :source :destination 'ranges' — UNIX cut -c semantics
    (ref: transformation/CharacterCut.java:75): selected positions in
    ascending order, ranges merged."""

    name = "cut-character"
    usage = [
        Arg("source", TokenType.COLUMN),
        Arg("destination", TokenType.COLUMN),
        Arg("ranges", TokenType.TEXT),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["source"])
        spec = self.args["ranges"]
        pieces = _parse_cut_ranges(spec)
        c = F.col(col)
        parts = []
        for start, end in pieces:
            if end is None:  # open-ended N-
                parts.append(F.substring(c, start, 2147483647))
            else:
                parts.append(F.substring(c, start, end - start + 1))
        return df.withColumn(self.args["destination"], F.concat(*parts) if parts else F.lit(""))


def _parse_cut_ranges(spec: str) -> list[tuple[int, int | None]]:
    """'1-3,5,8-' → merged, sorted [(1,3),(5,5),(8,None)] (cut -c behavior)."""
    raw: list[tuple[int, int | None]] = []
    for item in spec.split(","):
        item = item.strip()
        if not item:
            continue
        if item.startswith("-"):
            raw.append((1, int(item[1:])))
        elif item.endswith("-"):
            raw.append((int(item[:-1]), None))
        elif "-" in item:
            a, b = item.split("-", 1)
            raw.append((int(a), int(b)))
        else:
            raw.append((int(item), int(item)))
    raw.sort(key=lambda r: (r[0], float("inf") if r[1] is None else r[1]))
    merged: list[tuple[int, int | None]] = []
    for start, end in raw:
        if merged:
            pstart, pend = merged[-1]
            if pend is None:
                continue  # previous range is open-ended; it swallows everything after
            if start <= pend + 1:
                merged[-1] = (pstart, None if end is None else max(pend, end))
                continue
        merged.append((start, end))
    return merged


@directive
class Quantize(Directive):
    """quantize :source :destination lo:hi=label[,...] — closed ranges,
    unmatched → null (ref: transformation/Quantization.java:84)."""

    name = "quantize"
    usage = [
        Arg("source", TokenType.COLUMN),
        Arg("destination", TokenType.COLUMN),
        Arg("ranges", TokenType.RANGES),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["source"])
        v = F.col(col).try_cast("double")
        expr = None
        for lo, hi, label in self.args["ranges"]:
            cond = (v >= lo) & (v <= hi)
            expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
        if expr is None:
            raise DirectiveApplyError("quantize requires at least one range")
        return df.withColumn(self.args["destination"], expr)


@directive
class GenerateUUID(Directive):
    """generate-uuid :col (ref: transformation/GenerateUUID.java:70).
    Nondeterministic by nature; reference seeds java.util.Random per task."""

    name = "generate-uuid"
    usage = [Arg("column", TokenType.COLUMN)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        return df.withColumn(self.args["column"], F.expr("uuid()"))


@directive
class TextDistance(Directive):
    """text-distance method :c1 :c2 :dst (ref: transformation/TextDistanceMeasure.java:142).
    levenshtein is native; jaccard/dice/overlap/cosine over 2-gram token sets
    via higher-order array functions — still JVM-side."""

    name = "text-distance"
    usage = [
        Arg("method", TokenType.IDENTIFIER),
        Arg("col1", TokenType.COLUMN),
        Arg("col2", TokenType.COLUMN),
        Arg("destination", TokenType.COLUMN),
    ]

    similarity = False  # text-metric subclass flips this

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        c1 = F.col(ctx.resolve(df, self.args["col1"])).cast("string")
        c2 = F.col(ctx.resolve(df, self.args["col2"])).cast("string")
        method = str(self.args["method"]).lower().replace("_", "-")
        dst = self.args["destination"]
        col = _text_distance_expr(method, c1, c2, self.similarity)
        return df.withColumn(dst, col.cast("float"))


@directive
class TextMetric(TextDistance):
    """text-metric method :c1 :c2 :dst — similarity in [0,1]
    (ref: transformation/TextMetricMeasure.java:142)."""

    name = "text-metric"
    similarity = True


def _bigrams(c):
    """Distinct character bigrams of a lowercased string (simmetrics-style
    q-gram tokenization, q=2)."""
    lc = F.lower(c)
    n = F.length(lc)
    return F.when(n >= 2, F.array_distinct(
        F.transform(F.sequence(F.lit(1), n - 1), lambda i: lc.substr(i, F.lit(2)))
    )).otherwise(F.array(lc))


def _py_jaro(s1: str, s2: str) -> float:
    """Jaro similarity — pure-Python, used inside an Arrow-batched pandas
    UDF (parity: simmetrics StringDistances.jaro())."""
    if s1 == s2:
        return 1.0
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    window = max(n1, n2) // 2 - 1
    m1 = [False] * n1
    m2 = [False] * n2
    matches = 0
    for i, ch in enumerate(s1):
        lo, hi = max(0, i - window), min(n2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == ch:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(n1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / n1 + matches / n2 + (matches - t) / matches) / 3


def _py_damerau(s1: str, s2: str) -> int:
    """Damerau-Levenshtein (optimal string alignment) edit count."""
    n1, n2 = len(s1), len(s2)
    d = [[0] * (n2 + 1) for _ in range(n1 + 1)]
    for i in range(n1 + 1):
        d[i][0] = i
    for j in range(n2 + 1):
        d[0][j] = j
    for i in range(1, n1 + 1):
        for j in range(1, n2 + 1):
            cost = 0 if s1[i - 1] == s2[j - 1] else 1
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost)
            if i > 1 and j > 1 and s1[i - 1] == s2[j - 2] and s1[i - 2] == s2[j - 1]:
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + cost)
    return d[n1][n2]


def _py_lcs_subsequence(s1: str, s2: str) -> int:
    """Longest common subsequence length (quadratic DP, rolling row)."""
    if not s1 or not s2:
        return 0
    prev = [0] * (len(s2) + 1)
    for ch in s1:
        cur = [0]
        for j, ch2 in enumerate(s2, 1):
            cur.append(prev[j - 1] + 1 if ch == ch2 else max(prev[j], cur[j - 1]))
        prev = cur
    return prev[-1]


def _py_lcs_substring(s1: str, s2: str) -> int:
    """Longest common contiguous substring length."""
    if not s1 or not s2:
        return 0
    best = 0
    prev = [0] * (len(s2) + 1)
    for ch in s1:
        cur = [0]
        for j, ch2 in enumerate(s2, 1):
            v = prev[j - 1] + 1 if ch == ch2 else 0
            cur.append(v)
            if v > best:
                best = v
        prev = cur
    return best


def _pair_udf(fn):
    return value_udf(lambda x, y: float(fn(x, y)), DoubleType())


def _text_distance_expr(method: str, c1, c2, similarity: bool):
    lev = F.levenshtein(c1, c2)
    maxlen = F.greatest(F.length(c1), F.length(c2))
    if method == "levenshtein":
        sim = F.when(maxlen == 0, 1.0).otherwise(1 - lev / maxlen)
        return sim if similarity else lev.cast("float")
    if method == "damerau-levenshtein":
        # true DL needs quadratic DP — Arrow-batched UDF (the reference
        # itself calls a Java library here, TextDistanceMeasure.java:109)
        dl = _pair_udf(_py_damerau)(c1, c2)
        sim = F.when(maxlen == 0, 1.0).otherwise(1 - dl / maxlen)
        return sim if similarity else dl.cast("float")
    if method == "jaro":
        sim = _pair_udf(_py_jaro)(c1, c2)
        return sim if similarity else (1 - sim)
    if method == "identity":
        sim = F.when(c1.eqNullSafe(c2), 1.0).otherwise(0.0)
        return sim if similarity else (1 - sim)
    a, b = _bigrams(c1), _bigrams(c2)
    inter = F.size(F.array_intersect(a, b)).cast("double")
    sa, sb = F.size(a).cast("double"), F.size(b).cast("double")
    if method in ("jaccard", "generalized-jaccard"):
        union = F.size(F.array_union(a, b)).cast("double")
        sim = F.when(union == 0, 1.0).otherwise(inter / union)
    elif method in ("dice", "simon-white"):
        sim = F.when(sa + sb == 0, 1.0).otherwise(2 * inter / (sa + sb))
    elif method in ("overlap", "overlap-coefficient", "overlap-cofficient"):
        # last spelling: the reference's own switch label, TextDistanceMeasure.java:101
        sim = F.when(F.least(sa, sb) == 0, 1.0).otherwise(inter / F.least(sa, sb))
    elif method == "longest-common-subsequence":
        lcs = _pair_udf(_py_lcs_subsequence)(c1, c2)
        sim = F.when(maxlen == 0, 1.0).otherwise(lcs / maxlen)
    elif method == "longest-common-substring":
        lcs = _pair_udf(_py_lcs_substring)(c1, c2)
        sim = F.when(maxlen == 0, 1.0).otherwise(lcs / maxlen)
    else:
        # cosine, block, block-distance, euclidean — and the reference
        # DEFAULTS unknown methods to cosine (TextDistanceMeasure.java:128-130)
        sim = F.when(sa * sb == 0, 1.0).otherwise(inter / F.sqrt(sa * sb))
    return sim if similarity else (1 - sim)
