"""Parser directives: string/bytes column → typed columns or rows
(SURVEY §2.1).

Ragged-row resolution: the reference appends however many fields each row
yields (``CsvParser.java:173-182``). A Spark plan needs one static schema,
so parse directives do a bounded compile-time sample (≤100 rows) to fix
output arity / JSON schema — the same answer the reference's interactive
``/schema`` endpoint computes from its workspace sample. The sample, and
parse-as-json's schema resolved from it, are taken once per input frame
(``CompileContext.sample_values`` / ``frame_fact``): every later transform
of the same frame reuses them, with no Spark job and the same width.
"""

from __future__ import annotations

import csv as _csv
import io
import re

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from wrangler_spark.context import CompileContext
from wrangler_spark.directive import Arg, Directive
from wrangler_spark.errors import DirectiveApplyError
from wrangler_spark.parser.tokens import TokenType
from wrangler_spark.registry import directive, registry
from wrangler_spark.udfs import value_udf

# --- type inference for header detection (parity: dq/TypeInference.java) ---

_INT_RE = re.compile(r"^[+-]?\d+$")
_NUM_RE = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")


def _is_stringy(v: str) -> bool:
    s = v.strip()
    if not s:
        return False
    if _INT_RE.match(s) or _NUM_RE.match(s):
        return False
    if s.lower() in ("true", "false"):
        return False
    return True


def _pin_expensive(c: Column) -> Column:
    """Nondeterministic no-op identity (a one-element array shuffle) that
    pins an expensive expression to its own projection. Without it,
    Catalyst's PushPredicateThroughNonJoin substitutes the full expression
    into every later filter that references a parsed field — e.g. a
    filter-row after parse-as-csv re-parses EVERY input row a second time
    just to evaluate the predicate. Nondeterministic project fields block
    that substitution (and CollapseProject duplication) while keeping
    whole-stage codegen intact; the value is unchanged
    (spark_partition_id() is never < 0). A when(rand()>-1) guard does NOT
    work — the optimizer range-folds rand comparisons — and wrapping in
    shuffle(array(c)) survives but falls out of codegen (measured ~40%
    slower than the plain int comparison here)."""
    return F.when(F.spark_partition_id() >= 0, c)


@directive
class ParseAsCsv(Directive):
    """parse-as-csv :col 'delimiter' [header] — appends col_1..col_n (or
    detected header names) (ref: parser/CsvParser.java:131-212).

    Spark-first: the string column is parsed with native `from_csv`
    (quote-aware, JVM-side); arity and header come from a compile-time
    sample mirroring ``CsvParser.isHeader`` (all-string + unique,
    ``CsvParser.java:184-203``)."""

    name = "parse-as-csv"
    usage = [
        Arg("column", TokenType.COLUMN),
        Arg("delimiter", TokenType.TEXT, optional=True, default=","),
        Arg("header", TokenType.BOOL, optional=True, default=False),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        delim = self.args["delimiter"].encode().decode("unicode_escape")
        has_header = bool(self.args["header"])

        sample = ctx.sample_values(df, col)
        parsed = []
        for line in sample:
            try:
                parsed.append(next(_csv.reader(io.StringIO(line), delimiter=delim)))
            except Exception:
                parsed.append([])
        width = max((len(p) for p in parsed), default=1) or 1

        headers: list[str] | None = None
        header_line: str | None = None
        if has_header and parsed:
            first = parsed[0]
            uniq = set(first)
            if first and all(_is_stringy(v) for v in first) and len(uniq) == len(first):
                headers = [re.sub(r"\s+", "_", v.strip()) for v in first]
                header_line = sample[0]
                width = max(width, len(headers))

        names = headers if headers else [f"{col}_{i + 1}" for i in range(width)]
        while len(names) < width:
            names.append(f"{col}_{len(names) + 1}")

        out = df
        if header_line is not None:
            out = out.filter(F.col(col).isNull() | (F.col(col) != F.lit(header_line)))
        ddl = ", ".join(f"_f{i} STRING" for i in range(width))
        parsed_col = F.from_csv(F.col(col), F.lit(ddl), {"sep": delim, "mode": "PERMISSIVE"})
        out = out.withColumn("__csv", _pin_expensive(parsed_col))
        # one withColumns call: keeps the plan one projection deep
        out = out.withColumns({name: F.col("__csv").getField(f"_f{i}") for i, name in enumerate(names[:width])})
        return out.drop("__csv")


@directive
class ParseAsJson(Directive):
    """parse-as-json :col [depth] — flattens nested objects to `col_a_b`
    up to depth; arrays kept as values (flatten explodes them); a top-level
    JSON array becomes one row per element; source column removed
    (ref: parser/JsParser.java:97-189).

    Schema comes from a compile-time sample via spark.read.json, then the
    whole parse is ONE native from_json + projections."""

    name = "parse-as-json"
    usage = [
        Arg("column", TokenType.COLUMN),
        Arg("depth", TokenType.NUMERIC, optional=True, default=2147483647),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        return _parse_json(ctx, df, col, int(self.args["depth"]), ctx.sample_values(df, col), df, "json-schema")


def _parse_json(ctx: CompileContext, df: DataFrame, col: str, depth: int, sample: list[str],
                facts_of: DataFrame, key: str) -> DataFrame:
    """parse-as-json of ``df``'s JSON text column ``col``. The schema is
    inferred from ``sample`` once per ``facts_of`` frame under ``key``:
    the directive's own input, which parse-xml-to-json's ``df`` (built
    anew on every transform) is not."""
    spark = df.sparkSession
    if not sample:
        raise DirectiveApplyError(f"no non-null sample values in '{col}' to infer JSON schema")

    def resolve(_frame) -> T.StructType:
        schema = _infer_json_schema(sample)
        if schema is None:
            # conflicting/unusual shapes — fall back to Spark's
            # inference (one extra small job, once per frame)
            schema = spark.read.json(spark.sparkContext.parallelize(sample, 1)).schema
        return schema

    schema = ctx.frame_fact(facts_of, (key, col), resolve)
    # spark.read.json flattens a top-level array into its elements, so
    # detect array-ness from the raw text
    top_level_array = all(s.lstrip().startswith("[") for s in sample if s.strip())

    out = df
    if top_level_array:
        elem_schema = T.ArrayType(schema)
        parsed = F.from_json(F.col(col), elem_schema)
        out = out.withColumn("__json", F.explode_outer(parsed)).drop(col)
        base = F.col("__json")
    else:
        # pinned for the same reason as parse-as-csv: a later filter on
        # a parsed field would otherwise inline the whole from_json
        # into its pushed-down predicate (double parse per row)
        parsed = _pin_expensive(F.from_json(F.col(col), schema))
        out = out.withColumn("__json", parsed).drop(col)
        base = F.col("__json")

    cols: list[tuple[str, Column]] = []
    _flatten_struct(base, schema, col, 1, depth, cols)
    out = out.withColumns(dict(cols))
    return out.drop("__json")


def _infer_json_schema(sample: list[str]) -> T.StructType | None:
    """Driver-side JSON schema inference mirroring spark.read.json's rules
    for the common shapes (bool→boolean, int→long, float→double,
    str→string, object→struct with fields in first-seen order, array→
    merged element type, long+double→double). Returns None on any type
    conflict or non-object sample so the caller can fall back to Spark's
    own inference — saves the parallelize+scan job in the common case."""
    import json as _json

    def infer(v):
        if v is None:
            return None  # unknown; merge resolves
        if isinstance(v, bool):
            return T.BooleanType()
        if isinstance(v, int):
            return T.LongType()
        if isinstance(v, float):
            return T.DoubleType()
        if isinstance(v, str):
            return T.StringType()
        if isinstance(v, list):
            et = None
            for x in v:
                et = merge(et, infer(x))
                if et is False:
                    return False
            return T.ArrayType(et or T.StringType())
        if isinstance(v, dict):
            fields = []
            for k, x in sorted(v.items()):  # spark.read.json sorts fields by name
                ft = infer(x)
                if ft is False:
                    return False
                fields.append(T.StructField(k, ft or T.StringType()))
            return T.StructType(fields)
        return False

    def merge(a, b):
        if a is False or b is False:
            return False
        if a is None:
            return b
        if b is None:
            return a
        if a == b:
            return a
        nums = (T.LongType(), T.DoubleType())
        if isinstance(a, (T.LongType, T.DoubleType)) and isinstance(b, (T.LongType, T.DoubleType)):
            return T.DoubleType()
        if isinstance(a, T.StructType) and isinstance(b, T.StructType):
            names = sorted(dict.fromkeys([f.name for f in a.fields] + [f.name for f in b.fields]))
            am = {f.name: f.dataType for f in a.fields}
            bm = {f.name: f.dataType for f in b.fields}
            out = []
            for n in names:
                m = merge(am.get(n), bm.get(n))
                if m is False:
                    return False
                out.append(T.StructField(n, m or T.StringType()))
            return T.StructType(out)
        if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
            m = merge(a.elementType, b.elementType)
            if m is False:
                return False
            return T.ArrayType(m or T.StringType())
        return False  # conflict (e.g. string vs struct) → Spark fallback

    merged = None
    for s in sample:
        try:
            doc = _json.loads(s)
        except Exception:
            return None
        if isinstance(doc, list):
            for el in doc:
                if not isinstance(el, dict):
                    return None
                t = infer(el)
                merged = merge(merged, t)
                if merged is False:
                    return None
        elif isinstance(doc, dict):
            t = infer(doc)
            merged = merge(merged, t)
            if merged is False:
                return None
        else:
            return None
    if merged is None or not isinstance(merged, T.StructType):
        return None
    return merged


def _flatten_struct(base: Column, schema: T.StructType, prefix: str, depth: int, max_depth: int, out: list):
    """Recursive object flatten (parity: JsParser.jsonFlatten,
    JsParser.java:171-189): objects recurse with `prefix_key` names,
    non-objects (incl. arrays) land as-is."""
    for field in schema.fields:
        child = base.getField(field.name)
        cname = f"{prefix}_{field.name}"
        if isinstance(field.dataType, T.StructType) and depth < max_depth:
            _flatten_struct(child, field.dataType, cname, depth + 1, max_depth, out)
        else:
            out.append((cname, child))


@directive
class JsonPath(Directive):
    """json-path :source :destination 'path' — JsonPath extraction
    (ref: parser/JsPath.java:90). Native get_json_object covers the
    dotted/bracket subset of Jayway paths."""

    name = "json-path"
    usage = [
        Arg("source", TokenType.COLUMN),
        Arg("destination", TokenType.COLUMN),
        Arg("path", TokenType.TEXT),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        src = ctx.resolve(df, self.args["source"])
        path = self.args["path"]
        if not path.startswith("$"):
            path = "$." + path
        c = F.col(src)
        dt = dict(df.dtypes)[src]
        if dt != "string":
            c = F.to_json(c)
        if _JSONPATH_WILD.search(path):
            # indefinite path (wildcards / recursive descent) — Jayway
            # returns an ARRAY of matches; get_json_object can't express
            # this, so evaluate with an Arrow-batched UDF
            return df.withColumn(self.args["destination"], _jsonpath_udf(path)(c))
        return df.withColumn(self.args["destination"], F.get_json_object(c, path))


_JSONPATH_WILD = re.compile(r"\[\*\]|\.\*|\.\.")
_JSONPATH_TOK = re.compile(
    r"\.\.([A-Za-z_]\w*)"      # ..name  recursive descent
    r"|\.\*"                   # .*      all object values
    r"|\[\*\]"                 # [*]     all array elements
    r"|\.([A-Za-z_]\w*)"       # .name
    r"|\[(\d+)\]"              # [n]
    r"|\['([^']+)'\]"          # ['name']
)


def _jsonpath_eval(doc, path: str):
    """Evaluate the Jayway-subset path against a parsed JSON doc →
    list of matches (indefinite-path semantics)."""
    nodes = [doc]
    for m in _JSONPATH_TOK.finditer(path[1:] if path.startswith("$") else path):
        descend, name, idx, quoted = m.group(1), m.group(2), m.group(3), m.group(4)
        nxt = []
        for n in nodes:
            if descend is not None:
                stack = [n]
                while stack:
                    cur = stack.pop()
                    if isinstance(cur, dict):
                        if descend in cur:
                            nxt.append(cur[descend])
                        stack.extend(cur.values())
                    elif isinstance(cur, list):
                        stack.extend(cur)
            elif m.group(0) == ".*":
                if isinstance(n, dict):
                    nxt.extend(n.values())
            elif m.group(0) == "[*]":
                if isinstance(n, list):
                    nxt.extend(n)
            elif name is not None or quoted is not None:
                key = name if name is not None else quoted
                if isinstance(n, dict) and key in n:
                    nxt.append(n[key])
            elif idx is not None:
                i = int(idx)
                if isinstance(n, list) and i < len(n):
                    nxt.append(n[i])
        nodes = nxt
    return nodes


def _jsonpath_udf(path: str):
    import json as _json

    def one(v):
        try:
            doc = _json.loads(v)
        except Exception:
            return None
        return _json.dumps(_jsonpath_eval(doc, path))

    return value_udf(one, T.StringType())


@directive
class ParseAsSimpleDate(Directive):
    """parse-as-simple-date :col 'fmt' — SimpleDateFormat parse → UTC
    timestamp (ref: parser/ParseSimpleDate.java:80; UTC at :56,70).
    Java and Spark datetime patterns agree on the y/M/d/H/m/s/S subset."""

    name = "parse-as-simple-date"
    usage = [Arg("column", TokenType.COLUMN), Arg("format", TokenType.TEXT)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        fmt = self.args["format"]
        c = F.col(col)
        # SimpleDateFormat parses a PREFIX — trailing text not covered by
        # the pattern (a 'Z', a zone name) is ignored; Spark's to_timestamp
        # is full-match, so retry with common trailing zone junk stripped
        lenient = F.regexp_replace(c, r"\s*(Z|z|UTC|GMT)$", "")
        return df.withColumn(
            col, F.coalesce(F.try_to_timestamp(c, F.lit(fmt)), F.to_timestamp(lenient, fmt))
        )


@directive
class ParseTimestamp(Directive):
    """parse-timestamp :col [unit] — epoch number/string → timestamp;
    unit ms (default) | seconds | microseconds
    (ref: parser/ParseTimestamp.java:86-160)."""

    name = "parse-timestamp"
    usage = [Arg("column", TokenType.COLUMN), Arg("unit", TokenType.TEXT, optional=True, default="milliseconds")]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        unit = str(self.args["unit"]).lower()
        c = F.col(col).cast("long")
        if unit in ("ms", "milliseconds"):
            ts = F.timestamp_millis(c)
        elif unit in ("s", "seconds"):
            ts = F.timestamp_seconds(c)
        elif unit in ("us", "micros", "microseconds"):
            ts = F.timestamp_micros(c)
        else:
            raise DirectiveApplyError(f"unknown timestamp unit '{unit}'")
        return df.withColumn(col, ts)


@directive
class ParseAsDatetime(Directive):
    """parse-as-datetime :col 'fmt' — zone-less parse → timestamp_ntz
    (ref: parser/ParseDateTime.java:77)."""

    name = "parse-as-datetime"
    usage = [Arg("column", TokenType.COLUMN), Arg("format", TokenType.TEXT)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        return df.withColumn(col, F.to_timestamp_ntz(F.col(col), F.lit(self.args["format"])))


@directive
class ParseAsDate(Directive):
    """parse-as-date :col [timezone] — natural-language date parse
    (ref: parser/ParseDate.java:91, natty). No JVM-native equivalent; we
    cover the common machine formats natively and leave true NLP ('next
    tuesday') null — documented divergence, reference itself flags this
    directive as expensive."""

    name = "parse-as-date"
    usage = [Arg("column", TokenType.COLUMN), Arg("timezone", TokenType.TEXT, optional=True, default="UTC")]

    _FORMATS = [
        "yyyy-MM-dd'T'HH:mm:ss",
        "yyyy-MM-dd HH:mm:ss",
        "yyyy-MM-dd",
        "MM/dd/yyyy HH:mm:ss",
        "MM/dd/yyyy",
        "dd/MM/yyyy",
        "MMM d yyyy h:mma",
        "MMM d yyyy",
        "MMMM d, yyyy",
        "dd MMM yyyy",
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        c = F.trim(F.col(col).cast("string"))
        candidates = [F.try_to_timestamp(c, F.lit(fmt)) for fmt in self._FORMATS]
        candidates.append(F.try_to_timestamp(c))
        ts = F.coalesce(*candidates)
        tz = self.args["timezone"]
        if tz and tz != "UTC":
            ts = F.to_utc_timestamp(ts, tz)
        # natural-language fallback (natty parity for the shapes the
        # reference tests: now/today/"september 7th 2016"/epoch — plus
        # relative forms). "now" is captured ONCE here on the driver so the
        # run is internally consistent (documented divergence from natty's
        # per-row clock). Arrow-batched; only consulted where the native
        # format coalesce came up null.
        from datetime import datetime, timezone as _pytz

        from wrangler_spark.formats.naturaldate import parse_natural

        now_utc = datetime.now(_pytz.utc)
        tz_name = tz or "UTC"

        @pandas_udf(T.TimestampType())
        def nlp_date(s: pd.Series) -> pd.Series:
            return pd.Series(
                [parse_natural(v, now_utc, tz_name) for v in s], dtype="datetime64[ns, UTC]"
            )

        return df.withColumn(f"{col}_1", F.coalesce(ts, nlp_date(c)))


@directive
class ParseAsFixedLength(Directive):
    """parse-as-fixed-length :col w1,w2,... [padding] — substring fields →
    col_1..col_n (ref: parser/FixedLengthParser.java:93-151)."""

    name = "parse-as-fixed-length"
    usage = [
        Arg("column", TokenType.COLUMN),
        Arg("widths", TokenType.NUMERIC_LIST),
        Arg("padding", TokenType.TEXT, optional=True),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        widths = [int(w) for w in self.args["widths"]]
        pad = self.args.value("padding")
        new_cols = {}
        offset = 1
        for i, w in enumerate(widths):
            piece = F.substring(F.col(col), offset, w)
            if pad:
                piece = F.regexp_replace(piece, f"^[{re.escape(pad)}]+|[{re.escape(pad)}]+$", "")
            new_cols[f"{col}_{i + 1}"] = piece
            offset += w
        return df.withColumns(new_cols)


@directive
class ParseAsLog(Directive):
    """parse-as-log :col 'format' — Apache access-log parse
    (ref: parser/ParseLog.java:83, nl.basjes httpdlog). 'common'/'combined'
    (and the equivalent %-format strings) compile to ONE native
    regexp_extract bundle; other formats raise."""

    name = "parse-as-log"
    usage = [Arg("column", TokenType.COLUMN), Arg("format", TokenType.TEXT)]

    _LOG_RE = (
        r'^(\S+) (\S+) (\S+) \[([^\]]+)\] "(\S+) (\S+)(?: (\S+))?" (\d{3}|-) (\d+|-)'
    )
    _COMBINED_EXTRA = r' "([^"]*)" "([^"]*)"'

    _FIELDS = [
        ("ip_connection_client_host", 1),
        ("string_connection_client_user", 3),
        ("time_stamp_request_receive_time", 4),
        ("http_method_request_receive_method", 5),
        ("http_uri_request_firstline_uri", 6),
        ("http_protocol_request_firstline_protocol", 7),
        ("string_request_status_last", 8),
        ("bytes_response_body_bytes", 9),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        fmt = self.args["format"].strip().lower()
        combined = fmt in ("combined",) or "referer" in fmt or "user-agent" in fmt.lower()
        regex = self._LOG_RE + (self._COMBINED_EXTRA if combined else "")
        c = F.col(col)
        new_cols = {}
        for name, group in self._FIELDS:
            v = F.regexp_extract(c, regex, group)
            v = F.when(v == "", None).otherwise(v)
            if name.startswith("time_stamp"):
                v = F.to_timestamp(v, "dd/MMM/yyyy:HH:mm:ss Z")
            elif name.startswith("bytes_") or name.startswith("string_request_status"):
                v = v.cast("long")
            new_cols[name] = v
        if combined:
            new_cols["string_request_referer"] = F.regexp_extract(c, regex, 10)
            new_cols["string_request_user-agent"] = F.regexp_extract(c, regex, 11)
        return df.withColumns(new_cols)


@directive
class ParseAsCurrency(Directive):
    """parse-as-currency :source :destination [locale] — locale currency
    string → double (ref: currency/ParseAsCurrency.java:92). en_US-style
    fast path natively: strip symbol/grouping, parentheses = negative."""

    name = "parse-as-currency"
    usage = [
        Arg("source", TokenType.COLUMN),
        Arg("destination", TokenType.COLUMN),
        Arg("locale", TokenType.TEXT, optional=True, default="en_US"),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        src = ctx.resolve(df, self.args["source"])
        c = F.trim(F.col(src).cast("string"))
        neg = c.rlike(r"^\(.*\)$")
        cleaned = F.regexp_replace(c, r"[^0-9.\-]", "")
        value = F.when(cleaned == "", None).otherwise(cleaned.try_cast("double"))
        value = F.when(neg, -value).otherwise(value)
        return df.withColumn(self.args["destination"], value)


@directive
class FormatAsCurrency(Directive):
    """format-as-currency :source :destination [locale]
    (ref: currency/FormatAsCurrency.java:88). en_US: $#,##0.00."""

    name = "format-as-currency"
    usage = [
        Arg("source", TokenType.COLUMN),
        Arg("destination", TokenType.COLUMN),
        Arg("locale", TokenType.TEXT, optional=True, default="en_US"),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        src = ctx.resolve(df, self.args["source"])
        v = F.col(src).try_cast("double")
        formatted = F.concat(
            F.when(v < 0, "-").otherwise(""), F.lit("$"), F.format_number(F.abs(v), 2)
        )
        return df.withColumn(self.args["destination"], F.when(v.isNotNull(), formatted))


@directive
class ParseXmlToJson(Directive):
    """parse-xml-to-json :col [depth] — XML → JSON string columns
    (ref: xml/XmlToJson.java:84). Stdlib xml.etree in an Arrow-batched
    pandas UDF (no external XML lib in this container), then the JSON
    flatten path is shared with parse-as-json."""

    name = "parse-xml-to-json"
    usage = [Arg("column", TokenType.COLUMN), Arg("depth", TokenType.NUMERIC, optional=True, default=2147483647)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        import json as _json
        import xml.etree.ElementTree as ET

        def elem_to_obj(e):
            children = list(e)
            obj = {}
            for k, v in e.attrib.items():
                obj[k] = v
            if not children:
                text = (e.text or "").strip()
                if not obj:
                    return text
                if text:
                    obj["content"] = text
                return obj
            for ch in children:
                val = elem_to_obj(ch)
                if ch.tag in obj:
                    prev = obj[ch.tag]
                    if not isinstance(prev, list):
                        obj[ch.tag] = [prev]
                    obj[ch.tag].append(val)
                else:
                    obj[ch.tag] = val
            return obj

        def xml2json(text):
            try:
                root = ET.fromstring(text)
            except Exception:
                # lenient path (org.json.XML parity): strip prolog/PIs and
                # wrap in a synthetic root to survive trailing content
                import re as _re

                body = _re.sub(r"<\?.*?\?>", "", text, flags=_re.S)
                body = _re.sub(r"<!DOCTYPE[^>]*>", "", body)
                try:
                    wrapper = ET.fromstring(f"<__doc__>{body}</__doc__>")
                except Exception:
                    return None
                children = list(wrapper)
                root = children[0] if len(children) == 1 else wrapper
            try:
                return _json.dumps({root.tag: elem_to_obj(root)})
            except Exception:
                return None

        col = ctx.resolve(df, self.args["column"])
        as_json = value_udf(xml2json, T.StringType())(F.col(col).cast("string")).alias(col)

        def collect(frame):
            rows = frame.select(as_json).filter(F.col(col).isNotNull()).limit(100).collect()
            return [r[0] for r in rows]

        sample = ctx.frame_fact(df, ("xml-json-values", col), collect)
        return _parse_json(ctx, df.withColumn(col, as_json), col, int(self.args["depth"]), sample, df,
                           "xml-json-schema")


registry.alias("parse-as-xml", "parse-xml-to-json")
