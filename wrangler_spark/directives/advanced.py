"""Remaining reference-parity directives: binary formats (Excel, Avro),
HL7, NLP stemming, HTTP enrichment, schema validation, data-model mapping.

Format readers are pure-stdlib (wrangler_spark.formats) because this
container ships no POI/avro/HAPI; directives that genuinely need an
external runtime (schema-registry Avro, protobuf descriptors) raise a
clear DirectiveApplyError instead of silently degrading.
"""

from __future__ import annotations

import functools
import json
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, StringType

from wrangler_spark.context import CompileContext
from wrangler_spark.directive import Arg, Directive
from wrangler_spark.errors import DirectiveApplyError
from wrangler_spark.parser.tokens import TokenType
from wrangler_spark.registry import directive, registry
from wrangler_spark.udfs import value_udf


@directive
class Stemming(Directive):
    """stemming :col — Porter-stem tokens of a string (or array) column;
    adds col_porter with the stemmed token list
    (ref: nlp/Stemming.java:75 + nlp/internal/PorterStemmer.java)."""

    name = "stemming"
    usage = [Arg("column", TokenType.COLUMN)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        from wrangler_spark.directives.stemmer import porter_stem

        col = ctx.resolve(df, self.args["column"])

        def stem(v):
            # an array column arrives as a numpy array, not a list; a null
            # token stays null in its place
            toks = v.split() if isinstance(v, str) else v
            return [None if t is None else porter_stem(t) for t in toks]

        stem_tokens = value_udf(stem, T.ArrayType(StringType()))
        dt = dict(df.dtypes)[col]
        src = F.col(col).cast("array<string>" if dt.startswith("array") else "string")
        return df.withColumn(f"{col}_porter", stem_tokens(src))


@directive
class ParseAsExcel(Directive):
    """parse-as-excel :col [sheet] [first-row-as-header] — one output row
    per sheet row: fwd/bkd (forward and backward row counters, the
    reference's record-position pair) + cell columns (A,B,C... or header
    names) (ref: parser/ParseExcel.java:100-260; ParseExcelTest asserts
    fwd=0/bkd=n-1 on the first row). Pure-stdlib XLSX reader; output arity
    fixed from a compile-time sample payload. Payloads whose workbook
    can't be read or that lack the requested sheet route to the ERROR
    channel (ParseExcelTest.testNoSheetName: 0 clean rows, 1 error row),
    so the parse itself only ever sees readable payloads."""

    name = "parse-as-excel"
    usage = [
        Arg("column", TokenType.COLUMN),
        Arg("sheet", TokenType.TEXT, optional=True, default="0"),
        Arg("header", TokenType.BOOL, optional=True, default=False),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        from wrangler_spark.formats.xlsx import read_sheet, sheet_exists

        col = ctx.resolve(df, self.args["column"])
        sheet = self.args["sheet"]
        header = bool(self.args["header"])

        # schema sample: scan up to 50 payloads for one that actually
        # contains the requested sheet. Sampling only the FIRST payload
        # silently degraded the schema to fwd/bkd-only when that one
        # payload lacked the sheet while later readable payloads would
        # then emit rows with every cell column dropped — silent data
        # loss. Only when NO sampled payload has the sheet do we compile
        # the cell-less schema (every payload routes to the error channel
        # below — ParseExcelTest.testNoSheetName's contract).
        cand = ctx.sample_values(df, col, 50)
        if not cand:
            raise DirectiveApplyError(f"no non-null payload in '{col}' to size the Excel schema")
        sample_rows: list[dict] = []
        for payload in cand:
            try:
                sample_rows = read_sheet(bytes(payload), sheet)
                break
            except Exception:  # noqa: BLE001 — unreadable/missing sheet: try next payload
                continue
        letters = sorted({k for r in sample_rows for k in r}, key=lambda s: (len(s), s))
        if header and sample_rows:
            names = [sample_rows[0].get(letter, letter) for letter in letters]
        else:
            names = letters

        # sheet_exists is the light probe (zip directory + workbook.xml
        # only), so routing doesn't fully parse every payload a second time
        # before the real parse in run(); a null payload is unreadable
        readable = value_udf(lambda p: sheet_exists(bytes(p), sheet), BooleanType())
        clean = ctx.route_errors(
            df, F.col(col).isNull() | ~readable(F.col(col)), self.name,
            f"sheet '{sheet}' not found or unreadable workbook",
        )

        out_schema = T.StructType(
            [T.StructField("fwd", T.LongType()), T.StructField("bkd", T.LongType())]
            + [T.StructField(n, StringType()) for n in names]
        )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out: list[dict] = []
                for payload in pdf[col]:
                    try:
                        rows = read_sheet(bytes(payload), sheet)
                    except Exception:  # noqa: BLE001 — passed the light probe but
                        continue  # fails full parse (e.g. bad shared-string ref)
                    body = rows[1:] if header else rows
                    n = len(body)
                    for i, r in enumerate(body):
                        rec = {"fwd": i, "bkd": n - 1 - i}
                        for letter, name in zip(letters, names):
                            rec[name] = r.get(letter)
                        out.append(rec)
                yield pd.DataFrame(out, columns=["fwd", "bkd", *names])

        return clean.select(col).mapInPandas(run, out_schema)


_AVRO_SPARK_TYPES = {
    "int": T.IntegerType(), "long": T.LongType(), "float": T.FloatType(),
    "double": T.DoubleType(), "boolean": T.BooleanType(), "string": StringType(),
    "bytes": T.BinaryType(), "null": StringType(),
}


def _avro_field_type(ft) -> T.DataType:
    if isinstance(ft, list):  # union — use first non-null branch
        branches = [b for b in ft if b != "null"]
        return _avro_field_type(branches[0]) if branches else StringType()
    if isinstance(ft, dict):
        t = ft.get("type")
        if t in ("record", "array", "map", "enum"):
            return StringType()  # nested → JSON string (composes with parse-as-json)
        return _avro_field_type(t)
    return _AVRO_SPARK_TYPES.get(ft, StringType())


@directive
class ParseAsAvroFile(Directive):
    """parse-as-avro-file :col — decode Avro object-container payloads;
    one row per record, columns = top-level fields
    (ref: parser/ParseAvroFile.java:79-151). Pure-stdlib OCF reader
    (null/deflate codecs)."""

    name = "parse-as-avro-file"
    usage = [Arg("column", TokenType.COLUMN)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        from wrangler_spark.formats.avro_ocf import read_ocf

        col = ctx.resolve(df, self.args["column"])
        first = ctx.sample_values(df, col, 1)
        if not first:
            raise DirectiveApplyError(f"no non-null payload in '{col}' to read the Avro schema")
        schema, _ = read_ocf(bytes(first[0]))
        if schema.get("type") != "record":
            raise DirectiveApplyError("parse-as-avro-file expects a record-typed OCF")
        fields = [(f["name"], _avro_field_type(f["type"])) for f in schema["fields"]]
        out_schema = T.StructType([T.StructField(n, t) for n, t in fields])

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = []
                for payload in pdf[col]:
                    if payload is None:
                        continue
                    _, records = read_ocf(bytes(payload))
                    for rec in records:
                        row = {}
                        for name, t in fields:
                            v = rec.get(name)
                            if isinstance(v, (dict, list)):
                                v = json.dumps(v)
                            row[name] = v
                        out.append(row)
                yield pd.DataFrame(out, columns=[n for n, _ in fields])

        return df.select(col).mapInPandas(run, out_schema)


@directive
class ParseAsAvro(Directive):
    """parse-as-avro :col schema-id type [version] — decode binary- or
    json-encoded Avro message payloads against a registered writer schema
    (ref: parser/ParseAvro.java:110 resolves the schema from a registry
    service; standalone hosts register it via
    ``wrangler_spark.register_schema`` — same host-API pattern as
    ``register_lookup``). One output row per decoded record, columns =
    top-level record fields; nested maps/lists → JSON strings, mirroring
    ``codec/BinaryAvroDecoder.java:59-86`` / ``JsonAvroDecoder.java``."""

    name = "parse-as-avro"
    usage = [
        Arg("column", TokenType.COLUMN),
        Arg("schema_id", TokenType.IDENTIFIER),
        Arg("type", TokenType.IDENTIFIER, optional=True, default="binary"),
        Arg("version", TokenType.NUMERIC, optional=True),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        from wrangler_spark.formats.avro_ocf import (
            decode_binary_stream,
            decode_json_stream,
            parse_schema,
        )
        from wrangler_spark.schemas import get_schema

        col = ctx.resolve(df, self.args["column"])
        enc = str(self.args["type"] or "binary").lower()
        if enc not in ("binary", "json"):
            raise DirectiveApplyError(
                f"parse-as-avro: encoding must be 'json' or 'binary', got '{enc}'"
            )
        version = self.args.value("version")
        schema, names = parse_schema(get_schema(self.args["schema_id"], version))
        if not (isinstance(schema, dict) and schema.get("type") == "record"):
            raise DirectiveApplyError("parse-as-avro expects a record-typed writer schema")
        fields = [(f["name"], _avro_field_type(f["type"])) for f in schema["fields"]]
        out_schema = T.StructType([T.StructField(n, t) for n, t in fields])
        decode = decode_binary_stream if enc == "binary" else decode_json_stream
        field_names = [n for n, _ in fields]

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = []
                for payload in pdf[col]:
                    if payload is None:
                        continue
                    if isinstance(payload, str):
                        payload = payload.encode("utf-8")
                    for rec in decode(bytes(payload), schema, names):
                        row = {}
                        for name, t in fields:
                            v = rec.get(name)
                            if isinstance(v, (dict, list)):
                                v = json.dumps(v)
                            elif isinstance(v, (bytes, bytearray)) and isinstance(t, StringType):
                                v = v.decode("latin-1")  # fixed-typed → printable
                            row[name] = v
                        out.append(row)
                yield pd.DataFrame(out, columns=field_names)

        return df.select(col).mapInPandas(run, out_schema)


_PB_SPARK_TYPES: dict[int, T.DataType] = {}


def _pb_spark_type(f) -> T.DataType:
    from wrangler_spark.formats import protobuf_wire as pw

    if not _PB_SPARK_TYPES:
        _PB_SPARK_TYPES.update({
            pw.T_DOUBLE: T.DoubleType(), pw.T_FLOAT: T.FloatType(),
            pw.T_INT64: T.LongType(), pw.T_UINT64: T.LongType(),
            pw.T_INT32: T.IntegerType(), pw.T_FIXED64: T.LongType(),
            pw.T_FIXED32: T.LongType(), pw.T_BOOL: T.BooleanType(),
            pw.T_STRING: StringType(), pw.T_BYTES: T.BinaryType(),
            pw.T_UINT32: T.LongType(), pw.T_ENUM: StringType(),
            pw.T_SFIXED32: T.IntegerType(), pw.T_SFIXED64: T.LongType(),
            pw.T_SINT32: T.IntegerType(), pw.T_SINT64: T.LongType(),
        })
    if f.repeated:
        return StringType()  # JSON array — composes with parse-as-json
    return _PB_SPARK_TYPES.get(f.type, StringType())


@directive
class ParseAsProtobuf(Directive):
    """parse-as-protobuf :col schema-id message [version] — decode protobuf
    message payloads against a registered ``protoc --descriptor_set_out``
    FileDescriptorSet (ref: parser/ParseProtobuf.java:106 pulls descriptor
    bytes from a registry service; standalone hosts use
    ``wrangler_spark.register_schema``). Output is one row per payload with
    nested messages flattened to ``parent_field`` columns and enums as
    value names — the exact column shape of
    ``codec/ProtobufDecoderUsingDescriptor.java:decodeMessage`` (its
    repeated-message duplicates resolve first-match like ``Row.find``).
    Repeated scalar fields land as JSON array strings."""

    name = "parse-as-protobuf"
    usage = [
        Arg("column", TokenType.COLUMN),
        Arg("schema_id", TokenType.IDENTIFIER),
        Arg("message", TokenType.IDENTIFIER, optional=True),
        Arg("version", TokenType.NUMERIC, optional=True),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        from wrangler_spark.formats import protobuf_wire as pw
        from wrangler_spark.schemas import get_schema

        col = ctx.resolve(df, self.args["column"])
        if not self.args.value("message"):
            raise DirectiveApplyError("parse-as-protobuf requires a message type name")
        payload = get_schema(self.args["schema_id"], self.args.value("version"))
        if isinstance(payload, str):  # path to a .desc file
            with open(payload, "rb") as fh:
                payload = fh.read()
        index = pw.parse_descriptor_set(bytes(payload))
        try:
            msg = pw.find_message(index, str(self.args["message"]))
        except KeyError as e:
            raise DirectiveApplyError(str(e)) from None
        cols = pw.flat_schema(msg, index)
        out_schema = T.StructType(
            [T.StructField(n, _pb_spark_type(f)) for n, f in cols]
        )
        names = [n for n, _ in cols]
        repeated = {n for n, f in cols if f.repeated}

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = []
                for blob in pdf[col]:
                    if blob is None:
                        continue
                    flat = pw.decode_flat(bytes(blob), msg, index)
                    row = {}
                    for n in names:
                        v = flat.get(n)
                        if n in repeated:
                            v = json.dumps(v, default=str) if v is not None else None
                        row[n] = v
                    out.append(row)
                yield pd.DataFrame(out, columns=names)

        return df.select(col).mapInPandas(run, out_schema)


_HL7_ESCAPES = {"F": "|", "S": "^", "T": "&", "R": "~", "E": "\\"}


def _hl7_unescape(s: str) -> str:
    r"""Decode HL7 v2 escape sequences: \F\ field sep, \S\ component sep,
    \T\ subcomponent sep, \R\ repetition sep, \E\ escape char, \Xhh..\
    hex-encoded bytes. Unknown sequences (e.g. the \.br\ formatting
    escapes) are kept verbatim, as HAPI does for unrecognized escapes."""
    if "\\" not in s:
        return s
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch != "\\":
            out.append(ch)
            i += 1
            continue
        j = s.find("\\", i + 1)
        if j == -1:  # lone backslash at end — keep it
            out.append(s[i:])
            break
        seq = s[i + 1 : j]
        if seq in _HL7_ESCAPES:
            out.append(_HL7_ESCAPES[seq])
        elif len(seq) >= 3 and seq[0] in "Xx" and len(seq) % 2 == 1:
            try:
                out.append(bytes.fromhex(seq[1:]).decode("latin-1"))
            except ValueError:
                out.append("\\" + seq + "\\")
        else:
            out.append("\\" + seq + "\\")
        i = j + 1
    return "".join(out)


def _hl7_field(fv: str):
    """One field -> repetitions (~) of components (^) of subcomponents (&),
    each level collapsing to a scalar when it has a single element; atoms
    are escape-decoded AFTER all delimiter splits (escaped delimiters are
    \\F\\-style sequences, so they never collide with live separators)."""
    reps = []
    for rep in fv.split("~"):
        comps = []
        for comp in rep.split("^"):
            subs = [_hl7_unescape(x) for x in comp.split("&")]
            comps.append(subs if len(subs) > 1 else subs[0])
        reps.append(comps if len(comps) > 1 else comps[0])
    return reps if len(reps) > 1 else reps[0]


def _hl7_to_json(v: str) -> str:
    segments: dict[str, list] = {}
    for seg in v.replace("\n", "\r").split("\r"):
        seg = seg.strip()
        if not seg:
            continue
        fields = seg.split("|")
        name = fields[0]
        rec: dict[str, object] = {}
        if name == "MSH" and len(fields) > 1:
            rec["1"] = "|"
            rec["2"] = fields[1]  # encoding chars: raw by definition
            body = list(enumerate(fields[2:], start=3))
        else:
            body = list(enumerate(fields[1:], start=1))
        for i, fv in body:
            if fv == "":
                continue
            rec[str(i)] = _hl7_field(fv)
        segments.setdefault(name, []).append(rec)
    return json.dumps(segments)


@directive
class ParseAsHl7(Directive):
    """parse-as-hl7 :col [depth] — HL7 v2 pipe-delimited parse; adds
    col_hl7 as a JSON document {segment: [ {field#: value} ]} which
    composes with parse-as-json / json-path
    (ref: parser/HL7Parser.java:111 — HAPI-based; the wire format itself
    is the public HL7 v2 encoding: segments CR, fields |, components ^,
    subcomponents &, repetitions ~, escapes \\F\\ \\S\\ \\T\\ \\R\\ \\E\\
    \\Xhh\\). Field numbering follows the standard/HAPI convention: MSH-1
    is the field separator itself and MSH-2 the encoding characters (kept
    raw, never split or unescaped), so ADT^A01 lands at MSH-9. Repeating
    segments always collect into the array form (the reference's visitor
    silently drops third-and-later repeats of a segment —
    HL7Parser.java:196-207 only wraps the first pair into an array; we
    keep them all)."""

    name = "parse-as-hl7"
    usage = [Arg("column", TokenType.COLUMN), Arg("depth", TokenType.NUMERIC, optional=True, default=2)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])

        hl7_to_json = value_udf(_hl7_to_json, StringType())
        return df.withColumn(f"{col}_hl7", hl7_to_json(F.col(col).cast("string")))


@directive
class InvokeHttp(Directive):
    """invoke-http url :c1[,:c2...] [header=value;...] — POST the selected
    columns as JSON per row; adds http_status (int) and http_response
    (body string) (ref: external/InvokeHttp.java:126-198; the reference
    merges the response map — here the JSON body lands in one column and
    composes with parse-as-json, keeping the schema static)."""

    name = "invoke-http"
    usage = [
        Arg("url", TokenType.TEXT),
        Arg("columns", TokenType.COLUMN_LIST),
        Arg("headers", TokenType.TEXT, optional=True),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        cols = ctx.resolve_all(df, self.args["columns"])
        url = self.args["url"]
        hdr_spec = self.args.value("headers") or ""
        headers = {}
        for item in hdr_spec.split(";"):
            if "=" in item:
                k, v = item.split("=", 1)
                headers[k.strip()] = v.strip()

        resp_schema = T.StructType(
            [T.StructField("http_status", T.IntegerType()), T.StructField("http_response", StringType())]
        )

        @pandas_udf(resp_schema)
        def call(payload: pd.Series) -> pd.DataFrame:
            import requests

            session = requests.Session()
            statuses, bodies = [], []
            for p in payload:
                try:
                    r = session.post(url, data=p, headers={"Content-Type": "application/json", **headers}, timeout=10)
                    statuses.append(r.status_code)
                    bodies.append(r.text)
                except Exception as e:  # network errors land in the row, not the job
                    statuses.append(-1)
                    bodies.append(str(e))
            return pd.DataFrame({"http_status": statuses, "http_response": bodies})

        payload = F.to_json(F.struct(*[F.col(c) for c in cols]))
        out = df.withColumn("__http", call(payload))
        return (
            out.withColumn("http_status", F.col("__http.http_status"))
            .withColumn("http_response", F.col("__http.http_response"))
            .drop("__http")
        )


@directive
class DataModelMapColumn(Directive):
    """data-model-map-column :column 'target-field' [type] — rename (and
    optionally retype) a column to a glossary/data-model field
    (ref: datamodel/DataModelMapColumn.java:152 — the reference resolves
    the target from a data-model registry; here the target is given
    directly)."""

    name = "data-model-map-column"
    usage = [
        Arg("column", TokenType.COLUMN),
        Arg("target", TokenType.TEXT),
        Arg("type", TokenType.IDENTIFIER, optional=True),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        target = self.args["target"]
        out = df.withColumnRenamed(col, target)
        t = self.args.value("type")
        if t:
            from wrangler_spark.directives.columns import SetType

            spark_t = SetType.TYPES.get(str(t).lower())
            if spark_t is None:
                raise DirectiveApplyError(f"unknown type '{t}'")
            out = out.withColumn(target, F.col(target).try_cast(spark_t))
        return out


# JSON-schema registry for validate-standard (the reference bundles
# HL7-FHIR-R4 schemas as resources; register any draft-7 schema here).
_STANDARDS: dict[str, dict] = {}


def register_standard(name: str, schema: dict) -> None:
    _STANDARDS[name.lower()] = schema


@functools.cache
def _validator(schema_json: str):
    """The draft-7 validator of a schema, built once per Python worker."""
    import jsonschema

    return jsonschema.Draft7Validator(json.loads(schema_json))


@directive
class ValidateStandard(Directive):
    """validate-standard :col <standard> — JSON-schema conformance; rows
    failing validation go to the error channel
    (ref: validation/ValidateStandard.java:166-209)."""

    name = "validate-standard"
    usage = [Arg("column", TokenType.COLUMN), Arg("standard", TokenType.IDENTIFIER)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        std = str(self.args["standard"]).lower()
        schema = _STANDARDS.get(std)
        if schema is None:
            raise DirectiveApplyError(
                f"standard '{std}' not registered; call register_standard(name, json_schema)"
            )
        schema_json = json.dumps(schema)

        def is_invalid(v):
            validator = _validator(schema_json)
            try:
                doc = json.loads(v) if isinstance(v, str) else v
                return not validator.is_valid(doc)
            except Exception:
                return True

        # a null document is invalid
        invalid = value_udf(is_invalid, BooleanType())
        return ctx.route_errors(
            df, F.col(col).isNull() | invalid(F.col(col)), self.name, f"failed {std} schema validation"
        )


registry.alias("indexsplit", "index-split")
