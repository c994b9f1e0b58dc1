"""Minimal Apache Avro Object Container File reader/writer — stdlib only.

Implements the published Avro 1.x spec (binary encoding + OCF framing):
zigzag-varint ints/longs, IEEE float/double, length-prefixed bytes/string,
records, enums, fixed, arrays, maps, unions; null and deflate codecs.
Enough for the reference's ``parse-as-avro-file`` surface
(``parser/ParseAvroFile.java:79-151`` reads generic records with
DataFileReader). The write side (``encode_datum`` / ``write_ocf``) is
the exact inverse — used to synthesize deterministic payloads for the
round-trip correctness gate and by tests.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from typing import Any

MAGIC = b"Obj\x01"


def _register_named(schema: Any, names: dict, ns: str | None = None) -> None:
    """Walk a schema, indexing record/enum/fixed definitions so later
    references by (full)name resolve (Avro spec: named types)."""
    if isinstance(schema, list):
        for b in schema:
            _register_named(b, names, ns)
        return
    if not isinstance(schema, dict):
        return
    t = schema.get("type")
    ns = schema.get("namespace", ns)
    if t in ("record", "enum", "fixed"):
        name = schema["name"]
        full = name if "." in name else (f"{ns}.{name}" if ns else name)
        names[full] = schema
        names[name] = schema
        if t == "record":
            for f in schema["fields"]:
                _register_named(f["type"], names, ns)
    elif t == "array":
        _register_named(schema.get("items"), names, ns)
    elif t == "map":
        _register_named(schema.get("values"), names, ns)


class _Reader:
    def __init__(self, buf: bytes, names: dict | None = None):
        self.b = buf
        self.pos = 0
        self.names = names or {}

    def read(self, n: int) -> bytes:
        out = self.b[self.pos : self.pos + n]
        if len(out) < n:
            raise EOFError("truncated avro data")
        self.pos += n
        return out

    def at_end(self) -> bool:
        return self.pos >= len(self.b)

    def zigzag(self) -> int:
        shift = 0
        acc = 0
        while True:
            byte = self.b[self.pos]
            self.pos += 1
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def decode(self, schema: Any) -> Any:
        if isinstance(schema, str):
            t = schema
        elif isinstance(schema, dict):
            t = schema["type"]
        elif isinstance(schema, list):  # union
            idx = self.zigzag()
            return self.decode(schema[idx])
        else:
            raise ValueError(f"bad schema node {schema!r}")

        if t == "null":
            return None
        if t == "boolean":
            return self.read(1) == b"\x01"
        if t in ("int", "long"):
            return self.zigzag()
        if t == "float":
            return struct.unpack("<f", self.read(4))[0]
        if t == "double":
            return struct.unpack("<d", self.read(8))[0]
        if t == "bytes":
            return self.read(self.zigzag())
        if t == "string":
            return self.read(self.zigzag()).decode("utf-8")
        if t == "record":
            return {f["name"]: self.decode(f["type"]) for f in schema["fields"]}
        if t == "enum":
            return schema["symbols"][self.zigzag()]
        if t == "fixed":
            return self.read(schema["size"])
        if t == "array":
            out = []
            while True:
                n = self.zigzag()
                if n == 0:
                    break
                if n < 0:
                    self.zigzag()  # block byte size, unused
                    n = -n
                for _ in range(n):
                    out.append(self.decode(schema["items"]))
            return out
        if t == "map":
            out = {}
            while True:
                n = self.zigzag()
                if n == 0:
                    break
                if n < 0:
                    self.zigzag()
                    n = -n
                for _ in range(n):
                    k = self.read(self.zigzag()).decode("utf-8")
                    out[k] = self.decode(schema["values"])
            return out
        if t in self.names:  # reference to a previously defined named type
            return self.decode(self.names[t])
        raise ValueError(f"unsupported avro type {t!r}")


def parse_schema(schema_text) -> tuple[Any, dict]:
    """Parse an .avsc JSON writer schema → (schema, named-type index)."""
    schema = json.loads(schema_text) if isinstance(schema_text, (str, bytes)) else schema_text
    names: dict = {}
    _register_named(schema, names)
    return schema, names


def decode_binary_stream(payload: bytes, schema: Any, names: dict) -> list[Any]:
    """Decode a raw (schema-less) concatenation of binary-encoded datums —
    the ``parse-as-avro ... binary`` message shape: the reference's
    BinaryAvroDecoder reads records until EOF
    (``codec/BinaryAvroDecoder.java:59-86``)."""
    r = _Reader(payload, names)
    records: list[Any] = []
    while not r.at_end():
        records.append(r.decode(schema))
    return records


def _branch_name(branch: Any) -> str:
    if isinstance(branch, str):
        return branch
    if isinstance(branch, dict):
        t = branch["type"]
        if t in ("record", "enum", "fixed"):
            name = branch["name"]
            ns = branch.get("namespace")
            return f"{ns}.{name}" if ns and "." not in name else name
        return t
    raise ValueError(f"bad union branch {branch!r}")


def _from_json(value: Any, schema: Any, names: dict) -> Any:
    """Map a JSON-encoded Avro value (the spec's JSON encoding: unions as
    single-key {"branch": value} objects) to a Python value."""
    if isinstance(schema, str) and schema in names:
        schema = names[schema]
    if isinstance(schema, list):  # union
        if value is None:
            return None
        if not isinstance(value, dict) or len(value) != 1:
            raise ValueError(f"union value must be a 1-key object, got {value!r}")
        key, inner = next(iter(value.items()))
        for b in schema:
            bn = _branch_name(b)
            if bn == key or bn.rsplit(".", 1)[-1] == key.rsplit(".", 1)[-1]:
                return _from_json(inner, b, names)
        raise ValueError(f"union branch {key!r} not in schema")
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "record":
        return {
            f["name"]: _from_json(value.get(f["name"]), f["type"], names)
            for f in schema["fields"]
        }
    if t == "array":
        return [_from_json(v, schema["items"], names) for v in value]
    if t == "map":
        return {k: _from_json(v, schema["values"], names) for k, v in value.items()}
    if t == "bytes" or t == "fixed":
        # JSON encoding: latin-1 string of the raw bytes
        return value.encode("latin-1") if isinstance(value, str) else value
    if t in ("int", "long"):
        return int(value) if value is not None else None
    if t in ("float", "double"):
        return float(value) if value is not None else None
    return value


def decode_json_stream(payload: bytes, schema: Any, names: dict) -> list[Any]:
    """Decode concatenated JSON-encoded Avro records until EOF — the
    ``parse-as-avro ... json`` message shape (``codec/JsonAvroDecoder.java``)."""
    text = payload.decode("utf-8") if isinstance(payload, (bytes, bytearray)) else str(payload)
    dec = json.JSONDecoder()
    records: list[Any] = []
    pos = 0
    n = len(text)
    while pos < n:
        while pos < n and text[pos] in " \t\r\n":
            pos += 1
        if pos >= n:
            break
        obj, pos = dec.raw_decode(text, pos)
        records.append(_from_json(obj, schema, names))
    return records


def _zigzag_enc(n: int) -> bytes:
    """Encode a signed int as an Avro zigzag varint (spec: binary
    encoding, the inverse of ``_Reader.zigzag``)."""
    u = (n << 1) ^ (n >> 63) if n < 0 else (n << 1)
    u &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _union_branch_for(value: Any, schema: list) -> Any:
    """Pick the union branch a Python value encodes under: None -> the
    null branch, else the first non-null branch whose base type accepts
    the value (deterministic — schema order wins on ambiguity)."""
    def base(b):
        return b if isinstance(b, str) else b.get("type")

    if value is None:
        for i, b in enumerate(schema):
            if base(b) == "null":
                return i, b
        raise ValueError("None for a union without a null branch")
    accepts = {
        bool: {"boolean"},
        int: {"int", "long", "float", "double"},
        float: {"float", "double"},
        str: {"string", "enum"},
        bytes: {"bytes", "fixed"},
        dict: {"record", "map"},
        list: {"array"},
    }
    ok = accepts.get(bool if isinstance(value, bool) else type(value), set())
    for i, b in enumerate(schema):
        if base(b) in ok:
            return i, b
    for i, b in enumerate(schema):  # named-type reference branches
        if isinstance(b, str) and b not in (
                "null", "boolean", "int", "long", "float", "double",
                "bytes", "string"):
            return i, b
    raise ValueError(f"no union branch accepts {type(value).__name__}")


def encode_datum(value: Any, schema: Any, names: dict) -> bytes:
    """Binary-encode one datum against a writer schema — the exact
    inverse of ``_Reader.decode`` (Avro 1.x spec, binary encoding)."""
    if isinstance(schema, list):  # union: branch index then value
        idx, branch = _union_branch_for(value, schema)
        return _zigzag_enc(idx) + encode_datum(value, branch, names)
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, dict):
        t = schema["type"]
    else:
        raise ValueError(f"bad schema node {schema!r}")

    if t == "null":
        return b""
    if t == "boolean":
        return b"\x01" if value else b"\x00"
    if t in ("int", "long"):
        return _zigzag_enc(int(value))
    if t == "float":
        return struct.pack("<f", float(value))
    if t == "double":
        return struct.pack("<d", float(value))
    if t == "bytes":
        b = bytes(value)
        return _zigzag_enc(len(b)) + b
    if t == "string":
        b = str(value).encode("utf-8")
        return _zigzag_enc(len(b)) + b
    if t == "record":
        return b"".join(
            encode_datum(value.get(f["name"]), f["type"], names)
            for f in schema["fields"])
    if t == "enum":
        return _zigzag_enc(schema["symbols"].index(value))
    if t == "fixed":
        b = bytes(value)
        if len(b) != schema["size"]:
            raise ValueError(
                f"fixed size mismatch: {len(b)} != {schema['size']}")
        return b
    if t == "array":
        if not value:
            return _zigzag_enc(0)
        body = b"".join(encode_datum(v, schema["items"], names)
                        for v in value)
        return _zigzag_enc(len(value)) + body + _zigzag_enc(0)
    if t == "map":
        if not value:
            return _zigzag_enc(0)
        body = bytearray()
        for k, v in value.items():
            kb = str(k).encode("utf-8")
            body += _zigzag_enc(len(kb)) + kb
            body += encode_datum(v, schema["values"], names)
        return _zigzag_enc(len(value)) + bytes(body) + _zigzag_enc(0)
    if t in names:
        return encode_datum(value, names[t], names)
    raise ValueError(f"unsupported avro type {t!r}")


# fixed sync marker so identical inputs produce identical OCF bytes —
# a deterministic-output requirement, not a spec one (the spec only
# needs the marker to be consistent within one file)
_SYNC = bytes(range(16))


def write_ocf(schema: Any, records: list, codec: str = "null") -> bytes:
    """Serialize records into an Avro Object Container File — the
    inverse of :func:`read_ocf` (header with avro.schema/avro.codec
    metadata, one data block, 16-byte sync marker; null or deflate
    codec). Deterministic: fixed sync marker, single block."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    names: dict = {}
    _register_named(schema, names)
    block = b"".join(encode_datum(r, schema, names) for r in records)
    if codec == "deflate":
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        block = comp.compress(block) + comp.flush()
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    out = bytearray(MAGIC)
    out += _zigzag_enc(len(meta))
    for k in sorted(meta):
        kb = k.encode("utf-8")
        out += _zigzag_enc(len(kb)) + kb
        out += _zigzag_enc(len(meta[k])) + meta[k]
    out += _zigzag_enc(0)
    out += _SYNC
    if records:
        out += _zigzag_enc(len(records))
        out += _zigzag_enc(len(block)) + block
        out += _SYNC
    return bytes(out)


def read_ocf(payload: bytes) -> tuple[dict, list[Any]]:
    """Parse an OCF payload → (schema, records)."""
    r = _Reader(payload)
    if r.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = r.zigzag()
        if n == 0:
            break
        if n < 0:
            r.zigzag()
            n = -n
        for _ in range(n):
            k = r.read(r.zigzag()).decode("utf-8")
            meta[k] = r.read(r.zigzag())
    sync = r.read(16)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    names: dict = {}
    _register_named(schema, names)

    records: list[Any] = []
    while not r.at_end():
        count = r.zigzag()
        size = r.zigzag()
        block = r.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported avro codec {codec!r}")
        br = _Reader(block, names)
        for _ in range(count):
            records.append(br.decode(schema))
        if r.read(16) != sync:
            raise ValueError("avro sync marker mismatch")
    return schema, records
