"""Encode/decode/hash/charset directives (SURVEY §2.6) — native where Spark
has the codec (base64/hex/sha/md5), tiny Arrow UDF for base32 only.
"""

from __future__ import annotations

import base64

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from wrangler_spark.context import CompileContext
from wrangler_spark.directive import Arg, Directive
from wrangler_spark.errors import DirectiveApplyError
from wrangler_spark.parser.tokens import TokenType
from wrangler_spark.registry import directive
from wrangler_spark.udfs import value_udf


def _b32_decode_value(v: str) -> str | None:
    try:
        return base64.b32decode(v).decode(errors="replace")
    except Exception:
        return None


_b32_encode = value_udf(lambda v: base64.b32encode(v.encode()).decode(), StringType())
_b32_decode = value_udf(_b32_decode_value, StringType())


@directive
class Encode(Directive):
    """encode base32|base64|hex :col → adds col_encode_<method>
    (ref: transformation/Encode.java:104)."""

    name = "encode"
    usage = [Arg("method", TokenType.IDENTIFIER), Arg("column", TokenType.COLUMN)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        method = str(self.args["method"]).lower()
        c = F.col(col).cast("string")
        if method == "base64":
            out = F.base64(c.cast("binary"))
        elif method == "hex":
            out = F.lower(F.hex(c))
        elif method == "base32":
            out = _b32_encode(c)
        else:
            raise DirectiveApplyError(f"unknown encode method '{method}'")
        return df.withColumn(f"{col}_encode_{method}", out)


@directive
class Decode(Directive):
    """decode base32|base64|hex :col → adds col_decode_<method>
    (ref: transformation/Decode.java:104)."""

    name = "decode"
    usage = [Arg("method", TokenType.IDENTIFIER), Arg("column", TokenType.COLUMN)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        method = str(self.args["method"]).lower()
        c = F.col(col).cast("string")
        if method == "base64":
            out = F.unbase64(c).cast("string")
        elif method == "hex":
            out = F.unhex(c).cast("string")
        elif method == "base32":
            out = _b32_decode(c)
        else:
            raise DirectiveApplyError(f"unknown decode method '{method}'")
        return df.withColumn(f"{col}_decode_{method}", out)


# reference matrix tail (transformation/MessageHash.java:54-103) beyond the
# JVM-native family: hashlib name + kwargs, hashed in ONE Arrow-batched UDF
_HASHLIB_ALGOS: dict[str, tuple[str, dict]] = {
    "BLAKE2B-160": ("blake2b", {"digest_size": 20}),
    "BLAKE2B-256": ("blake2b", {"digest_size": 32}),
    "BLAKE2B-384": ("blake2b", {"digest_size": 48}),
    "BLAKE2B-512": ("blake2b", {"digest_size": 64}),
    "SHA3-224": ("sha3_224", {}),
    "SHA3-256": ("sha3_256", {}),
    "SHA3-384": ("sha3_384", {}),
    "SHA3-512": ("sha3_512", {}),
    "SHA-512/224": ("sha512_224", {}),
    "SHA-512/256": ("sha512_256", {}),
    "SM3": ("sm3", {}),
    "RIPEMD160": ("ripemd160", {}),
}
_KECCAK_BITS = {f"KECCAK-{b}": b for b in (224, 256, 288, 384, 512)}
# BouncyCastle-only exotics we do not re-implement (documented gap)
_UNSUPPORTED_HASHES = (
    "MD2", "MD4", "GOST3411", "GOST3411-2012-256", "GOST3411-2012-512",
    "RIPEMD128", "RIPEMD256", "RIPEMD320", "TIGER", "WHIRLPOOL",
)


def _hashlib_hex_udf(algo: str):
    import hashlib

    from wrangler_spark.formats.keccak import keccak_digest

    if algo in _KECCAK_BITS:
        bits = _KECCAK_BITS[algo]

        def one(v):
            return keccak_digest(v.encode("utf-8"), bits).hex()
    else:
        name, kwargs = _HASHLIB_ALGOS[algo]

        def one(v):
            return hashlib.new(name, v.encode("utf-8"), **kwargs).hexdigest()

    return value_udf(one, StringType())


@directive
class MessageHash(Directive):
    """hash :col algo [encode] — digest the column in place
    (ref: transformation/MessageHash.java:157, BouncyCastle matrix at
    :54-103). MD5/SHA-1/SHA-2/CRC32 run JVM-native; BLAKE2B-*, SHA3-*,
    SHA-512/224+256, SM3, RIPEMD160 via one hashlib Arrow UDF;
    KECCAK-224/256/288/384/512 via a stdlib Keccak sponge (hashlib has
    only the SHA-3 padding variant). MD2/MD4/GOST/RIPEMD-128/256/320/
    Tiger/Whirlpool/Skein are BouncyCastle-only and raise explicitly.
    encode=true (default) → hex string; false → binary."""

    name = "hash"
    usage = [
        Arg("column", TokenType.COLUMN),
        # TEXT per the reference (MessageHash.java:113) — algos with '/'
        # (SHA-512/224) must be quoted; bare identifiers widen to TEXT
        Arg("algo", TokenType.TEXT),
        Arg("encode", TokenType.BOOL, optional=True, default=True),
    ]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        algo = str(self.args["algo"]).upper().replace("_", "-")
        c = F.col(col).cast("string")
        if algo == "MD5":
            hexed = F.md5(c)
        elif algo in ("SHA-1", "SHA1", "SHA"):
            hexed = F.sha1(c)
        elif algo in ("SHA-224", "SHA-256", "SHA-384", "SHA-512"):
            hexed = F.sha2(c, int(algo.split("-")[1]))
        elif algo == "CRC32":
            hexed = F.lower(F.hex(F.crc32(c.cast("binary"))))
        elif algo in _HASHLIB_ALGOS or algo in _KECCAK_BITS:
            if algo in _HASHLIB_ALGOS:
                # OpenSSL-dependent names (ripemd160, sm3) may be missing on
                # this build — probe on the driver at compile time so the
                # failure is a clear DirectiveApplyError, not an executor
                # UDF ValueError at runtime
                import hashlib

                name, kwargs = _HASHLIB_ALGOS[algo]
                try:
                    hashlib.new(name, b"", **kwargs)
                except (ValueError, TypeError) as e:
                    raise DirectiveApplyError(
                        f"hash algorithm '{algo}' maps to hashlib '{name}', "
                        f"which this Python/OpenSSL build does not provide: {e}"
                    ) from None
            hexed = _hashlib_hex_udf(algo)(c)
        elif algo in _UNSUPPORTED_HASHES or algo.startswith("SKEIN"):
            raise DirectiveApplyError(
                f"hash algorithm '{algo}' needs a BouncyCastle-only digest "
                "with no stdlib equivalent — supported here: MD5, SHA/SHA-1, "
                "SHA-224/256/384/512, SHA-512/224, SHA-512/256, SHA3-*, "
                "KECCAK-*, BLAKE2B-*, SM3, RIPEMD160, CRC32"
            )
        else:
            raise DirectiveApplyError(f"unknown hash algorithm '{algo}'")
        out = hexed if self.args["encode"] else F.unhex(hexed)
        return df.withColumn(col, out)


@directive
class SetCharset(Directive):
    """set-charset :col 'charset' — decode binary → string
    (ref: language/SetCharset.java:77)."""

    name = "set-charset"
    usage = [Arg("column", TokenType.COLUMN), Arg("charset", TokenType.TEXT)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        return df.withColumn(col, F.decode(F.col(col), self.args["charset"]))
