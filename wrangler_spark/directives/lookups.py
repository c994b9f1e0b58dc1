"""Lookup directives — the reference's only join-like ops (SURVEY §2.7),
compiled to explicit BROADCAST hash joins: the lookup side is always the
small dimension, so at 100 TB the fact side never shuffles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wrangler_spark.context import CompileContext
from wrangler_spark.directive import Arg, Directive
from wrangler_spark.errors import DirectiveApplyError
from wrangler_spark.parser.tokens import TokenType
from wrangler_spark.registry import directive

# Registered lookup tables: name -> DataFrame (set by the host app) or a
# dict of key->description for tiny in-package catalogs.
_CATALOGS: dict[str, object] = {}


def register_lookup(name: str, table) -> None:
    """Host API: register a lookup table (DataFrame or {key: value} dict)
    for catalog-lookup / table-lookup."""
    _CATALOGS[name.lower()] = table


# Catalogs bundled as package resources, like the reference's ICD tables
# (ref: lookup/CatalogLookup.java:93 + resources icd-9_cm_codes.txt): the
# ICD code lists are US-government works (CDC/NCHS, CMS) in the public
# domain, so a compact subset ships in wrangler_spark/resources and
# `catalog-lookup ICD-9 :code` works with zero setup. register_lookup()
# with the same name overrides the bundled subset with a full table.
_BUNDLED_FILES = {
    "icd-9": "icd9_cm_subset.txt",
    "icd-10-2016": "icd10_subset.txt",
    "icd-10-2017": "icd10_subset.txt",
}


_BUNDLED_CACHE: dict[str, dict[str, str]] = {}


def load_bundled_catalog(name: str) -> dict[str, str] | None:
    """{code: description} for a bundled catalog name, else None.
    Parsed once per process (memoized) — repeated compiles must not
    re-read the resource file."""
    fname = _BUNDLED_FILES.get(name.lower())
    if fname is None:
        return None
    cached = _BUNDLED_CACHE.get(fname)
    if cached is not None:
        return cached
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "resources", fname)
    out: dict[str, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            code, _, desc = line.partition("|")
            out[code] = desc
    _BUNDLED_CACHE[fname] = out
    return out


@directive
class CatalogLookup(Directive):
    """catalog-lookup <catalog> :col — adds :col_<catalog>_description
    (ref: lookup/CatalogLookup.java:93; ICD catalogs ship as resources).
    ICD-9 / ICD-10-2016 / ICD-10-2017 resolve out of the box from bundled
    public-domain subsets; any other catalog (or a full ICD table) comes
    from register_lookup() with a {code: description} mapping."""

    name = "catalog-lookup"
    usage = [Arg("catalog", TokenType.IDENTIFIER), Arg("column", TokenType.COLUMN)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        catalog = str(self.args["catalog"]).lower()
        col = ctx.resolve(df, self.args["column"])
        table = _CATALOGS.get(catalog)
        if table is None:
            table = load_bundled_catalog(catalog)
        if table is None:
            raise DirectiveApplyError(
                f"catalog '{catalog}' not registered; call register_lookup('{catalog}', mapping)"
            )
        out_col = f"{col}_{catalog}_description"
        spark = df.sparkSession
        if isinstance(table, dict):
            from wrangler_spark.datapipe._local import local_table

            lookup_df = local_table(spark, table.items(), ["__key", "__value"])
        else:
            lookup_df = table.toDF("__key", "__value")
        joined = df.join(
            F.broadcast(lookup_df), F.col(col).cast("string") == F.col("__key").cast("string"), "left"
        )
        return joined.withColumn(out_col, F.col("__value")).drop("__key", "__value")


@directive
class TableLookup(Directive):
    """table-lookup :col 'table' — key lookup into a registered table; adds
    col_<field> for every non-key field (ref: lookup/TableLookup.java:100-135).
    Broadcast left join."""

    name = "table-lookup"
    usage = [Arg("column", TokenType.COLUMN), Arg("table", TokenType.TEXT)]

    def apply(self, ctx: CompileContext, df: DataFrame) -> DataFrame:
        col = ctx.resolve(df, self.args["column"])
        tname = self.args["table"]
        table = _CATALOGS.get(tname.lower())
        if table is None:
            # fall back to a Spark catalog (temp view / metastore) table
            spark = df.sparkSession
            try:
                table = spark.table(tname)
            except Exception as e:
                raise DirectiveApplyError(
                    f"lookup table '{tname}' not registered and not in the Spark catalog: {e}"
                )
        if isinstance(table, dict):
            from wrangler_spark.datapipe._local import local_table

            table = local_table(df.sparkSession, table.items(), ["key", "value"])
        key_col = table.columns[0]
        renamed = table.select(
            F.col(key_col).alias("__key"),
            *[F.col(c).alias(f"{col}_{c}") for c in table.columns[1:]],
        )
        joined = df.join(
            F.broadcast(renamed), F.col(col).cast("string") == F.col("__key").cast("string"), "left"
        ).drop("__key")
        return joined
