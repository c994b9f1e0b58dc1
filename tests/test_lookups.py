"""Lookup directives: bundled public-domain ICD catalogs resolve with zero
setup (ref: lookup/CatalogLookup.java:93 — the reference ships its ICD
tables as resources), and register_lookup() overrides them."""

from wrangler_spark import Pipeline
from wrangler_spark.directives.lookups import load_bundled_catalog, register_lookup


def test_bundled_icd9_out_of_the_box(spark):
    df = spark.createDataFrame(
        [(1, "4019"), (2, "486"), (3, "00000")], ["id", "code"]
    )
    out = Pipeline.compile("catalog-lookup ICD-9 :code").apply(df)
    r = {x["id"]: x["code_icd-9_description"] for x in out.collect()}
    assert r[1] == "Unspecified essential hypertension"
    assert r[2] == "Pneumonia, organism unspecified"
    assert r[3] is None  # unknown code -> null description, row kept


def test_bundled_icd10_both_years(spark):
    df = spark.createDataFrame([(1, "I10"), (2, "J189")], ["id", "code"])
    for cat in ("ICD-10-2016", "ICD-10-2017"):
        out = Pipeline.compile(f"catalog-lookup {cat} :code").apply(df)
        col = f"code_{cat.lower()}_description"
        r = {x["id"]: x[col] for x in out.collect()}
        assert r[1] == "Essential (primary) hypertension"
        assert r[2] == "Pneumonia, unspecified organism"


def test_register_lookup_overrides_bundled(spark):
    register_lookup("ICD-9", {"4019": "custom override"})
    try:
        df = spark.createDataFrame([(1, "4019")], ["id", "code"])
        out = Pipeline.compile("catalog-lookup ICD-9 :code").apply(df)
        assert out.collect()[0]["code_icd-9_description"] == "custom override"
    finally:
        from wrangler_spark.directives import lookups

        lookups._CATALOGS.pop("icd-9", None)


def test_bundled_loader_shapes():
    icd9 = load_bundled_catalog("ICD-9")
    icd10 = load_bundled_catalog("icd-10-2017")
    assert len(icd9) >= 30 and len(icd10) >= 30
    assert all("|" not in v for v in icd9.values())
    assert load_bundled_catalog("not-a-catalog") is None


def test_dict_lookup_sides_are_local_tables(spark):
    """A {key: value} lookup side keeps the schema and rows the plain
    ``createDataFrame(list, names)`` inference gave (str -> string,
    int -> long, float -> double, None kept) and plans as a LocalTableScan."""
    from wrangler_spark.datapipe._local import local_table
    from wrangler_spark.directives import lookups

    df = local_table(spark, [(1, "a"), (2, "b"), (3, "zz")], "id long, code string")
    for name, mapping in (("lk_str", {"a": "alpha", "b": None}),
                          ("lk_int", {"a": 1, "b": 20}),
                          ("lk_float", {"a": 1.5, "b": None})):
        register_lookup(name, mapping)
        try:
            want = spark.createDataFrame([(k, v) for k, v in mapping.items()], ["key", "value"])
            for recipe, out_col in ((f"catalog-lookup {name} :code", f"code_{name}_description"),
                                    (f"table-lookup :code '{name}'", "code_value")):
                out = Pipeline.compile(recipe).apply(df)
                assert out.schema[out_col].dataType == want.schema["value"].dataType
                got = {r["id"]: r[out_col] for r in out.collect()}
                assert got == {1: mapping["a"], 2: mapping["b"], 3: None}
                plan = out._jdf.queryExecution().executedPlan().toString()
                assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        finally:
            lookups._CATALOGS.pop(name, None)
