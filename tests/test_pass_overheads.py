"""What one recipe pass costs beyond the recipe's own work: a compile-time
sample (parse-as-csv/-json/-excel/-avro-file, parse-xml-to-json,
split-to-columns, and parse-as-json's fallback schema) is taken once per
input frame, and an empty error channel is a LocalTableScan, not a
parallelized Python RDD."""

from pyspark.sql.types import StructType

from wrangler_spark import Pipeline
from wrangler_spark.datapipe._local import local_table
from wrangler_spark.streaming import transform_stream

_ERRORS_DDL = "record string, directive string, message string"
_RECIPE = "parse-as-csv :body ',' false\ndrop :body\nuppercase :body_1"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _bodies(spark, path):
    spark.createDataFrame([("a,1,x",), ("b,2",), (None,), ("c,3,z,w",)], "body string") \
        .write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_second_transform_of_a_frame_runs_no_sample_job(spark, jobs, tmp_path):
    df = _bodies(spark, str(tmp_path / "bodies"))
    p = Pipeline.compile(_RECIPE)
    results = []
    assert jobs(lambda: results.append(p.transform(df))) >= 1
    assert jobs(lambda: results.append(p.transform(df))) == 0
    assert results[0].df.schema == results[1].df.schema
    assert results[1].df.columns == ["body_1", "body_2", "body_3", "body_4"]
    # a new frame object over the same rows samples again
    assert jobs(lambda: p.transform(df.select("body"))) >= 1


def test_stream_sample_frame_compiles_and_is_reused(spark, jobs, tmp_path):
    path = str(tmp_path / "bodies")
    static = _bodies(spark, path)
    stream = spark.readStream.schema(static.schema).parquet(path)
    p = Pipeline.compile(_RECIPE)
    first = transform_stream(p, stream, sample_df=static)
    assert first.df.isStreaming
    assert jobs(lambda: transform_stream(p, stream, sample_df=static)) == 0
    assert first.df.columns == ["body_1", "body_2", "body_3", "body_4"]


def test_empty_error_channel_is_an_empty_local_table_scan(spark):
    df = spark.range(3).selectExpr("cast(id as string) AS s")
    errors = Pipeline.compile("uppercase :s").transform(df).errors()
    assert errors.schema == spark.createDataFrame([], _ERRORS_DDL).schema
    assert errors.collect() == []
    assert _executed(errors).startswith("LocalTableScan <empty>")


def test_local_table_empty_rows_keep_the_schema(spark):
    ddl = "a string, b long NOT NULL, c array<double>"
    t = local_table(spark, [], ddl)
    assert t.schema == StructType.fromDDL(ddl)
    assert t.collect() == []
    assert _executed(t).startswith("LocalTableScan <empty>")


def test_local_table_reads_naive_datetimes_in_the_driver_zone(spark, off_utc_driver):
    """collect -> local_table -> collect gives the same rows off UTC: a
    naive timestamp (a column, an array element, a struct field, a map
    value) is driver-local time, a timestamp_ntz is wall-clock time."""
    df = spark.sql("""
        SELECT timestamp_seconds(3600) AS ts,
               CAST(timestamp_seconds(3600) AS TIMESTAMP_NTZ) AS ntz,
               array(timestamp_seconds(7200), NULL) AS arr,
               named_struct('t', timestamp_seconds(3600), 'n', 1) AS st,
               map('k', timestamp_seconds(3600)) AS m""")
    rows = df.collect()
    assert rows[0].ts.hour == 20  # 01:00 UTC, collected in New York time
    assert local_table(spark, rows, df.schema).collect() == rows
    assert local_table(spark, [(r.ts,) for r in rows], ["ts"]).collect() == [(r.ts,) for r in rows]


def _payloads(spark, path, payloads):
    spark.createDataFrame([(p,) for p in payloads], "body binary").write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _second_transform_is_free(jobs, df, recipe):
    """The first transform samples; a second of the same frame launches no
    job and compiles the same schema; a new frame object samples again."""
    p = Pipeline.compile(recipe)
    results = []
    assert jobs(lambda: results.append(p.transform(df))) >= 1
    assert jobs(lambda: results.append(p.transform(df))) == 0
    assert results[0].df.schema == results[1].df.schema
    assert jobs(lambda: p.transform(df.select("*"))) >= 1
    return results[1].df


def test_parse_as_excel_samples_once_per_frame(spark, jobs, tmp_path):
    from wrangler_spark.formats.xlsx import write_xlsx

    book = write_xlsx([["id", "name"], [1, "a"], [2, "b"]])
    df = _payloads(spark, str(tmp_path / "xlsx"), [book, None, book])
    out = _second_transform_is_free(jobs, df, "parse-as-excel :body '0' true")
    assert out.columns == ["fwd", "bkd", "id", "name"]


def test_parse_as_avro_file_samples_once_per_frame(spark, jobs, tmp_path):
    from wrangler_spark.formats.avro_ocf import write_ocf

    schema = {"type": "record", "name": "R", "fields": [{"name": "k", "type": "long"}]}
    df = _payloads(spark, str(tmp_path / "avro"), [write_ocf(schema, [{"k": 1}, {"k": 2}])])
    out = _second_transform_is_free(jobs, df, "parse-as-avro-file :body")
    assert out.columns == ["k"]


def test_split_to_columns_samples_once_per_frame(spark, jobs, tmp_path):
    df = _bodies(spark, str(tmp_path / "bodies"))
    out = _second_transform_is_free(jobs, df, "split-to-columns :body ','")
    assert out.columns[-4:] == ["body_1", "body_2", "body_3", "body_4"]


def test_parse_as_json_fallback_schema_is_kept_with_its_sample(spark, jobs, tmp_path):
    path = str(tmp_path / "json")
    spark.createDataFrame([('{"a":1}',), ('{"a":"x"}',)], "body string").write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    p = Pipeline.compile("parse-as-json :body")
    results = []
    # the sample job, then Spark's inference over the conflicting shapes
    assert jobs(lambda: results.append(p.transform(df))) >= 2
    assert jobs(lambda: results.append(p.transform(df))) == 0
    assert results[0].df.schema == results[1].df.schema
    assert dict(results[1].df.dtypes) == {"body_a": "string"}


def test_parse_xml_to_json_samples_once_per_input_frame(spark, jobs, tmp_path):
    path = str(tmp_path / "xml")
    spark.createDataFrame([("<r><a>1</a><b>x</b></r>",), (None,), ("<r><a>2</a><b>y</b></r>",)], "body string") \
        .coalesce(1).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    p = Pipeline.compile("parse-xml-to-json :body")
    results = []
    assert [jobs(lambda: results.append(p.transform(df))) for _ in range(3)] == [1, 0, 0]
    assert results[0].df.schema == results[2].df.schema
    assert [tuple(r) for r in results[2].df.collect()] == [("1", "x"), (None, None), ("2", "y")]
