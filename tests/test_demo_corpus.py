"""End-to-end tests on the reference's own demo corpus files
(wrangler-demos/sample/*) — input DATA only, exercised through this
engine's recipes."""

import os

import pytest

from pyspark.sql import functions as F

from wrangler_spark import Pipeline

LOGS = "/root/reference/wrangler-demos/sample/apache-combined-logs.log"
MOVIES = "/root/reference/wrangler-demos/sample/movies.csv"
CCDA = "/root/reference/wrangler-demos/sample/CCDA_R2_CCD_HL7.xml"


@pytest.mark.skipif(not os.path.exists(LOGS), reason="reference golden absent")
def test_apache_combined_logs(spark):
    from wrangler_spark.sources import read_raw_lines

    df = read_raw_lines(spark, LOGS)
    out = Pipeline.compile("parse-as-log :body 'combined'").apply(df)
    total = out.count()
    parsed = out.filter(F.col("ip_connection_client_host").isNotNull())
    n_parsed = parsed.count()
    assert total == 500  # the demo file's line count
    assert n_parsed / total > 0.99  # combined-format lines all parse
    r = parsed.first()
    assert r["ip_connection_client_host"].count(".") == 3
    assert r["http_method_request_receive_method"] in ("GET", "POST", "PUT", "DELETE", "HEAD")
    assert r["time_stamp_request_receive_time"] is not None
    # a follow-on analytic recipe over the parsed fields
    top = Pipeline.compile(
        "aggregate-by :http_method_request_receive_method prop:{n='count(*)'}\nsort-by :n desc"
    ).apply(parsed)
    rows = top.collect()
    assert rows[0]["http_method_request_receive_method"] == "GET"


@pytest.mark.skipif(not os.path.exists(MOVIES), reason="reference golden absent")
def test_movies_csv(spark):
    from wrangler_spark.sources import read_raw_lines

    df = read_raw_lines(spark, MOVIES)
    out = Pipeline.compile(
        # header row auto-detected -> movieId/title/genres become columns
        "parse-as-csv :body ',' true\ndrop :body\nset-type :movieId int\n"
        "split-to-rows :genres '\\|'"
    ).apply(df)
    assert out.columns == ["movieId", "title", "genres"]
    r = out.filter(F.col("movieId") == 1).collect()
    assert {x["genres"] for x in r} == {"Adventure", "Animation", "Children", "Comedy", "Fantasy"}
    assert r[0]["title"] == "Toy Story (1995)"


@pytest.mark.skipif(not os.path.exists(CCDA), reason="reference golden absent")
def test_ccda_xml_to_json(spark):
    xml = open(CCDA, encoding="utf-8", errors="replace").read()
    df = spark.createDataFrame([(xml,)], ["doc"])
    out = Pipeline.compile("parse-xml-to-json :doc 1").apply(df)
    assert out.count() == 1
    assert len(out.columns) >= 1  # flattened top-level element columns
