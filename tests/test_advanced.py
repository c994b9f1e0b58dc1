"""Advanced directive tests — binary formats use the reference's own
golden test resources (titanic.xlsx, cdap-log.avro) as INPUT DATA when
they are present, and payloads of the same shape built with the
package's own writers when they are not."""

import os

import pytest

from pyspark.sql import functions as F

from wrangler_spark import Pipeline
from wrangler_spark.directives.stemmer import porter_stem
from wrangler_spark.errors import DirectiveApplyError
from wrangler_spark.formats.avro_ocf import write_ocf
from wrangler_spark.formats.xlsx import write_xlsx

XLSX = "/root/reference/wrangler-core/src/test/resources/titanic.xlsx"
AVRO = "/root/reference/wrangler-core/src/test/resources/cdap-log.avro"


def _titanic_xlsx() -> bytes:
    """titanic.xlsx's shape: a header row plus 891 passenger rows."""
    header = ["PassengerId", "Survived", "Pclass", "Name", "Sex", "Age", "Fare"]
    rows = [[i, i % 2, 1 + i % 3, f"Passenger, Mr. No{i}", ("male", "female")[i % 2],
             None if i % 5 == 0 else 20 + i % 40, round(7.25 + i % 50, 2)]
            for i in range(1, 892)]
    return write_xlsx([header] + rows)


def _cdap_log_avro() -> bytes:
    """cdap-log.avro's shape: 1689 log records with a long timestamp."""
    schema = {"type": "record", "name": "LogEvent", "fields": [
        {"name": "timestamp", "type": "long"},
        {"name": "level", "type": "string"},
        {"name": "logger", "type": "string"},
        {"name": "message", "type": "string"},
    ]}
    levels = ["INFO", "DEBUG", "WARN", "ERROR"]
    records = [{"timestamp": 1_500_000_000_000 + 37 * i, "level": levels[i % 4],
                "logger": f"co.cask.cdap.app{i % 9}", "message": f"event {i} handled"}
               for i in range(1689)]
    return write_ocf(schema, records)


def _payload(path: str, synthesize) -> bytes:
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return fh.read()
    return synthesize()


def test_porter_stem_golden():
    # canonical Porter examples from the published algorithm description
    cases = {
        "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
        "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
        "motoring": "motor", "sing": "sing", "conflated": "conflat",
        "troubled": "troubl", "sized": "size", "hopping": "hop", "falling": "fall",
        "happy": "happi", "relational": "relat", "conditional": "condit",
        "vietnamization": "vietnam", "predication": "predic",
        "triplicate": "triplic", "formative": "form", "formalize": "formal",
        "revival": "reviv", "allowance": "allow", "inference": "infer",
        "probate": "probat", "rate": "rate", "cease": "ceas",
        "controll": "control", "roll": "roll",
    }
    for w, want in cases.items():
        assert porter_stem(w) == want, f"{w}: got {porter_stem(w)}, want {want}"


def test_stemming_directive(spark):
    df = spark.createDataFrame([("running quickly to the stores",)], ["text"])
    out = Pipeline.compile("stemming :text").apply(df).collect()[0]
    assert out["text_porter"] == ["run", "quickli", "to", "the", "store"]


@pytest.fixture(scope="module")
def xlsx_df(spark):
    payload = _payload(XLSX, _titanic_xlsx)
    return spark.createDataFrame([(payload,)], "body binary")


def test_parse_as_excel(xlsx_df):
    out = Pipeline.compile("parse-as-excel :body '0' true").apply(xlsx_df)
    rows = out.limit(3).collect()
    assert "PassengerId" in out.columns and "Name" in out.columns
    assert rows[0]["fwd"] == 0
    assert rows[0]["PassengerId"] == "1"


def test_parse_as_excel_letters(xlsx_df):
    out = Pipeline.compile("parse-as-excel :body").apply(xlsx_df)
    assert out.columns[:3] == ["fwd", "bkd", "A"]
    assert out.count() == 892  # 891 data + header row
    # ParseExcelTest.testBasicExcel: first row fwd=0, bkd=n-1
    first = out.filter(out["fwd"] == 0).collect()[0]
    assert first["bkd"] == 891


def test_parse_as_excel_missing_sheet_routes_to_errors(xlsx_df):
    """ParseExcelTest.testNoSheetName shape: 0 clean rows, the record in
    the error channel."""
    res = Pipeline.compile("parse-as-excel :body 'no-such-sheet'").transform(xlsx_df)
    assert res.df.count() == 0
    assert res.errors().count() == 1


def test_parse_as_avro_file(spark):
    payload = _payload(AVRO, _cdap_log_avro)
    df = spark.createDataFrame([(payload,)], "body binary")
    out = Pipeline.compile("parse-as-avro-file :body").apply(df)
    assert out.count() == 1689
    assert {"timestamp", "level", "message"} <= set(out.columns)
    assert dict(out.dtypes)["timestamp"] == "bigint"


def test_parse_as_hl7(spark):
    msg = "MSH|^~\\&|HIS|RIH|EKG|EKG|199904140038||ADT^A01|12345|P|2.2\rPID|0001|00009874|||Smith^John"
    df = spark.createDataFrame([(msg,)], ["body"])
    out = Pipeline.compile("parse-as-hl7 :body").apply(df).collect()[0]
    import json

    doc = json.loads(out["body_hl7"])
    assert doc["PID"][0]["1"] == "0001"
    assert doc["PID"][0]["5"] == ["Smith", "John"]
    # standard/HAPI numbering: MSH-1 = field sep, MSH-2 = encoding chars
    assert doc["MSH"][0]["1"] == "|"
    assert doc["MSH"][0]["2"] == "^~\\&"
    assert doc["MSH"][0]["9"] == ["ADT", "A01"]


def test_parse_as_hl7_escapes_and_repeats(spark):
    """Escape sequences + repeating fields + subcomponents, on field shapes
    from the reference's HL7ParserTest fixtures (adt08 PID-3 repeating
    patient ids with & subcomponents; ADT segments repeating)."""
    import json

    pid3 = (
        "100003^^^&2.16.840.1.113883.3.1009&ISO"
        "~011806^^^SLV Med Center&2.16.840.1.113883.3.930&ISO"
        "~CL0001115542^^^CO Laboratory Services CL&&ISO"
    )
    msg = (
        "MSH|^~\\&|ADT|CHMC|ProAccess||20230822181701||ADT^A08|MT14275|P|2.3\r"
        f"PID|1|CEUL1984055|{pid3}\r"
        "NK1|1|POLASKI^BOBBY|CHD\r"
        "NK1|2|TYRIE^BLAIR|CHD\r"
        "NK1|3|THIRD^KEPT|CHD\r"
        "OBX|1|TX|A\\F\\B\\S\\C\\T\\D\\R\\E\\E\\F|X\\X41\\Y|\\.br\\Z"
    )
    df = spark.createDataFrame([(msg,)], ["body"])
    out = Pipeline.compile("parse-as-hl7 :body").apply(df).collect()[0]
    doc = json.loads(out["body_hl7"])

    # repeating field -> array of repetitions; & -> subcomponent arrays
    reps = doc["PID"][0]["3"]
    assert len(reps) == 3
    assert reps[0] == ["100003", "", "", ["", "2.16.840.1.113883.3.1009", "ISO"]]
    assert reps[1][3] == ["SLV Med Center", "2.16.840.1.113883.3.930", "ISO"]
    assert reps[2][3] == ["CO Laboratory Services CL", "", "ISO"]

    # all three NK1 repeats kept (the reference's visitor drops the third)
    assert [r["1"] for r in doc["NK1"]] == ["1", "2", "3"]

    # escape decoding: \F\ \S\ \T\ \R\ \E\ and \Xhh\ hex; \.br\ kept
    # verbatim ("A\F\B\S\C\T\D\R\E\E\F" -> seps, then E, then \E\ -> '\', F)
    assert doc["OBX"][0]["3"] == "A|B^C&D~E\\F"
    assert doc["OBX"][0]["4"] == "XAY"
    assert doc["OBX"][0]["5"] == "\\.br\\Z"


def test_validate_standard(spark):
    from wrangler_spark.directives.advanced import register_standard

    register_standard("person", {"type": "object", "required": ["name"], "properties": {"name": {"type": "string"}}})
    df = spark.createDataFrame([('{"name": "a"}',), ('{"nope": 1}',), ("not json",)], ["doc"])
    p = Pipeline.compile("validate-standard :doc person")
    res = p.transform(df)
    assert res.df.count() == 1
    assert res.errors().count() == 2


def test_data_model_map_column(spark):
    df = spark.createDataFrame([("12",)], ["raw_age"])
    out = Pipeline.compile("data-model-map-column :raw_age 'person_age' int").apply(df)
    assert out.columns == ["person_age"]
    assert out.collect()[0]["person_age"] == 12


def test_avro_unregistered_schema_raises(spark):
    df = spark.createDataFrame([("x",)], ["body"])
    with pytest.raises(DirectiveApplyError, match="not registered"):
        Pipeline.compile("parse-as-avro :body someid").apply(df)


def test_invoke_http_roundtrip(spark):
    """Real POST round-trip against a local HTTP server: payload is the
    selected columns as a JSON object; response body + status land in
    http_response / http_status (Arrow-batched pandas UDF)."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers["Content-Length"])
            body = json.loads(self.rfile.read(n))
            out = json.dumps({"echo_id": body["id"], "tag": self.headers.get("X-Test"), "ok": True}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):  # keep test output quiet
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_port}/api"
    try:
        df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "v"])
        out = Pipeline.compile(f"invoke-http '{url}' :id,:v 'X-Test=t1'").apply(df)
        rows = out.orderBy("id").collect()
        assert [r["http_status"] for r in rows] == [200, 200, 200]
        first = json.loads(rows[0]["http_response"])
        assert first == {"echo_id": 1, "tag": "t1", "ok": True}
        # composes with parse-as-json for response extraction
        parsed = Pipeline.compile(
            f"invoke-http '{url}' :id,:v\njson-path :http_response :echoed 'echo_id'"
        ).apply(df)
        assert [r["echoed"] for r in parsed.orderBy("id").collect()] == ["1", "2", "3"]
    finally:
        srv.shutdown()


def test_invoke_http_error_lands_in_row(spark):
    df = spark.createDataFrame([(1,)], ["id"])
    out = Pipeline.compile("invoke-http 'http://127.0.0.1:1/unreachable' :id").apply(df)
    r = out.collect()[0]
    assert r["http_status"] == -1 and "refused" in r["http_response"].lower() or r["http_status"] == -1


def test_recipes_survive_ansi_mode(spark):
    """Sessions default ANSI on (Spark 4 / the driver's config); this
    forces it explicitly so the guarantee survives even if a host session
    flips it — lenient reference answers must come from try_cast/F.get/
    try_element_at per-expression, never from session config."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame(
            [("1,x,9", "7", "abc"), ("2,y,", "not_a_number", "de")],
            ["body", "num_s", "txt"],
        )
        out = Pipeline.compile(
            "parse-as-csv :body ',' false\n"
            "set-type :body_1 int\n"
            "set-type :num_s double\n"          # 'not_a_number' → null, not error
            "set-column :r exp:{ body_1 * 10 + string:length(txt) }\n"
            "split-to-columns :txt 'b'\n"        # ragged: row 2 has 1 part
            "mask-number :body_3 '#x'\n"
            "quantize :num_s :q 0.0:10.0=LOW\n"
        ).apply(df)
        rows = out.orderBy("body_1").collect()
        assert [r["body_1"] for r in rows] == [1, 2]
        assert rows[1]["num_s"] is None          # lenient cast under ANSI
        assert rows[0]["r"] == 13
        assert rows[1]["txt_2"] is None          # missing split part → null, no ANSI index error
        assert rows[0]["q"] == "LOW" and rows[1]["q"] is None

        # masking NUMERIC columns under ANSI: when/otherwise must not
        # coerce the masked string back to the column type (round-1
        # driver failure: CAST_INVALID_INPUT on '0xxx' → BIGINT,
        # masks.py:61). Covers both the positional fast path and the
        # general literal-pattern walk, plus mask-shuffle on ints.
        ndf = spark.createDataFrame([(1234567, 42), (None, 7)], ["k", "v"])
        nout = Pipeline.compile(
            "mask-number :k '#xx-x#'\nmask-shuffle :v"
        ).apply(ndf)
        nrows = nout.orderBy(F.col("k").asc_nulls_last()).collect()
        assert nrows[0]["k"] == "1xx-x5"
        assert nrows[1]["k"] is None
        assert nrows[0]["v"] is not None and nrows[0]["v"] != "42"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_text_distance_jaro_damerau_identity(spark):
    df = spark.createDataFrame(
        [("MARTHA", "MARHTA"), ("abcd", "acbd"), ("same", "same")], ["x", "y"]
    )
    out = Pipeline.compile(
        "text-metric jaro :x :y :jaro\n"
        "text-distance damerau-levenshtein :x :y :dl\n"
        "text-metric identity :x :y :ident\n"
        "text-distance unknown-method :x :y :cosd"   # reference defaults unknown → cosine
    ).apply(df)
    rows = {r["x"]: r for r in out.collect()}
    assert abs(rows["MARTHA"]["jaro"] - 0.944444) < 1e-4   # textbook Jaro value
    assert rows["abcd"]["dl"] == 1.0                       # one transposition (lev would be 2)
    assert rows["same"]["ident"] == 1.0 and rows["MARTHA"]["ident"] == 0.0
    assert 0.0 <= rows["abcd"]["cosd"] <= 1.0


def test_text_distance_lcs_true_dp(spark):
    df = spark.createDataFrame([("abcdgh", "aedfhr"), ("abab", "babca")], ["x", "y"])
    out = Pipeline.compile(
        "text-metric longest-common-subsequence :x :y :sub\n"
        "text-metric longest-common-substring :x :y :substr"
    ).apply(df)
    rows = {r["x"]: r for r in out.collect()}
    assert abs(rows["abcdgh"]["sub"] - 3 / 6) < 1e-6      # LCS("abcdgh","aedfhr") = "adh"
    assert abs(rows["abab"]["substr"] - 3 / 5) < 1e-6     # "bab" in both, maxlen 5


def test_parse_as_excel_mixed_payloads_keep_cell_schema(spark):
    """Regression: if the FIRST sampled payload lacks the sheet but a later
    one has it, the schema must come from the readable payload — not
    silently degrade to fwd/bkd-only (which dropped every cell column for
    the payloads that DO contain the sheet)."""
    payload = _payload(XLSX, _titanic_xlsx)
    bogus = b"PK\x03\x04 not actually a workbook"
    df = spark.createDataFrame([(1, bogus), (2, payload)], "rid int, body binary")
    res = Pipeline.compile("parse-as-excel :body '0' true").transform(df.orderBy("rid"))
    assert "PassengerId" in res.df.columns  # schema from payload #2
    assert res.df.count() == 891
    assert res.errors().count() == 1  # the bogus payload error-routes
