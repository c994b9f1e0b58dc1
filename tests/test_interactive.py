"""Interactive layer + user-defined directive (UDD) registration."""

from pyspark.sql import functions as F

from wrangler_spark import Pipeline, directive
from wrangler_spark.directive import Arg, Directive
from wrangler_spark.interactive import execute, schema
from wrangler_spark.parser.tokens import TokenType


def test_execute_roundtrip(spark):
    df = spark.createDataFrame([("alice", "30"), ("bob", "x")], ["name", "age"])
    resp = execute("uppercase :name\nset-type :age int", df, limit=10)
    assert resp.headers == ["name", "age"]
    assert resp.types["age"] == "int"
    assert resp.values[0]["name"] in ("ALICE", "BOB")
    assert resp.directives == ["uppercase", "set-type"]


def test_execute_with_summary_and_errors(spark):
    df = spark.createDataFrame([("a@b.com",), ("junk",)], ["email"])
    resp = execute(
        "send-to-error exp:{ !dq:isEmail(email) } 'bad'", df, with_summary=True
    )
    assert resp.error_count == 1
    assert len(resp.values) == 1
    assert 0 <= resp.summary["email"]["general.null"] <= 1


def test_schema_endpoint(spark):
    df = spark.createDataFrame([("1,2",)], ["body"])
    s = schema("parse-as-csv :body ',' false\nset-type :body_1 long", df)
    assert ("body_1", "bigint") in s


def test_user_defined_directive(spark):
    @directive
    class Reverse(Directive):
        """reverse-string :col — a user-defined directive (UDD parity:
        the reference loads plugin directives via #pragma load-directives;
        here any imported @directive registers)."""

        name = "reverse-string"
        usage = [Arg("column", TokenType.COLUMN)]

        def apply(self, ctx, df):
            col = ctx.resolve(df, self.args["column"])
            return df.withColumn(col, F.reverse(F.col(col)))

    df = spark.createDataFrame([("abc",)], ["s"])
    out = Pipeline.compile("reverse-string :s").apply(df)
    assert out.collect()[0]["s"] == "cba"


def test_pipeline_lineage(spark):
    p = Pipeline.compile("uppercase :name\ndrop :a,:b\nset-column :x exp:{ 1 }")
    lin = p.lineage()
    assert [r["directive"] for r in lin] == ["uppercase", "drop", "set-column"]
    assert lin[0]["columns"] == ["name"]
    assert lin[1]["columns"] == ["a", "b"]


def test_workspace_incremental(spark):
    from wrangler_spark.errors import DirectiveParseError
    from wrangler_spark.interactive import Workspace

    df = spark.createDataFrame([(1, " a "), (2, " b ")], ["id", "v"])
    ws = Workspace("w1", df)
    resp = ws.add("trim :v")
    assert resp.values[0]["v"] == "a"
    resp = ws.add("uppercase :v", "copy :v :v2")
    assert resp.values[0]["v2"] == "A" and ws.recipe().count("\n") == 2

    # bad directive rejected atomically — workspace state unchanged
    import pytest as _pt

    with _pt.raises(DirectiveParseError):
        ws.add("no-such-directive :v")
    assert len(ws.directives) == 3

    assert ws.undo() == ["copy :v :v2"]
    assert [t[0] for t in ws.schema()] == ["id", "v"]
    assert ws.execute().values[1]["v"] == "B"


def test_workspace_persistence_round_trip(spark, tmp_path):
    """wrangler-storage role: a workspace (sample + directive list) saved
    to a directory reloads with identical recipe, schema, and results."""
    from wrangler_spark.interactive import Workspace, WorkspaceStore

    df = spark.createDataFrame(
        [("  Alice  ", "10"), ("BOB", "20"), ("carol", "x")], ["name", "amt"]
    )
    store = WorkspaceStore(spark, str(tmp_path / "workspaces"))
    ws = Workspace("cleanup", df, limit=100)
    ws.add("trim :name", "lowercase :name")
    ws.add("set-type :amt integer")
    store.save(ws)

    assert store.list() == ["cleanup"]
    back = store.load("cleanup")
    assert back.recipe() == ws.recipe()
    assert back.schema() == ws.schema()
    a = sorted(r["name"] for r in back.execute().values)
    b = sorted(r["name"] for r in ws.execute().values)
    assert a == b == ["alice", "bob", "carol"]

    assert store.delete("cleanup") is True
    assert store.list() == [] and store.delete("cleanup") is False


def test_workspace_store_service_lifecycle(spark, tmp_path):
    """Golden mirror of the reference service's workspace lifecycle
    (wrangler-service DirectivesHandler.java:555-595): every execute runs
    the CURRENT recipe over the workspace sample under the sampling
    limit, the response carries (values, headers, types, directives), and
    the executed recipe is persisted with the workspace — a reload after
    further edits + save must re-execute byte-identically to the session
    that saved it."""
    from wrangler_spark.interactive import Workspace, WorkspaceStore

    df = spark.createDataFrame(
        [(i, f" u{i} ", str(i * 10)) for i in range(8)], ["id", "name", "amt"]
    )
    store = WorkspaceStore(spark, str(tmp_path / "ws"))

    # session 1: iterate (execute-on-sample per add), then save
    ws = Workspace("sess", df, limit=5)
    ws.add("trim :name")
    r1 = ws.add("set-type :amt integer")
    assert r1.directives == ["trim", "set-type"]  # response carries recipe
    store.save(ws)

    # session 1 continues editing AFTER the save; re-save persists the
    # updated request (the service's updateWorkspaceRequest overwrite)
    ws.add("uppercase :name")
    store.save(ws)

    # session 2: reload → identical recipe, schema, and execution response
    back = store.load("sess")
    assert back.recipe() == "trim :name\nset-type :amt integer\nuppercase :name"
    a, b = ws.execute(), back.execute()
    assert a.headers == b.headers and a.types == b.types
    assert a.values == b.values and a.directives == b.directives
    # the workspace sample was bounded to 5 rows at creation (the
    # service's sampling subList) — both sessions execute over exactly it
    assert {r["name"] for r in b.values} == {f"U{i}" for i in range(5)}

    # the sampling limit contract: the sample is bounded at workspace
    # creation (the design-time subList), so a reloaded workspace made
    # from a limited sample executes over exactly that many rows
    small = Workspace("lim", df, limit=3)
    small.add("trim :name")
    store.save(small)
    assert len(store.load("lim").execute().values) == len(small.execute().values)


# --- design round-trips over the held sample and the applied prefix -------

_BODIES = [f"{i},name{i},{i * 7 % 50},{'' if i % 5 == 0 else 'x' + str(i)}" for i in range(40)]
_STEPS = [
    "parse-as-csv :body ',' false",
    "drop :body",
    "set-type :body_3 int",
    "set-column :total exp:{ body_3 * 2 + 1 }",
    "filter-row exp:{ body_3 > 45 } true",
    "uppercase :body_2",
    "fill-null-or-empty :body_4 'NA'",
    "mask-number :body_1 'x#'",
]


def _body_source(spark, tmp_path, partitions=1):
    path = str(tmp_path / "bodies")
    spark.createDataFrame([(b,) for b in _BODIES], "body string").coalesce(1) \
        .write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    return df.repartition(partitions) if partitions > 1 else df


def _same_response(a, b):
    assert (a.headers, a.types, a.directives, a.error_count) == (b.headers, b.types, b.directives, b.error_count)
    assert a.values == b.values


def test_workspace_executes_the_same_rows_over_a_multi_partition_source(spark, tmp_path):
    from wrangler_spark.interactive import Workspace

    ws = Workspace("parts", _body_source(spark, tmp_path, partitions=4), limit=25)
    first = ws.add(*_STEPS[:3])
    assert len(first.values) == 25
    a, b = ws.execute(), ws.execute()
    assert a.values == b.values == first.values


def test_workspace_add_runs_no_spark_job_after_the_first_call(spark, jobs, tmp_path):
    from wrangler_spark.interactive import Workspace

    ws = Workspace("nojobs", _body_source(spark, tmp_path), limit=30)
    ws.add(_STEPS[0])
    for step in _STEPS[1:]:
        assert jobs(lambda: ws.add(step)) == 0, step
    assert jobs(ws.schema) == 0
    assert jobs(ws.undo) == 0
    assert jobs(ws.execute) == 0
    assert jobs(lambda: ws.execute(with_summary=True)) == 0
    assert jobs(lambda: ws.add("send-to-error exp:{ total > 80 } 'big'")) == 0


def test_summary_over_a_frame_that_does_not_fold(spark, jobs, tmp_path):
    """Over a parquet scan, or past mask-shuffle's pandas UDF, the flag
    projection runs as a Spark job; its counts equal those over a local
    copy of the same rows, where it folds into the local table."""
    from wrangler_spark.datapipe._local import local_copy
    from wrangler_spark.statistics import basic_statistics

    source = _body_source(spark, tmp_path)
    shuffled = Pipeline.compile("\n".join(_STEPS[:3] + ["mask-shuffle :body_2"])) \
        .transform(local_copy(source.limit(30))).df
    for frame in (source, shuffled):
        got = []
        assert jobs(lambda: got.append(basic_statistics(frame))) >= 1
        copy = local_copy(frame)
        assert jobs(lambda: got.append(basic_statistics(copy))) == 0
        assert got[0] == got[1]


def test_stateless_execute_holds_its_sample(spark, jobs, tmp_path):
    """A stateless execute copies ``df.limit(limit)`` into a local table
    (one job) and runs the recipe, its compile-time samples and its
    summary over that copy; a stateless schema stays on the lazy limit,
    where a recipe with no compile-time sample reads no rows."""
    source = _body_source(spark, tmp_path)
    first = execute(_STEPS, source, limit=30, with_summary=True)
    for _ in range(3):
        got = []
        assert jobs(lambda: got.append(execute(_STEPS, source, limit=30, with_summary=True))) == 1
        _same_response(got[0], first)
        assert got[0].summary == first.summary
    assert jobs(lambda: schema("uppercase :body", source, limit=30)) == 0


def test_incremental_workspace_equals_a_fresh_execute(spark, tmp_path):
    """After every add and after an undo, the workspace's response (prefix
    reuse, ctx forks) is the response of executing the whole recipe anew
    over the same sample, error counts included."""
    from wrangler_spark.interactive import Workspace

    source = _body_source(spark, tmp_path)
    steps = _STEPS[:4] + ["send-to-error exp:{ total > 80 } 'big'"] + _STEPS[4:] + [
        "send-to-error-and-continue exp:{ body_4 == 'NA' } 'empty'"]
    ws = Workspace("inc", source, limit=30)
    for step in steps:
        got = ws.add(step)
        _same_response(got, execute(ws.directives, source, limit=30))
    assert got.error_count > 0
    assert ws.execute(with_summary=True).summary == execute(steps, source, limit=30, with_summary=True).summary
    assert ws.undo(2) == steps[-2:]
    _same_response(ws.execute(), execute(steps[:-2], source, limit=30))
    _same_response(ws.add(steps[-1]), execute(steps[:-2] + steps[-1:], source, limit=30))


def test_checkpointing_directive_ends_the_reusable_prefix(spark, tmp_path):
    """dedup-minhash pins a localCheckpoint in its apply, which the
    round-trip's checkpoint_scope releases: the next add must apply it
    again, not read the released blocks, and nothing stays pinned."""
    from wrangler_spark.datapipe import live_count, persistent_rdd_ids
    from wrangler_spark.interactive import Workspace

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over the lazy dog number {i % 3}") for i in range(12)],
        "id long, text string",
    )
    ws = Workspace("ckpt", docs, limit=12)
    pinned, held = live_count(), persistent_rdd_ids(spark)
    first = ws.add("dedup-minhash :id :text")
    resp = ws.add("set-column :k exp:{ id + 1 }")
    assert resp.headers == first.headers + ["k"]
    assert [r["k"] for r in resp.values] == [r["id"] + 1 for r in first.values]
    assert [r["is_dup"] for r in resp.values] == [r["is_dup"] for r in first.values]
    assert ws.execute().values == resp.values
    assert live_count() == pinned and persistent_rdd_ids(spark) == held


def test_workspace_sample_keeps_every_column_type(spark, jobs, off_utc_driver):
    from wrangler_spark.interactive import Workspace

    source = spark.sql("""
        SELECT id,
               timestamp_seconds(id * 3456000 + 3600) AS ts,
               CAST(timestamp_seconds(id * 3456000 + 3600) AS TIMESTAMP_NTZ) AS ntz,
               to_date(timestamp_seconds(id * 3456000)) AS d,
               CAST(id / 7 AS DECIMAL(20, 6)) AS dec,
               CAST(CAST(id AS STRING) AS BINARY) AS bin,
               named_struct('a', id, 'b', IF(id % 2 = 0, NULL, 'x')) AS st,
               map('k', id) AS m,
               array(id, NULL) AS arr
        FROM range(6)""")
    ws = Workspace("types", source, limit=4)
    steps = ["set-column :n exp:{ id + 1 }", "rename :dec amount", "drop :bin"]
    for k, step in enumerate(steps, 1):
        if k == 1:
            got = ws.add(step)
        else:
            assert jobs(lambda: ws.add(step)) == 0, step
            got = ws.execute()
        _same_response(got, execute(steps[:k], source, limit=4))
    assert got.values[1]["ts"].hour == 20  # 01:00 UTC, collected in New York time


def test_workspace_over_a_column_the_driver_cannot_collect(spark):
    from wrangler_spark.interactive import Workspace

    df = spark.sql("SELECT id, make_ym_interval(1, CAST(id AS INT)) AS span FROM range(3)")
    ws = Workspace("ym", df)
    assert [r["id"] for r in ws.add("drop :span").values] == [0, 1, 2]


def test_a_stale_prefix_is_cut_to_the_matching_lines(spark):
    """A prefix handed to execute only serves the lines it was built from:
    a changed recipe, string or list, or another sample, is applied anew."""
    df = spark.createDataFrame([("a", 1), ("b", 2)], "s string, n int")
    prefix = []
    assert [r["s"] for r in execute("uppercase :s", df, limit=None, prefix=prefix).values] == ["A", "B"]
    resp = execute("set-column :n exp:{ n * 10 }", df, limit=None, prefix=prefix)
    assert [(r["s"], r["n"]) for r in resp.values] == [("a", 10), ("b", 20)]
    resp = execute(["set-column :n exp:{ n * 10 }", "uppercase :s"], df, limit=None, prefix=prefix)
    assert [(r["s"], r["n"]) for r in resp.values] == [("A", 10), ("B", 20)]
    assert len(prefix) == 2
    other = spark.createDataFrame([("c", 3)], "s string, n int")
    resp = execute(["set-column :n exp:{ n * 10 }"], other, limit=None, prefix=prefix)
    assert [(r["s"], r["n"]) for r in resp.values] == [("c", 30)]
    assert len(prefix) == 1


def test_workspace_save_load_keeps_row_order(spark, tmp_path):
    from wrangler_spark.interactive import Workspace

    ws = Workspace("order", _body_source(spark, tmp_path, partitions=4), limit=40)
    ws.add(*_STEPS[:3])
    root = str(tmp_path / "ws")
    ws.save(root)
    back = Workspace.load(spark, root, "order")
    assert back.directives == ws.directives
    assert back.execute().values == ws.execute().values
