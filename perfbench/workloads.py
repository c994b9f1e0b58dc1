"""The workloads. Each builds its inputs from the seed, runs one
operation per ``run`` call and checks its outputs afterwards.

A workload is a closed loop of one caller: the next operation starts
when the previous one returns. ``kind(i, frac)`` names operation ``i``
(``frac`` is the share of the timed window already spent), ``run``
performs it and returns the records it adds to ``records_per_s``.
"""

from __future__ import annotations

import collections
import math
import os
import shutil
import statistics

import numpy as np
import pyarrow.parquet as pq

import inputs
import oracle


def _write(table, path: str, row_groups: int = 8) -> None:
    """Parquet with ``row_groups`` row groups, so a scan splits over
    every core (a single row group would be read by one task)."""
    pq.write_table(table, path, row_group_size=max(1, math.ceil(table.num_rows / row_groups)))


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Workload:
    name = ""
    why = ""
    # operation kinds whose latency is the workload's op_p50_ms
    latency_kinds: tuple[str, ...] = ()
    # operations of each kind in one unit of the workload's nominal mix,
    # which records_per_s weighs the window's per-kind medians by
    mix: dict[str, int] = {}

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        self.counts: dict[str, float] = {}

    def describe(self) -> dict:
        """Input size and shape, printed with every result."""
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def warmup(self, tr) -> None:
        self.run(-1, self.kind(0, 0.0), tr)

    def kind(self, i: int, frac: float) -> str:
        raise NotImplementedError

    def run(self, i: int, kind: str, tr) -> int:
        raise NotImplementedError

    def check(self) -> tuple[int, list[str]]:
        """(outputs checked, failure messages)."""
        raise NotImplementedError

    def window_started(self) -> None:
        self.counts.clear()

    def keep_going(self, time_left: bool) -> bool:
        """Whether the window starts another operation."""
        return time_left

    def trace_setup(self, tr) -> None:
        """Extra set-up of a traced run, outside ``setup_s``."""

    def traced_extras(self) -> list[str]:
        """Operation kinds a traced run adds after its window, traced."""
        return []

    def records_per_s(self, window) -> float:
        """Records per second at the workload's nominal mix of operation
        kinds, from each kind's median records and median duration in the
        window. Neither where the window happened to end in the mix nor one
        operation hit by CPU steal moves the figure."""
        records = seconds = 0.0
        for kind, n in self.mix.items():
            ops = [op for op in window.ops if op[0] == kind]
            if ops:
                records += n * statistics.median(op[2] for op in ops)
                seconds += n * statistics.median(op[1] for op in ops)
        return records / seconds

    def layer_values(self) -> dict[str, float]:
        """Per-layer figures the workload measures itself."""
        return {}

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value


# --- recipe_batch -----------------------------------------------------------------

class RecipeBatch(Workload):
    name = "recipe_batch"
    why = ("the reference's published 13-directive cleansing recipe over 18-field CSV; "
           "the time is Spark running one compiled plan, mask-shuffle's pandas UDF included")
    latency_kinds = ("pass",)
    mix = {"pass": 1}
    SHAPE = inputs.CsvShape(rows=100_000)

    def describe(self) -> dict:
        s = self.SHAPE
        return {"rows_per_pass": s.rows, "fields": inputs.CSV_COLUMNS,
                "empty_field7": s.empty_state, "empty_field15": s.empty_status,
                "malformed_rows": s.malformed, "city_zipf": s.city_zipf}

    def setup(self, spark) -> None:
        from wrangler_spark import Pipeline

        self.path = os.path.join(self.workdir, "bodies.parquet")
        _write(inputs.csv_bodies(self.seed, self.SHAPE), self.path)
        self.df = spark.read.parquet(self.path).select("body")
        self.df.count()
        self.pipeline = Pipeline.compile(oracle.BATCH_RECIPE)

    def warmup(self, tr) -> None:
        # the second pass still runs slower than later ones (JIT, heap
        # growth), so two passes go before the timed window
        for i in (-2, -1):
            self.run(i, "pass", tr)

    def kind(self, i: int, frac: float) -> str:
        return "pass"

    def run(self, i: int, kind: str, tr) -> int:
        result = self.pipeline.transform(self.df)
        with tr.span("session.noop_write"):
            result.df.write.format("noop").mode("overwrite").save()
        with tr.span("context.errors"):
            self.add("context.error_rows", result.errors().count())
        return self.SHAPE.rows

    def check(self) -> tuple[int, list[str]]:
        columns, n, h = oracle.batch_expected(self.path, inputs.CITIES)
        result = self.pipeline.transform(self.df)
        fails = []
        if result.df.columns != columns:
            fails.append(f"recipe_batch columns {result.df.columns} != {columns}")
        else:
            got = oracle.spark_checksum(result.df, columns)
            if got != (n, h):
                fails.append(f"recipe_batch rows/checksum {got} != {(n, h)}")
        errors = self.counts.get("context.error_rows", 0)
        if errors:
            fails.append(f"recipe_batch routed {errors} rows to errors in the window, expected 0")
        return 3, fails


# --- design_session ---------------------------------------------------------------

class DesignSession(Workload):
    name = "design_session"
    why = ("one user building a recipe in a Workspace over a 100-row sample; parser, EL "
           "compile, compile-time sampling and per-job launch cost dominate")
    latency_kinds = ("add", "undo", "schema", "execute")
    SOURCE_ROWS = 2_000
    SAMPLE = 100
    DETOUR_AFTER = 7    # a directive added after this step and taken back with undo
    SCHEMA_AFTER = 11   # a schema check after this step

    def describe(self) -> dict:
        s = inputs.CsvShape(rows=self.SOURCE_ROWS)
        return {"source_rows": self.SOURCE_ROWS, "sample_rows": self.SAMPLE,
                "recipe_steps": len(oracle.DESIGN_STEPS), "empty_field7": s.empty_state,
                "empty_field15": s.empty_status, "malformed_rows": s.malformed,
                "calls_per_session": dict(collections.Counter(k for k, _ in self.session_script()))}

    def setup(self, spark) -> None:
        self.path = os.path.join(self.workdir, "source.parquet")
        _write(inputs.csv_bodies(self.seed, inputs.CsvShape(rows=self.SOURCE_ROWS)), self.path, 1)
        self.df = spark.read.parquet(self.path).select("body")
        self.df.count()
        self.log: list[tuple[str, list[str], object]] = []

    @classmethod
    def session_script(cls) -> list[tuple[str, str]]:
        """One recipe, built step by step: one detour taken back with
        undo, one schema check, and an execute with a summary at the end.
        The script is the same for every seed, so seeds differ in data
        only."""
        calls: list[tuple[str, str]] = []
        for j, (step, _) in enumerate(oracle.DESIGN_STEPS, 1):
            calls.append(("add", step))
            if j == cls.DETOUR_AFTER:
                calls += [("add", oracle.DESIGN_DETOUR), ("undo", "")]
            if j == cls.SCHEMA_AFTER:
                calls.append(("schema", ""))
        calls.append(("execute", ""))
        return calls

    def warmup(self, tr) -> None:
        from wrangler_spark.interactive import Workspace

        ws = Workspace("warmup", self.df, limit=self.SAMPLE)
        ws.add(*[d for d, _ in oracle.DESIGN_STEPS[:4]])
        ws.schema()
        ws.undo()
        ws.execute(with_summary=True)

    def window_started(self) -> None:
        super().window_started()
        self.script: list[tuple[str, str]] = []
        self.ws = None
        self.current: list[int] = []          # operations of the open session
        self.sessions: list[list[int]] = []   # operations of each finished session

    def keep_going(self, time_left: bool) -> bool:
        # the window holds at least one whole session
        return time_left or not self.sessions

    def records_per_s(self, window) -> float:
        """Sample rows returned per second of round-trips, over the
        window's whole sessions (a session cut off by the end of the
        window is a different mix of calls)."""
        ops = [window.ops[i] for session in self.sessions for i in session]
        return sum(op[2] for op in ops) / sum(op[1] for op in ops)

    def kind(self, i: int, frac: float) -> str:
        if not self.script:
            self.script = self.session_script()
            self.ws = None
        return self.script[0][0]

    def run(self, i: int, kind: str, tr) -> int:
        from wrangler_spark.interactive import Workspace

        _, arg = self.script.pop(0)
        self.current.append(i)
        if not self.script:
            self.sessions.append(self.current)
            self.current = []
        if self.ws is None:
            self.ws = Workspace(f"s{i}", self.df, limit=self.SAMPLE)
        if kind == "undo":
            self.ws.undo()
            return 0
        if kind == "schema":
            self.log.append(("schema", list(self.ws.directives), self.ws.schema()))
            return 0
        resp = self.ws.add(arg) if kind == "add" else self.ws.execute(with_summary=True)
        self.log.append(("values", list(self.ws.directives), resp))
        return len(resp.values)

    def check(self) -> tuple[int, list[str]]:
        steps = [d for d, _ in oracle.DESIGN_STEPS]
        fails, checked = [], 0
        for what, directives, got in self.log:
            n = len(directives)
            if directives != steps[:n]:
                continue  # a detour about to be undone has no oracle
            schema, rows = oracle.design_expected(self.path, self.SAMPLE, n)
            checked += 1
            if what == "schema":
                if got != schema:
                    fails.append(f"design_session schema after {n} steps: {got} != {schema}")
                continue
            got_schema = [(h, got.types[h]) for h in got.headers]
            if got_schema != schema:
                fails.append(f"design_session execute schema after {n} steps: {got_schema} != {schema}")
            elif not _same_rows(got.values, rows):
                fails.append(f"design_session values after {n} steps differ from DuckDB")
        return checked, fails


def _same_rows(got: list[dict], want: list[dict]) -> bool:
    if len(got) != len(want):
        return False

    def key(r):
        return r.get("body_1") or r.get("body") or ""

    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        if a.keys() != b.keys():
            return False
        for k in a:
            x, y = a[k], b[k]
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


# --- curation_chain ---------------------------------------------------------------

CURATION_RECIPE = ("source-filter :source '" + ",".join(inputs.BLOCKED_SOURCES) + "'\n"
                   "pii-redact :text")


class CurationChain(Workload):
    name = "curation_chain"
    why = ("the README's curation chain on a corpus with planted exact and near duplicates; "
           "shuffles, checkpoints and eager ops dominate, recipe layers are negligible")
    latency_kinds = ("chain",)
    mix = {"chain": 1}
    SHAPE = inputs.CorpusShape(families=200)

    def describe(self) -> dict:
        s = self.SHAPE
        return {"docs": self.corpus.table.num_rows, "families": s.families,
                "near_dup_family_share": s.near_share, "exact_copy_share": s.exact_share,
                "blocked_source_share": s.blocked_share, "pii_family_share": s.pii_share,
                "words_per_doc": s.words, "blocked_docs": self.corpus.blocked,
                "exact_copies": self.corpus.exact_removed, "survivors": len(self.corpus.survivors)}

    def setup(self, spark) -> None:
        self.corpus = inputs.corpus(self.seed, self.SHAPE)
        self.path = os.path.join(self.workdir, "corpus.parquet")
        _write(self.corpus.table, self.path)
        self.docs = spark.read.parquet(self.path)
        self.docs.count()
        self.outputs: list[str] = []

    def kind(self, i: int, frac: float) -> str:
        return "chain"

    def run(self, i: int, kind: str, tr) -> int:
        from wrangler_spark import Pipeline
        from wrangler_spark.datapipe import dedup
        from wrangler_spark.sources import write_corpus

        out = os.path.join(self.workdir, f"curated_{i + 1}")
        shutil.rmtree(out, ignore_errors=True)
        staged = Pipeline.compile(CURATION_RECIPE).apply(self.docs)
        keep = dedup.exact_dedup(staged, "doc_id", "text").select("doc_id")
        clean = staged.join(keep, "doc_id")
        comp = dedup.minhash_components(clean, "doc_id", "text", 0.5)
        surv = dedup.cluster_survivors(comp, clean, "doc_id", "component", "n_chars")
        best = clean.join(surv.filter("keep").select("doc_id"), "doc_id")
        write_corpus(best, out, target_file_mb=1)
        if i >= 0:
            self.outputs.append(out)
        return self.corpus.table.num_rows

    def layer_values(self) -> dict[str, float]:
        sizes = [_tree_size(p) for p in self.outputs] or [(0, 0)]
        return {"sources.files_written": sum(f for f, _ in sizes) / len(sizes),
                "sources.bytes_written": sum(b for _, b in sizes) / len(sizes),
                "datapipe.dup_removed_ratio": 1 - len(self.corpus.survivors) / self.corpus.table.num_rows}

    def check(self) -> tuple[int, list[str]]:
        fails = []
        for out in self.outputs:
            got = set(pq.read_table(out, columns=["doc_id"]).column("doc_id").to_pylist())
            if got != self.corpus.survivors:
                fails.append(f"curation_chain {os.path.basename(out)}: {len(got - self.corpus.survivors)} "
                             f"unexpected and {len(self.corpus.survivors - got)} missing survivors")
        return len(self.outputs), fails


# --- state_folds ------------------------------------------------------------------

class StateFolds(Workload):
    name = "state_folds"
    why = ("micro-batches folded one per call into log-structured vocabulary state, with "
           "replays and read-backs; per-fold fixed costs dominate")
    latency_kinds = ("fold",)
    BATCHES = 100
    ROWS = 200
    REPLAY_EVERY = 3   # after every 3rd fold, replay an already folded batch
    READ_EVERY = 3     # and read the state back
    WARMUP_BATCHES = 4
    mix = {"fold": REPLAY_EVERY, "replay": 1, "read": 1}

    def describe(self) -> dict:
        shape = {"batch_rows": self.ROWS, "batches_available": self.BATCHES, "vocab": 400,
                 "zipf": 1.1, "replay_every": self.REPLAY_EVERY, "read_every": self.READ_EVERY,
                 "upper_word_share": 0.1, "double_space_share": 0.2}
        if self.curation:
            shape["traced_curation_chain"] = self.curation.describe()
        return shape

    def setup(self, spark) -> None:
        self.spark = spark
        bdir = os.path.join(self.workdir, "batches")
        os.makedirs(bdir, exist_ok=True)
        self.files = []
        for b, table in enumerate(inputs.micro_batches(self.seed, self.BATCHES, self.ROWS)):
            self.files.append(os.path.join(bdir, f"b{b:04d}.parquet"))
            _write(table, self.files[-1], 1)
        self.state = os.path.join(self.workdir, "vocab_state")
        shutil.rmtree(self.state, ignore_errors=True)
        spark.read.parquet(self.files[0]).count()
        self.rng = np.random.default_rng(self.seed)
        self.folded: list[int] = []
        self.pending: list[str] = []
        self.compacted = False
        self.reads: list[tuple[list[int], dict[str, int]]] = []
        self.curation: CurationChain | None = None

    def warmup(self, tr) -> None:
        from wrangler_spark.datapipe import text

        # the last WARMUP_BATCHES batches, folded into a scratch state,
        # one replayed, then a read; the window never reaches them
        path = os.path.join(self.workdir, "warmup_state")
        for b in range(self.WARMUP_BATCHES):
            df = self.spark.read.parquet(self.files[-1 - b])
            text.vocab_update_state(df, path, "text", batch_id=f"warmup{b}")
        text.vocab_update_state(df, path, "text", batch_id=f"warmup{b}")
        text.vocab_from_state(self.spark, path).collect()

    def kind(self, i: int, frac: float) -> str:
        if frac >= 0.5 and not self.compacted:
            self.compacted = True
            return "compact"
        if self.pending:
            return self.pending[0]
        return "fold"

    def window_started(self) -> None:
        super().window_started()
        self.compacted = False

    def run(self, i: int, kind: str, tr) -> int:
        from wrangler_spark.datapipe import compact_index, text

        if kind == "chain":
            return self.curation.run(i, kind, tr)
        if kind == "compact":
            compact_index(self.spark, self.state)
            return 0
        if kind == "read":
            self.pending.pop(0)
            got = {r["word"]: int(r["count"]) for r in text.vocab_from_state(self.spark, self.state).collect()}
            self.reads.append((list(self.folded), got))
            return 0
        if kind == "replay":
            self.pending.pop(0)
            b = int(self.rng.choice(self.folded))
        else:
            b = len(self.folded)
            if b >= len(self.files) - self.WARMUP_BATCHES:
                raise RuntimeError("state_folds ran out of generated batches")
        df = self.spark.read.parquet(self.files[b])
        text.vocab_update_state(df, self.state, "text", batch_id=f"b{b}")
        if kind == "replay":
            return 0
        self.folded.append(b)
        if len(self.folded) % self.REPLAY_EVERY == 0:
            self.pending.append("replay")
        if len(self.folded) % self.READ_EVERY == 0:
            self.pending.append("read")
        return self.ROWS

    def trace_setup(self, tr) -> None:
        # the traced run also measures the datapipe dedup and sources
        # layers: one warm curation chain after the window
        self.curation = CurationChain(self.seed, self.workdir)
        self.curation.setup(self.spark)
        self.curation.warmup(tr)

    def traced_extras(self) -> list[str]:
        return ["chain"]

    def layer_values(self) -> dict[str, float]:
        files, size = _tree_size(self.state)
        values = self.curation.layer_values() if self.curation else {}
        return {**values, "datapipe.state_files": files, "datapipe.state_bytes": size}

    def check(self) -> tuple[int, list[str]]:
        from wrangler_spark.datapipe import text

        final = {r["word"]: int(r["count"]) for r in text.vocab_from_state(self.spark, self.state).collect()}
        fails = []
        for folded, got in self.reads + [(list(self.folded), final)]:
            want = oracle.word_counts([self.files[b] for b in folded])
            if got != want:
                bad = sum(got.get(w) != c for w, c in want.items()) + len(got.keys() - want.keys())
                fails.append(f"state_folds after {len(folded)} folds: {bad} words differ from DuckDB")
        checked = len(self.reads) + 1
        if self.curation:
            n, wrong = self.curation.check()
            checked += n
            fails += wrong
        return checked, fails


WORKLOADS = {w.name: w for w in (RecipeBatch, DesignSession, CurationChain, StateFolds)}
