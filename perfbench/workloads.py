"""The benchmark workloads. Each one generates its inputs (``gen``),
prepares and warms up, then runs timed iterations until the deadline and
verifies every output outside the clock.

An *iteration* is the unit ``wall_s`` reports; an *operation* is the unit
``op_p50_s`` reports. Every clock starts before the call that builds a
frame and stops after the action that completes the result.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time
from contextlib import contextmanager

import duckdb
import pandas as pd

import gen
from measure import Tracer

SERIES_KEYS = ["SiteID", "VariableCode", "MethodID", "SourceID", "QualityControlLevelID"]

# The events -> DataValues mapping of schema.events_as_datavalues, written
# out independently of the package (see FIXTURES.md).
DV_SQL = """
    SELECT event_id AS ValueID, value AS DataValue, ts AS LocalDateTime,
           CAST(-7.0 AS DOUBLE) AS UTCOffset, ts + INTERVAL 7 HOUR AS DateTimeUTC,
           user_id AS SiteID, event_type AS VariableCode,
           CAST(json_extract(props, '$.k') AS INT) % 2 + 1 AS MethodID,
           1 AS SourceID,
           CASE WHEN CAST(json_extract(props, '$.k') AS INT) % 10 < 8 THEN 0 ELSE 1 END
               AS QualityControlLevelID,
           CASE WHEN CAST(json_extract(props, '$.k') AS INT) % 7 = 0
                THEN CAST(json_extract(props, '$.k') AS INT) % 3 + 1 END AS QualifierID
    FROM read_parquet('{path}')
"""


# A traced run measures its tracing overhead by comparing traced with
# untraced iterations. It alternates them A B B A, so in-process warming
# (later iterations run faster) weighs on both sides alike, and runs at
# least two of each.
TRACED_MIN_ITERATIONS = 4


def traced_turn(k: int) -> bool:
    """Whether the ``k``-th iteration of a traced run records spans."""
    return k % 4 in (1, 2)


class Result:
    """Samples and counters of one run."""

    def __init__(self):
        self.walls: list[float] = []
        self.warm_walls: list[float] = []  # warm-up iterations, in set-up
        self.traced_walls: list[float] = []
        self.ops: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, seconds: float, work: str, tracer: Tracer | None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.traced = False
        self.inputs = os.path.join(work, "inputs")
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 2")

    @property
    def traced(self) -> bool:
        """Whether the current iteration records spans."""
        return self.tracer is not None and self.tracer.active

    @traced.setter
    def traced(self, on: bool) -> None:
        if self.tracer is not None:
            self.tracer.active = on

    @contextmanager
    def span(self, name: str):
        if not self.traced:
            yield
            return
        sp = self.tracer.begin(name)
        try:
            yield
        finally:
            self.tracer.end(sp)

    def generate(self, out_dir: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Load what the timed loop reuses. Runs once, inside set-up."""

    def warm_up(self, res: Result) -> None:
        """Run before the clock, inside set-up."""
        raise NotImplementedError

    def iteration(self, res: Result, warm: bool = False) -> None:
        raise NotImplementedError

    def run(self, res: Result, deadline: float) -> None:
        """Iterate within the window: the first iteration always runs, a
        later one only if the previous one would still fit before the
        deadline, so a run does not overshoot its window by most of an
        iteration. A traced run alternates untraced and traced iterations
        in the order A B B A (see ``traced_turn``) and runs at least
        ``TRACED_MIN_ITERATIONS`` iterations."""
        k, last = 0, 0.0
        while ((k == 0 or time.perf_counter() + last <= deadline)
               or (self.tracer is not None and k < TRACED_MIN_ITERATIONS)):
            self.traced = traced_turn(k)
            k += 1
            n = len(res.walls)
            t = time.perf_counter()
            try:
                self.iteration(res)
            finally:
                last = time.perf_counter() - t
                if self.traced:
                    res.traced_walls += res.walls[n:]
                    del res.walls[n:]
                    self.tracer.flush()
                self.traced = False

    def summary(self) -> dict[str, float]:
        """Workload-specific figures for the report line."""
        return {}

    def close(self) -> None:
        self.duck.close()


def _dv(spark, sf_dir: str):
    from h2outility_spark.schema import events_as_datavalues
    from h2outility_spark.sources import parquet

    return events_as_datavalues(parquet.load_table(spark, sf_dir, "events"))


class FileLedger:
    """Every file that ever appears under a directory, with its size: the
    bytes a program wrote there, including files it later deleted, as long
    as the ledger scans between the write and the delete."""

    def __init__(self, root: str):
        self.root = root
        self.sizes: dict[str, int] = {}

    def scan(self) -> None:
        for dirpath, _, names in os.walk(self.root):
            for n in names:
                p = os.path.join(dirpath, n)
                try:
                    self.sizes[p] = max(self.sizes.get(p, 0), os.path.getsize(p))
                except FileNotFoundError:
                    continue

    def written(self) -> int:
        return sum(self.sizes.values())


def logical_bytes(duck, rows_sql: str, strings: list[str], n_fixed: int) -> int:
    """Bytes of the rows ``rows_sql`` yields, counted apart from any storage
    format: 8 per fixed-width value plus the UTF-8 length of each string.
    The denominator of ``write_amp``, so that it does not move with the
    program's own file sizes."""
    lens = " + ".join(f"coalesce(strlen({c}), 0)" for c in strings)
    return duck.execute(f"SELECT coalesce(sum({8 * n_fixed} + {lens}), 0) FROM ({rows_sql})").fetchone()[0]


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(root, "**", "*"), recursive=True)
               if os.path.isfile(p))


def live_bytes(table) -> int:
    return sum(os.path.getsize(os.path.join(table.table_dir, e["path"])) for e in table.files())


# --- QC session and export (part of llm_corpus) -------------------------------------

# EditSession's recording method for each plan op.
_EDIT_METHOD = {
    "select_value_threshold": "select_value_threshold",
    "change_value": "change_value",
    "flag_selected": "flag",
    "drift_correct": "drift_correct",
}
# Ops the DuckDB oracle re-implements; plans made only of these are also
# checked against it.
_ORACLE_OPS = {"select_value_threshold", "change_value", "flag_selected"}
SAVE_AFTER = 3  # the session saves after this many edits


def selection_sql(s: dict) -> str:
    """DuckDB's rows of session ``s``'s series selection."""
    variables = ", ".join(f"'{v}'" for v in s["variables"])
    return (f"SELECT * FROM dv WHERE SiteID = {s['site']} AND VariableCode IN ({variables}) "
            "AND QualityControlLevelID = 0")


def export_spec(s: dict) -> dict:
    """The resource published after a session over site ``s``: the
    session's series in one file per calendar year."""
    return {"name": f"site{s['site']}", "site_id": s["site"], "qc_id": 0, "chunk_by_year": True,
            "variable_codes": s["variables"]}


class QcPublish:
    """One analyst's QC session over the ODM DataValues table, then the
    export that publishes the edited series: the paper's interactive path
    and its updater. It runs inside another workload's iteration, which
    times it. The session runs the edits of ``gen.QC_SCRIPT``, each followed
    by the view the GUI plots (the edited frame collected), a
    ``save_to_table`` after the ``SAVE_AFTER``-th edit, then ``restore``
    (discard the plan) and a last view. The export is one
    ``jobs.run_export`` call for ``export_spec`` over the table's latest
    snapshot."""

    # edits, the restore, the save and the export
    ops_per_session = len(gen.QC_SCRIPT) + 3

    def __init__(self, wl: Workload):
        self.wl = wl
        self.duck = wl.duck

    def prepare(self) -> None:
        from h2outility_spark.storage_tx import TxTable

        wl = self.wl
        self.dv = _dv(wl.spark, wl.inputs)
        self.sessions = gen.qc_sessions(wl.seed, 400)
        self.table = TxTable(wl.spark, os.path.join(wl.work, "qc_table"), key_cols=["ValueID"])
        self.table.append(self.dv)
        self.n_saves = 0
        self.ledger = FileLedger(self.table.table_dir)
        events = os.path.join(wl.inputs, "events.parquet")
        self.n_rows = self.duck.execute(f"SELECT count(*) FROM read_parquet('{events}')").fetchone()[0]
        self.duck.execute(f"CREATE VIEW dv AS {DV_SQL.format(path=events)}")
        self.mark()
        self.view_samples: list[tuple[int, float]] = []
        self.saves: list[float] = []
        self.exports: list[float] = []
        self.oracle_checks = 0
        self.files_out = 0
        self.bytes_out = 0
        self.pending: list = []  # (what, check) to verify after the clock

    def mark(self) -> None:
        """Start counting written and committed bytes from here."""
        self.ledger.scan()
        self.written_before = self.ledger.written()
        self.saved: list[dict] = []  # the session of each save

    def user_bytes(self) -> int:
        """Logical bytes of the rows the saves committed: each save writes
        its session's whole selection."""
        return sum(logical_bytes(self.duck, selection_sql(s), ["VariableCode"], 10) for s in self.saved)

    def written_bytes(self) -> int:
        self.ledger.scan()
        return self.ledger.written() - self.written_before

    def run(self, s: dict, warm: bool) -> list[str]:
        """Run session ``s``; return the errors its calls raised. Outputs
        are checked later, by ``verify``."""
        from pyspark.sql import functions as F

        from h2outility_spark import jobs
        from h2outility_spark.edit_session import EditSession

        wl = self.wl
        sel = ((F.col("SiteID") == s["site"]) & F.col("VariableCode").isin(s["variables"])
               & (F.col("QualityControlLevelID") == 0))
        errors = []
        es = EditSession(self.dv, keys=SERIES_KEYS, series_filter=sel)
        try:
            for j, op in enumerate(s["ops"] + [{"op": "restore"}]):
                t = time.perf_counter()
                try:
                    if op["op"] == "restore":
                        es.restore()
                    else:
                        getattr(es, _EDIT_METHOD[op["op"]])(**op["args"])
                    with wl.span("edit_session.view"):
                        es.frame().collect()
                    if not warm:
                        self.view_samples.append((len(es.plan), time.perf_counter() - t))
                except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                    errors.append(f"edit {j} {op['op']}: {e!r}")
                if j + 1 == SAVE_AFTER:
                    t = time.perf_counter()
                    try:
                        with wl.span("edit_session.save"):
                            version = es.save_to_table(self.table)
                        self.n_saves += 1
                        self.saved.append(s)
                        self.pending.append((f"save v{version}",
                                             lambda v=version, p=list(es.plan): self.verify_save(sel, s, v, p)))
                    except Exception as e:  # noqa: BLE001
                        errors.append(f"save after edit {j}: {e!r}")
                    if not warm:
                        self.saves.append(time.perf_counter() - t)
        finally:
            es.close()
        spec = export_spec(s)
        out_dir = os.path.join(wl.work, "out", spec["name"])
        shutil.rmtree(out_dir, ignore_errors=True)
        version = self.table.latest_version()
        t = time.perf_counter()
        try:
            snap = self.table.snapshot()
            with wl.span("jobs.run_export"):
                files = jobs.run_export(snap, jobs.ManagedResource(**spec), out_dir)
            self.pending.append((f"export {spec['name']}",
                                 lambda: self.verify_export(spec, files, version)))
        except Exception as e:  # noqa: BLE001
            errors.append(f"export {spec['name']}: {e!r}")
        if not warm:
            self.exports.append(time.perf_counter() - t)
        return errors

    def verify(self) -> list[str]:
        """Check the outputs of the sessions run since the last call."""
        problems = []
        for what, check in self.pending:
            problem = check()
            if problem:
                problems.append(f"{what}: {problem}")
        self.pending.clear()
        if len(self.table.history()) != 1 + self.n_saves:
            problems.append(f"history holds {len(self.table.history())} versions for {self.n_saves} saves")
        return problems

    def verify_save(self, sel, s: dict, version: int, plan: list[dict]) -> str | None:
        """The committed snapshot equals a one-shot replay of the plan over
        the source; plans of oracle-covered ops also equal DuckDB's result."""
        from h2outility_spark.operators.qc import SEL
        from h2outility_spark.plans import oplist

        cols = ["ValueID", "DataValue", "QualifierID"]
        replay = oplist.apply_plan(self.dv.filter(sel), plan, SERIES_KEYS)
        if SEL in replay.columns:
            replay = replay.drop(SEL)
        want = sorted(tuple(r) for r in replay.select(*cols).collect())
        snap = self.table.snapshot(version)
        got = sorted(tuple(r) for r in snap.filter(sel).select(*cols).collect())
        if got != want:
            return f"snapshot differs from replay ({len(got)} vs {len(want)} rows)"
        if snap.count() != self.n_rows:
            return "snapshot row count changed"
        if plan and all(step["op"] in _ORACLE_OPS for step in plan):
            self.oracle_checks += 1
            oracle = sorted(self.qc_oracle(s, plan))
            if oracle != want:
                return "replay differs from the DuckDB oracle"
        return None

    def qc_oracle(self, s: dict, plan: list[dict]) -> list[tuple]:
        sql = f"SELECT *, NULL::BOOLEAN AS sel FROM ({selection_sql(s)})"
        for step in plan:
            a = step["args"]
            if step["op"] == "select_value_threshold":
                pred = f"DataValue {a['op']} CAST({a['threshold']!r} AS DOUBLE)"
                sql = f"SELECT * REPLACE (({pred}) AS sel) FROM ({sql})"
            elif step["op"] == "change_value":
                expr = f"DataValue {a['op']} CAST({a['operand']!r} AS DOUBLE)"
                sql = f"SELECT * REPLACE (CASE WHEN sel THEN {expr} ELSE DataValue END AS DataValue) FROM ({sql})"
            elif step["op"] == "flag_selected":
                sql = (f"SELECT * REPLACE (CASE WHEN sel THEN {a['qualifier_id']} ELSE QualifierID END "
                       f"AS QualifierID) FROM ({sql})")
        return [tuple(r) for r in self.duck.execute(f"SELECT ValueID, DataValue, QualifierID FROM ({sql})").fetchall()]

    def expected_chunks(self, spec: dict) -> list[dict]:
        """The chunk plan the export promises, derived from DuckDB's
        catalog: one chunk per (site, source, QC), or per series; each
        optionally split per calendar year."""
        where = [f"SiteID = {spec['site_id']}"]
        if spec.get("qc_id") is not None:
            where.append(f"QualityControlLevelID = {spec['qc_id']}")
        if spec.get("variable_codes"):
            where.append("VariableCode IN (" + ", ".join(f"'{v}'" for v in spec["variable_codes"]) + ")")
        rows = self.duck.execute(f"""
            SELECT SiteID, SourceID, QualityControlLevelID, VariableCode, MethodID,
                   min(LocalDateTime), max(LocalDateTime)
            FROM snap WHERE {' AND '.join(where)}
            GROUP BY ALL ORDER BY 1, 2, 3, 4, 5""").fetchall()
        groups: dict[tuple, list] = {}
        for r in rows:
            groups.setdefault(r[:3], []).append(r)
        chunks = []
        for key, rs in groups.items():
            pairs = [(r[3], r[4]) for r in rs]
            parts = [pairs] if spec.get("single_file", True) else [[p] for p in pairs]
            years = ([None] if not spec.get("chunk_by_year")
                     else list(range(min(r[5].year for r in rs), max(r[6].year for r in rs) + 1)))
            chunks += [{"key": key, "pairs": p, "year": y} for p in parts for y in years]
        return chunks

    def expected_frame(self, chunk: dict) -> pd.DataFrame:
        site, source, qc = chunk["key"]
        codes = sorted({c for c, _ in chunk["pairs"]})
        seen: dict[str, int] = {}
        cols = []
        for code, method in chunk["pairs"]:
            n = seen.get(code, 0)
            seen[code] = n + 1
            name = code if n == 0 else f"{code}-{n}"
            cols.append(f"coalesce(max(CASE WHEN VariableCode = '{code}' AND MethodID = {method} "
                        f"THEN DataValue END), -9999.0) AS \"{name}\"")
        year = chunk["year"]
        window = (f"AND LocalDateTime BETWEEN TIMESTAMP '{year}-01-01 00:00:00' "
                  f"AND TIMESTAMP '{year}-12-31 23:59:59'") if year else ""
        return self.duck.execute(f"""
            SELECT LocalDateTime, UTCOffset, DateTimeUTC, {', '.join(cols)}
            FROM snap WHERE SiteID = {site} AND SourceID = {source} AND QualityControlLevelID = {qc}
              AND VariableCode IN ({', '.join(f"'{c}'" for c in codes)}) {window}
            GROUP BY ALL ORDER BY 1, 2, 3""").df()

    def verify_export(self, spec: dict, files: list[str], version: int) -> str | None:
        """Each CSV's rows and pivot values equal DuckDB's pivot over the
        exported snapshot: the source's rows with the values the table
        holds at ``version``."""
        snap_files = [os.path.join(self.table.table_dir, e["path"]) for e in self.table.files(version)]
        self.duck.execute(f"""CREATE OR REPLACE VIEW snap AS
            SELECT dv.* REPLACE (s.DataValue AS DataValue)
            FROM dv JOIN read_parquet({snap_files!r}) s USING (ValueID)""")
        chunks = self.expected_chunks(spec)
        if len(files) != len(chunks):
            return f"{len(files)} files for {len(chunks)} chunks"
        # One file per chunk name; a later chunk with the same name would
        # replace an earlier one (the per-series name omits the method).
        expected: dict[str, dict] = {}
        for c in chunks:
            site, source, qc = c["key"]
            var = c["pairs"][0][0] if len(c["pairs"]) == 1 else None
            name = f"{site}_{var or 'all'}_{source}_QC{qc}" + (f"_{c['year']}" if c["year"] else "")
            expected[name + ".csv"] = c
        names = {os.path.basename(f) for f in files}
        if names != set(expected):
            return f"file names {sorted(names)} != {sorted(expected)}"
        for f in sorted(set(files)):
            self.files_out += 1
            self.bytes_out += os.path.getsize(f)
            got = pd.read_csv(f, comment="#", float_precision="round_trip")
            want = self.expected_frame(expected[os.path.basename(f)])
            if list(got.columns) != list(want.columns):
                return f"{f}: columns {list(got.columns)} != {list(want.columns)}"
            if len(got) != len(want):
                return f"{f}: {len(got)} rows != {len(want)}"
            for c in ("LocalDateTime", "DateTimeUTC"):
                if not (pd.to_datetime(got[c]).values == want[c].values).all():
                    return f"{f}: column {c} differs"
            vals = ["UTCOffset"] + list(want.columns[3:])
            diff = got[vals].to_numpy(float) != want[vals].to_numpy(float)
            if diff.any():
                i, j = (int(x[0]) for x in diff.nonzero())
                return (f"{f}: pivot values differ at {got['LocalDateTime'][i]} {vals[j]}: "
                        f"{got[vals[j]][i]!r} != {want[vals[j]][i]!r} ({int(diff.sum())} cells)")
        return None

    def summary(self) -> dict[str, float]:
        from measure import median

        out = {"edit_session.save_s": median(self.saves) if self.saves else 0.0,
               "jobs.export_s": median(self.exports) if self.exports else 0.0,
               "qc.oracle_checked_saves": self.oracle_checks,
               "jobs.files_verified": self.files_out, "sinks.bytes_out": self.bytes_out}
        amp = storage_amp(self.table, self.ledger, self.written_before, self.user_bytes())
        out.update({f"qc.{k}": v for k, v in amp.items()})
        if len(self.view_samples) >= 2:
            xs = [float(n) for n, _ in self.view_samples]
            ys = [t for _, t in self.view_samples]
            mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
            sxx = sum((x - mx) ** 2 for x in xs)
            out["edit_session.view_s"] = median(ys)
            out["edit_session.view_s_per_plan_op"] = (
                sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0)
            out["plans.plan_len"] = mx
        return out


def storage_amp(table, ledger: FileLedger, before: int, user_bytes: float) -> dict[str, float]:
    """write_amp: bytes written under the table directory during the run
    per byte of user rows committed; space_amp: bytes under the table
    directory over the bytes of the live snapshot's files."""
    ledger.scan()
    return {
        "write_amp": (ledger.written() - before) / user_bytes if user_bytes else 0.0,
        "space_amp": dir_bytes(table.table_dir) / live_bytes(table),
    }


# --- llm_corpus --------------------------------------------------------------------


# The quality gate keeps every document, so the committed corpus is known
# exactly: one document per duplicate group (none when the group's kept
# document is contaminated), no contaminated document, and every other
# document.
KEEP_FRAC = 1.0

# Iterations before the clock. The JVM keeps compiling for several
# iterations: the first takes about 2.5 times a warm one, the second about
# 1.2 times, and the second also varies most between runs.
LLM_WARM_ITERATIONS = 2


def merge_groups(groups: list[list[int]]) -> list[set[int]]:
    """Planted duplicate groups that share a document form one cluster."""
    merged: list[set[int]] = []
    for g in map(set, groups):
        for m in [m for m in merged if m & g]:
            merged.remove(m)
            g |= m
        merged.append(g)
    return merged


class LlmCorpus(Workload):
    """Closed loop, one client. An iteration (and an operation) is one
    ``pipeline.build_corpus`` run with decontamination and the quality gate
    keeping all (``KEEP_FRAC``), then ``similarity.cosine_neardup_pairs_lsh``
    at the strict threshold, collected, then one ``QcPublish`` session: a
    short QC edit session with a save, and the export of the edited series.
    The corpus build and the near-dup search are the larger share."""

    name = "llm_corpus"

    def generate(self, out_dir: str) -> None:
        gen.documents(self.seed, out_dir)
        gen.embeddings(self.seed, out_dir)
        gen.events(self.seed, out_dir)

    def prepare(self) -> None:
        import json

        from pyspark.sql import functions as F

        from h2outility_spark.sources import parquet

        with open(os.path.join(self.inputs, "documents_truth.json")) as f:
            truth = json.load(f)
        self.dup_groups = merge_groups(truth["dup_groups"])
        self.contaminated = set(truth["contaminated"])
        self.all_ids = set(range(truth["n_docs"]))
        self.distinct = self.all_ids - set().union(*self.dup_groups) - self.contaminated
        with open(os.path.join(self.inputs, "embeddings_truth.json")) as f:
            self.pairs_truth = {tuple(p) for p in json.load(f)["pairs"]}
        self.bench = parquet.load_table(self.spark, self.inputs, "benchmark_texts")
        self.emb = parquet.load_table(self.spark, self.inputs, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        self.table_dir = os.path.join(self.work, "corpus")
        self.ledger = FileLedger(self.table_dir)
        self.committed_bytes = 0
        self.found: set = set()
        self.qc = QcPublish(self)
        self.qc.prepare()
        self.n_iter = 0
        self.n_warm = 0

    def warm_up(self, res: Result) -> None:
        for _ in range(LLM_WARM_ITERATIONS):
            t = time.perf_counter()
            self.iteration(res, warm=True)
            res.warm_walls.append(time.perf_counter() - t)
        self.ledger.scan()
        self.written_before = self.ledger.written()
        self.qc.mark()

    def iteration(self, res: Result, warm: bool = False) -> None:
        from h2outility_spark import pipeline
        from h2outility_spark.operators import similarity

        session = self.qc.sessions[-1 - self.n_warm if warm else self.n_iter]
        self.n_warm += warm
        self.n_iter += not warm
        t0 = time.perf_counter()
        try:
            with self.span("iteration"):
                with self.span("pipeline.build_corpus"):
                    stats = pipeline.build_corpus(self.spark, self.inputs, self.table_dir,
                                                  keep_frac=KEEP_FRAC, benchmark=self.bench)
                with self.span("operators.similarity.neardup"):
                    pairs = similarity.cosine_neardup_pairs_lsh(
                        self.emb, threshold=gen.STRICT_THRESHOLD, n_bits=8, n_bands=24).collect()
                qc_errors = self.qc.run(session, warm)
        except Exception as e:  # noqa: BLE001
            if warm:
                raise
            res.attempted += 1
            res.fail(repr(e))
            return
        wall = time.perf_counter() - t0
        self.ledger.scan()
        if warm:
            if qc_errors:
                raise RuntimeError(f"warm-up failed: {qc_errors}")
            self.qc.pending.clear()
            return
        res.walls.append(wall)
        res.ops.append(wall)
        res.attempted += 1 + self.qc.ops_per_session
        self.found = {(r["id_a"], r["id_b"]) for r in pairs}
        if self.traced:
            self.tracer.count("operators.similarity.found", len(self.found))
        corpus = f"SELECT * FROM read_parquet({self.corpus_files()!r})"
        problem = self.verify(stats, corpus)
        if problem:
            res.fail(problem)
        for problem in qc_errors + self.qc.verify():
            res.fail(problem)
        self.committed_bytes += logical_bytes(self.duck, corpus, ["text", "lang", "source"], 3)

    def corpus_files(self) -> list[str]:
        from h2outility_spark.storage_tx import TxTable

        table = TxTable(self.spark, self.table_dir, key_cols=["doc_id"])
        return [os.path.join(self.table_dir, e["path"]) for e in table.files()]

    def verify(self, stats: dict, corpus: str) -> str | None:
        df = self.duck.execute(f"SELECT doc_id FROM ({corpus})").df()
        kept = set(df["doc_id"].tolist())
        if len(kept) != len(df) or len(df) != stats["committed"]:
            return "committed corpus has repeated ids or a wrong count"
        if not kept <= self.all_ids:
            return f"unknown documents kept: {sorted(kept - self.all_ids)[:5]}"
        for group in self.dup_groups:
            if len(kept & group) > 1 or (not kept & group and not group & self.contaminated):
                return f"duplicate group {sorted(group)} kept {sorted(kept & group)}"
        if kept & self.contaminated:
            return "contaminated documents kept"
        if self.distinct - kept:
            return f"{len(self.distinct - kept)} distinct documents dropped, e.g. {sorted(self.distinct - kept)[:5]}"
        if not self.found >= self.pairs_truth:
            return f"near-dup pairs missed: {sorted(self.pairs_truth - self.found)[:5]}"
        if self.found - self.pairs_truth:
            return f"pairs below the threshold reported: {sorted(self.found - self.pairs_truth)[:5]}"
        return None

    def summary(self) -> dict[str, float]:
        corpus_written = self.ledger.written() - self.written_before
        qc = self.qc.summary()
        return {
            # both tables: the corpus and the QC-edited DataValues
            "write_amp": ((corpus_written + self.qc.written_bytes())
                          / (self.committed_bytes + self.qc.user_bytes())),
            "corpus.write_amp": corpus_written / self.committed_bytes,
            "operators.similarity.recall": len(self.found & self.pairs_truth) / len(self.pairs_truth),
            **qc,
        }


# --- cdc_ingest --------------------------------------------------------------------

CDC_RATE = 2.0  # batches landing per second
CDC_MAINT_EVERY = 2  # table commits between compaction + vacuum
# Batches landed before the clock, over two warm-up cycles: the first
# cycle takes about four times a warm one, the second about 1.5 times, the
# third comes within a tenth.
WARM_BATCHES = 6


class Lander(threading.Thread):
    """Open-loop generator: copies prepared batch files into the landing
    directory at their due times (write to a hidden name, then rename, so
    the file source never sees a partial file)."""

    def __init__(self, batches: list[str], landing: str, t0: float, rate: float):
        super().__init__(name="cdc-lander", daemon=True)
        self.batches, self.landing = batches, landing
        self.due = [t0 + i / rate for i in range(len(batches))]
        self.landed: list[float] = []
        self.stop_at = float("inf")
        self._halt = threading.Event()

    def run(self) -> None:
        for src, due in zip(self.batches, self.due):
            if due >= self.stop_at or self._halt.wait(max(0.0, due - time.time())):
                return
            name = os.path.basename(src)
            tmp = os.path.join(self.landing, f".{name}.tmp")
            shutil.copyfile(src, tmp)
            os.rename(tmp, os.path.join(self.landing, name))
            self.landed.append(time.time())

    def stop(self) -> None:
        self._halt.set()
        self.join()


class CdcIngest(Workload):
    """Open loop at ``CDC_RATE`` batches per second. Back-to-back drains of
    ``streaming.incremental.stream_upsert_to_txtable`` (availableNow, one
    persistent checkpoint) merge landed batches into a TxTable; a CDC
    consumer over ``sources.txtable_source`` mirrors each new version;
    ``compact_files`` plus ``vacuum`` run between cycles every
    ``CDC_MAINT_EVERY`` commits.
    An iteration is one drain cycle; an operation is one batch, timed from
    when it was due to land until the mirror holds it."""

    name = "cdc_ingest"

    def generate(self, out_dir: str) -> None:
        # WARM_BATCHES warm up; the rest land during the measured window,
        # which a traced run may extend by a few cycles
        gen.cdc_batches(self.seed, out_dir, WARM_BATCHES + int(CDC_RATE * (self.seconds + 30)))

    def prepare(self) -> None:
        from h2outility_spark.sources.txtable_source import TxTableCdcDataSource
        from h2outility_spark.storage_tx import TxTable

        self.spark.dataSource.register(TxTableCdcDataSource)
        self.landing = os.path.join(self.work, "landing")
        self.table_dir = os.path.join(self.work, "cdc_table")
        os.makedirs(self.landing, exist_ok=True)
        self.table = TxTable(self.spark, self.table_dir, key_cols=["key"])
        self.schema = "key bigint, seq bigint, val double, tag string"
        self.batches = sorted(glob.glob(os.path.join(self.inputs, "batches", "*.parquet")))
        self.batch_rows = {}
        self.mirror: dict[int, tuple] = {}
        self.commits_since_maint = 0
        self.ledger = FileLedger(self.table_dir)
        self.maint: list[float] = []
        self.rows_in = 0
        self.cdc_rows = 0
        self.lateness: list[float] = []
        # The initial load lands before the clock.
        shutil.copyfile(os.path.join(self.inputs, "initial.parquet"),
                        os.path.join(self.landing, "initial.parquet"))

    def _rows(self, path: str) -> list[tuple]:
        if path not in self.batch_rows:
            self.batch_rows[path] = self.duck.execute(
                f"SELECT key, seq FROM read_parquet('{path}')").fetchall()
        return self.batch_rows[path]

    def cycle(self) -> float:
        """One drain cycle: upsert drain, CDC drain, mirror update.
        Returns its duration."""
        from h2outility_spark.streaming import incremental

        v_before = self.table.latest_version()
        t0 = time.perf_counter()
        with self.span("iteration"):
            with self.span("streaming.drain"):
                stream = self.spark.readStream.schema(self.schema).parquet(self.landing)
                q = incremental.stream_upsert_to_txtable(
                    stream, self.table_dir, ["key"], "seq", os.path.join(self.work, "ckpt-upsert"))
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
                    q.awaitTermination(30)
                progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
                self.rows_in += sum(p["numInputRows"] for p in progress)
                if self.traced:
                    self.tracer.count("streaming.batches", len(progress))
                    self.tracer.count("streaming.rows_in", sum(p["numInputRows"] for p in progress))
            with self.span("sources.cdc_read"):
                rows = []
                cq = (self.spark.readStream.format("txtable_cdc").option("path", self.table_dir).load()
                      .writeStream.foreachBatch(lambda df, _: rows.extend(df.collect()))
                      .option("checkpointLocation", os.path.join(self.work, "ckpt-cdc"))
                      .trigger(availableNow=True).start())
                try:
                    cq.processAllAvailable()
                finally:
                    cq.stop()
                    cq.awaitTermination(30)
            self.cdc_rows += len(rows)
            if self.traced:
                self.tracer.count("sources.cdc_rows", len(rows))
            self.apply(rows)
        wall = time.perf_counter() - t0
        v_after = self.table.latest_version()
        self.commits_since_maint += (v_after or 0) - (v_before if v_before is not None else -1)
        self.ledger.scan()
        return wall

    def maintain(self) -> None:
        """Background maintenance between drain cycles, every
        ``CDC_MAINT_EVERY`` commits: compaction, then vacuum."""
        if self.commits_since_maint < CDC_MAINT_EVERY:
            return
        self.commits_since_maint = 0
        t = time.perf_counter()
        with self.span("storage_tx.maintenance"):
            self.table.compact_files()
            self.ledger.scan()
            self.table.vacuum(keep_versions=3, retention_seconds=0)
        self.maint.append(time.perf_counter() - t)

    def apply(self, rows) -> None:
        """Signed change rows -> mirror, version by version, deletes first."""
        for r in sorted(rows, key=lambda r: (r["_commit_version"], r["_sign"])):
            if r["_sign"] < 0:
                if self.mirror.get(r["key"]) == tuple(r[:4]):
                    del self.mirror[r["key"]]
            else:
                self.mirror[r["key"]] = tuple(r[:4])

    def held(self, path: str) -> bool:
        return all(self.mirror.get(k, (None, -1))[1] >= s for k, s in self._rows(path))

    def warm_up(self, res: Result) -> None:
        """Two drain cycles (the first also takes the initial load), then
        one maintenance pass."""
        for part in (self.batches[:WARM_BATCHES // 2], self.batches[WARM_BATCHES // 2:WARM_BATCHES]):
            for path in part:
                shutil.copyfile(path, os.path.join(self.landing, os.path.basename(path)))
            res.warm_walls.append(self.cycle())
        self.commits_since_maint = CDC_MAINT_EVERY
        self.maintain()
        self.maint.clear()
        self.written_before = self.ledger.written()

    def run(self, res: Result, deadline: float) -> None:
        """Drain cycles until the deadline. Batches land until the deadline;
        in a traced run, until it has also run ``TRACED_MIN_ITERATIONS``
        cycles. Cycles after landing stopped only catch up."""
        pending = self.batches[WARM_BATCHES:]
        min_cycles = TRACED_MIN_ITERATIONS if self.tracer is not None else 0
        lander = Lander(pending, self.landing, time.time() + 0.2, CDC_RATE)
        if not min_cycles:
            lander.stop_at = time.time() + (deadline - time.perf_counter())
        lander.start()
        confirmed, late_cycles, k, done = 0, 0, 0, False
        try:
            while True:
                if not done and time.perf_counter() >= deadline and k >= min_cycles:
                    done = True
                    lander.stop()
                if confirmed == len(lander.landed):
                    if done or confirmed == len(pending):
                        break
                    wait = lander.due[confirmed] - time.time()
                    left = deadline - time.perf_counter()
                    time.sleep(max(0.0, min(wait, left) if left > 0 else wait))
                    continue
                if done:
                    late_cycles += 1
                    if late_cycles > 5:
                        break
                self.traced = traced_turn(k)
                k += 1
                wall = self.cycle()
                if not done:
                    (res.traced_walls if self.traced else res.walls).append(wall)
                if self.traced:
                    self.tracer.flush()
                now = time.time()
                while confirmed < len(lander.landed) and self.held(pending[confirmed]):
                    res.ops.append(now - lander.due[confirmed])
                    confirmed += 1
                self.maintain()
        finally:
            lander.stop()
            self.traced = False
        n = len(lander.landed)
        self.lateness = [land - due for land, due in zip(lander.landed, lander.due)]
        res.attempted += n
        for path in pending[confirmed:n]:
            res.fail(f"{os.path.basename(path)}: never mirrored")
        landed = [os.path.join(self.inputs, "initial.parquet")] + self.batches[:WARM_BATCHES] + pending[:n]
        self.verify(res, landed, n)
        self.user_bytes = logical_bytes(self.duck, f"SELECT * FROM read_parquet({pending[:n]!r})", ["tag"], 3)

    def verify(self, res: Result, landed: list[str], n_timed: int) -> None:
        """Mirror == TxTable snapshot == DuckDB last-write-wins over every
        landed batch. A mismatching key fails each timed batch carrying it."""
        want = {r[0]: tuple(r) for r in self.duck.execute(f"""
            SELECT key, seq, val, tag FROM read_parquet({landed!r})
            QUALIFY row_number() OVER (PARTITION BY key ORDER BY seq DESC) = 1""").fetchall()}
        files = [os.path.join(self.table_dir, e["path"]) for e in self.table.files()]
        table = {r[0]: tuple(r) for r in self.duck.execute(
            f"SELECT key, seq, val, tag FROM read_parquet({files!r})").fetchall()}
        bad = {k for k in set(want) | set(self.mirror) | set(table)
               if not (want.get(k) == self.mirror.get(k) == table.get(k))}
        if not bad:
            return
        timed = landed[len(landed) - n_timed:]
        for path in timed:
            if any(k in bad for k, _ in self._rows(path)):
                res.fail(f"{os.path.basename(path)}: mirror, table and last-write-wins disagree")
        if len(res.failures) == 0:
            res.fail(f"{len(bad)} keys disagree outside the timed batches")

    def summary(self) -> dict[str, float]:
        out = storage_amp(self.table, self.ledger, self.written_before, self.user_bytes)
        out["cdc.generator_lateness_max_s"] = max(self.lateness, default=0.0)
        out["streaming.rows_in"] = self.rows_in
        out["sources.cdc_rows"] = self.cdc_rows
        out["storage_tx.maintenance_runs"] = len(self.maint)
        out["storage_tx.live_files"] = len(self.table.files())
        return out


WORKLOADS = {w.name: w for w in (LlmCorpus, CdcIngest)}
