"""Traced-run instrumentation: wrappers around the package's public
functions (rebinding the names their callers look up) and the per-layer
report built from the spans, the deferred counts and Spark's event log.

Nothing in the package changes; ``uninstall`` restores every name.
"""

from __future__ import annotations

import glob
import os
from collections import defaultdict

import measure
from measure import Tracer, median


def install(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap the package's public functions; returns what ``uninstall``
    needs to restore them."""
    from h2outility_spark import edit_session, jobs, pipeline, storage_tx
    from h2outility_spark.operators import dedup, similarity
    from h2outility_spark.sinks import csv_sink
    from h2outility_spark.streaming import incremental

    def count_later(name, df):
        tracer.defer(lambda: tracer.count(name, df.count()))

    seen_versions: set = set()

    def merge_files(args, kwargs, version):
        table = args[0]
        key = (table.table_dir, version)
        if key in seen_versions:
            return  # a no-op merge returns the current version; nothing committed
        seen_versions.add(key)

        def tally():
            parent = table.manifest(version)["parent"]
            if parent is None or table.manifest(parent) is None:
                return
            new = {e["path"]: e for e in table.files(version)}
            old = {e["path"] for e in table.files(parent)}
            tracer.count("storage_tx.files_carried", len(old & new.keys()))
            tracer.count("storage_tx.files_rewritten", len(old - new.keys()))
            tracer.count("storage_tx.bytes_written",
                         sum(os.path.getsize(os.path.join(table.table_dir, p)) for p in new.keys() - old))

        tracer.defer(tally)

    wraps = [
        (jobs, "export_chunk", "jobs.export_chunk", None),
        (csv_sink, "write_annotated_csv", "sinks.csv_write",
         lambda a, k, path: tracer.count("sinks.bytes_out", os.path.getsize(path))),
        (edit_session.EditSession, "frame", "edit_session.frame",
         lambda a, k, r: tracer.count("plans.plan_len", len(a[0].plan))),
        (storage_tx.TxTable, "merge_upsert", "storage_tx.merge", merge_files),
        (storage_tx.TxTable, "overwrite", "storage_tx.overwrite", None),
        (storage_tx.TxTable, "compact_files", "storage_tx.compact", None),
        (storage_tx.TxTable, "vacuum", "storage_tx.vacuum", None),
        (dedup, "connected_components", "operators.dedup.connected_components",
         lambda a, k, r: count_later("operators.dedup.verified_pairs", a[0])),
        (dedup, "lsh_candidate_pairs", "operators.dedup.lsh_pairs",
         lambda a, k, r: count_later("operators.dedup.lsh_candidates", r)),
        (similarity, "rp_lsh_candidate_pairs", "operators.similarity.lsh_pairs",
         lambda a, k, r: count_later("operators.similarity.candidates", r)),
        (pipeline, "load_table", "sources.load_table", None),
        (incremental, "stream_upsert_to_txtable", "streaming.start", None),
    ]
    return [(owner, attr, tracer.wrap(owner, attr, name, after)) for owner, attr, name, after in wraps]


def uninstall(installed: list[tuple[object, str, object]]) -> None:
    for owner, attr, fn in reversed(installed):
        setattr(owner, attr, fn)


def _read_jobs(events_dir: str) -> dict[int, measure.Job]:
    """Spark 4 writes the event log as a directory of rolled ``events_*``
    files; read them in order."""
    lines = []
    paths = glob.glob(os.path.join(events_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path, encoding="utf-8") as f:
            lines += f.readlines()
    if not lines:
        raise RuntimeError(f"no Spark event log under {events_dir}")
    return measure.parse_event_log(lines)


def layer_report(tracer: Tracer, res, events_dir: str) -> dict[str, float]:
    """Per-layer figures from the traced iterations. Span figures are
    medians per call; engine figures are medians per traced iteration."""
    jobs = _read_jobs(events_dir)
    spans = tracer.spans
    selft = measure.self_times(spans)
    by_name: dict[str, list[measure.Span]] = defaultdict(list)
    for sp in spans:
        by_name[sp.name].append(sp)
    out: dict[str, float] = {}
    for name, sps in sorted(by_name.items()):
        if name == "iteration":
            continue
        out[f"{name}_s"] = median([s.end - s.start for s in sps])
        out[f"{name}.self_s"] = median([selft[s.id] for s in sps])
        out[f"{name}.calls"] = len(sps)
        out[f"{name}.spark_jobs"] = median([s.job_hi - s.job_lo for s in sps])

    iters = by_name["iteration"]
    totals = [measure.engine_totals(measure.jobs_in_window(it, jobs)) for it in iters]
    for m in measure.ENGINE_METRICS:
        out[f"spark.{m}"] = median([t[m] for t in totals])
    out["driver.busy_s"] = median([measure.driver_busy(it, measure.jobs_in_window(it, jobs)) for it in iters])
    out["tracing.unattributed_frac"] = (sum(selft[it.id] for it in iters)
                                        / sum(it.end - it.start for it in iters))
    if min(len(res.traced_walls), len(res.walls)) < 2:
        raise RuntimeError("tracing overhead needs two traced and two untraced iterations")
    out["tracing.overhead_frac"] = median(res.traced_walls) / median(res.walls) - 1
    out["tracing.iterations"] = len(iters)

    # Names the benchmark's metric map uses for derived figures.
    if "jobs.run_export" in by_name:
        out["jobs.catalog_s"] = out["jobs.run_export.self_s"]
        out["jobs.chunks"] = len(by_name["jobs.export_chunk"]) / len(iters)
        out["jobs.spark_jobs_per_chunk"] = out["jobs.export_chunk.spark_jobs"]
    if "pipeline.build_corpus" in by_name:
        out["pipeline.self_s"] = out["pipeline.build_corpus.self_s"]
        out["operators.dedup.cc_spark_jobs"] = out["operators.dedup.connected_components.spark_jobs"]
    if "streaming.drain" in by_name:
        out["streaming.trigger_overhead_s"] = median([
            (d.end - d.start) - measure.covered(
                (d.start, d.end), [(s.start, s.end) for s in spans
                                   if s.name == "storage_tx.merge" and d.start <= s.start <= d.end])
            for d in by_name["streaming.drain"]])
    # Counts are per traced iteration, except the plan length the views saw.
    for name, values in tracer.counts.items():
        out[name] = median(values) if name == "plans.plan_len" else sum(values) / len(iters)
    ratios = [("operators.dedup.lsh_precision", "operators.dedup.verified_pairs", "operators.dedup.lsh_candidates"),
              ("operators.similarity.precision", "operators.similarity.found", "operators.similarity.candidates"),
              ("storage_tx.prune_ratio", "storage_tx.files_carried", None)]
    for name, num, den in ratios:
        if num not in out:
            continue
        d = out[den] if den else out[num] + out.get("storage_tx.files_rewritten", 0)
        out[name] = out[num] / d if d else 0.0
    return out
