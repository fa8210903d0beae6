"""Seeded input generator for the benchmark workloads.

Every input the package sees is written here, under one output directory,
from nothing but the seed: the same seed (and the same size arguments)
gives byte-identical files, another seed gives different ones. The tables
follow the shapes of the repository's test tables (``events``,
``documents``, ``embeddings``), so the package reads them with its own
``sources.parquet.load_table``.

Each generator also returns the ground truth its workload's verification
needs (planted duplicate groups, planted embedding pairs, CDC batches),
computed from the generated data alone.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ODM-shaped sensor events: sites x hourly grid x variables, spanning a
# year boundary so ``chunk_by_year`` resources get two chunks.
N_SITES = 24
N_STEPS = 300
EVENT_START = datetime(2023, 12, 22)
VARIABLES = ["click", "error", "purchase", "signup", "view"]
N_REPORTED = 210  # steps each (site, variable) reports

# Documents: base texts plus planted exact duplicates, near-duplicate chains
# and benchmark-contaminated copies.
N_DOCS = 400
N_SOURCES = 12
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB_SIZE = 800
N_BENCH_TEXTS = 8
N_CONTAMINATED = 12

# Embeddings: unit-variance Gaussian vectors with planted near copies.
N_VECS = 800
DIM = 64
N_PLANTED = 40
PLANT_NOISE = 0.25
STRICT_THRESHOLD = 0.85

# CDC batches: fixed-size upsert batches over a growing key space.
CDC_INITIAL_KEYS = 2000
CDC_BATCH_ROWS = 100
CDC_RECENT_WINDOW = 400
CDC_UPDATE_SHARE = 0.5


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _dump(obj, path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, sort_keys=True)


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    """Distinct lowercase pseudo-words (letters only, 4-9 chars)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, size=int(rng.integers(4, 10)))))
    return sorted(words)


def events(seed: int, out_dir: str) -> dict:
    """``events.parquet`` in the test table's shape. Every (site, variable)
    reports ``N_REPORTED`` of the hourly steps, and its ``props.k`` values
    are a shuffled run of 0..99, so every series has the same size and
    carries both methods and both QC levels in fixed shares, as in the
    test data. Values follow a per-series random walk, which gives the QC
    detectors steps and gaps to find."""
    rng = np.random.default_rng([seed, 1])
    rows_ts, rows_site, rows_var, rows_val, rows_k = [], [], [], [], []
    for site in range(N_SITES):
        offset = timedelta(minutes=int(rng.integers(0, 60)))
        for var in VARIABLES:
            level, walk = rng.uniform(10, 200), []
            for _ in range(N_STEPS):
                level = max(0.0, level + rng.normal(0, 4))
                walk.append(round(float(level), 2))
            steps = np.sort(rng.choice(N_STEPS, size=N_REPORTED, replace=False))
            ks = rng.permutation(np.arange(N_REPORTED) % 100)
            for step, k in zip(steps.tolist(), ks.tolist()):
                rows_ts.append(EVENT_START + offset + timedelta(hours=step))
                rows_site.append(site)
                rows_var.append(var)
                rows_val.append(walk[step])
                rows_k.append(k)
    order = sorted(range(len(rows_ts)), key=lambda i: (rows_ts[i], rows_site[i], rows_var[i]))
    table = pa.table(
        {
            "event_id": pa.array(range(len(order)), pa.int64()),
            "ts": pa.array([rows_ts[i] for i in order], pa.timestamp("us")),
            "user_id": pa.array([rows_site[i] for i in order], pa.int64()),
            "event_type": pa.array([rows_var[i] for i in order], pa.string()),
            "value": pa.array([rows_val[i] for i in order], pa.float64()),
            "props": pa.array([json.dumps({"k": rows_k[i]}) for i in order], pa.string()),
        }
    )
    _write(table, os.path.join(out_dir, "events.parquet"))
    return {"rows": table.num_rows, "sites": N_SITES}


def qc_sessions(seed: int, n_sessions: int) -> list[dict]:
    """Analyst sessions over a series selection (one site, two variables,
    QC 0). Every session runs the same script of edit kinds, so sessions
    cost alike; the seed draws the selection and every edit's arguments.
    The plan the view re-applies grows by one op per edit."""
    rng = np.random.default_rng([seed, 3])
    sessions = []
    for _ in range(n_sessions):
        site = int(rng.integers(0, N_SITES))
        variables = sorted(rng.choice(VARIABLES, 2, replace=False).tolist())
        ops = [_QC_EDITS[kind](rng) for kind in QC_SCRIPT]
        sessions.append({"site": site, "variables": variables, "ops": ops})
    return sessions


def _threshold(rng):
    return {"op": "select_value_threshold",
            "args": {"op": str(rng.choice(["<", ">"])), "threshold": round(float(rng.uniform(20, 180)), 1)}}


def _change(rng):
    return {"op": "change_value",
            "args": {"op": str(rng.choice(["+", "-", "*"])), "operand": round(float(rng.uniform(0.5, 2.0)), 2)}}


def _flag(rng):
    return {"op": "flag_selected", "args": {"qualifier_id": int(rng.integers(1, 5))}}


def _drift(rng):
    return {"op": "drift_correct", "args": {"gap_width": round(float(rng.uniform(0.5, 3.0)), 2)}}


_QC_EDITS = {"threshold": _threshold, "change": _change, "flag": _flag, "drift": _drift}

# The session script: the kinds of its edits, in order.
QC_SCRIPT = ["threshold", "change", "flag", "drift"]


def _trigrams(text: str) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def documents(seed: int, out_dir: str) -> dict:
    """``documents.parquet`` plus a decontamination set. Planted groups:
    exact copies (identical text), near-duplicate chains (each link swaps
    two words of the previous link, so the chain's ends may fall below the
    Jaccard threshold while every link stays far above it — connected
    components must join them), and contaminated docs carrying a six-word
    run of a benchmark text. The truth lists as contaminated every doc
    that shares a word trigram with the decontamination set: the planted
    ones and any random text that does so by chance."""
    rng = np.random.default_rng([seed, 4])
    vocab = _vocab(rng, VOCAB_SIZE)
    texts: list[str] = []

    def words(n):
        return [vocab[i] for i in rng.integers(0, len(vocab), size=n)]

    for _ in range(N_DOCS):
        texts.append(" ".join(words(int(rng.integers(25, 70)))))
    groups: list[list[int]] = []
    for _ in range(N_DOCS // 20):  # exact copies
        src = int(rng.integers(0, N_DOCS))
        group = [src]
        for _ in range(int(rng.integers(1, 3))):
            group.append(len(texts))
            texts.append(texts[src])
        groups.append(group)
    for _ in range(N_DOCS // 25):  # near-duplicate chains
        src = int(rng.integers(0, N_DOCS))
        group = [src]
        cur = texts[src].split(" ")
        for _ in range(int(rng.integers(2, 5))):
            cur = list(cur)
            for pos in rng.choice(len(cur), size=2, replace=False):
                cur[pos] = vocab[int(rng.integers(0, len(vocab)))]
            group.append(len(texts))
            texts.append(" ".join(cur))
        groups.append(group)
    bench_texts = [" ".join(words(40)) for _ in range(N_BENCH_TEXTS)]
    for _ in range(N_CONTAMINATED):
        b = bench_texts[int(rng.integers(0, N_BENCH_TEXTS))].split(" ")
        start = int(rng.integers(0, len(b) - 6))
        texts.append(" ".join(words(20) + b[start:start + 6] + words(20)))
    bench_grams = set().union(*map(_trigrams, bench_texts))
    contaminated = [i for i, t in enumerate(texts) if _trigrams(t) & bench_grams]

    # Shuffle ids so planted copies are not always the higher id.
    perm = rng.permutation(len(texts))
    doc_id = {old: int(new) for old, new in enumerate(perm)}
    order = np.argsort(perm)
    table = pa.table(
        {
            "doc_id": pa.array([doc_id[int(o)] for o in order], pa.int64()),
            "text": pa.array([texts[int(o)] for o in order], pa.string()),
            "lang": pa.array([LANGS[int(o) % len(LANGS)] for o in order], pa.string()),
            "source": pa.array([f"src{int(o) % N_SOURCES}" for o in order], pa.string()),
            "n_chars": pa.array([len(texts[int(o)]) for o in order], pa.int64()),
        }
    )
    _write(table, os.path.join(out_dir, "documents.parquet"))
    _write(pa.table({"text": pa.array(bench_texts, pa.string())}),
           os.path.join(out_dir, "benchmark_texts.parquet"))
    truth = {
        "dup_groups": [sorted(doc_id[i] for i in g) for g in groups],
        "contaminated": sorted(doc_id[i] for i in contaminated),
        "n_docs": len(texts),
    }
    _dump(truth, os.path.join(out_dir, "documents_truth.json"))
    return truth


def embeddings(seed: int, out_dir: str) -> dict:
    """``embeddings.parquet`` with planted near copies (cosine >= 0.9 to
    their source). The truth is every pair at or above the strict
    threshold, brute-forced in float64 over the stored float32 values."""
    rng = np.random.default_rng([seed, 5])
    base = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    src = rng.choice(N_VECS, size=N_PLANTED, replace=False)
    planted = []
    for s in src:
        while True:
            v = (base[s] + PLANT_NOISE * rng.standard_normal(DIM)).astype(np.float32)
            a, b = base[s].astype(np.float64), v.astype(np.float64)
            if a @ b / np.sqrt((a @ a) * (b @ b)) >= 0.9:
                break
        planted.append(v)
    vecs = np.vstack([base, np.array(planted)])
    ids = np.arange(len(vecs), dtype=np.int64)
    table = pa.table(
        {
            "vec_id": pa.array(ids),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=len(vecs)).astype(np.int32)),
        }
    )
    _write(table, os.path.join(out_dir, "embeddings.parquet"))
    v64 = vecs.astype(np.float64)
    norms = np.einsum("ij,ij->i", v64, v64)
    sims = (v64 @ v64.T) / np.sqrt(np.outer(norms, norms))
    ia, ib = np.nonzero(np.triu(sims >= STRICT_THRESHOLD, k=1))
    truth = {"pairs": sorted([int(a), int(b)] for a, b in zip(ia, ib))}
    _dump(truth, os.path.join(out_dir, "embeddings_truth.json"))
    return truth


def cdc_batches(seed: int, out_dir: str, n_batches: int) -> dict:
    """An initial load plus ``n_batches`` upsert batches of
    ``CDC_BATCH_ROWS`` rows each, ``CDC_UPDATE_SHARE`` of them updates.
    Updates pick recent keys with a geometric preference; ``seq`` increases over all rows, so the newest
    row per key wins."""
    rng = np.random.default_rng([seed, 6])
    bdir = os.path.join(out_dir, "batches")
    os.makedirs(bdir, exist_ok=True)
    seq = 0
    schema = pa.schema([("key", pa.int64()), ("seq", pa.int64()), ("val", pa.float64()), ("tag", pa.string())])

    def batch(keys):
        nonlocal seq
        n = len(keys)
        cols = {
            "key": pa.array(keys, pa.int64()),
            "seq": pa.array(range(seq, seq + n), pa.int64()),
            "val": pa.array(np.round(rng.uniform(0, 1000, size=n), 3), pa.float64()),
            "tag": pa.array([f"t{int(x)}" for x in rng.integers(0, 50, size=n)], pa.string()),
        }
        seq += n
        return pa.table(cols, schema=schema)

    initial = list(range(CDC_INITIAL_KEYS))
    next_key = CDC_INITIAL_KEYS
    _write(batch(initial), os.path.join(out_dir, "initial.parquet"))
    names = []
    for i in range(n_batches):
        n_upd = int(rng.binomial(CDC_BATCH_ROWS, CDC_UPDATE_SHARE))
        back = np.minimum(rng.geometric(1.0 / CDC_RECENT_WINDOW, size=n_upd), next_key)
        upd = sorted({int(next_key - b) for b in back})
        new = list(range(next_key, next_key + CDC_BATCH_ROWS - len(upd)))
        next_key += len(new)
        name = f"batch-{i:05d}.parquet"
        _write(batch(upd + new), os.path.join(bdir, name))
        names.append(name)
    return {"batches": names, "keys": next_key, "rows": seq}
