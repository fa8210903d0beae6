"""The input generator: one seed gives byte-identical inputs, two seeds differ."""

import hashlib
import os

import gen


def tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, names in os.walk(root):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _generate(seed, root):
    gen.events(seed, str(root))
    gen.documents(seed, str(root))
    gen.embeddings(seed, str(root))
    gen.cdc_batches(seed, str(root / "cdc"), n_batches=3)
    return tree_digest(str(root))


def test_same_seed_same_bytes(tmp_path):
    assert _generate(7, tmp_path / "a") == _generate(7, tmp_path / "b")
    assert gen.qc_sessions(7, 5) == gen.qc_sessions(7, 5)


def test_different_seeds_differ(tmp_path):
    assert _generate(7, tmp_path / "a") != _generate(8, tmp_path / "b")
    assert gen.qc_sessions(7, 5) != gen.qc_sessions(8, 5)


def test_planted_truth_is_consistent(tmp_path):
    truth = gen.documents(3, str(tmp_path))
    assert all(len(g) >= 2 for g in truth["dup_groups"])
    assert len(truth["contaminated"]) >= gen.N_CONTAMINATED
    pairs = gen.embeddings(3, str(tmp_path))["pairs"]
    assert len(pairs) >= gen.N_PLANTED
    planted = {(a, b) for a, b in pairs if b >= gen.N_VECS}
    assert len(planted) == gen.N_PLANTED


def test_contamination_by_chance_is_listed(tmp_path):
    # seed 3010 draws a base document sharing one word trigram with the
    # decontamination set; the truth must list it with the planted ones
    truth = gen.documents(3010, str(tmp_path))
    assert len(truth["contaminated"]) == gen.N_CONTAMINATED + 1
