"""Generator: seeded determinism and ground truth that matches the tables."""

import hashlib
import os

import numpy as np
import pyarrow.dataset as ds
import pytest

from perfbench import gen


def _digest(root):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


MAKERS = {
    "row": lambda seed, out: gen.row_tables(seed, 80, 16, None, out),
    "row_dirty": lambda seed, out: gen.row_tables(seed, 80, 16, 2, out),
    "drift": lambda seed, out: gen.drift_tables(seed, 150, out),
    "corpus": lambda seed, out: gen.corpus(seed, 200, out),
}


@pytest.mark.parametrize("kind", sorted(MAKERS))
def test_same_seed_same_bytes_other_seed_other_bytes(kind, tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    MAKERS[kind](7, a)
    MAKERS[kind](7, b)
    MAKERS[kind](8, c)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def _pk(path):
    t = ds.dataset(path, format="parquet").to_table(["conv_id", "turn_idx"])
    return list(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))


@pytest.mark.parametrize("dirty", [None, 2])
def test_row_truth_matches_tables(dirty, tmp_path):
    out = str(tmp_path)
    t = gen.row_tables(3, 300, 16, dirty, out)
    src, tgt = _pk(f"{out}/source"), _pk(f"{out}/target")
    assert len(src) == t["n_source"] and len(tgt) == t["n_target"]
    deleted = {tuple(x) for x in t["deleted"]}
    extra = {tuple(x) for x in t["extra"]}
    assert deleted and t["mutated"] and (extra or dirty)
    assert set(src) - set(tgt) == deleted
    assert set(tgt) - set(src) == extra
    assert len(tgt) == len(src) - len(deleted) + len(extra)
    # mutated rows differ in text only
    s = ds.dataset(f"{out}/source", format="parquet").to_table().to_pylist()
    g = ds.dataset(f"{out}/target", format="parquet").to_table().to_pylist()
    gi = {(r["conv_id"], r["turn_idx"]): r for r in g}
    changed = {
        k for k, r in ((( r["conv_id"], r["turn_idx"]), r) for r in s)
        if k in gi and gi[k] != r
    }
    assert changed == {tuple(x) for x in t["mutated"]}
    # manifest: equal row-count PK ranges; defects sit only in dirty ones
    lowers = gen.pack_pk(*np.array(t["manifest_lowers"]).T)
    assert len(lowers) == t["n_parts"] == 16
    defects = np.array(t["deleted"] + t["mutated"] + t["extra"])
    parts = set(gen.part_of(gen.pack_pk(defects[:, 0], defects[:, 1]), lowers).tolist())
    assert parts == set(t["dirty_parts"])
    if dirty is None:
        assert parts == set(range(16))
    else:
        assert len(parts) == dirty


def test_drift_truth_matches_tables(tmp_path):
    out = str(tmp_path)
    t = gen.drift_tables(5, 300, out)
    src, tgt = _pk(f"{out}/source"), _pk(f"{out}/target")
    assert len(src) == t["n_source"] and len(tgt) == t["n_target"]
    assert len(set(src)) == len(src)
    dup = len(tgt) - len(set(tgt))
    assert dup == len(t["duplicates"]) and set(tgt) == set(src)
    dim = ds.dataset(f"{out}/dim", format="parquet").to_table()["conv_id"].to_pylist()
    assert set(c for c, _ in src) - set(dim) == set(t["orphan_convs"])
    assert len(t["drifted_days"]) == 2
    assert t["max_conv_turns"] > 20 * (len(src) / 300)  # heavy tail


def test_corpus_truth_matches_tables(tmp_path):
    out = str(tmp_path)
    t = gen.corpus(9, 300, out)
    docs = ds.dataset(f"{out}/docs", format="parquet").to_table().to_pylist()
    assert len(docs) == t["n_docs"]
    text = {d["doc_id"]: d["text"] for d in docs}
    members = [m for c in t["clusters"] for m in c]
    assert len(members) == len(set(members))
    for c in t["clusters"]:
        toks = {tuple(text[m].strip(" ").split()) for m in c}
        assert len(toks) == 1  # same token sequence: Jaccard exactly 1
        assert len({text[m] for m in c}) == len(c)  # different bytes


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_planted_drift_is_what_ks_flags_at_benchmark_size(seed, tmp_path):
    from perfbench import oracle, workloads

    out = str(tmp_path)
    gen.drift_tables(seed, workloads.ColumnDrift.n_convs, out)
    exp = oracle.DriftExpect(out, workloads.KS_FLAG, workloads.UNIQ_BUCKETS)
    assert exp.flagged == exp.drifted
    assert exp.psi > 0.2  # the drill-down's PSI verdict is a fail
