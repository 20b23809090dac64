"""Seeded input generator for the benchmark workloads.

Every table is built from ``numpy.random.default_rng(seed)`` and written
with pyarrow, so one seed gives the same parquet bytes on every run. Next
to the tables the generator writes ``truth.json``: every planted defect
(deleted / mutated / extra row PKs, duplicate PKs, orphan conversations,
drifted days, dirty manifest partitions, near-duplicate clusters). The
oracle (``oracle.py``) derives every expected output from the truth file
plus the generated columns; nothing here calls the engine.

Table shapes:

- ``source`` / ``target`` transcripts: (conv_id bigint, turn_idx int,
  ts timestamp UTC, role string, text string, n_tokens int,
  latency_ms bigint, score double), sorted by (conv_id, turn_idx) and
  written in small row groups so PK-range predicates can prune the scan.
- ``dim``: dim_conversations (conv_id, user_id, created_day).
- ``docs``: curation corpus (doc_id bigint, text string).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2026-01-05T00:00:00Z in microseconds
EPOCH_US = 1_767_571_200 * 1_000_000
DAY_US = 86_400 * 1_000_000
ROLES = ("system", "user", "assistant", "tool")
ROW_GROUP = 4096
#: PK (conv_id, turn_idx) packed into one sortable int64
TURN_BITS = 20


def pack_pk(conv_id, turn_idx):
    return (np.asarray(conv_id, np.int64) << TURN_BITS) | np.asarray(
        turn_idx, np.int64
    )


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct lowercase pseudo-words built from syllables."""
    syl = np.array(
        [a + b for a in "bcdfghklmnprstvz" for b in ("a", "e", "i", "o", "u")]
    )
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(syl[rng.integers(0, len(syl), k)])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out)


def _sentences(rng, vocab, n, lo, hi):
    lens = rng.integers(lo, hi + 1, n)
    stop = np.array(["the", "a", "of", "and", "to"])
    out = []
    for ln in lens:
        w = vocab[rng.integers(0, len(vocab), ln)]
        # a stopword about every fourth word keeps the text English-shaped
        mask = rng.random(ln) < 0.25
        w = np.where(mask, stop[rng.integers(0, 5, ln)], w)
        out.append(" ".join(w) + ".")
    return np.array(out, dtype=object), lens


def _take(pool: np.ndarray, idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(list(pool), pa.string())
    ).dictionary_decode()


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        table, os.path.join(path, "part-0.parquet"),
        row_group_size=ROW_GROUP, compression="snappy",
    )


class Turns:
    """Column arrays of one transcripts table (numpy, PK-sorted)."""

    def __init__(self, **cols):
        self.cols = cols

    def __getitem__(self, k):
        return self.cols[k]

    def __len__(self):
        return len(self.cols["conv_id"])

    def take(self, idx):
        return Turns(**{k: v[idx] for k, v in self.cols.items()})

    def concat(self, other: "Turns") -> "Turns":
        return Turns(
            **{k: np.concatenate([v, other.cols[k]]) for k, v in self.cols.items()}
        )

    def sorted(self) -> "Turns":
        # stable: duplicate PKs keep their insertion order
        order = np.argsort(pack_pk(self["conv_id"], self["turn_idx"]), kind="stable")
        return self.take(order)

    def to_arrow(self, pool: np.ndarray) -> pa.Table:
        return pa.table(
            {
                "conv_id": pa.array(self["conv_id"], pa.int64()),
                "turn_idx": pa.array(self["turn_idx"], pa.int32()),
                "ts": pa.array(self["ts"], pa.timestamp("us", tz="UTC")),
                "role": _take(np.array(ROLES), self["role"]),
                "text": _take(pool, self["text"]),
                "n_tokens": pa.array(self["n_tokens"], pa.int32()),
                "latency_ms": pa.array(self["latency_ms"], pa.int64()),
                "score": pa.array(self["score"], pa.float64()),
            }
        )


def _turns(rng, sizes, n_days, n_pool, pool_words) -> tuple[Turns, np.ndarray]:
    """Turns for len(sizes) conversations; returns (turns, conv day)."""
    n_convs = len(sizes)
    conv_ids = 1000 + np.arange(n_convs, dtype=np.int64)
    day = rng.integers(0, n_days, n_convs)
    start_s = rng.integers(0, 43_200, n_convs)
    total = int(sizes.sum())
    rep = np.repeat(np.arange(n_convs), sizes)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    turn = (np.arange(total) - np.repeat(starts, sizes)).astype(np.int32)
    # turns 30 s apart, squeezed so a long conversation stays on its day
    step_s = np.minimum(30, (86_399 - start_s) // np.maximum(sizes, 1))
    ts = (
        EPOCH_US + day[rep] * DAY_US + start_s[rep] * 1_000_000
        + turn.astype(np.int64) * step_s[rep] * 1_000_000
    )
    u = rng.random(total)
    role = np.where(turn % 2 == 1, 1, 2)
    role = np.where(u < 0.15, 3, role)
    role = np.where(turn == 0, 0, role)
    text = rng.integers(0, n_pool, total)
    return Turns(
        conv_id=conv_ids[rep],
        turn_idx=turn,
        ts=ts.astype(np.int64),
        role=role.astype(np.int8),
        text=text.astype(np.int32),
        n_tokens=pool_words[text].astype(np.int32),
        latency_ms=rng.integers(50, 5000, total).astype(np.int64),
        score=rng.random(total),
    ), day


def manifest_parts(pk_sorted: np.ndarray, n_parts: int):
    """Equal-row-count PK-range partitions over the sorted source PKs, the
    reference generate-table-partitions rule: partition of the r-th row
    (0-based) is r // ceil(n / n_parts). Returns (part per row, lower-bound
    PK of each partition)."""
    n = len(pk_sorted)
    step = -(-n // n_parts)
    part = np.arange(n) // step
    lowers = pk_sorted[::step]
    return part, lowers


def part_of(pk: np.ndarray, lowers: np.ndarray) -> np.ndarray:
    """Partition of arbitrary PKs: the last lower bound <= key (keys below
    the first bound fall into partition 0)."""
    return np.maximum(np.searchsorted(lowers, pk, side="right") - 1, 0)


def _pks(t: Turns, idx) -> list[list[int]]:
    return [[int(c), int(i)] for c, i in zip(t["conv_id"][idx], t["turn_idx"][idx])]


# ---------------------------------------------------------------------------
# transcripts: row comparison (row_full, resume_dirty)
# ---------------------------------------------------------------------------


def row_tables(seed: int, n_convs: int, n_parts: int, dirty_parts: int | None,
               out: str) -> dict:
    """Source/target transcripts for Row validation.

    ``dirty_parts=None``: defects (deleted, mutated, extra target rows) are
    spread over every manifest partition. Otherwise only ``dirty_parts``
    seeded partitions differ and the rest are byte-identical.
    """
    rng = np.random.default_rng(seed)
    vocab = _words(rng, 2000)
    pool, pool_words = _sentences(rng, vocab, 1024, 2, 40)
    # a fixed multiset of conversation sizes (20..79 turns), seeded order:
    # every seed yields the same row count
    sizes = rng.permutation(20 + np.arange(n_convs) * 60 // n_convs)
    src, _ = _turns(rng, sizes, 8, len(pool), pool_words)
    pk = pack_pk(src["conv_id"], src["turn_idx"])
    part, lowers = manifest_parts(pk, n_parts)
    n_real_parts = len(lowers)
    if dirty_parts is None:
        dirty = np.arange(n_real_parts)
        rate = 0.01
    else:
        dirty = np.sort(rng.choice(n_real_parts, dirty_parts, replace=False))
        rate = 0.01
    eligible = np.isin(part, dirty)
    u = rng.random(len(src))
    deleted = eligible & (u < rate * 0.4)
    mutated = eligible & (u >= rate * 0.4) & (u < rate)
    # extra target rows: one turn appended after the last turn of some
    # conversations whose last turn sits in a dirty partition
    last = np.cumsum(sizes) - 1
    conv_eligible = np.isin(part[last], dirty)
    extra_conv = np.flatnonzero(conv_eligible & (rng.random(n_convs) < rate * 5))
    extra = src.take(last[extra_conv])
    extra.cols["turn_idx"] = extra["turn_idx"] + 1
    extra.cols["ts"] = extra["ts"] + 30_000_000
    mut_pool = np.concatenate([pool, np.array([s + " (edited)" for s in pool],
                                              dtype=object)])
    tgt = src.take(np.flatnonzero(~deleted))
    tgt.cols["text"] = np.where(
        mutated[~deleted], tgt["text"] + len(pool), tgt["text"]
    ).astype(np.int32)
    tgt = tgt.concat(extra).sorted()

    _write(src.to_arrow(mut_pool), os.path.join(out, "source"))
    _write(tgt.to_arrow(mut_pool), os.path.join(out, "target"))
    extra_pk = pack_pk(extra["conv_id"], extra["turn_idx"])
    defect_parts = np.unique(np.concatenate([
        part[deleted], part[mutated], part_of(extra_pk, lowers),
    ]))
    truth = {
        "kind": "row",
        "seed": seed,
        "n_source": len(src),
        "n_target": len(tgt),
        "n_parts": int(n_real_parts),
        "manifest_lowers": [[int(x >> TURN_BITS), int(x & ((1 << TURN_BITS) - 1))]
                            for x in lowers],
        "dirty_parts": [int(p) for p in defect_parts],
        "deleted": _pks(src, np.flatnonzero(deleted)),
        "mutated": _pks(src, np.flatnonzero(mutated)),
        "extra": _pks(extra, np.arange(len(extra))),
    }
    _dump(truth, out)
    return truth


# ---------------------------------------------------------------------------
# transcripts: column / uniqueness / referential / drift (column_drift)
# ---------------------------------------------------------------------------


def drift_tables(seed: int, n_convs: int, out: str, n_days: int = 8) -> dict:
    """Heavy-tailed conversations; the target carries planted duplicate
    PKs and role/length drift on seeded days; the dimension table misses
    a seeded set of conversations (orphans)."""
    rng = np.random.default_rng(seed)
    vocab = _words(rng, 2000)
    short, short_w = _sentences(rng, vocab, 768, 2, 30)
    long_, long_w = _sentences(rng, vocab, 256, 30, 90)
    pool = np.concatenate([short, long_])
    pool_words = np.concatenate([short_w, long_w])
    # Lomax(1.2) quantiles in seeded order: most conversations are short, a
    # few run to thousands of turns (hot conv_ids); the multiset of sizes,
    # hence the row count, is the same for every seed
    q = (np.arange(n_convs) + 0.5) / n_convs
    tail = ((1 - q) ** (-1 / 1.2) - 1) * 8
    sizes = rng.permutation(np.minimum(2 + tail.astype(np.int64), 6000))
    src, day = _turns(rng, sizes, n_days, len(short), pool_words)
    drifted = np.sort(rng.choice(n_days, 2, replace=False))
    conv_day = np.repeat(day, sizes)
    on_drift = np.isin(conv_day, drifted)
    tgt = src.take(np.arange(len(src)))
    u = rng.random(len(src))
    to_tool = on_drift & (tgt["role"] == 1) & (u < 0.7)
    lengthen = on_drift & (tgt["role"] == 2) & (u < 0.6)
    tgt.cols["role"] = np.where(to_tool, 3, tgt["role"]).astype(np.int8)
    new_text = len(short) + rng.integers(0, len(long_), len(src))
    tgt.cols["text"] = np.where(lengthen, new_text, tgt["text"]).astype(np.int32)
    tgt.cols["n_tokens"] = pool_words[tgt["text"]].astype(np.int32)
    dup_idx = np.sort(rng.choice(len(src), max(1, len(src) // 400), replace=False))
    tgt = tgt.concat(tgt.take(dup_idx)).sorted()

    conv_ids = 1000 + np.arange(n_convs, dtype=np.int64)
    orphan = np.sort(rng.choice(n_convs, max(1, n_convs // 100), replace=False))
    keep = np.ones(n_convs, bool)
    keep[orphan] = False
    dim = pa.table({
        "conv_id": pa.array(conv_ids[keep], pa.int64()),
        "user_id": pa.array(rng.integers(1, 10_000, n_convs)[keep], pa.int64()),
        "created_day": pa.array(day[keep].astype(np.int32), pa.int32()),
    })
    _write(src.to_arrow(pool), os.path.join(out, "source"))
    _write(tgt.to_arrow(pool), os.path.join(out, "target"))
    _write(dim, os.path.join(out, "dim"))
    truth = {
        "kind": "drift",
        "seed": seed,
        "n_source": len(src),
        "n_target": len(tgt),
        "n_days": n_days,
        "drifted_days": [int(d) for d in drifted],
        "duplicates": _pks(src, dup_idx),
        "orphan_convs": [int(c) for c in conv_ids[orphan]],
        "max_conv_turns": int(sizes.max()),
    }
    _dump(truth, out)
    return truth


# ---------------------------------------------------------------------------
# curation corpus (curate_dedup)
# ---------------------------------------------------------------------------


def corpus(seed: int, n_base: int, out: str) -> dict:
    """Unrelated documents plus near-duplicate clusters.

    Unrelated documents are independent draws from a 4000-word vocabulary,
    so their word-3-gram Jaccard is ~0. A near-duplicate re-spaces its base
    document (doubled inner spaces, padded ends): different bytes, but the
    same whitespace-token sequence, so its Jaccard with the base is exactly
    1.0. Every planted pair therefore sits far above the 0.5 threshold and
    every unrelated pair far below it, which makes the cluster check exact.
    About a quarter of the documents are low-quality (short, shouting,
    punctuation-heavy) so the quality filter has work.
    """
    rng = np.random.default_rng(seed)
    vocab = _words(rng, 4000)
    good, _ = _sentences(rng, vocab, n_base, 25, 60)
    texts = list(good)
    bad = np.flatnonzero(rng.random(n_base) < 0.25)
    for i in bad:
        w = vocab[rng.integers(0, len(vocab), int(rng.integers(3, 12)))]
        texts[i] = "!! " + " ".join(x.upper() for x in w) + " ?!"
    clusters = []
    n_clustered = n_base // 10
    bases = rng.choice(n_base, n_clustered, replace=False)
    for b in bases:
        members = [int(b)]
        toks = texts[b].split(" ")
        for _ in range(int(rng.integers(1, 4))):
            dbl = rng.random(len(toks) - 1) < 0.3
            body = toks[0] + "".join(
                ("  " if d else " ") + t for d, t in zip(dbl, toks[1:])
            )
            texts.append(" " * int(rng.integers(0, 3)) + body + " ")
            members.append(len(texts) - 1)
        clusters.append(members)
    # shuffle doc ids so the canonical (min id) member is not always the base
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    order = np.argsort(ids)
    table = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
    })
    _write(table, os.path.join(out, "docs"))
    truth = {
        "kind": "corpus",
        "seed": seed,
        "n_docs": len(texts),
        "clusters": sorted(sorted(int(ids[m]) for m in c) for c in clusters),
    }
    _dump(truth, out)
    return truth


def _dump(truth: dict, out: str) -> None:
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)


def load_truth(out: str) -> dict:
    with open(os.path.join(out, "truth.json")) as f:
        return json.load(f)
