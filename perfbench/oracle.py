"""Correctness oracle: expected outputs from the generator's truth file and
the generated columns (numpy / pyarrow only, never the engine), compared
with what each job returned or wrote.

Every ``check_*`` returns ``{check name: bool}``; the benchmark's
``correct_ratio`` is the share of True over all checks it ran.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

from . import gen

TOL = 1e-9
#: quality scores are rounded to 6 decimals by the engine
QUALITY_TOL = 5e-7 + 1e-12
STOPWORDS = ("the", "a", "of", "and", "to")


def _read(path: str, columns=None):
    return ds.dataset(path, format="parquet").to_table(columns=columns)


def _close(a, b, tol=TOL) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(float(a) - float(b)) <= tol * max(1.0, abs(float(b)))


# ---------------------------------------------------------------------------
# row_full / resume_dirty
# ---------------------------------------------------------------------------


class RowExpect:
    """Expected outputs of ``row_job`` over ``row_tables`` data.

    ``resume``: the job resumes from a lineage snapshot in which exactly
    the clean partitions passed (only dirty partitions are pending) and
    drills into checksum blocks of ``checksum_div`` conversations;
    otherwise it validates every row.
    """

    def __init__(self, data: str, checksum_div: int, resume: bool):
        t = gen.load_truth(data)
        self.resume = resume
        self.dirty = set(t["dirty_parts"])
        self.lowers = [tuple(x) for x in t["manifest_lowers"]]
        self.pending = self.dirty if resume else set(range(t["n_parts"]))
        sides = Counter()
        for c, i in t["deleted"]:
            sides[(c, i, True, False)] += 1
        for c, i in t["mutated"]:
            sides[(c, i, True, False)] += 1
            sides[(c, i, False, True)] += 1
        for c, i in t["extra"]:
            sides[(c, i, False, True)] += 1
        self.violations = sides
        defects = t["deleted"] + t["mutated"] + t["extra"]
        fail_blocks = {c // checksum_div for c, _ in defects}
        self.ck_fail = {str(b) for b in fail_blocks}
        # checksum blocks over the pending rows; the row join then covers
        # the pending rows inside failing blocks (every row when not
        # resuming)
        lowers = gen.pack_pk(*np.array(self.lowers).T)
        blocks, self.verdict_parts = set(), set()
        for side in ("source", "target"):
            pk = _read(os.path.join(data, side), ["conv_id", "turn_idx"])
            c = pk["conv_id"].to_numpy()
            part = gen.part_of(gen.pack_pk(c, pk["turn_idx"].to_numpy()), lowers)
            block = c // checksum_div
            pend = np.isin(part, list(self.pending))
            blocks |= set(block[pend].tolist())
            drilled = pend & (np.isin(block, list(fail_blocks)) | (not resume))
            self.verdict_parts |= set(part[drilled].tolist())
            if side == "source":
                n_drilled = int(drilled.sum())
        self.ck_total = len(blocks)
        self.n_success = n_drilled - len(t["deleted"]) - len(t["mutated"])

    def check(self, res: dict, out_dir: str, lineage_dir: str,
              old_runs: set[str]) -> dict[str, bool]:
        checks = {}
        got_lowers = [(c, i) for _, c, i in res["manifest"]]
        checks["manifest_bounds"] = got_lowers == self.lowers

        fail = _read(
            os.path.join(out_dir, "validation_status=fail"),
            ["group_by_columns", "source_agg_value", "target_agg_value"],
        ).to_pylist()
        got = Counter()
        for r in fail:
            g = json.loads(r["group_by_columns"])
            got[(int(g["conv_id"]), int(g["turn_idx"]),
                 r["source_agg_value"] is not None,
                 r["target_agg_value"] is not None)] += 1
        checks["violation_rows"] = got == self.violations
        ok_dir = os.path.join(out_dir, "validation_status=success")
        n_ok = (
            ds.dataset(ok_dir, format="parquet").count_rows()
            if os.path.isdir(ok_dir) else 0
        )
        checks["success_rows"] = n_ok == self.n_success
        checks["exit_status"] = res["failed"] == bool(self.violations)

        lin = _read(lineage_dir).to_pylist()
        new = [r for r in lin if r["run_id"] not in old_runs]
        row_v = {r["partition_id"]: r["verdict"] for r in new if r["stage"] == "Row"}
        want = {
            pid: ("fail" if n in self.dirty else "success")
            for n, (pid, _, _) in enumerate(res["manifest"])
            if n in self.verdict_parts
        }
        checks["lineage_verdicts"] = row_v == want
        if self.resume:
            checks["resume_pending"] = res["n_pending"] == len(self.pending)
            ck = [r for r in new if r["stage"] == "Row:checksum"]
            checks["checksum_verdicts"] = (
                len(ck) == self.ck_total == res["ck_total"]
                and {r["partition_id"] for r in ck if r["verdict"] == "fail"}
                == self.ck_fail
                and res["ck_fail"] == len(self.ck_fail)
            )
        return checks


def lineage_run_ids(lineage_dir: str) -> set[str]:
    if not os.path.isdir(lineage_dir):
        return set()
    return set(_read(lineage_dir, ["run_id"])["run_id"].to_pylist())


# ---------------------------------------------------------------------------
# column_drift
# ---------------------------------------------------------------------------


def _columns(path: str) -> dict:
    t = _read(path)
    return {
        "conv_id": t["conv_id"].to_numpy(),
        "turn_idx": t["turn_idx"].to_numpy(),
        "day": (t["ts"].cast("int64").to_numpy() - gen.EPOCH_US) // gen.DAY_US,
        "role": np.array(t["role"].to_pylist(), dtype=object),
        "len": pc.utf8_length(t["text"]).to_numpy().astype(np.int64),
        "n_tokens": t["n_tokens"].to_numpy().astype(np.int64),
        "latency_ms": t["latency_ms"].to_numpy(),
        "score": t["score"].to_numpy(),
    }


def _aggs(c: dict, mask) -> dict:
    return {
        "count": int(mask.sum()),
        "sum__n_tokens": int(c["n_tokens"][mask].sum()),
        "sum__latency_ms": int(c["latency_ms"][mask].sum()),
        "sum__text": int(c["len"][mask].sum()),
        "max__turn_idx": int(c["turn_idx"][mask].max()),
        "min__score": float(c["score"][mask].min()),
        "max__score": float(c["score"][mask].max()),
    }


#: double-typed aggregates: the report compares them as float32 rounded to
#: 4 decimals (the reference combiner's rule), so e.g. minima 6.6e-5 and
#: 1.1e-4 both read 0.0001 and the row passes
DOUBLE_AGGS = ("min__score", "max__score")


def _round4(v: float) -> Decimal:
    return Decimal(str(np.float32(v))).quantize(
        Decimal("0.0001"), rounding=ROUND_HALF_UP
    )


def _day_str(d: int) -> str:
    import datetime

    base = datetime.date(2026, 1, 5)
    return (base + datetime.timedelta(days=int(d))).isoformat()


def _ks(a: np.ndarray, b: np.ndarray) -> float:
    a, b = np.sort(a), np.sort(b)
    v = np.union1d(a, b)
    fa = np.searchsorted(a, v, side="right") / len(a)
    fb = np.searchsorted(b, v, side="right") / len(b)
    return float(np.max(np.abs(fa - fb)))


def _psi(a: np.ndarray, b: np.ndarray) -> float:
    cats = sorted(set(a.tolist()) | set(b.tolist()))
    ca, cb = Counter(a.tolist()), Counter(b.tolist())
    p = np.maximum(np.array([ca[k] for k in cats]) / len(a), 1e-6)
    q = np.maximum(np.array([cb[k] for k in cats]) / len(b), 1e-6)
    return float(np.sum((p - q) * np.log(p / q)))


class DriftExpect:
    def __init__(self, data: str, ks_flag: float, uniq_buckets: int):
        t = gen.load_truth(data)
        s = _columns(os.path.join(data, "source"))
        g = _columns(os.path.join(data, "target"))
        self.reports = []
        for key in (None, "day", "role"):
            groups = (
                [None] if key is None
                else sorted(set(s[key].tolist()) | set(g[key].tolist()))
            )
            exp = {}
            for v in groups:
                ms = np.ones(len(s["conv_id"]), bool) if key is None else s[key] == v
                mt = np.ones(len(g["conv_id"]), bool) if key is None else g[key] == v
                sa, ta = _aggs(s, ms), _aggs(g, mt)
                glabel = (
                    None if key is None
                    else {"ts": _day_str(v)} if key == "day" else {"role": v}
                )
                for name in sa:
                    same = (
                        _round4(sa[name]) == _round4(ta[name])
                        if name in DOUBLE_AGGS else sa[name] == ta[name]
                    )
                    exp[(name, json.dumps(glabel, sort_keys=True))] = (
                        sa[name], ta[name], "success" if same else "fail",
                    )
            self.reports.append(exp)
        self.failed = [
            any(v[2] == "fail" for v in exp.values()) for exp in self.reports
        ]

        pk = gen.pack_pk(g["conv_id"], g["turn_idx"])
        self.uniq = {}
        for b in range(uniq_buckets):
            m = (g["conv_id"] % uniq_buckets) == b
            _, cnt = np.unique(pk[m], return_counts=True)
            self.uniq[b] = (len(cnt), int((cnt > 1).sum()), int((cnt - 1).sum()))
        orphan = np.isin(g["conv_id"], t["orphan_convs"])
        self.orphans = Counter(
            zip(g["conv_id"][orphan].tolist(), g["turn_idx"][orphan].tolist())
        )
        self.ks = {}
        self.ks_days = sorted(set(s["day"].tolist()) | set(g["day"].tolist()))
        for d in self.ks_days:
            a, b = s["len"][s["day"] == d], g["len"][g["day"] == d]
            self.ks[_day_str(d)] = (_ks(a, b), len(a), len(b))
        self.flagged = sorted(k for k, v in self.ks.items() if v[0] > ks_flag)
        self.drifted = sorted(_day_str(d) for d in t["drifted_days"])
        # the job drills into the days its KS flagged; so does the oracle
        fl = [d for d in self.ks_days if _day_str(d) in self.flagged]
        on_s, on_t = np.isin(s["day"], fl), np.isin(g["day"], fl)
        self.psi = _psi(s["role"][on_s], g["role"][on_t])

    def check(self, res: dict) -> dict[str, bool]:
        checks = {}
        for n, (exp, rows) in enumerate(zip(self.reports, res["reports"])):
            got = {}
            for r in rows:
                g = r["group_by_columns"]
                key = json.dumps(json.loads(g) if g else None, sort_keys=True)
                got[(r["validation_name"], key)] = r
            ok = set(got) == set(exp)
            for k, (sv, tv, status) in exp.items():
                r = got.get(k)
                ok = ok and r is not None and _close(r["source_agg_value"], sv) \
                    and _close(r["target_agg_value"], tv) \
                    and r["validation_status"] == status
            checks[f"report_{('column', 'by_day', 'by_role')[n]}"] = ok
        checks["report_exit_status"] = res["failed"] == self.failed
        got_u = {
            int(r["partition_id"]): (r["n_keys"], r["n_dup_keys"], r["n_extra_rows"])
            for r in res["uniqueness"]
        }
        checks["uniqueness"] = got_u == self.uniq
        checks["referential_orphans"] = Counter(res["orphans"]) == self.orphans
        got_ks = {r["day"]: r for r in res["ks"]}
        checks["ks_per_day"] = set(got_ks) == set(self.ks) and all(
            _close(got_ks[d]["ks_stat"], v[0])
            and got_ks[d]["n_source"] == v[1] and got_ks[d]["n_target"] == v[2]
            for d, v in self.ks.items()
        )
        checks["flagged_days"] = res["flagged_days"] == self.flagged
        checks["psi"] = _close(res["psi"]["psi"], self.psi) and (
            res["psi"]["validation_status"]
            == ("success" if self.psi <= 0.2 else "fail")
        )
        return checks


# ---------------------------------------------------------------------------
# curate_dedup
# ---------------------------------------------------------------------------


def quality(text: str) -> float:
    """The curation quality score, recomputed from its definition."""
    import re

    n_chars = len(text)
    # Spark's trim strips spaces only
    toks = re.split(" +", text.strip(" "))
    n_toks = 0 if not text.strip(" ") else len(toks)
    n_punct = len(re.findall(r"[\.,;:!\?]", text))
    stop = sum(t in STOPWORDS for t in toks)
    mean_word_len = n_chars / n_toks if n_toks else 0.0
    punct_ratio = n_punct / n_chars if n_chars else 0.0
    stop_ratio = stop / n_toks if n_toks else 0.0
    length_term = min(n_toks / 20.0, 1.0)
    wordlen_term = 1.0 if 3.0 <= mean_word_len <= 10.0 else 0.5
    punct_term = 1.0 - min(punct_ratio * 5, 0.5)
    return length_term * wordlen_term * punct_term * (0.5 + min(stop_ratio * 2, 0.5))


class CurateExpect:
    def __init__(self, data: str, quality_min: float):
        t = gen.load_truth(data)
        docs = _read(os.path.join(data, "docs")).to_pylist()
        cluster = {d["doc_id"]: [d["doc_id"]] for d in docs}
        for members in t["clusters"]:
            for m in members:
                cluster[m] = members
        self.rows = {}
        for d in docs:
            members = cluster[d["doc_id"]]
            q = quality(d["text"])
            canon = d["doc_id"] == min(members)
            self.rows[d["doc_id"]] = (min(members), len(members), canon, q)
        self.quality_min = quality_min
        self.total = len(docs)
        self.dup = sum(not r[2] for r in self.rows.values())

    def check(self, res: dict, out_dir: str) -> dict[str, bool]:
        rows = _read(out_dir).to_pylist()
        got = {r["doc_id"]: r for r in rows}
        checks = {"doc_set": set(got) == set(self.rows)}
        clusters_ok = quality_ok = keep_ok = True
        for doc, (cid, size, canon, q) in self.rows.items():
            r = got.get(doc)
            if r is None:
                continue
            clusters_ok &= (r["cluster_id"], r["cluster_size"], r["is_canonical"]) == (
                cid, size, canon
            )
            quality_ok &= abs(r["quality_score"] - q) <= QUALITY_TOL
            if abs(q - self.quality_min) > QUALITY_TOL:
                keep_ok &= r["keep"] == (canon and q >= self.quality_min)
        checks["clusters"] = clusters_ok
        checks["quality_score"] = quality_ok
        checks["keep"] = keep_ok
        checks["summary_counts"] = (
            res["total"] == self.total and res["dup"] == self.dup
            and res["kept"] == sum(r["keep"] for r in rows)
        )
        return checks

