"""The oracle accepts a correct output and rejects one corrupted row."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, oracle, run, workloads


def _write(path, rows):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(path, "part-0.parquet"))


def _perfect_outputs(exp, out_dir, lineage_dir):
    """What a correct row job writes for ``exp``."""
    fail = []
    for (c, i, s, t), n in exp.violations.items():
        for _ in range(n):
            fail.append({
                "group_by_columns": json.dumps(
                    {"conv_id": str(c), "turn_idx": str(i), "hash__all": "x"}
                ),
                "source_agg_value": "x" if s else None,
                "target_agg_value": "x" if t else None,
            })
    _write(os.path.join(out_dir, "validation_status=fail"), fail)
    _write(
        os.path.join(out_dir, "validation_status=success"),
        [{"group_by_columns": "{}", "source_agg_value": "x",
          "target_agg_value": "x"}] * exp.n_success,
    )
    manifest = [[f"p{n}", c, i] for n, (c, i) in enumerate(exp.lowers)]
    lin = [
        {"run_id": "r1", "partition_id": f"p{n}", "stage": "Row",
         "verdict": "fail" if n in exp.dirty else "success"}
        for n in sorted(exp.verdict_parts)
    ]
    ck_ok = exp.ck_total - len(exp.ck_fail)
    lin += [{"run_id": "r1", "partition_id": b, "stage": "Row:checksum",
             "verdict": "fail"} for b in sorted(exp.ck_fail)]
    lin += [{"run_id": "r1", "partition_id": f"ok{n}", "stage": "Row:checksum",
             "verdict": "success"} for n in range(ck_ok)]
    _write(lineage_dir, lin)
    res = {"manifest": manifest, "failed": True}
    if exp.resume:
        res.update(n_pending=len(exp.pending), ck_total=exp.ck_total,
                   ck_fail=len(exp.ck_fail))
    else:
        lin = [r for r in lin if r["stage"] == "Row"]
    _write(lineage_dir, lin)
    return fail, res


def test_one_corrupted_row_drops_correct_ratio(tmp_path):
    data = str(tmp_path / "data")
    gen.row_tables(11, 200, workloads.N_PARTS, None, data)
    exp = oracle.RowExpect(data, workloads.CHECKSUM_DIV, resume=False)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    fail, res = _perfect_outputs(exp, out, lin)
    good = exp.check(res, out, lin, set())
    assert all(good.values()), good
    assert run.oracle_ratio([good]) == 1.0

    g = json.loads(fail[0]["group_by_columns"])
    g["turn_idx"] = str(int(g["turn_idx"]) + 1000)
    fail[0]["group_by_columns"] = json.dumps(g)
    _write(os.path.join(out, "validation_status=fail"), fail)
    bad = exp.check(res, out, lin, set())
    assert not bad["violation_rows"]
    assert run.oracle_ratio([bad]) < 1.0


def test_wrong_exit_status_and_verdict_are_caught(tmp_path):
    data = str(tmp_path / "data")
    gen.row_tables(12, 200, workloads.N_PARTS, 2, data)
    exp = oracle.RowExpect(data, workloads.CHECKSUM_DIV, resume=True)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    _, res = _perfect_outputs(exp, out, lin)
    assert all(exp.check(res, out, lin, set()).values())
    assert not exp.check({**res, "failed": False}, out, lin, set())["exit_status"]
    assert not exp.check({**res, "n_pending": 16}, out, lin, set())["resume_pending"]


def test_quality_reference_matches_definition():
    # 20+ tokens, word length in [3, 10], 1 stopword in 4 -> 1 * 1 * punct * 1
    text = " ".join(["the", "word", "other", "thing"] * 5) + "."
    n_chars = len(text)
    want = 1.0 * 1.0 * (1.0 - min(5 / n_chars, 0.5)) * (0.5 + min(0.25 * 2, 0.5))
    assert abs(oracle.quality(text) - want) < 1e-12
    assert oracle.quality("") == 0.0


def test_double_aggregates_compare_at_four_decimals():
    # the report's rule for double aggregates: float32, rounded to 4 places
    assert oracle._round4(6.643649599402668e-05) == oracle._round4(1.0589799401850009e-04)
    assert oracle._round4(0.99981) != oracle._round4(0.99989)
