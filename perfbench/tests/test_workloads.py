"""Each workload's job, on tiny generated inputs, passes every oracle check;
the traced run records spans with stage counters; and the row job's call
sequence matches ``cli.main(["validate", "row", ...])``."""

import json
import os
from collections import Counter

import pyarrow.dataset as ds
import pytest

from perfbench import gen, run, workloads
from perfbench.spans import Tracer

SIZES = {"row_full": 120, "resume_dirty": 160, "column_drift": 200,
         "curate_dedup": 150}


@pytest.mark.parametrize("name", sorted(SIZES))
def test_workload_passes_oracle_with_spans(name, spark, tmp_path):
    work = workloads.WORKLOADS[name]()
    for attr in ("n_convs", "n_base"):
        if hasattr(work, attr):
            setattr(work, attr, SIZES[name])
    data, run_dir = str(tmp_path / "data"), str(tmp_path / "run")
    work.generate(3, data)
    work.expect(data)
    tr = Tracer(spark, cores=2, enabled=True)
    work.setup(data, run_dir)
    work.prepare(run_dir)
    with tr.run("job") as root:
        _, checks, _ = work.run(tr, data, run_dir)
    by_name, whole = tr.close_run(root)
    assert all(checks.values()), checks
    assert whole.cpu_s > 0 and whole.input_records > 0
    job = by_name["job"]
    assert 0 < job["self_s"] < job["wall_s"]
    spans = [s for s in tr.spans if s.run_id == root.run_id and s is not root]
    assert spans and all(s.parent == root.span_id for s in spans)
    assert sum(by_name[n]["jobs"] for n in by_name if n != "job") > 0
    layer = run._layer_values(by_name, whole, 1)
    assert layer["job.wall_s"] == job["wall_s"]
    assert 0 < tr.self_time < job["wall_s"]


def _fail_rows(out_dir):
    rows = ds.dataset(
        os.path.join(out_dir, "validation_status=fail"), format="parquet"
    ).to_table().to_pylist()
    got = Counter()
    for r in rows:
        g = json.loads(r["group_by_columns"])
        got[(g["conv_id"], g["turn_idx"], r["source_agg_value"],
             r["target_agg_value"])] += 1
    return got


@pytest.mark.parametrize("resume", [False, True])
def test_row_job_matches_cli(resume, spark, tmp_path):
    from professional_services_data_validator_spark import cli

    data = str(tmp_path / "data")
    gen.row_tables(4, 120, workloads.N_PARTS, None, data)
    tr = Tracer(spark, cores=2, enabled=False)
    bench_out, cli_out = str(tmp_path / "bench"), str(tmp_path / "cli")
    res = workloads.row_job(
        tr, data, str(tmp_path / "bench_lin"), bench_out, resume=resume
    )
    rc = cli.main([
        "validate", "row", "--primary-keys", "conv_id,turn_idx", "--hash", "*",
        "--source-path", f"{data}/source", "--target-path", f"{data}/target",
        "--partition-keys", "conv_id,turn_idx",
        "--num-partitions", str(workloads.N_PARTS),
        "--lineage-dir", str(tmp_path / "cli_lin"), "--output", cli_out,
    ] + (["--resume", "--checksum-first", workloads.CHECKSUM_EXPR] if resume else []))
    assert rc == (1 if res["failed"] else 0)
    assert _fail_rows(bench_out) == _fail_rows(cli_out)
    lin = {}
    for side in ("bench_lin", "cli_lin"):
        rows = ds.dataset(str(tmp_path / side), format="parquet").to_table()
        lin[side] = sorted(
            (r["stage"], r["partition_id"], r["verdict"]) for r in rows.to_pylist()
        )
    assert lin["bench_lin"] == lin["cli_lin"]
