"""Self-tests of the benchmark.

    python -m pytest perfbench/tests -q

The generator and check tests are quick and need no Spark. The last
test runs ``run.py --trace 1`` twice per workload (about five minutes on
4 cores) and is skipped unless ``PERFBENCH_SLOW=1``.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402

SMALL = {
    "etl_join_write": {"fact_rows": 2_000, "dim_rows": 500},
    "ann_build": {"vectors": 300, "queries": 10},
    "py_udf": {"docs": 200, "orders": 500, "groups": 50},
    "stream_count_window": {"files": 3, "events_per_file": 300},
}


def input_digest(wl: W.Workload) -> str:
    """Hash of the generated input files and expected answers."""
    h = hashlib.sha256()
    for p in wl.inputs:
        with open(p, "rb") as fh:
            h.update(fh.read())
    h.update(pickle.dumps(sorted(wl.expected.items())))
    return h.hexdigest()


def make(name: str, seed: int, tmp_path) -> W.Workload:
    return W.WORKLOADS[name](seed, str(tmp_path / f"{name}-{seed}"), **SMALL[name])


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_seed_fixes_inputs_and_answers(name, tmp_path):
    a = input_digest(make(name, 1, tmp_path / "a"))
    b = input_digest(make(name, 1, tmp_path / "b"))
    c = input_digest(make(name, 2, tmp_path / "c"))
    assert a == b
    assert a != c


# ---- fabricate a correct output, check it passes, corrupt it, check it fails


def _write_dir(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))


def _etl_output(wl: W.Workload) -> None:
    fact = pq.read_table(f"{wl.work}/in/fact").to_pandas()
    dim = pq.read_table(f"{wl.work}/in/dim").to_pandas()
    kept = fact[(fact.status != "R") & (fact.qty >= 2)].copy()
    kept["gross_cents"] = kept.amount_cents * kept.qty
    _write_dir(kept.merge(dim, on="cust_id"), f"{wl.work}/out/detail")
    _write_dir(wl.expected["agg"], f"{wl.work}/out/agg")


def _etl_corrupt(wl: W.Workload) -> None:
    agg = wl.expected["agg"].copy()
    agg.loc[0, "gross"] += 1
    _write_dir(agg, f"{wl.work}/out/agg")


def _ann_frame(wl: W.Workload) -> pd.DataFrame:
    exact, vecs = wl.expected["exact"], wl.expected["vecs"]
    rows = [(q, int(v), float(((vecs[q] - vecs[v]) ** 2).sum()), r + 1)
            for q in range(exact.shape[0]) for r, v in enumerate(exact[q])]
    return pd.DataFrame(rows, columns=["query_vec_id", "vec_id", "l2_dist", "rank"])


def _ann_output(wl: W.Workload) -> None:
    os.makedirs(f"{wl.work}/out", exist_ok=True)
    _ann_frame(wl).to_csv(f"{wl.work}/out/neighbors.csv", index=False)


def _ann_corrupt(wl: W.Workload) -> None:
    df = _ann_frame(wl)
    df.loc[3, "l2_dist"] *= 1.5
    df.to_csv(f"{wl.work}/out/neighbors.csv", index=False)


def _py_output(wl: W.Workload) -> None:
    _write_dir(wl.expected["docs"], f"{wl.work}/out/features")
    _write_dir(wl.expected["groups"], f"{wl.work}/out/per_cust")


def _py_corrupt(wl: W.Workload) -> None:
    groups = wl.expected["groups"].copy()
    groups.loc[5, "n_orders"] += 1
    _write_dir(groups, f"{wl.work}/out/per_cust")


def _console(batches) -> str:
    lines = []
    for n, rows in enumerate(batches):
        lines += ["-" * 43, f"Batch: {n}", "-" * 43,
                  "+---+---------+------+------+",
                  "|key|window_id|n_rows|closed|",
                  "+---+---------+------+------+"]
        lines += [f"|{k}|{w}|{c}|{str(x).lower()}|" for k, w, c, x in rows]
        lines += ["+---+---------+------+------+", ""]
    return "\n".join(lines) + "\n"


def _stream_output(wl: W.Workload) -> None:
    with open(os.path.join(wl.work, W.CONSOLE_LOG), "a") as fh:
        fh.write(_console(wl.expected["batches"]))


def _stream_corrupt(wl: W.Workload) -> None:
    batches = [list(b) for b in wl.expected["batches"]]
    k, w, c, x = batches[-1][0]
    batches[-1][0] = (k, w, c + 1, x)
    with open(os.path.join(wl.work, W.CONSOLE_LOG), "a") as fh:
        fh.write(_console(batches))


OUTPUTS = {
    "etl_join_write": (_etl_output, _etl_corrupt),
    "ann_build": (_ann_output, _ann_corrupt),
    "py_udf": (_py_output, _py_corrupt),
    "stream_count_window": (_stream_output, _stream_corrupt),
}


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_check_accepts_correct_and_rejects_corrupted_output(name, tmp_path):
    wl = make(name, 3, tmp_path)
    good, bad = OUTPUTS[name]
    wl.spec(0)
    good(wl)
    assert wl.check(0) == []
    wl.spec(1)
    bad(wl)
    assert wl.check(1) != []


def test_parse_metric_reads_sql_store_formats():
    assert tracing.parse_metric("1.5 s") == 1.5
    assert tracing.parse_metric("412 ms") == pytest.approx(0.412)
    assert tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, 1.0 MiB, "
        "1.0 MiB (stage 3.0: task 7))") == 2.0
    assert tracing.parse_metric("512.0 KiB") == 0.5


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(W.WORKLOADS)


COUNTS = ("compiler.build_jobs", "sources.read_jobs", "python.sent_mb",
          "streaming.batches")


def _traced(name: str, seed: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", name,
         "--seed", str(seed), "--seconds", "4", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stderr[-2000:]
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.skipif(os.environ.get("PERFBENCH_SLOW") != "1",
                    reason="runs Spark; set PERFBENCH_SLOW=1")
@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_traced_counts_repeat_exactly(name, tmp_path):
    first, second = _traced(name, 5), _traced(name, 5)
    for key in COUNTS:
        assert first[key] == second[key], key
    if name == "stream_count_window":
        files = W.stream_count_window(5, str(tmp_path)).sizes["files"]
        assert first["streaming.batches"] == files
