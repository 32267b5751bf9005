"""The benchmark's workloads: seeded inputs, pipeline specs, expected
answers and output checks.

Each workload is one pipeline spec (the dict form of a pipeline TOML)
run end to end through ``compiler.run_pipeline``. Its inputs are made
from the seed with numpy and written with pyarrow into the run's work
directory; its expected answers are computed in set-up with numpy and
pandas (never with ``conveyor_spark``), and ``check`` compares one
item's outputs against them after the item's timed region.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


# the file fd 1 points at while the benchmark runs (the JVM's console)
CONSOLE_LOG = "jvm-stdout.log"


@dataclass
class Workload:
    """One generated workload.

    ``spec(item)`` prepares item number ``item`` (a stream item gets a
    fresh checkpoint) and returns its pipeline spec; ``check(item)``
    returns the list of problems with that item's outputs (empty when
    correct)."""

    name: str
    work: str
    sizes: dict[str, int]
    expected: dict[str, Any]
    spec: Callable[[int], dict[str, Any]]
    check: Callable[[int], list[str]]
    # files whose bytes must be identical for equal seeds
    inputs: list[str] = field(default_factory=list)


def _write_parquet(df: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


def _stage(sid: str, function: str, inputs: list[str] | None = None,
           **config: Any) -> dict[str, Any]:
    return {"id": sid, "function": function, "inputs": inputs or [],
            "config": config}


def _read_parquet_dir(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _frame_diff(what: str, got: pd.DataFrame, want: pd.DataFrame,
                keys: list[str]) -> list[str]:
    """Exact comparison of two frames, order-insensitive on ``keys``."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{what}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    cols = list(want.columns)
    g = got[cols].sort_values(keys).reset_index(drop=True)
    w = want[cols].sort_values(keys).reset_index(drop=True)
    for c in cols:
        if not (g[c].astype(object).values == w[c].astype(object).values).all():
            return [f"{what}: column {c!r} differs"]
    return []


# --------------------------------------------------------------- etl


def etl_join_write(seed: int, work: str, fact_rows: int = 600_000,
                   dim_rows: int = 150_000, files: int = 8) -> Workload:
    """Fact + dimension parquet -> filter -> map -> join -> group-by,
    with the joined detail rows and the aggregate as two parquet sinks."""
    rng = np.random.default_rng([seed, 1])
    segments = np.array([f"seg{i:02d}" for i in range(12)])
    fact = pd.DataFrame({
        "order_id": np.arange(fact_rows, dtype=np.int64),
        # ~10% of orders name a customer the dimension lacks
        "cust_id": rng.integers(0, dim_rows + dim_rows // 10, fact_rows),
        "qty": rng.integers(1, 11, fact_rows).astype(np.int32),
        "amount_cents": rng.integers(100, 100_000, fact_rows),
        "status": rng.choice(np.array(["A", "B", "C", "R"]), fact_rows),
        "day": rng.integers(0, 365, fact_rows).astype(np.int32),
    })
    dim = pd.DataFrame({
        "cust_id": np.arange(dim_rows, dtype=np.int64),
        "segment": rng.choice(segments, dim_rows),
        "country": rng.integers(0, 50, dim_rows).astype(np.int32),
    })
    # several files, so the scan runs as several tasks
    paths = [_write_parquet(fact.iloc[n::files], f"{work}/in/fact/part-{n}.parquet")
             for n in range(files)]
    paths += [_write_parquet(dim.iloc[n::2], f"{work}/in/dim/part-{n}.parquet")
              for n in range(2)]

    kept = fact[(fact.status != "R") & (fact.qty >= 2)].copy()
    kept["gross_cents"] = kept.amount_cents * kept.qty
    joined = kept.merge(dim, on="cust_id", how="inner")
    agg = (joined.groupby(["segment", "status"], as_index=False)
           .agg(n=("order_id", "count"), gross=("gross_cents", "sum"),
                max_amount=("amount_cents", "max"), first_day=("day", "min")))
    expected = {
        "agg": agg.astype({"n": "int64", "gross": "int64",
                           "max_amount": "int64", "first_day": "int32"}),
        "detail": {"rows": len(joined),
                   "gross": int(joined.gross_cents.sum()),
                   "order_ids": int(joined.order_id.sum()),
                   "countries": int(joined.country.sum())},
    }
    out = f"{work}/out"

    def spec(item: int) -> dict[str, Any]:
        return {
            "pipeline": {"name": "etl-join-write"},
            # a dimension too large to broadcast: both sides shuffle
            "global": {"spark": {"spark.sql.autoBroadcastJoinThreshold": "-1"}},
            "stages": [
                _stage("orders", "parquet.read", path=f"{work}/in/fact"),
                _stage("customers", "parquet.read", path=f"{work}/in/dim"),
                _stage("kept", "filter.apply", ["orders"],
                       expr="status <> 'R' AND qty >= 2"),
                _stage("priced", "map.apply", ["kept"],
                       expression="amount_cents * qty", output_column="gross_cents"),
                _stage("joined", "join.apply", ["priced", "customers"],
                       on=["cust_id"], how="inner"),
                _stage("by_segment", "groupby.apply", ["joined"],
                       by=["segment", "status"],
                       aggregations=[
                           {"column": "order_id", "operation": "count",
                            "output_column": "n"},
                           {"column": "gross_cents", "operation": "sum",
                            "output_column": "gross"},
                           {"column": "amount_cents", "operation": "max",
                            "output_column": "max_amount"},
                           {"column": "day", "operation": "min",
                            "output_column": "first_day"},
                       ]),
                _stage("detail_out", "parquet.write", ["joined"], path=f"{out}/detail"),
                _stage("agg_out", "parquet.write", ["by_segment"], path=f"{out}/agg"),
            ],
        }

    def check(item: int) -> list[str]:
        detail = pq.read_table(
            f"{out}/detail", columns=["order_id", "gross_cents", "country"])
        got = {"rows": detail.num_rows,
               "gross": int(pa.compute.sum(detail["gross_cents"]).as_py() or 0),
               "order_ids": int(pa.compute.sum(detail["order_id"]).as_py() or 0),
               "countries": int(pa.compute.sum(detail["country"]).as_py() or 0)}
        problems = []
        if got != expected["detail"]:
            problems.append(f"detail: {got} != {expected['detail']}")
        return problems + _frame_diff(
            "agg", _read_parquet_dir(f"{out}/agg"), expected["agg"],
            ["segment", "status"])

    return Workload("etl_join_write", work,
                    {"fact_rows": fact_rows, "dim_rows": dim_rows},
                    expected, spec, check, paths)


# --------------------------------------------------------------- ann


def ann_build(seed: int, work: str, vectors: int = 1_000, dim: int = 64,
              clusters: int = 16, intrinsic: int = 8, queries: int = 20, k: int = 10,
              iterations: int = 1, pq_m: int = 4, rerank: int = 50,
              min_recall: float = 0.75) -> Workload:
    """IVFPQ train (k-means cells, PQ codebooks), stamp and search
    with exact re-rank over clustered Gaussian-mixture vectors."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(0.0, 4.0, (clusters, dim))
    labels = rng.integers(0, clusters, vectors)
    # within-cluster spread lives in a low-dimensional subspace, so
    # nearest neighbours are well separated (in 64 full-rank noise
    # dimensions every cluster member is almost equally far away)
    basis = rng.normal(0.0, 1.0, (intrinsic, dim)) / np.sqrt(intrinsic)
    spread = rng.normal(0.0, 1.0, (vectors, intrinsic)) @ basis
    vecs = np.round(centers[labels] + spread, 4)
    table = pa.table({
        "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float64())),
    })
    path = f"{work}/in/vectors/part-0.parquet"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)

    # exact kNN of the first `queries` vectors (the pipeline's queries)
    q = vecs[:queries]
    d2 = ((q * q).sum(1)[:, None] - 2.0 * q @ vecs.T + (vecs * vecs).sum(1)[None, :])
    exact = np.argsort(d2, axis=1, kind="stable")[:, :k]
    expected = {"exact": exact, "vecs": vecs}
    out = f"{work}/out/neighbors.csv"

    def spec(item: int) -> dict[str, Any]:
        return {
            "pipeline": {"name": "ann-build"},
            "stages": [
                _stage("vectors", "parquet.read", path=os.path.dirname(path)),
                _stage("centroids", "embedding.kmeans", ["vectors"],
                       id_column="vec_id", column="embedding", k=clusters,
                       iterations=iterations, dim=dim, output="centroids"),
                _stage("celled", "embedding.assign_cells", ["vectors", "centroids"],
                       column="embedding", output_column="ivf_cell",
                       encode_method="gemm"),
                _stage("codebooks", "embedding.pq", ["vectors"],
                       id_column="vec_id", column="embedding", m=pq_m, k=16,
                       iterations=iterations, dim=dim, output="codebooks"),
                _stage("stamped", "embedding.pq_encode", ["celled", "codebooks"],
                       id_column="vec_id", column="embedding", encode_method="gemm"),
                _stage("queries", "filter.apply", ["vectors"],
                       expr=f"vec_id < {queries}"),
                _stage("neighbors", "knn.ivfpq",
                       ["stamped", "queries", "centroids", "codebooks"],
                       id_column="vec_id", column="embedding",
                       cell_column="ivf_cell", code_column="pq_code",
                       k=k, nprobe=4, rerank=rerank),
                _stage("out", "csv.write", ["neighbors"], path=out,
                       single_file=True),
            ],
        }

    def check(item: int) -> list[str]:
        got = pd.read_csv(out)
        return check_neighbors(got, expected, queries, k, min_recall)

    return Workload("ann_build", work,
                    {"vectors": vectors, "dim": dim, "queries": queries},
                    expected, spec, check, [path])


def recall_at_k(got: pd.DataFrame, exact: np.ndarray) -> float:
    hits = 0
    for qid, ids in got.groupby("query_vec_id")["vec_id"]:
        hits += len(set(ids) & set(exact[qid].tolist()))
    return hits / exact.size


def check_neighbors(got: pd.DataFrame, expected: dict[str, Any], queries: int,
                    k: int, min_recall: float) -> list[str]:
    """Structural invariants of a knn.ivfpq result plus recall@k."""
    need = {"query_vec_id", "vec_id", "rank", "l2_dist"}
    if not need <= set(got.columns):
        return [f"neighbors: columns {sorted(got.columns)} lack {sorted(need)}"]
    problems = []
    if len(got) != queries * k:
        problems.append(f"neighbors: {len(got)} rows, expected {queries * k}")
    if sorted(got.query_vec_id.unique().tolist()) != list(range(queries)):
        problems.append("neighbors: query ids differ")
    vecs = expected["vecs"]
    ids = got.vec_id.to_numpy()
    if len(ids) and (ids.min() < 0 or ids.max() >= len(vecs)):
        return problems + ["neighbors: corpus id out of range"]
    # l2_dist is the squared Euclidean distance
    true = ((vecs[got.query_vec_id.to_numpy()] - vecs[ids]) ** 2).sum(1)
    if not np.allclose(got.l2_dist.to_numpy(), true, rtol=1e-6, atol=1e-6):
        problems.append("neighbors: l2_dist differs from the exact distance")
    for qid, grp in got.sort_values(["query_vec_id", "rank"]).groupby("query_vec_id"):
        if grp["rank"].tolist() != list(range(1, len(grp) + 1)):
            problems.append(f"neighbors: query {qid} ranks not 1..{len(grp)}")
            break
        if (np.diff(grp.l2_dist.to_numpy()) < -1e-9).any():
            problems.append(f"neighbors: query {qid} not sorted by distance")
            break
    if not problems:
        recall = recall_at_k(got, expected["exact"])
        if recall < min_recall:
            problems.append(f"neighbors: recall@{k} {recall:.3f} < {min_recall}")
    return problems


# ------------------------------------------------------------ py_udf

_WORDS = np.array([
    "".join(chr(97 + (i * 7 + j * 3) % 26) for j in range(2 + i % 9))
    for i in range(300)
])

DOC_SCRIPT = """\
VOWELS = set('aeiou')

def transform(row):
    words = row['text'].split()
    return {
        'doc_id': row['doc_id'],
        'n_words': len(words),
        'n_long': sum(1 for w in words if len(w) >= 7),
        'n_vowels': sum(1 for ch in row['text'] if ch in VOWELS),
        'first': words[0] if words else '',
    }
"""

GROUP_SCRIPT = """\
import pandas as pd

def transform(key, pdf):
    return pd.DataFrame({
        'cust': [key[0]],
        'n_orders': [len(pdf)],
        'first_order': [pdf['order_id'].min()],
        'max_qty': [pdf['qty'].max()],
        'total_cents': [pdf['amount_cents'].sum()],
    })
"""


def doc_features(text: str) -> dict[str, Any]:
    """The expected result of DOC_SCRIPT for one document."""
    words = text.split()
    return {"n_words": len(words),
            "n_long": sum(1 for w in words if len(w) >= 7),
            "n_vowels": sum(1 for ch in text if ch in "aeiou"),
            "first": words[0] if words else ""}


def py_udf(seed: int, work: str, docs: int = 8_000, orders: int = 30_000,
           groups: int = 3_000) -> Workload:
    """py.eval over text docs and py.group_eval over many small order
    groups, each into a parquet sink."""
    rng = np.random.default_rng([seed, 3])
    lengths = rng.integers(5, 40, docs)
    vocab = rng.integers(0, len(_WORDS), int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(_WORDS[vocab[bounds[i]:bounds[i + 1]]]) for i in range(docs)]
    doc_df = pd.DataFrame({"doc_id": np.arange(docs, dtype=np.int64), "text": texts})
    order_df = pd.DataFrame({
        "order_id": np.arange(orders, dtype=np.int64),
        "cust": rng.integers(0, groups, orders),
        "qty": rng.integers(1, 20, orders),
        "amount_cents": rng.integers(100, 50_000, orders),
    })
    doc_path = _write_parquet(doc_df, f"{work}/in/docs/part-0.parquet")
    order_path = _write_parquet(order_df, f"{work}/in/orders/part-0.parquet")

    feats = pd.DataFrame([doc_features(t) for t in texts])
    feats.insert(0, "doc_id", doc_df.doc_id)
    grouped = (order_df.groupby("cust", as_index=False)
               .agg(n_orders=("order_id", "count"), first_order=("order_id", "min"),
                    max_qty=("qty", "max"), total_cents=("amount_cents", "sum")))
    expected = {
        "docs": feats.astype({"n_words": "int32", "n_long": "int32",
                              "n_vowels": "int32"}),
        "groups": grouped.astype("int64"),
    }
    out = f"{work}/out"

    def spec(item: int) -> dict[str, Any]:
        return {
            "pipeline": {"name": "py-udf"},
            "stages": [
                _stage("docs", "parquet.read", path=os.path.dirname(doc_path)),
                _stage("orders", "parquet.read", path=os.path.dirname(order_path)),
                _stage("features", "py.eval", ["docs"], script=DOC_SCRIPT,
                       output_schema="doc_id BIGINT, n_words INT, n_long INT, "
                                     "n_vowels INT, first STRING"),
                _stage("per_cust", "py.group_eval", ["orders"], script=GROUP_SCRIPT,
                       group_by=["cust"],
                       output_schema="cust BIGINT, n_orders BIGINT, first_order BIGINT, "
                                     "max_qty BIGINT, total_cents BIGINT"),
                _stage("features_out", "parquet.write", ["features"],
                       path=f"{out}/features"),
                _stage("per_cust_out", "parquet.write", ["per_cust"],
                       path=f"{out}/per_cust"),
            ],
        }

    def check(item: int) -> list[str]:
        return (_frame_diff("features", _read_parquet_dir(f"{out}/features"),
                            expected["docs"], ["doc_id"])
                + _frame_diff("per_cust", _read_parquet_dir(f"{out}/per_cust"),
                              expected["groups"], ["cust"]))

    return Workload("py_udf", work,
                    {"docs": docs, "orders": orders, "groups": groups},
                    expected, spec, check, [doc_path, order_path])


# ------------------------------------------------------------ stream

_ROW_RE = re.compile(r"^\|\s*(\w+)\s*\|\s*(\d+)\s*\|\s*(\d+)\s*\|\s*(true|false)\s*\|$")


def parse_console(text: str) -> list[list[tuple[str, int, int, bool]]]:
    """Rows of each ``Batch: n`` table the console sink printed."""
    batches: list[list[tuple[str, int, int, bool]]] = []
    for line in text.splitlines():
        if line.startswith("Batch: "):
            batches.append([])
        elif batches and (m := _ROW_RE.match(line.strip())):
            batches[-1].append((m[1], int(m[2]), int(m[3]), m[4] == "true"))
    return batches


def window_updates(files: list[pd.DataFrame], size: int
                   ) -> list[list[tuple[str, int, int, bool]]]:
    """Per-batch (key, window_id, n_rows, closed) rows a tumbling
    count window of ``size`` emits in update mode, one batch per file."""
    seen: dict[str, int] = {}
    out = []
    for f in files:
        rows = []
        for key, n in sorted(f.key.value_counts().items()):
            start, end = seen.get(key, 0), seen.get(key, 0) + n
            seen[key] = end
            for w in range(start // size, (end - 1) // size + 1):
                cnt = min(size, end - w * size)
                rows.append((key, w, cnt, cnt == size))
        out.append(sorted(rows))
    return out


def stream_count_window(seed: int, work: str, files: int = 3,
                        events_per_file: int = 1_000, keys: int = 6,
                        window: int = 500) -> Workload:
    """file.watch over N event files, one file per micro-batch, into a
    per-key tumbling count window printed by the console sink."""
    rng = np.random.default_rng([seed, 4])
    key_names = np.array([f"k{i}" for i in range(keys)])
    src = f"{work}/in/events"
    os.makedirs(src, exist_ok=True)
    frames, paths = [], []
    for i in range(files):
        f = pd.DataFrame({
            "key": rng.choice(key_names, events_per_file),
            "ts": np.arange(i * events_per_file, (i + 1) * events_per_file,
                            dtype=np.int64),
            "v": rng.integers(0, 1000, events_per_file),
        })
        p = f"{src}/events-{i:03d}.json"
        f.to_json(p, orient="records", lines=True)
        # the file source orders files by modification time
        os.utime(p, ns=(10**18 + i * 10**9, 10**18 + i * 10**9))
        frames.append(f)
        paths.append(p)
    expected = {"batches": window_updates(frames, window)}
    console = os.path.join(work, CONSOLE_LOG)
    offsets: dict[int, int] = {}

    def spec(item: int) -> dict[str, Any]:
        ckpt = f"{work}/ckpt/{item}"
        shutil.rmtree(ckpt, ignore_errors=True)
        offsets[item] = os.path.getsize(console) if os.path.exists(console) else 0
        return {
            "pipeline": {"name": "stream-count-window"},
            "global": {"spark": {
                "spark.sql.streaming.checkpointLocation": ckpt}},
            "stages": [
                _stage("events", "file.watch", path=src, format="json",
                       schema="key STRING, ts BIGINT, v BIGINT",
                       max_files_per_trigger=1),
                _stage("windows", "stream.count_window", ["events"],
                       size=window, group_by=["key"]),
                _stage("console", "stdout_stream.write", ["windows"],
                       output_mode="update"),
            ],
        }

    def check(item: int) -> list[str]:
        shutil.rmtree(f"{work}/ckpt/{item}", ignore_errors=True)
        with open(console, errors="replace") as fh:
            fh.seek(offsets.pop(item, 0))
            text = fh.read()
        if "only showing top" in text:
            return ["console: a batch table was truncated"]
        got = [sorted(b) for b in parse_console(text)]
        if got != expected["batches"]:
            return [f"console: {len(got)} batches differ from the expected "
                    f"{len(expected['batches'])}"]
        return []

    return Workload("stream_count_window", work,
                    {"files": files, "events_per_file": events_per_file,
                     "keys": keys, "window": window},
                    expected, spec, check, paths)


WORKLOADS: dict[str, Callable[..., Workload]] = {
    "etl_join_write": etl_join_write,
    "ann_build": ann_build,
    "py_udf": py_udf,
    "stream_count_window": stream_count_window,
}
