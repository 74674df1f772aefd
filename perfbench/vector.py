"""The ``vector`` workload: one embedding table through the ANN index's
life cycle — full build, an append commit, and concurrent searchers on
a freshly opened index. The traced run adds banded near-duplicate pairs
over the stored buckets.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from perfbench import gen, oracle
from perfbench.common import Run, closed_loop, dir_bytes, median, report_queries, timed

N_BASE = 8000
N_APPEND = 400  # per commit; two commits
K = 10
CLIENTS = 2
PLANES, CENTROIDS = 6, 8
BANDS = ((2, 3), (3, 2))  # (bands, rows per band)
THRESHOLD = 0.95
WHERE = "label = 'a'"
# LSH buckets or IVF cells each query kind scans
PROBES = {"lsh": 1, "multiprobe": 4, "ivf": 2, "filtered": 2}


def _write(v: gen.Vectors, path: str) -> None:
    pd.DataFrame(
        {"vec_id": v.ids, "embedding": list(v.emb), "label": v.label}
    ).to_parquet(path, index=False)


class Truth:
    """The vectors now in the index, with buckets and cells recomputed
    from the index's own planes and centroids."""

    def __init__(self, parts: list[gen.Vectors], meta: dict):
        self.ids = np.concatenate([p.ids for p in parts])
        self.emb = np.concatenate([p.emb for p in parts])
        self.label = np.concatenate([p.label for p in parts])
        self.bucket = oracle.lsh_buckets(self.emb, meta["planes"])
        self.cell = oracle.ivf_cells(self.emb, meta["centroids"])
        self.planes, self.centroids = meta["planes"], meta["centroids"]

    def probes(self, kind: str, vec) -> list[int]:
        """The buckets or cells a query of ``kind`` should scan."""
        if kind in ("lsh", "multiprobe"):
            return oracle.lsh_probes(vec, self.planes, PROBES[kind])
        return oracle.ivf_probes(vec, self.centroids, PROBES[kind])

    def answer(self, kind: str, vec, probes: list[int]):
        if kind in ("lsh", "multiprobe"):
            rows = np.isin(self.bucket, probes)
        else:
            rows = np.isin(self.cell, probes)
            if kind == "filtered":
                rows &= self.label == "a"
        rows = np.flatnonzero(rows)
        return oracle.cosine_rank(self.emb[rows], self.ids[rows], vec, K)


def execute(ann, item):
    """-> [(vec_id, cos)]."""
    kind, vec = item
    if kind in ("lsh", "multiprobe"):
        df = ann.lsh_topk(vec, k=K, probes=PROBES[kind])
    else:
        df = ann.ivf_topk(vec, k=K, nprobe=PROBES[kind],
                          where=WHERE if kind == "filtered" else None)
    return [(int(r["vec_id"]), float(r["cos"])) for r in df.collect()]


def engine_probes(ann, kind: str, vec) -> list[int]:
    if kind in ("lsh", "multiprobe"):
        return ann.lsh_buckets(vec, PROBES[kind])
    return ann.ivf_probes(vec, PROBES[kind])


def run_vector(run: Run) -> None:
    from gxdindexer_spark.operators import ann as ann_mod

    spark, tr = run.spark, run.tracer

    def inputs():
        base = gen.make_vectors(run.seed, N_BASE)
        deltas = [
            gen.make_vectors(run.seed, N_APPEND, first_id=N_BASE + i * N_APPEND, stream=1 + i)
            for i in range(2)
        ]
        os.makedirs(f"{run.work}/in", exist_ok=True)
        _write(base, f"{run.work}/in/base.parquet")
        for i, d in enumerate(deltas):
            _write(d, f"{run.work}/in/delta{i}.parquet")
        return base, deltas

    (base, deltas), t_in = timed(inputs)
    run.setup_s += t_in
    run.lap("inputs")
    idx = f"{run.work}/ann"

    def build():
        with tr.span("build"):
            emb = spark.read.parquet(f"{run.work}/in/base.parquet")
            with tr.span("ann.build_ann_index"):
                return ann_mod.build_ann_index(
                    emb, idx, n_planes=PLANES, n_centroids=CENTROIDS, resume=False,
                    attr_cols=("label",),
                )

    meta, build_s = timed(build)
    run.lap("build")
    run.check(meta["n_vectors"] == N_BASE, "ann build vector count")
    run.e2e["build_rows_per_s"] = N_BASE / build_s
    run.e2e["index_size_ratio"] = dir_bytes(idx) / (N_BASE * gen.DIM * 4)

    def append(i):
        with tr.span("append"):
            d = spark.read.parquet(f"{run.work}/in/delta{i}.parquet")
            return ann_mod.append_ann_index(d, idx)

    # two append commits, so append_s is a median of two
    before = dir_bytes(idx)
    secs = [timed(lambda: append(i))[1] for i in range(2)]
    run.layers["append.bytes_written"] = (dir_bytes(idx) - before) / 2
    run.e2e["append_s"] = median(secs)
    run.lap("append")
    with tr.span("query.engine_open"):
        ann, open_s = timed(lambda: ann_mod.AnnIndex(spark, idx))
    run.layers["query.engine_open_ms"] = open_s * 1e3
    with open(f"{idx}/meta.json") as fh:
        meta = json.load(fh)
    run.check(len(meta["applied_deltas"]) == 2, "both append commits applied")
    truth = Truth([base, *deltas], meta)
    run.lap("check after append")

    streams = gen.make_vector_queries(run.seed, base, CLIENTS)
    run.inputs = {
        "vectors": len(truth.ids),
        "dim": gen.DIM,
        "buckets_used": int(len(np.unique(truth.bucket))),
        "largest_bucket_share": round(float(np.bincount(truth.bucket).max() / len(truth.ids)), 4),
        "repeated_query_share": round(gen.repeated_share(streams), 4),
        "planted_dup_share": round(len(base.planted_pairs) / N_BASE, 4),
    }
    # every rich kind runs at least once, whatever the window
    records, wall = closed_loop(run, streams, lambda it: execute(ann, it), 2 * 3)
    run.lap("queries")
    plain, rich = [], []
    for _cid, (kind, vec), sec, ans in records:
        (plain if kind == "lsh" else rich).append(sec * 1e3)
        if isinstance(ans, Exception):
            run.error(f"ann query {kind}", ans)
            continue
        # the probe set the engine picks, then its answer over that set
        probes = truth.probes(kind, vec)
        run.check(engine_probes(ann, kind, vec) == probes, f"ann probes {kind}")
        run.layers["query.hits"] = run.layers.get("query.hits", 0) + len(ans)
        run.check(oracle.same_ann(ans, truth.answer(kind, vec, probes)), f"ann query {kind}")
    report_queries(run, plain, rich, wall)
    run.lap("query checks")

    if run.tracer.enabled:
        neardup(run, ann, truth, [base, *deltas])
        run.lap("neardup")


def neardup(run: Run, ann, truth: Truth, parts: list[gen.Vectors]) -> None:
    secs = []
    exact = {p for v in parts for p in v.exact_pairs}
    for bands, rows in BANDS:
        def call():
            with run.tracer.span("neardup"):
                df = ann.lsh_neardup_pairs_banded(threshold=THRESHOLD, bands=bands, rows_per_band=rows)
                return df.collect()

        out, sec = timed(call)
        secs.append(sec)
        got = {(int(r["id_a"]), int(r["id_b"])) for r in out}
        sure, border = oracle.vector_neardup_pairs(
            truth.ids, truth.emb, truth.bucket, bands, rows, THRESHOLD
        )
        run.check(sure <= got and got <= sure | border,
                  f"banded {bands}x{rows}: {len(got)} emitted, {len(sure)} expected")
        # exact copies share every bucket bit, so each pair must appear
        run.check(exact <= got, f"banded {bands}x{rows}: planted exact copies missing")
        run.layers["neardup.pairs"] = run.layers.get("neardup.pairs", 0) + len(got)
    run.layers["neardup.wall_s"] = sum(secs)
