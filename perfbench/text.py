"""The ``text`` workload: one code corpus through the inverted index's
life cycle — full build, two O(delta) append commits, and concurrent
searchers on a freshly opened engine. The traced run adds MinHash
near-duplicate pairs over the appended shard.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen, oracle
from perfbench.common import Run, closed_loop, dir_bytes, median, report_queries, timed

N_BASE = 1200
DOCS_PER_SHARD = 300
N_APPEND = 300  # one whole new shard per commit; two commits
K = 10
CLIENTS = 2
MINHASH = {"num_hashes": 8, "bands": 4}


def field_bytes(docs) -> int:
    return int(sum(docs[f].str.encode("utf-8").str.len().sum() for f in oracle.FIELDS))


def prepare(spark, path: str, first_id: int = 0):
    """The user's ingest step: read the corpus and assign dense ids."""
    from gxdindexer_spark.sources.tables import prepare_docs

    docs = prepare_docs(spark.read.parquet(path), docs_per_shard=DOCS_PER_SHARD)
    if first_id:
        docs = docs.withColumn("doc_id", F.col("doc_id") + F.lit(first_id)).withColumn(
            "shard", F.floor(F.col("doc_id") / DOCS_PER_SHARD).cast("int")
        )
    return docs


def hits(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


# --------------------------------------------------------------- checks


def check_answer(orc: oracle.TextOracle, q: gen.Query, ans) -> bool:
    """One query's answer against the oracle."""
    if q.kind == "facet":
        return ans == orc.facet(q.clauses, "lang")
    if q.kind == "grouped":
        exp = orc.grouped(q.clauses, "repo", 5)
        return len(ans) == len(exp) and all(
            a[0] == e[0] and a[1] == e[1] and math.isclose(a[2], e[2], rel_tol=oracle.REL)
            for a, e in zip(ans, exp)
        )
    if q.kind == "sorted":
        return ans == orc.sorted_page(q.clauses, "stars", 5, K)
    return oracle.same_topk(ans, orc.ranked(q.clauses, q.arg), K)


def execute(eng, q: gen.Query):
    """Send one query through the engine's public API and collect it."""
    k = q.kind
    if k in ("plain", "boolean", "wildcard"):
        return hits(eng.topk(q.text, k=K, mode="auto"))
    if k == "where":
        return hits(eng.topk(q.text, k=K, where=q.arg))
    if k == "facet":
        return {r["lang"]: int(r["n_docs"]) for r in eng.facet_counts_stored(q.text, by="lang").collect()}
    if k == "grouped":
        rows = eng.grouped_topk(q.text, by="repo", k_groups=5, k_per_group=1).collect()
        return [(r["repo"], int(r["doc_id"]), float(r["score"])) for r in rows]
    if k == "sorted":
        rows = eng.sorted_matches(q.text, by="stars", k=K, offset=5).collect()
        return [(int(r["doc_id"]), int(r["stars"])) for r in rows]
    raise ValueError(f"unknown query kind {k}")


def check_store(run: Run, idx: str, n: int) -> None:
    """Doc count and dense ids, read straight from the doc store files."""
    ids = pq.read_table(f"{idx}/docs", columns=["doc_id"])["doc_id"].to_numpy()
    run.check(len(ids) == n and np.array_equal(np.sort(ids), np.arange(n)),
              f"doc store holds {len(ids)} rows, want dense 0..{n - 1}")


# ------------------------------------------------------------- workload


def inputs(run: Run):
    base = gen.make_corpus(run.seed, N_BASE, stream=0)
    deltas = [gen.make_corpus(run.seed, N_APPEND, stream=1 + i) for i in range(2)]
    os.makedirs(f"{run.work}/in", exist_ok=True)
    base.docs.to_parquet(f"{run.work}/in/base.parquet", index=False)
    for i, d in enumerate(deltas):
        d.docs.to_parquet(f"{run.work}/in/delta{i}.parquet", index=False)
    docs = [oracle.assign_doc_ids(base.docs)] + [
        oracle.assign_doc_ids(d.docs, first_id=N_BASE + i * N_APPEND)
        for i, d in enumerate(deltas)
    ]
    return base, deltas, docs


def describe(run: Run, base, docs_all, orc, streams) -> None:
    """Input properties printed with every run."""
    stream = [q for s in streams for q in s]
    content = orc.post["content"]
    top10 = set(sorted(content, key=lambda t: -len(content[t][0]))[:10])
    with_top = sum(
        any(t in top10 for c in q.clauses for t in oracle.query_tokens(c[1], "code"))
        for q in stream
    )
    run.inputs = {
        "docs": len(docs_all),
        "postings": int(sum(len(d) for f in orc.post for d, _ in orc.post[f].values())),
        "distinct_terms": int(sum(len(orc.post[f]) for f in orc.post)),
        "queries_with_top10_term": round(with_top / len(stream), 4),
        "repeated_query_share": round(gen.repeated_share(streams), 4),
        "planted_dup_share": round(len(base.planted_pairs) / N_BASE, 4),
    }


def run_text(run: Run) -> None:
    from gxdindexer_spark.operators.index_build import IndexBuilder
    from gxdindexer_spark.operators.query import IndexQueryEngine

    spark, tr = run.spark, run.tracer
    (base, deltas, docs), t_in = timed(lambda: inputs(run))
    run.setup_s += t_in
    run.lap("inputs")
    idx = f"{run.work}/idx"
    builder = IndexBuilder(docs_per_shard=DOCS_PER_SHARD)

    # full build: read -> prepare_docs -> build
    def build():
        with tr.span("build"):
            with tr.span("tables.prepare_docs"):
                docs = prepare(spark, f"{run.work}/in/base.parquet")
            with tr.span("index_build.build"):
                return builder.build(docs, idx, resume=False)

    _m, build_s = timed(build)
    run.lap("build")
    run.e2e["build_rows_per_s"] = N_BASE / build_s
    run.e2e["index_size_ratio"] = dir_bytes(idx) / field_bytes(base.docs)
    check_store(run, idx, N_BASE)
    run.lap("check after build")

    # O(delta) commits: one whole new shard each, so append_s is a
    # median of two
    def append(i):
        with tr.span("append"):
            delta = prepare(spark, f"{run.work}/in/delta{i}.parquet", N_BASE + i * N_APPEND)
            return builder.build(delta, idx, append=True)

    before = dir_bytes(idx)
    secs = [timed(lambda: append(i))[1] for i in range(2)]
    run.layers["append.bytes_written"] = (dir_bytes(idx) - before) / 2
    run.lap("append")
    run.e2e["append_s"] = median(secs)

    with tr.span("query.engine_open"):
        eng, open_s = timed(lambda: IndexQueryEngine(spark, idx))
    run.layers["query.engine_open_ms"] = open_s * 1e3
    docs_all = pd.concat(docs, ignore_index=True)
    orc = oracle.TextOracle(docs_all)
    check_store(run, idx, len(docs_all))
    run.lap("check after append")

    # two concurrent searchers
    streams = gen.make_text_queries(run.seed, base, CLIENTS)
    describe(run, base, docs_all, orc, streams)

    # every rich kind runs at least once, whatever the window
    min_items = 2 * -(-len(gen.TEXT_RICH_KINDS) // CLIENTS)
    records, wall = closed_loop(run, streams, lambda q: execute(eng, q), min_items)
    run.lap("queries")
    plain, rich = [], []
    for _cid, q, sec, ans in records:
        (plain if q.kind == "plain" else rich).append(sec * 1e3)
        if isinstance(ans, Exception):
            run.error(f"query {q.kind} {q.text!r}", ans)
            continue
        run.layers["query.hits"] = run.layers.get("query.hits", 0) + len(ans)
        run.check(check_answer(orc, q, ans), f"query {q.kind} {q.text!r}")
    report_queries(run, plain, rich, wall)
    run.lap("query checks")

    if run.tracer.enabled:
        # near-duplicate pairs within the appended shard, the batch a
        # data-prep job would screen before its next commit
        dd = docs[1][["doc_id", "content"]]
        dd.to_parquet(f"{run.work}/in/dedup.parquet", index=False)
        minhash_pairs(run, f"{run.work}/in/dedup.parquet", dd, deltas[0])
        run.lap("neardup")


def minhash_pairs(run: Run, path: str, dd, delta) -> None:
    from gxdindexer_spark.operators import dedup

    def call():
        with run.tracer.span("neardup"):
            df = run.spark.read.parquet(path)
            return dedup.minhash_lsh_pairs(df, text_col="content", **MINHASH).collect()

    rows, sec = timed(call)
    run.layers["neardup.wall_s"] = sec
    got = {(int(r["doc_a"]), int(r["doc_b"])) for r in rows}
    sigs = {}
    for d, text in zip(dd["doc_id"], dd["content"]):
        s = oracle.minhash_signature(text, MINHASH["num_hashes"])
        if s is not None:
            sigs[int(d)] = s
    want = oracle.banded_pairs(sigs, MINHASH["bands"])
    run.check(got == want, f"minhash pairs: {len(got)} emitted, {len(want)} expected")
    # planted exact copies share every signature, so each must appear
    order = oracle.assign_doc_ids(delta.docs.reset_index(), N_BASE)
    ids = dict(zip(order["index"], order["doc_id"]))
    exact = {tuple(sorted((ids[a], ids[b]))) for a, b in delta.exact_pairs}
    run.check(exact <= got, f"{len(exact - got)} planted exact copies missing")
    run.layers["neardup.pairs"] = len(got)


