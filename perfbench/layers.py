"""Per-layer metrics of a traced run (``--trace 1``).

Three sources, each named after the repository module it measures:

* spans around the workload's own calls, folded with the Spark event
  log (jobs, tasks, executor CPU, shuffle, spill, Python-worker bytes,
  slot wait, per-node output rows) — the ``build``, ``append``,
  ``query`` and ``neardup`` stages;
* the same Spark layers called one at a time on a fixed 300-doc code
  sample and written to a noop sink (``tables``, ``index_build``,
  ``dedup``);
* driver-side calls into the pure-Python layers (``analyze``,
  ``codec``, ``wand``).

Both workloads run all three, so every metric exists in every run.
"""

from __future__ import annotations

import statistics

import numpy as np
import pandas as pd

from perfbench import gen, oracle, trace
from perfbench.common import Run, timed
from perfbench.text import DOCS_PER_SHARD

SAMPLE_DOCS = 300
# the traced run's own end-to-end numbers; their difference from the
# untraced runs' medians is the tracing overhead
TRACED_E2E = ("setup_s", "build_rows_per_s", "append_s")
PLAIN_KINDS = ("plain", "lsh")
CANDIDATE_NODES = ("Join", "FlatMapGroupsIn")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def session_probe(run: Run) -> None:
    """First Arrow-UDF job after ``get_spark`` minus a second one."""
    def job():
        _noop(run.spark.range(4, numPartitions=4).mapInPandas(lambda it: it, "id long"))

    with run.tracer.span("probe.first_udf"):
        _, first = timed(job)
        _, steady = timed(job)
    run.layers["session.first_udf_job_s"] = first - steady


def _median_time(fn, reps: int = 3) -> float:
    return statistics.median(timed(fn)[1] for _ in range(reps))


def module_probes(run: Run) -> None:
    from gxdindexer_spark.functions import analyze, hashing
    from gxdindexer_spark.functions.codec import encode_postings, posting_list_from_row
    from gxdindexer_spark.operators import dedup, wand
    from gxdindexer_spark.operators.index_build import IndexBuilder, term_freqs_df
    from gxdindexer_spark.sources.tables import prepare_docs

    spark, tr, L = run.spark, run.tracer, run.layers
    sample = gen.make_corpus(run.seed, SAMPLE_DOCS, stream=7)
    docs = oracle.assign_doc_ids(sample.docs)
    orc = oracle.TextOracle(docs)
    path = f"{run.work}/in/sample.parquet"
    sample.docs.to_parquet(path, index=False)
    docs[["doc_id", "content"]].to_parquet(f"{run.work}/in/sample_dd.parquet", index=False)

    # Spark layers one at a time, each to a noop sink
    def spark_layer(name, df_fn):
        with tr.span(f"probe.{name}"):
            _, sec = timed(lambda: _noop(df_fn()))
        L[name] = sec

    # the text workload's own build settings: no positions
    prepared = lambda: prepare_docs(spark.read.parquet(path), docs_per_shard=DOCS_PER_SHARD)  # noqa: E731
    spark_layer("tables.prepare_docs_s", prepared)
    spark_layer("index_build.term_freqs_df_s",
                lambda: term_freqs_df(prepared(), with_positions=False))
    tf = term_freqs_df(prepared(), with_positions=False).persist()
    try:
        tf.count()
        spark_layer("index_build.postings_df_s",
                    lambda: IndexBuilder(docs_per_shard=DOCS_PER_SHARD)
                    .postings_df(tf, dict(orc.avgdl)))
    finally:
        tf.unpersist()
    spark_layer("dedup.minhash_signatures_s",
                lambda: dedup.minhash_signatures(
                    spark.read.parquet(f"{run.work}/in/sample_dd.parquet"),
                    text_col="content", num_hashes=8))

    # driver-side layers
    ids = pd.Series(docs["doc_id"].to_numpy())
    for f, tk in oracle.FIELDS.items():
        sec = _median_time(lambda: analyze.term_freqs(ids, docs[f], tk))
        L[f"analyze.term_freqs_us_per_doc.{f}"] = sec / len(docs) * 1e6
    content = orc.post["content"]
    terms = sorted(content, key=lambda t: (-len(content[t][0]), t))[:200]
    avg = orc.avgdl["content"]
    lists = []
    for t in terms:
        d, tf_ = content[t]
        dl = orc.dl["content"][d]
        tfn = tf_ / (tf_ + oracle.K1 * (1 - oracle.B + oracle.B * dl / avg))
        lists.append((t, orc.ids[d], tf_.astype(np.uint64), tfn, dl.astype(np.uint64)))
    n_post = sum(len(x[1]) for x in lists)
    rows = {}

    def encode_all():
        for t, d, tf_, tfn, dl in lists:
            rows[t] = encode_postings(d, tf_, tfn, 128, dls=dl)

    L["codec.encode_ns_per_posting"] = _median_time(encode_all) / n_post * 1e9
    L["codec.bytes_per_posting"] = sum(
        len(r["docs_buf"]) + len(r["tfs_buf"]) + len(r["dls_buf"]) for r in rows.values()
    ) / n_post
    plists = [posting_list_from_row(t, r) for t, r in rows.items()]
    decoded = []
    L["codec.decode_ns_per_posting"] = _median_time(
        lambda: decoded.extend(p.decode_all() for p in plists)) / n_post * 1e9
    run.check(all(np.array_equal(dec[0], x[1]) for dec, x in zip(decoded, lists)),
              "codec round trip")

    # wand: both scorers on one query's postings, checked against the oracle
    q = gen.probe_terms(run.seed, sample, 1)[0]
    clauses = tuple(("should", t, "", 0, "") for t in q.split())
    pairs = {p for c in clauses for p in orc.clause_pairs(c) if orc.df(*p)}
    recs, weights = [], {}
    for f, t in sorted(pairs):
        d, tf_ = orc.post[f][t]
        dl = orc.dl[f][d]
        tfn = tf_ / (tf_ + oracle.K1 * (1 - oracle.B + oracle.B * dl / orc.avgdl[f]))
        tid = hashing.term_id(t)
        recs.append({"shard": 0, "field": f, "term_id": tid,
                     **encode_postings(orc.ids[d], tf_.astype(np.uint64), tfn, 128,
                                       dls=dl.astype(np.uint64))})
        weights[(f, tid)] = oracle.WEIGHTS[f] * float(
            np.log(1 + (orc.n - len(d) + 0.5) / (len(d) + 0.5)))
    pg = pd.DataFrame(recs)
    spec = wand.QuerySpec(term_weights=weights, avgdl=dict(orc.avgdl))
    want = orc.ranked(clauses)
    for name, fn in (("taat", wand.taat), ("wand", wand.wand)):
        out = []
        L[f"wand.{name}_ms"] = _median_time(lambda: out.append(fn(pg, spec, 10)), 5) * 1e3
        ids_, scores = out[-1]
        run.check(oracle.same_topk(list(zip(ids_.tolist(), scores.tolist())), want, 10),
                  f"wand.{name} against the oracle")


def print_spans(spans: list[dict], folded: dict[int, dict]) -> None:
    """One line per span name: count, wall and self seconds, jobs, and
    the call sites Spark recorded for those jobs."""
    selfs = trace.self_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s["name"], {"n": 0, "wall": 0.0, "self": 0.0, "jobs": 0, "sites": {}})
        f = folded.get(s["span_id"], {})
        r["n"] += 1
        r["wall"] += s["end"] - s["start"]
        r["self"] += selfs[s["span_id"]]
        r["jobs"] += int(f.get("jobs", 0))
        for k, v in (f.get("call_sites") or {}).items():
            r["sites"][k] = r["sites"].get(k, 0) + v
    for name, r in rows.items():
        sites = ", ".join(f"{k} x{v}" for k, v in sorted(r["sites"].items(), key=lambda kv: -kv[1]))
        print(f"span {name}: n={r['n']} wall={r['wall']:.3f}s self={r['self']:.3f}s "
              f"jobs={r['jobs']} sites: {sites}")


def per_layer(run: Run, log_dir: str) -> dict:
    """Fold the event log onto the spans and return every per-layer
    value the run measured, by metric name."""
    tr, L = run.tracer, run.layers
    folded = trace.fold(trace.event_log_files(log_dir), tr)
    spans = tr.spans

    def wall(prefix):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == prefix)

    b = trace.rollup(spans, folded, "build")
    L.update({
        "build.wall_s": wall("build"),
        "build.jobs": b.get("jobs", 0),
        "build.tasks": b.get("tasks", 0),
        "build.executor_cpu_s": b.get("executor_cpu_s", 0.0),
        "build.shuffle_bytes": b.get("shuffle_bytes", 0),
        "build.spill_bytes": b.get("spill_bytes", 0),
        "build.python_bytes": b.get("python_bytes", 0),
    })
    a = trace.rollup(spans, folded, "append")
    L.update({
        "append.wall_s": wall("append"),
        "append.jobs": a.get("jobs", 0),
        "append.shuffle_bytes": a.get("shuffle_bytes", 0),
    })
    q_all = {"jobs": 0.0, "slot_wait_s": 0.0, "input_records": 0.0}
    for cls in ("plain", "rich"):
        tot, n = {"jobs": 0.0, "tasks": 0.0, "python_bytes": 0.0}, 0
        for s in spans:
            if not s["name"].startswith("query.") or s["name"] == "query.engine_open":
                continue
            kind = s["name"].split(".", 1)[1]
            if (kind in PLAIN_KINDS) != (cls == "plain"):
                continue
            n += 1
            f = folded.get(s["span_id"], {})
            for k in tot:
                tot[k] += f.get(k, 0)
            for k in q_all:
                q_all[k] += f.get(k, 0)
        L[f"query.jobs_per_query.{cls}"] = tot["jobs"] / max(n, 1)
        L[f"query.tasks_per_query.{cls}"] = tot["tasks"] / max(n, 1)
        L[f"query.python_bytes_per_query.{cls}"] = tot["python_bytes"] / max(n, 1)
    L["query.slot_wait_ms"] = q_all["slot_wait_s"] / max(q_all["jobs"], 1) * 1e3
    L["query.rows_read_per_hit"] = q_all["input_records"] / max(L.get("query.hits", 0), 1)
    nd = trace.rollup(spans, folded, "neardup")
    cand = sum(v for k, v in nd.items() if k.startswith("rows:") and any(
        c in k for c in CANDIDATE_NODES))
    L.update({
        "neardup.jobs": nd.get("jobs", 0),
        "neardup.shuffle_bytes": nd.get("shuffle_bytes", 0),
        "neardup.python_bytes": nd.get("python_bytes", 0),
        "neardup.candidate_rows": cand,
        "neardup.pair_yield": L.get("neardup.pairs", 0) / cand if cand else 0.0,
    })
    everything = trace.rollup(spans, folded, "")
    L["spark.gc_s"] = everything.get("gc_s", 0.0)
    L["spark.task_failures"] = everything.get("task_failures", 0)
    for k in TRACED_E2E:
        L[f"trace.{k}"] = run.e2e[k]
    print_spans(spans, folded)
    return L

