"""The build's batch postings encode and the paths around it:

* ``postings_df`` encodes whole Arrow batches in one ``mapInArrow``
  pass; postings must not depend on where batch boundaries fall, and
  must equal per-term ``codec.encode_postings`` of the same rows;
* a failed postings write releases the tf cache and the build's pool;
* ``prepare_docs`` assigns ids with built-in expressions only;
* the worker daemon re-reads a zip archive's directory only when the
  archive changed.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import threading

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from gxdindexer_spark import schemas
from gxdindexer_spark.functions import bm25
from gxdindexer_spark.functions.codec import encode_postings
from gxdindexer_spark.operators.index_build import IndexBuilder, term_freqs_df
from gxdindexer_spark.sources.synth import generate_corpus
from gxdindexer_spark.sources.tables import prepare_docs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _docs(spark, n=120, dps=40):
    corpus = generate_corpus(spark, n, seed=11, partitions=3)
    return prepare_docs(corpus, docs_per_shard=dps, partitions=3)


def _postings(idx: str) -> pa.Table:
    t = pq.read_table(f"{idx}/postings")
    t = t.set_column(
        t.schema.get_field_index("shard"), "shard",
        t.column("shard").cast(pa.int32()),
    )
    return t.sort_by([("shard", "ascending"), ("field", "ascending"),
                      ("term_id", "ascending")])


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("with_positions", [False, True])
def test_postings_independent_of_arrow_batch_size(spark, tmp_path, with_positions):
    """7-row Arrow batches split nearly every term group across
    batches; the stored postings must equal a default-batch build."""
    docs = _docs(spark)
    builder = IndexBuilder(docs_per_shard=40, block_size=4,
                           with_positions=with_positions)
    builder.build(docs, str(tmp_path / "default"), resume=False)
    default = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "7")
    try:
        builder.build(docs, str(tmp_path / "small"), resume=False)
    finally:
        spark.conf.set(BATCH_CONF, default)
    a, b = _postings(str(tmp_path / "default")), _postings(str(tmp_path / "small"))
    assert a.num_rows > 100
    assert a.equals(b)
    if with_positions:
        assert sum(len(x) for x in a.column("pos_buf").to_pylist()) > 0


def test_postings_df_equals_per_term_encode(spark):
    """Every postings row == encode_postings of its term's rows, and
    the plan encodes in one Arrow map node with no pandas node."""
    builder = IndexBuilder(docs_per_shard=40, block_size=4)
    tf_rows = term_freqs_df(_docs(spark)).toPandas()
    # a Python-free input, so the plan's Python nodes are the encoder's
    tf = spark.createDataFrame(tf_rows, schema=schemas.TERM_FREQS_BASE)
    avgdl = (
        tf_rows.groupby(["field", "doc_id"])["dl"].first()
        .groupby(level=0).mean().to_dict()
    )
    postings = builder.postings_df(tf, avgdl)
    plan = _plan(postings)
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    got = {
        (r["shard"], r["field"], r["term_id"]): r.asDict()
        for r in postings.collect()
    }
    assert len(got) == tf_rows.groupby(["shard", "field", "term_id"]).ngroups
    for (shard, field, term_id), g in tf_rows.groupby(["shard", "field", "term_id"]):
        g = g.sort_values("doc_id")
        tfs = g["tf"].to_numpy(np.uint64)
        dls = g["dl"].to_numpy(np.uint64)
        tfn = bm25.tf_norm(tfs, dls.astype(np.float64), avgdl[field],
                           builder.k1, builder.b)
        want = encode_postings(g["doc_id"].to_numpy(), tfs, tfn, 4, dls=dls)
        row = got[(shard, field, term_id)]
        for name, value in want.items():
            have = row[name]
            assert (bytes(have) if name.endswith("_buf") else have) == value, name


def test_failed_postings_write_releases_cache_and_pool(spark, tmp_path, monkeypatch):
    docs = _docs(spark, n=60, dps=30)
    spark.catalog.clearCache()
    before = set(threading.enumerate())

    def broken(self, tf, avgdl):
        raise RuntimeError("postings encode failed")

    monkeypatch.setattr(IndexBuilder, "postings_df", broken)
    with pytest.raises(RuntimeError, match="postings encode failed"):
        IndexBuilder(docs_per_shard=30).build(docs, str(tmp_path / "i"), resume=False)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    leaked = [
        t for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ]
    assert not leaked, leaked


def test_prepare_docs_assigns_ids_without_python(spark):
    corpus = spark.createDataFrame(
        [(f"r{i % 3}", f"p{i}", "c", "py", f"x{i}") for i in range(50)],
        schema=schemas.CORPUS,
    )
    docs = prepare_docs(corpus, docs_per_shard=7, partitions=4)
    plan = _plan(docs)
    assert "Python" not in plan and "Pandas" not in plan, plan
    assert docs.schema == T.StructType(
        list(schemas.CORPUS.fields)
        + [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("content_sha256", T.StringType(), True),
            T.StructField("shard", T.IntegerType(), False),
        ]
    )
    # dense ids in (repo, path, commit) order
    rows = sorted(
        (r["repo"], r["path"], r["doc_id"], r["shard"]) for r in docs.collect()
    )
    assert [r[2] for r in rows] == list(range(50))
    assert all(r[3] == r[2] // 7 for r in rows)


def test_worker_daemon_rereads_only_changed_zips(tmp_path):
    """invalidate_caches() (run by every Python task) reads a zip's
    directory again only after the zip was rewritten."""
    script = textwrap.dedent(
        f"""
        import importlib, sys, zipfile, zipimport
        from gxdindexer_spark import worker_daemon
        worker_daemon.guard_zip_rereads()
        z = {str(tmp_path / "mods.zip")!r}
        with zipfile.ZipFile(z, "w") as f:
            f.writestr("zmod_a.py", "X = 1\\n")
        sys.path.insert(0, z)
        import zmod_a
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: (reads.append(a), read(a))[1]
        for _ in range(3):
            importlib.invalidate_caches()
        unchanged = len(reads)
        with zipfile.ZipFile(z, "w") as f:
            f.writestr("zmod_a.py", "X = 1\\n")
            f.writestr("zmod_b.py", "Y = 2\\n")
        for _ in range(3):
            importlib.invalidate_caches()
        import zmod_b
        print(unchanged, len(reads) - unchanged, zmod_b.Y)
        """
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True,
        text=True, timeout=120, check=True,
    )
    assert out.stdout.split() == ["0", "1", "2"], out.stdout + out.stderr
