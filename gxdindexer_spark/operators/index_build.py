"""Sharded SPIMI inverted-index build (SURVEY.md §7 steps 3-5,7).

Pipeline shape (all Arrow-batched, no per-row Python):

  docs (doc_id, shard, content/path/lang, content_sha256)
    -> mapInPandas tokenize+tf            (TERM_FREQS rows, term + term_id)
    -> [strings branch off to the small dict_parts agg here]
    -> numeric-only repartition(shard) + sort(field, term_id, doc_id)
    -> mapInArrow encode: one ``codec.encode_groups`` call per Arrow
       batch, every (shard, field, term_id) group of the batch at once
       (FINAL posting rows; no Python loop over groups)
    -> write parquet partitioned by shard

Skew handling (north_rule, SURVEY.md §4.1): stopword-like terms get
posting lists orders of magnitude longer than the median, but a
shard's docID range is bounded by ``docs_per_shard``, so the heaviest
term contributes at most ``docs_per_shard`` rows to its shard's
encode group — the same per-group bound the earlier salted two-phase
(partial encode + ``merge_salted`` concatenation) enforced with a
docID-range salt, minus that design's second full shuffle and second
Python pass (guide §2.4: two operations keyed the same way — encode
and the shard-partitioned write — share one exchange). AQE only fixes
*join* skew, not groupBy-key skew, hence the explicit bounded key.

The reference analog of this stage is the chunked extract-assemble-load
loop in GxdResultIndexer.java:900-1268 (chunks == partitions here) with
its hand-rolled HashMap broadcast caches (==F.broadcast / broadcast
vars) and batched Solr sink (==task-level parquet writes); the posting
format itself has no reference analog — the reference delegates it to
Lucene.
"""

from __future__ import annotations

import json
import os
import sys
import shutil
import time
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from gxdindexer_spark import schemas
from gxdindexer_spark.functions import analyze, bm25, codec, hashing

DEFAULT_FIELDS = {"content": "code", "path": "path", "lang": "lang"}


def _empty_like(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """Empty frame with ``schema`` built JVM-side (range(0)) — a
    python-list createDataFrame becomes a 32-partition python RDD that
    spawns a worker per partition on every action."""
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def term_freqs_df(
    docs: DataFrame,
    fields: dict[str, str] | None = None,
    with_positions: bool = False,
    synonyms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """docs -> (doc_id, shard, field, term, term_id, tf, dl[, positions])
    via one tokenize pass. With positions on, ``dl`` counts token
    POSITIONS (Lucene semantics: word-part expansions share their
    original's position and don't lengthen the doc). ``synonyms``
    applies index-time synonym expansion at position-increment 0 in
    every field (analyze.term_freqs; the map closes over the Arrow
    workers like the rest of the builder params — tiny)."""
    fields = fields or DEFAULT_FIELDS

    out_cols = ["doc_id", "shard", "field", "term", "term_id", "tf", "dl"]
    if with_positions:
        out_cols.append("positions")

    def tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            shard_of = pdf.set_index("doc_id")["shard"]
            for field, tokenizer in fields.items():
                if with_positions:
                    tf = analyze.term_freqs_positions(
                        pdf["doc_id"], pdf[field], tokenizer,
                        synonyms=synonyms,
                    )
                else:
                    tf = analyze.term_freqs(
                        pdf["doc_id"], pdf[field], tokenizer,
                        synonyms=synonyms,
                    )
                if not len(tf):
                    continue
                tf.insert(1, "shard", shard_of.loc[tf["doc_id"]].to_numpy())
                tf.insert(2, "field", field)
                tf["term_id"] = hashing.term_ids(tf["term"])
                yield tf[out_cols]

    schema = schemas.TERM_FREQS if with_positions else schemas.TERM_FREQS_BASE
    cols = ["doc_id", "shard"] + list(fields)
    return docs.select(*cols).mapInPandas(tok, schema=schema)


_POSTINGS_ARROW = to_arrow_schema(schemas.POSTINGS)


def _postings_batch(columns: dict) -> pa.RecordBatch:
    """Key columns + ``codec.encode_groups`` output -> one POSTINGS
    batch; every list and binary column wraps the encoder's values and
    offsets without a per-row copy."""
    n = len(columns["df"])
    arrays = []
    for f in _POSTINGS_ARROW:
        col = columns[f.name]
        if isinstance(col, tuple):
            values, offsets = col
            offsets = offsets.astype(np.int32)
            if pa.types.is_binary(f.type):
                col = pa.BinaryArray.from_buffers(
                    f.type, n,
                    [None, pa.py_buffer(offsets), pa.py_buffer(values)],
                )
            else:
                col = pa.ListArray.from_arrays(
                    pa.array(offsets), pa.array(values), type=f.type
                )
        arrays.append(col)
    return pa.RecordBatch.from_arrays(arrays, schema=_POSTINGS_ARROW)


class IndexBuilder:
    """Builds and persists the index artifacts for a docs DataFrame.

    Parameters mirror the scale knobs: ``docs_per_shard`` bounds the
    docID range per scatter-gather shard — and with it both the
    encode-group size and the per-task work of the single-phase
    postings encode (pick smaller shards for more build parallelism);
    ``block_size`` is the posting block length (skip-pointer grain).
    ``salt_range`` is retained for API/manifest-fingerprint
    compatibility: the docID-range salting it once configured is
    subsumed by the shard bound (see ``postings_df``).
    """

    def __init__(
        self,
        fields: dict[str, str] | None = None,
        docs_per_shard: int = 1_000_000,
        salt_range: int = 65_536,
        block_size: int = 128,
        k1: float = bm25.K1,
        b: float = bm25.B,
        with_positions: bool = False,
        synonyms: dict[str, list[str]] | None = None,
    ):
        self.fields = fields or DEFAULT_FIELDS
        self.docs_per_shard = docs_per_shard
        self.salt_range = salt_range
        self.block_size = block_size
        self.k1 = k1
        self.b = b
        self.with_positions = with_positions
        # canonical form (sorted, deduped, self-maps dropped) so the
        # params fingerprint is stable across equivalent spellings
        self.synonyms = {
            base: sorted({s for s in syns if s != base})
            for base, syns in sorted((synonyms or {}).items())
            if any(s != base for s in syns)
        } or None

    def _params_fp(self) -> str:
        """Fingerprint of every parameter that shapes the stored
        artifacts. Folded into each shard's input fingerprint so a
        resume with different params (k1/b/block_size/tokenizers/
        positions/...) rebuilds instead of silently mixing postings
        built under one config with a manifest describing another."""
        import hashlib

        blob = json.dumps(
            {
                "fields": self.fields,
                "docs_per_shard": self.docs_per_shard,
                "salt_range": self.salt_range,
                "block_size": self.block_size,
                "k1": self.k1,
                "b": self.b,
                "with_positions": self.with_positions,
                "synonyms": self.synonyms,
            },
            sort_keys=True,
        )
        return hashlib.md5(blob.encode()).hexdigest()[:12]

    def _fp_map(self, docs: DataFrame) -> dict[int, str]:
        """Per-shard input fingerprint of ``docs``: order-insensitive
        sum over per-row hashes — cheap, deterministic, partition-
        parallel — plus the builder-params fingerprint (a param change
        must invalidate every shard, not silently reuse postings built
        under a different config). The row hash covers EVERY indexed
        field, not just content (ADVICE r5 high: an update to an
        indexed non-content field like lang/path left the shard
        fingerprint unchanged, so the rebuild silently skipped and the
        new value was never indexed). For single-field
        ({'content': ...}) indexes the expression reduces to
        crc32(content_sha256). One Spark job; mutation operators call
        this concurrently with their own scan/checkpoint jobs and pass
        the result to ``_build_locked`` as ``precomputed_fp``.
        """
        pfp = self._params_fp()
        nonc = [f for f in sorted(self.fields) if f != "content"]
        fp_src = F.crc32(
            F.concat_ws(
                "\x1f",
                F.col("content_sha256"),
                *[
                    F.coalesce(F.col(f).cast("string"), F.lit(""))
                    for f in nonc
                ],
            )
        )
        rows = (
            docs.groupBy("shard")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(fp_src).alias("fp_sum"),
            )
            .collect()
        )
        return {
            int(r["shard"]): f"{r['n_docs']}:{r['fp_sum']}:{pfp}"
            for r in rows
        }

    # ------------------------------------------------------------ build

    def postings_df(self, tf: DataFrame, avgdl: dict[str, float]) -> DataFrame:
        """TERM_FREQS -> final POSTINGS rows (single-phase, shard-keyed).

        ONE shuffle: repartition on shard — the exact key the
        partitioned write needs, so the write still emits one file per
        shard dir — with an in-partition sort by (field, term_id,
        doc_id). Every (shard, field, term_id) group is then
        contiguous inside one task, and one ``mapInArrow`` pass
        encodes each Arrow batch with ONE ``codec.encode_groups`` call
        (no Python loop over the batch's groups) into one POSTINGS
        batch whose list and binary columns are built straight from
        the encoder's offset arrays. The trailing group of a batch may
        continue in the next one, so it is carried over as a table
        slice and encoded with the next batch; memory stays bounded by
        batch plus group size, not partition size.

        A shard's docID range is bounded by ``docs_per_shard``, so the
        heaviest term's encode group is bounded too (the job the
        earlier salted two-phase encode did with a docID-range salt, a
        second shuffle and a ``merge_salted`` pass; guide §2.4:
        operations keyed the same way share one exchange). Rows stay
        sorted by (field, term_id) in-file, so row-group min/max stats
        keep pruning term IN-list scans.
        """
        spark = tf.sparkSession
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        b_avgdl = spark.sparkContext.broadcast(avgdl)
        k1, b_, bs = self.k1, self.b, self.block_size
        with_pos = self.with_positions
        # drop the term STRING before the shuffle: only numeric
        # columns (plus the tiny field tag) cross the Arrow boundary.
        cols = ["shard", "field", "term_id", "doc_id", "tf", "dl"]
        if with_pos:
            cols.append("positions")
        arranged = (
            tf.select(*cols)
            .repartition(n_parts, "shard")
            .sortWithinPartitions("shard", "field", "term_id", "doc_id")
        )

        def encode(t: pa.Table, hold_last: bool) -> tuple:
            """-> (POSTINGS batch of t's groups, rows not encoded);
            ``hold_last`` keeps the last group back, since the next
            batch may continue it."""
            t = t.combine_chunks()
            field = pc.dictionary_encode(t.column("field").chunk(0))
            codes = field.indices.to_numpy()
            shard = t.column("shard").to_numpy()
            term_id = t.column("term_id").to_numpy()
            starts = codec.group_starts(shard, codes, term_id)
            if hold_last:
                starts = starts[:-1]
            tfs = t.column("tf").to_numpy()
            dls = t.column("dl").to_numpy()
            avg = b_avgdl.value
            field_avg = np.array(
                [avg[f] for f in field.dictionary.to_pylist()]
            )
            tfn = bm25.tf_norm(
                tfs, dls.astype(np.float64), field_avg[codes], k1, b_
            )
            pos = None
            if with_pos:
                p = t.column("positions").chunk(0)
                counts = pc.list_value_length(p).to_numpy()
                pos = (counts, p.flatten().to_numpy())
            enc = codec.encode_groups(
                starts, t.column("doc_id").to_numpy(), tfs, tfn, dls, bs,
                pos,
            )
            heads = starts[:-1]
            batch = _postings_batch({
                **enc,
                "shard": pa.array(shard[heads]),
                "field": field.dictionary.take(pa.array(codes[heads])),
                "term_id": pa.array(term_id[heads]),
            })
            return batch, t.slice(int(starts[-1]))

        def encode_stream(
            batches: Iterator[pa.RecordBatch],
        ) -> Iterator[pa.RecordBatch]:
            carry = None
            for batch in batches:
                if not batch.num_rows:
                    continue
                t = pa.Table.from_batches([batch])
                if carry is not None:
                    t = pa.concat_tables([carry, t])
                out, carry = encode(t, hold_last=True)
                if out.num_rows:
                    yield out
            if carry is not None:
                yield encode(carry, hold_last=False)[0]

        return arranged.mapInArrow(encode_stream, schema=schemas.POSTINGS)

    # ------------------------------------------------- full build + write

    def build(
        self,
        docs: DataFrame,
        index_dir: str,
        resume: bool = True,
        append: bool = False,
        drop_shards: set[int] | None = None,
    ) -> dict:
        """Build (or resume) the index for ``docs`` into ``index_dir``.

        ``append=True`` treats ``docs`` as a DELTA (e.g. one streaming
        micro-batch): shards absent from it are left untouched instead
        of being deleted as orphans. Shards PRESENT in the delta are
        upserted whole, so deltas must arrive in complete docID-range
        units. Fingerprints make replayed deltas no-ops (exactly-once
        commits over at-least-once delivery). ``drop_shards`` forces
        the named shards through the orphan-removal path even in
        append mode — the doc-level delete hook (``delete_docs``) uses
        it for shards whose every document was tombstoned.

        Returns a metrics dict (docs/sec, postings/sec, bytes).
        Resumability (north_rule): per-shard lineage entries are written
        after the shard's artifacts commit; a re-run skips shards whose
        ledger entry matches the input fingerprint (SURVEY.md §4.4).

        Single-writer: the whole mutate region holds the index's
        writer lock (``_WriterLock``); a second live writer raises
        ``ConcurrentWriteError``. Every content-changing build commits
        a new ``snapshot_id`` (monotonic, with parent pointer and a
        bounded history) in the manifest — the Iceberg snapshot-lineage
        contract on plain parquet.
        """
        os.makedirs(index_dir, exist_ok=True)
        with _WriterLock(index_dir):
            return self._build_locked(
                docs, index_dir, resume, append, drop_shards
            )

    def _build_locked(
        self,
        docs: DataFrame,
        index_dir: str,
        resume: bool,
        append: bool = False,
        drop_shards: set[int] | None = None,
        precomputed_fp: dict[int, str] | None = None,
    ) -> dict:
        spark = docs.sparkSession
        t0 = time.monotonic()
        trace = os.environ.get("GXDIDX_TRACE") == "1"
        _last = [t0]

        def mark(stage: str) -> None:
            if trace:
                now = time.monotonic()
                print(
                    f"[build-trace] {stage}: {now - _last[0]:.1f}s",
                    file=sys.stderr,
                )
                _last[0] = now

        _recover_compaction(index_dir)

        # input fingerprint per shard (see _fp_map for the contract).
        # Point mutations (delete/update) pass ``precomputed_fp``:
        # the same agg, computed by the caller CONCURRENTLY with its
        # own scan/checkpoint jobs (guide §2.6), so the serial
        # fingerprint job disappears from the mutation critical path
        # while the resume gate below stays byte-identical (replayed
        # no-op mutations still skip with shards_built == 0).
        if precomputed_fp is not None:
            shard_fp = dict(precomputed_fp)
        else:
            shard_fp = self._fp_map(docs)
        mark("fingerprint")
        done = self._read_ledger(index_dir)
        # orphaned shards: present in artifacts/ledger but absent from
        # the input (shrunk or re-sharded corpus). Left in place they
        # would keep feeding dictionary df / avgdl / query results.
        orphans = (
            set()
            if append
            else (set(done) | _artifact_shards(index_dir)) - set(shard_fp)
        ) | set(drop_shards or ())
        pending = sorted(
            s
            for s, f in shard_fp.items()
            if not (
                resume
                and done.get(s, {}).get("input_fingerprint") == f
                and done.get(s, {}).get("status") == "done"
            )
        )
        # ---- incremental-finalize eligibility (north_rule: an append
        # or streaming micro-batch must not pay O(index) to commit).
        # Kept entries = shards untouched by this build; incremental
        # needs their per-field stats in the ledger (legacy indexes
        # without them fall back to the full re-aggregation) and an
        # existing dictionary to merge into.
        kept_entries = {
            s: e
            for s, e in done.items()
            if s not in set(pending)
            and s not in orphans
            and (append or s in shard_fp)
        }
        stats_incremental = bool(kept_entries) and all(
            "field_stats" in e for e in kept_entries.values()
        )
        dict_incremental = (
            stats_incremental
            and os.path.isdir(f"{index_dir}/dictionary")
            and os.path.isdir(f"{index_dir}/corpus_stats")
        )
        # changed shards that already have artifacts: their OLD
        # dictionary contributions must be SUBTRACTED in the merge —
        # capture them before the wipe (localCheckpoint materializes
        # the negated partials so the deletes below can't unseat them)
        old_neg = None
        if dict_incremental:
            changed_existing = sorted(
                (set(pending) | orphans) & _artifact_shards(index_dir)
            )
            if changed_existing:
                old_neg = (
                    spark.read.parquet(f"{index_dir}/dict_parts")
                    .filter(F.col("shard").isin(changed_existing))
                    .groupBy("field", "term", "term_id")
                    .agg(
                        (-F.sum("df")).alias("df"),
                        (-F.sum("cf")).alias("cf"),
                    )
                    .localCheckpoint()
                )
        for s in sorted(orphans):
            for art in ("docs", "doc_stats", "dict_parts", "postings"):
                shutil.rmtree(
                    f"{index_dir}/{art}/shard={s}", ignore_errors=True
                )
            done.pop(s, None)
        metrics = {
            "shards_total": len(shard_fp),
            "shards_built": len(pending),
            "shards_skipped": len(shard_fp) - len(pending),
        }
        avgdl: dict[str, float] = {}
        delta_field_stats: dict[int, dict[str, dict]] = {}
        if pending:
            # a crashed prior run may have left partial shard partitions;
            # wipe pending shards' artifacts so append stays exactly-once
            # (the reference's full-rebuild deleteByQuery analog, but
            # scoped to un-committed shards — Indexer.java:83-88).
            for art in ("docs", "doc_stats", "dict_parts", "postings"):
                for s in pending:
                    shutil.rmtree(
                        f"{index_dir}/{art}/shard={s}", ignore_errors=True
                    )
            # repartition on the shard key: the docs input is typically
            # a handful of scan partitions (one smallish parquet file →
            # ONE task), which serialized the whole Arrow tokenizer pass
            # and the doc-store write behind a single core. One cheap
            # shuffle of the (small) doc rows buys shards-way
            # parallelism for both consumers and a bounded one-file-
            # per-shard-dir store layout (guide §2.4: two operations
            # keyed the same way share one exchange). Skipped for
            # point deltas (appends/updates touching a couple of
            # shards): there the exchange costs more than the
            # parallelism it buys.
            wide = len(pending) > 2
            sub = docs.filter(F.col("shard").isin(pending))
            if wide:
                sub = sub.repartition(F.col("shard"))
            # the doc-store write is independent of everything the
            # tokenize pipeline produces — submit it from a thread so
            # its tasks back-fill cores while tokenization runs
            # (guide §2.6: overlap independent jobs); joined below
            # before finalize/ledger commit.
            # 3 artifact writes + the overlapped finalize below — one
            # worker each so none queues behind the others
            bg_pool = ThreadPoolExecutor(max_workers=4)
            docs_fut = bg_pool.submit(
                lambda: sub.write.mode("append")
                .partitionBy("shard")
                .parquet(f"{index_dir}/docs")
            )
            # tokenize ONCE; both doc_stats and postings consume it.
            # MEMORY_AND_DISK: at cluster scale this spills instead of
            # re-running the (expensive) tokenizer pass.
            tf = term_freqs_df(
                sub, self.fields, with_positions=self.with_positions,
                synonyms=self.synonyms,
            ).persist()
            doc_stats = (
                tf.groupBy("doc_id", "field", "shard")
                .agg(F.first("dl").alias("dl"))
                .select("doc_id", "field", "dl", "shard")
            )
            # per-(shard, field) stats of the DELTA: a tiny agg, kept
            # in the ledger so future builds derive global stats
            # without scanning doc_stats. This collect is ALSO the
            # action that materializes the tf cache — one pass through
            # the (expensive) tokenizer; every artifact write below
            # then reads the cache and runs OFF the critical path
            # (guide §2.6: the doc_stats/dict_parts writes back-fill
            # cores while the postings pipeline runs).
            for r in (
                doc_stats.groupBy("shard", "field")
                .agg(F.count("*").alias("n"), F.sum("dl").alias("s"))
                .collect()
            ):
                delta_field_stats.setdefault(int(r["shard"]), {})[
                    r["field"]
                ] = {"n_docs": int(r["n"]), "sum_dl": int(r["s"])}
            mark("tokenize+delta_stats")
            # doc_stats/dict_parts repartition on shard before the
            # partitioned write: the agg output is hash-partitioned on
            # the full group key, so writing it directly would emit one
            # file per (task x shard) dir — ~32x the files every later
            # shard-pruned read must open (guide §6)
            ds_out = (
                doc_stats.repartition(F.col("shard")) if wide else doc_stats
            )
            ds_fut = bg_pool.submit(
                lambda: ds_out.write.mode("append")
                .partitionBy("shard")
                .parquet(f"{index_dir}/doc_stats")
            )
            # per-shard dictionary contributions: the ONLY consumer of
            # the term string; partial agg shrinks it to ~vocab rows per
            # partition before the (small) shuffle. Reads the
            # materialized tf cache — runs concurrently with the
            # postings pipeline below. The incremental finalize merges
            # the IN-MEMORY ``dp`` (same cached lineage), so it never
            # waits on this write; the write itself is joined before
            # the ledger commit.
            dp = tf.groupBy("shard", "field", "term", "term_id").agg(
                F.count("*").alias("df"), F.sum("tf").alias("cf")
            )
            if wide:
                dp = dp.repartition(F.col("shard"))
            dict_parts_fut = bg_pool.submit(
                lambda: dp.write.mode("append")
                .partitionBy("shard")
                .parquet(f"{index_dir}/dict_parts")
            )
            # avgdl must be GLOBAL (all shards incl. previously built):
            # kept shards contribute via their ledger field_stats (no
            # doc_stats scan — O(delta) input); legacy ledgers without
            # field_stats pay the full scan once (joining the
            # backgrounded doc_stats write first — that artifact is
            # the scan's input)
            if stats_incremental or not kept_entries:
                totals = _field_totals(kept_entries, delta_field_stats)
                avgdl = {f: t[1] / t[0] for f, t in totals.items() if t[0]}
            else:
                ds_fut.result()
                all_stats = spark.read.parquet(f"{index_dir}/doc_stats")
                cs = (
                    all_stats.groupBy("field")
                    .agg((F.sum("dl") / F.count("*")).alias("avgdl"))
                    .collect()
                )
                avgdl = {r["field"]: float(r["avgdl"]) for r in cs}
            mark("corpus_stats")
        # global stats only change when shards did: a pure no-op resume
        # (the common "is it up to date?" probe) skips the dictionary
        # re-agg + collision check + corpus_stats rewrite entirely.
        changed = bool(pending) or bool(orphans)
        run_finalize = changed or not (
            os.path.isdir(f"{index_dir}/dictionary")
            and os.path.isdir(f"{index_dir}/corpus_stats")
        )

        def _run_finalize() -> str:
            field_totals = (
                _field_totals(kept_entries, delta_field_stats)
                if (stats_incremental or not kept_entries)
                else None
            )
            # full-mode finalize with NO kept shards (fresh build, or
            # resume rebuilding everything): the just-computed dp IS
            # the whole dict_parts content, so aggregate the in-memory
            # lineage (cached tf) instead of waiting for the
            # backgrounded artifact write and re-reading it — the
            # dictionary work then genuinely overlaps the postings job
            fresh_full = (
                bool(pending) and not dict_incremental and not kept_entries
            )
            if pending and not dict_incremental and not fresh_full:
                # full-mode finalize over kept+pending shards
                # re-aggregates the dict_parts ARTIFACT — the
                # backgrounded write is its input
                dict_parts_fut.result()
            return self._finalize_stats(
                spark,
                index_dir,
                pending=pending if dict_incremental else None,
                old_neg=old_neg,
                field_totals=field_totals,
                delta_parts=(
                    dp
                    if (pending and (dict_incremental or fresh_full))
                    else None
                ),
            )

        finalize_mode = "skipped"
        if pending:
            # the postings encode+write and finalize's dictionary work
            # are independent (disjoint artifact dirs; both read the
            # cached tf / the backgrounded dict_parts write) — run
            # finalize in a thread CONCURRENTLY with the postings job
            # (guide §2.6). Failure atomicity is unchanged: the
            # ledger/manifest commit below still happens only after
            # BOTH succeed, so a failure in either leaves pending
            # shards un-committed and the next resume rebuilds them —
            # exactly the crash contract of the sequential order (the
            # dictionary swap stays marker-bracketed).
            fin_fut = (
                bg_pool.submit(_run_finalize) if run_finalize else None
            )
            try:
                postings = self.postings_df(tf, avgdl)
                postings.write.mode("append").partitionBy("shard").parquet(
                    f"{index_dir}/postings"
                )
            except BaseException:
                # a failed postings write must not leave the finalize
                # thread (or the artifact writes) running past the
                # writer lock: a retrying writer could otherwise race
                # its own finalize against this orphaned one on the
                # same dictionary swap dirs. Join everything
                # best-effort, then re-raise the original failure.
                for fut in (fin_fut, docs_fut, ds_fut, dict_parts_fut):
                    if fut is not None:
                        try:
                            fut.result()
                        except Exception:
                            pass
                # nor leave the pool's threads and the tf cache behind
                bg_pool.shutdown()
                tf.unpersist()
                raise
            mark("postings")
            # per-shard metrics only need postings (written above) and
            # doc_stats (write backgrounded; the wrapper joins it
            # first) — overlap the scan with finalize's tail; joined
            # at the ledger step below
            def _metrics_after_ds():
                ds_fut.result()
                return self._shard_metrics(spark, index_dir, pending)

            metrics_pool = ThreadPoolExecutor(max_workers=1)
            metrics_fut = metrics_pool.submit(_metrics_after_ds)
            if fin_fut is not None:
                finalize_mode = fin_fut.result()
        else:
            metrics_fut = None
            if run_finalize:
                finalize_mode = _run_finalize()
        metrics["finalize_mode"] = finalize_mode
        mark("finalize")
        if pending:
            # join the remaining overlapped writes before the ledger
            # commit asserts completeness; tf stays cached until its
            # last consumers (dict_parts write, finalize's checkpoint)
            # are done
            docs_fut.result()
            ds_fut.result()
            dict_parts_fut.result()
            bg_pool.shutdown()
            tf.unpersist()
            mark("bg_writes_join")
        wall_ms = int((time.monotonic() - t0) * 1000)

        # consolidated ledger: one file, one atomic replace, O(1) reads
        # at engine init (vs O(shards) file opens at the 10^6-shard
        # target). Skipped shards keep their prior entries; orphans
        # were dropped above.
        # snapshot lineage: every content-changing commit gets a new
        # monotonic snapshot_id with a parent pointer + bounded history
        # (the Iceberg snapshot contract on plain parquet; a no-op
        # resume re-asserts the current snapshot unchanged).
        prev_manifest: dict = {}
        if os.path.isfile(f"{index_dir}/manifest.json"):
            with open(f"{index_dir}/manifest.json") as fh:
                prev_manifest = json.load(fh)
        prev_snap = int(prev_manifest.get("snapshot_id", 0))
        snap = prev_snap + 1 if changed or not prev_snap else prev_snap

        built = {}
        if metrics_fut is not None:
            built = metrics_fut.result()
            metrics_pool.shutdown()
        mark("shard_metrics")
        # append mode keeps every untouched shard's entry; full mode
        # keeps only shards present in the input (orphans dropped)
        entries = {
            s: e for s, e in done.items() if append or s in shard_fp
        }
        for s in pending:
            m = built.get(s, {"n_docs": 0, "n_postings": 0, "bytes": 0})
            entries[s] = {
                "shard": s,
                "input_fingerprint": shard_fp[s],
                "status": "done",
                "n_docs": m["n_docs"],
                "n_postings": m["n_postings"],
                "bytes_compressed": m["bytes"],
                "wall_ms": wall_ms,
                "snapshot_id": snap,
                # avgdl in force when this shard's block-max metadata
                # was computed; the WAND path disables block pruning
                # (falls back to exact TAAT) if global avgdl drifted.
                "avgdl_at_build": avgdl,
                # per-field (n_docs, sum_dl) of THIS shard: later
                # builds derive global avgdl/corpus_stats by summing
                # ledger entries instead of scanning doc_stats
                "field_stats": delta_field_stats.get(s, {}),
            }
        self._write_ledger(index_dir, entries)
        total_docs = sum(v["n_docs"] for v in built.values())
        total_postings = sum(v["n_postings"] for v in built.values())
        metrics.update(
            n_docs=total_docs,
            n_postings=total_postings,
            bytes_compressed=sum(v["bytes"] for v in built.values()),
            wall_sec=wall_ms / 1000,
            docs_per_sec=total_docs / max(wall_ms / 1000, 1e-9),
            postings_per_sec=total_postings / max(wall_ms / 1000, 1e-9),
        )
        history = list(prev_manifest.get("snapshots", []))
        if snap != prev_snap or not history:
            history.append(
                {
                    "snapshot_id": snap,
                    "parent_snapshot_id": prev_snap or None,
                    "shards_built": len(pending),
                    "orphans_removed": len(orphans),
                    "wall_ms": wall_ms,
                }
            )
            history = history[-20:]
        manifest_tmp = f"{index_dir}/manifest.json.tmp"
        with open(manifest_tmp, "w") as fh:
            json.dump(
                {
                    "fields": self.fields,
                    "with_positions": self.with_positions,
                    "synonyms": self.synonyms,
                    "docs_per_shard": self.docs_per_shard,
                    "block_size": self.block_size,
                    "k1": self.k1,
                    "b": self.b,
                    "snapshot_id": snap,
                    "parent_snapshot_id": prev_snap or None,
                    "snapshots": history,
                    # full map incl. shards untouched by an append delta
                    "shard_fingerprints": {
                        s: e["input_fingerprint"] for s, e in entries.items()
                    },
                    "metrics": metrics,
                },
                fh,
                indent=2,
            )
        os.replace(manifest_tmp, f"{index_dir}/manifest.json")
        return metrics

    def _finalize_stats(
        self,
        spark: SparkSession,
        index_dir: str,
        pending: list[int] | None = None,
        old_neg: DataFrame | None = None,
        field_totals: dict[str, list[int]] | None = None,
        delta_parts: DataFrame | None = None,
    ) -> str:
        """(Re)derive global dictionary + corpus_stats. Returns the
        mode used ("incremental" or "full").

        Incremental (``pending`` is not None): merge the CHANGED
        shards' dict_parts into the existing dictionary — prior
        dictionary rows, minus the changed shards' old contributions
        (``old_neg``, captured before the wipe), plus the rebuilt
        shards' new partials (a shard-pruned dict_parts scan) — summed
        by key, zero-df terms dropped. Input read is O(delta shards) +
        one pass over the prior dictionary (O(vocab), unavoidable for
        a merge), NOT O(all shards' dict_parts): a streaming
        micro-batch commits in time proportional to its own size. The
        swap is marker-bracketed like compaction (crash-safe).

        corpus_stats: written from ``field_totals`` (per-shard sums
        carried in the ledger) when available — no doc_stats scan;
        falls back to the full aggregation for legacy ledgers.
        """
        mode = "incremental" if pending is not None else "full"
        trace = os.environ.get("GXDIDX_TRACE") == "1"
        _last = [time.monotonic()]

        def fmark(stage: str) -> None:
            if trace:
                now = time.monotonic()
                print(
                    f"[finalize-trace] {stage}: {now - _last[0]:.1f}s",
                    file=sys.stderr,
                )
                _last[0] = now

        if pending is not None:
            prior = spark.read.parquet(f"{index_dir}/dictionary").select(
                "field", "term", "term_id", "df", "cf"
            )
            merged = prior
            if old_neg is not None:
                merged = merged.unionByName(old_neg)
            if pending:
                # the caller passes the delta's dict-part rows as the
                # IN-MEMORY DataFrame it just computed (lineage over
                # the cached tokenizer output) so this merge never
                # waits on the backgrounded dict_parts artifact write;
                # the artifact-read fallback (equivalent content: the
                # pending shards' partitions were wiped and freshly
                # rewritten this build) serves external callers.
                delta = (
                    delta_parts
                    if delta_parts is not None
                    else spark.read.parquet(
                        f"{index_dir}/dict_parts"
                    ).filter(F.col("shard").isin(sorted(pending)))
                ).select("field", "term", "term_id", "df", "cf")
                merged = merged.unionByName(delta)
            dict_df = (
                merged.groupBy("field", "term", "term_id")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                .filter(F.col("df") > 0)
            )
        else:
            # full mode: all shards' partials. ``delta_parts`` (when
            # the caller proves it covers every shard — fresh build,
            # no kept entries) is the in-memory lineage over the
            # cached tokenizer output; otherwise read the artifact.
            parts = (
                delta_parts
                if delta_parts is not None
                else spark.read.parquet(f"{index_dir}/dict_parts")
            )
            dict_df = parts.groupBy("field", "term", "term_id").agg(
                F.sum("df").alias("df"), F.sum("cf").alias("cf")
            )
        # one source aggregation feeds the collision check, the
        # dictionary write AND the reversed dictionary. localCheckpoint
        # (not persist): the vocab is computed once (small: distinct
        # terms, not postings) AND lineage is severed — the incremental
        # branch's lineage reads the pre-swap dictionary path, so a
        # recompute-after-swap would double-apply the delta.
        dict_df = dict_df.localCheckpoint(eager=True)
        fmark("dict_agg+ckpt")
        try:
            # term_id collision check (functions/hashing.py): two
            # distinct terms hashing to one id would silently merge
            # posting lists. One global agg on the checkpointed vocab
            # (distinct ids == distinct terms <=> injective), not a
            # groupBy+filter shuffle — finalize is job-count-bound.
            # The check runs CONCURRENTLY with the artifact writes
            # below (guide §2.6): every write lands in a tmp dir and
            # publication (the renames) is gated on the check passing,
            # so a clash still aborts before any artifact is replaced.
            def check_clash() -> None:
                row = dict_df.agg(
                    F.count_distinct(
                        F.struct("field", "term_id")
                    ).alias("ids"),
                    F.count_distinct(F.struct("field", "term")).alias(
                        "terms"
                    ),
                ).first()
                if row["ids"] != row["terms"]:
                    raise RuntimeError(
                        f"{row['terms'] - row['ids']} term_id collisions "
                        "detected — widen term_id (hashing.py) before "
                        "using this index"
                    )

            tmp_dict = f"{index_dir}/.dictionary_compact_tmp"
            tmp_rev = f"{index_dir}/.dictionary_rev_tmp"
            tmp_ngrams = f"{index_dir}/.dictionary_ngrams_tmp"
            tmp_cs = f"{index_dir}/.corpus_stats_tmp"

            def write_dictionary() -> None:
                dict_df.write.mode("overwrite").parquet(tmp_dict)

            # reversed-term dictionary: the Lucene
            # ReversedWildcardFilter analog — leading wildcards (*fix)
            # become a PREFIX range scan over rev_term, pushed to the
            # parquet source like the forward prefix path
            # (query.expand_suffix). Sorted by (field, rev_term) so
            # row-group min/max stats prune the range.
            def write_rev() -> None:
                (
                    dict_df.select(
                        "field",
                        F.reverse(F.col("term")).alias("rev_term"),
                        "term",
                        "term_id",
                        "df",
                    )
                    .sortWithinPartitions("field", "rev_term")
                    .write.mode("overwrite")
                    .parquet(tmp_rev)
                )

            # character-3-gram -> term artifact: sub-linear fuzzy
            # candidate generation (VERDICT r4 #6). expand_fuzzy's
            # uncached path previously scanned the full same-field
            # length band per fuzzy token; with this artifact the scan
            # is a gram IN-list (<= len(term)-2 grams) + length band,
            # range-partitioned AND sorted by (field, gram) so both
            # file- and row-group-level min/max stats prune the
            # lookup. Derived from the SAME checkpointed vocab as
            # dictionary/dictionary_rev each finalize, so it can never
            # go stale vs the dictionary (incremental appends re-derive
            # it too — O(vocab), the same cost class as the dictionary
            # swap itself). ~(avg term len - 2) x dictionary rows of
            # (field, gram, term, df) — small next to postings.
            def write_ngrams() -> None:
                (
                    dict_df.filter(F.length("term") >= 3)
                    .select(
                        "field",
                        "term",
                        "df",
                        F.explode(
                            F.array_distinct(
                                F.expr(
                                    "transform(sequence(1, length(term) - 2),"
                                    " i -> substring(term, i, 3))"
                                )
                            )
                        ).alias("gram"),
                    )
                    .repartitionByRange(F.col("field"), F.col("gram"))
                    .sortWithinPartitions("field", "gram")
                    .write.mode("overwrite")
                    .parquet(tmp_ngrams)
                )

            def write_corpus_stats() -> None:
                if field_totals is not None:
                    rows = [
                        (f, int(t[0]), int(t[1]), t[1] / t[0])
                        for f, t in sorted(field_totals.items())
                        if t[0]
                    ]
                    schema = T.StructType(
                        [
                            T.StructField("field", T.StringType(), False),
                            T.StructField("n_docs", T.LongType(), False),
                            T.StructField("sum_dl", T.LongType(), False),
                            T.StructField("avgdl", T.DoubleType(), False),
                        ]
                    )
                    # Arrow path (pandas), NOT createDataFrame(list): a
                    # python list becomes a 32-partition python RDD whose
                    # write spawns a Python worker per partition (~7s for
                    # one row on local[32]); the pandas local relation
                    # stays JVM-side.
                    pdf = pd.DataFrame(
                        rows, columns=["field", "n_docs", "sum_dl", "avgdl"]
                    )
                    spark.createDataFrame(pdf, schema).coalesce(
                        1
                    ).write.mode("overwrite").parquet(tmp_cs)
                else:
                    doc_stats = spark.read.parquet(f"{index_dir}/doc_stats")
                    (
                        doc_stats.groupBy("field")
                        .agg(
                            F.count("*").alias("n_docs"),
                            F.sum("dl").alias("sum_dl"),
                            (F.sum("dl") / F.count("*")).alias("avgdl"),
                        )
                        .write.mode("overwrite")
                        .parquet(tmp_cs)
                    )

            # the clash check and the four artifact writes all consume
            # the checkpointed vocab (corpus_stats only its inputs) and
            # are independent jobs — submit them together so later
            # jobs back-fill executor cores idled by earlier jobs'
            # tails (guide §2.6); finalize is job-count-bound, not
            # data-bound. Everything lands in tmp dirs; the renames
            # below run only after ALL futures (incl. the clash check)
            # succeeded, so an abort leaves every published artifact
            # untouched — strictly more atomic than the sequential
            # direct-overwrite shape this replaces.
            for d in (tmp_dict, tmp_rev, tmp_ngrams, tmp_cs):
                shutil.rmtree(d, ignore_errors=True)
            try:
                with ThreadPoolExecutor(max_workers=5) as pool:
                    futs = [
                        pool.submit(fn)
                        for fn in (
                            check_clash,
                            write_dictionary,
                            write_rev,
                            write_ngrams,
                            write_corpus_stats,
                        )
                    ]
                    for fut in futs:
                        fut.result()
            except BaseException:
                for d in (tmp_dict, tmp_rev, tmp_ngrams, tmp_cs):
                    shutil.rmtree(d, ignore_errors=True)
                raise
            fmark("clash+writes")
            # publish (renames only). The dictionary swap stays
            # marker-bracketed (crash recovery replays it); rev/
            # ngrams/corpus_stats rename into place — they are
            # re-derived whole at every finalize, so a crash between
            # renames is recovered by the next finalize exactly as
            # under the old sequential writes.
            if os.path.isdir(f"{index_dir}/dictionary"):
                old = f"{index_dir}/.dictionary_old"
                shutil.rmtree(old, ignore_errors=True)
                marker = f"{index_dir}/.dictionary_swap.marker"
                with open(marker, "w") as fh:
                    json.dump({"artifact": "dictionary"}, fh)
                os.rename(f"{index_dir}/dictionary", old)
                os.rename(tmp_dict, f"{index_dir}/dictionary")
                os.remove(marker)
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.rename(tmp_dict, f"{index_dir}/dictionary")
            for tmp, name in (
                (tmp_rev, "dictionary_rev"),
                (tmp_ngrams, "dictionary_ngrams"),
                (tmp_cs, "corpus_stats"),
            ):
                shutil.rmtree(f"{index_dir}/{name}", ignore_errors=True)
                os.rename(tmp, f"{index_dir}/{name}")
            fmark("publish")
        finally:
            dict_df.unpersist()  # releases the checkpoint blocks
        return mode

    def _shard_metrics(
        self, spark: SparkSession, index_dir: str, shards: list[int]
    ) -> dict[int, dict]:
        if not shards:
            return {}
        out = self._shard_metrics_arrow(index_dir, shards)
        if out is not None:
            return out
        p = (
            spark.read.parquet(f"{index_dir}/postings")
            .filter(F.col("shard").isin(shards))
            .groupBy("shard")
            .agg(
                F.sum("df").alias("n_postings"),
                F.sum(
                    F.length("docs_buf") + F.length("tfs_buf")
                ).alias("bytes"),
            )
        )
        d = (
            spark.read.parquet(f"{index_dir}/doc_stats")
            .filter(F.col("shard").isin(shards))
            .groupBy("shard")
            .agg(F.count_distinct("doc_id").alias("n_docs"))
        )
        out: dict[int, dict] = {}
        for r in p.join(d, "shard", "outer").collect():
            out[int(r["shard"])] = {
                "n_postings": int(r["n_postings"] or 0),
                "bytes": int(r["bytes"] or 0),
                "n_docs": int(r["n_docs"] or 0),
            }
        return out

    @staticmethod
    def _shard_metrics_arrow(
        index_dir: str, shards: list[int]
    ) -> dict[int, dict] | None:
        """Driver-side twin of the Spark ledger-metrics aggregation.

        The touched shards' postings/doc_stats partitions are one
        small file each (the build's write layout), so for a local
        filesystem the three per-shard aggregates (sum(df), summed
        posting-buffer bytes, distinct doc count) are a bounded
        pyarrow read — no Spark job on the commit critical path. The
        per-shard file-size guard keeps the driver read bounded;
        anything bigger (or any read error / non-local store) falls
        back to the Spark aggregation, which is value-identical.
        """
        max_bytes = int(
            os.environ.get("GXDIDX_ARROW_METRICS_MAX", str(256 << 20))
        )
        try:
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            def _files(art: str, s: int) -> list[str]:
                d = f"{index_dir}/{art}/shard={s}"
                if not os.path.isdir(d):
                    return []
                return [
                    f"{d}/{fn}"
                    for fn in os.listdir(d)
                    if fn.endswith(".parquet")
                ]

            todo: dict[int, tuple[list[str], list[str]]] = {}
            total = 0
            for s in shards:
                pf, df_ = _files("postings", s), _files("doc_stats", s)
                for fp_ in pf + df_:
                    total += os.path.getsize(fp_)
                todo[int(s)] = (pf, df_)
            if total > max_bytes:
                return None
            out: dict[int, dict] = {}
            for s, (pf, df_) in todo.items():
                n_post = by = 0
                for fp_ in pf:
                    t = pq.read_table(
                        fp_, columns=["df", "docs_buf", "tfs_buf"]
                    )
                    if t.num_rows:
                        n_post += int(pc.sum(t.column("df")).as_py() or 0)
                        for col in ("docs_buf", "tfs_buf"):
                            by += int(
                                pc.sum(
                                    pc.binary_length(t.column(col))
                                ).as_py()
                                or 0
                            )
                docs: set = set()
                for fp_ in df_:
                    t = pq.read_table(fp_, columns=["doc_id"])
                    docs.update(t.column("doc_id").to_pylist())
                out[s] = {
                    "n_postings": n_post,
                    "bytes": by,
                    "n_docs": len(docs),
                }
            return out
        except Exception:  # pragma: no cover - fallback to Spark
            return None

    # ------------------------------------------------------------ ledger

    @staticmethod
    def _read_ledger(index_dir: str) -> dict[int, dict]:
        return read_ledger(index_dir)

    @staticmethod
    def _write_ledger(index_dir: str, entries: dict[int, dict]) -> None:
        path = f"{index_dir}/ledger.json"
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({str(s): e for s, e in entries.items()}, fh)
        os.replace(tmp, path)  # atomic commit of the lineage record


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    builder: "IndexBuilder",
    doc_ids,
    assume_dense_shards: bool = False,
) -> dict:
    """Doc-level delete: rebuild ONLY the shards containing the
    tombstoned docs; shards emptied entirely are dropped through the
    orphan path. Everything downstream stays consistent: postings,
    doc store, dictionary (incremental subtract+add merge), corpus
    stats/avgdl, snapshot lineage — and queries on the index exclude
    the deleted docs immediately.

    The reference's only answer to a deleted record is a scheduled
    full rebuild (Indexer.java:83-88 deleteByQuery + re-ingest);
    fingerprints already localize change to shards, so a delete is
    just "rebuild the affected shards from their surviving docs".

    Locating the affected shards costs one column-pruned doc-store
    scan with the doc_id IN-list pushed down; pass
    ``assume_dense_shards=True`` when shard == doc_id //
    manifest.docs_per_shard (the layout every job in this repo uses)
    to also push a shard IN-list — partition-pruned, O(tombstones).

    Idempotent: deleting already-absent ids is a no-op (their shards'
    fingerprints are unchanged, so resume skips them).

    Holds the writer lock around the WHOLE read-plan-rebuild sequence
    (ADVICE r5: the scan and the survivor checkpoint previously ran
    before the build acquired the lock, so a concurrent writer could
    commit between them and have its changes clobbered by the stale
    snapshot's rebuild).
    """
    ids = sorted({int(i) for i in doc_ids})
    if not ids:
        return {"docs_deleted": 0, "shards_rebuilt": 0, "shards_dropped": 0}
    with _WriterLock(index_dir):
        store = spark.read.parquet(f"{index_dir}/docs")
        scoped = store
        candidates: list[int] | None = None
        if assume_dense_shards:
            with open(f"{index_dir}/manifest.json") as fh:
                dps = int(json.load(fh).get("docs_per_shard") or 0)
            if dps:
                candidates = sorted({i // dps for i in ids})
                scoped = store.filter(F.col("shard").isin(candidates))
        # one pass answers both questions (tombstones per shard AND
        # shard totals): the former two sequential jobs scanned the
        # same scoped rows twice
        hit_query = (
            scoped.groupBy("shard")
            .agg(
                F.count("*").alias("n"),
                F.count(
                    F.when(F.col("doc_id").isin(ids), F.lit(1))
                ).alias("n_del"),
            )
            .filter(F.col("n_del") > 0)
        )
        surv_all = None
        if candidates is not None:
            # dense layout: the candidate shards are known driver-side
            # without the tombstone counts, so the survivor snapshot
            # (and its fingerprint agg, which gates the rebuild) run
            # CONCURRENTLY with the count job instead of behind it
            # (guide §2.6). Emptied/unaffected candidate shards carry
            # zero/unchanged rows and fall out via the drop path / the
            # fingerprint gate exactly as before. Known cost shift: a
            # fully-no-op replay (every id already absent) now runs
            # the snapshot/fp jobs it will discard — wall time is
            # unchanged (they run concurrent with the count that
            # discovers the no-op) and the work is bounded by the
            # candidate shards, but it is no longer a single job.
            surv_q = scoped.filter(~F.col("doc_id").isin(ids))
            with ThreadPoolExecutor(max_workers=2) as pool:
                surv_fut = pool.submit(surv_q.localCheckpoint)
                fp_fut = pool.submit(builder._fp_map, surv_q)
                hit = hit_query.collect()
                surv_all = surv_fut.result()
                surv_fp = fp_fut.result()
        else:
            hit = hit_query.collect()
        if not hit:
            return {
                "docs_deleted": 0, "shards_rebuilt": 0, "shards_dropped": 0
            }
        affected = {int(r["shard"]): int(r["n_del"]) for r in hit}
        totals = {int(r["shard"]): int(r["n"]) for r in hit}
        emptied = {s for s, n in affected.items() if n == totals[s]}
        rebuild = sorted(set(affected) - emptied)
        # survivors materialize BEFORE the build wipes their partitions
        if surv_all is not None:
            survivors = (
                surv_all.filter(F.col("shard").isin(rebuild))
                if rebuild
                else _empty_like(spark, store.schema)
            )
            pre_fp = {s: f for s, f in surv_fp.items() if s in rebuild}
        else:
            survivors = (
                store.filter(F.col("shard").isin(rebuild))
                .filter(~F.col("doc_id").isin(ids))
                .localCheckpoint()
                if rebuild
                else _empty_like(spark, store.schema)
            )
            pre_fp = None
        metrics = builder._build_locked(
            survivors,
            index_dir,
            resume=True,
            append=True,
            drop_shards=emptied,
            precomputed_fp=pre_fp,
        )
    metrics.update(
        docs_deleted=sum(affected.values()),
        shards_rebuilt=len(rebuild),
        shards_dropped=len(emptied),
    )
    return metrics


def update_docs(
    spark: SparkSession,
    index_dir: str,
    builder: "IndexBuilder",
    updates: dict[int, dict],
    assume_dense_shards: bool = False,
) -> dict:
    """Atomic document update (Solr's atomic update, ``set``
    semantics): per-doc partial field updates re-index ONLY the
    shards containing the touched docs — the point-mutation
    counterpart to ``delete_docs``' shard-scoped rebuild (the
    reference's only answer to a changed record is the scheduled full
    re-ingest, Indexer.java:83-88).

    ``updates`` maps doc_id -> {column: new value} over doc-store
    columns (content and/or stored attributes). A ``None`` value
    keeps the old value (coalesce merge) — removing a field is not
    supported. Ids absent from the index are ignored, like
    ``delete_docs`` (idempotence over replays beats erroring in a
    pipeline). Updates are DRIVER-SIDE point data by contract (a
    handful of docs); bulk mutation is a rebuild, not N atomic
    updates.

    When an update touches ``content``, ``content_sha256`` is
    recomputed so the shard fingerprint changes and the resume path
    rebuilds exactly the touched shards (and a replay against an
    already-updated index is a no-op). Updates to OTHER indexed
    fields (path/lang-style) change the fingerprint too — the shard
    row hash covers every indexed field's value (ADVICE r5 high: it
    previously hashed only content_sha256, so a lang-only update
    reported success while postings and the doc store silently kept
    the old value). Postings, dictionary partials, df/avgdl, block
    maxima and the doc store all refresh through the same incremental
    finalize as any shard rebuild.

    Two execution classes, chosen by what the update touches:

    - Any INDEXED field (the manifest's analyzer map, e.g.
      ``content``) -> the touched shards rebuild through the builder
      (fingerprint changes via the recomputed ``content_sha256``);
      postings, dictionary, df/avgdl, block maxima all refresh.
    - STORED-ONLY attributes (rank/facet columns) -> the Lucene
      ``updateDocValues`` analog: postings and stats are untouched by
      construction, so ONLY the affected doc-store shard partitions
      rewrite, committed with the same marker-bracketed atomic swap
      compaction uses (crash mid-swap replays on next open). No
      re-analysis, no finalize — O(touched shards) I/O.

    A single call mixing both classes takes the rebuild path for
    everything (correct, just not minimal).

    Holds the writer lock around the WHOLE read-merge-write sequence
    in both execution classes (ADVICE r5: the affected-shard scan and
    the doc-store merge previously ran before the lock, so a
    concurrent compaction/update could commit in the gap and have its
    rows clobbered by the stale merged snapshot).

    -> builder metrics + {"docs_updated": n, "shards_rebuilt": n}.
    """
    _recover_compaction(index_dir)
    bad = sorted({c for u in updates.values() for c in u}
                 & {"doc_id", "shard"})
    if bad:
        raise ValueError(f"cannot update identity columns {bad}")
    ids = sorted({int(i) for i in updates})
    if not ids:
        return {"docs_updated": 0, "shards_rebuilt": 0}
    with _WriterLock(index_dir):
        return _update_docs_locked(
            spark, index_dir, builder, updates, ids, assume_dense_shards
        )


def _update_docs_locked(
    spark: SparkSession,
    index_dir: str,
    builder: "IndexBuilder",
    updates: dict[int, dict],
    ids: list[int],
    assume_dense_shards: bool,
) -> dict:
    """Body of ``update_docs``; caller holds the writer lock."""
    store = spark.read.parquet(f"{index_dir}/docs")
    store_types = {f.name: f.dataType for f in store.schema.fields}
    upd_cols = sorted({c for u in updates.values() for c in u})
    for c in upd_cols:
        if c not in store_types:
            raise ValueError(
                f"update column {c!r} is not in the doc store "
                f"(has: {sorted(store_types)})"
            )
    with open(f"{index_dir}/manifest.json") as fh:
        manifest = json.load(fh)
    indexed = set(manifest.get("fields") or {})
    rebuild_class = bool(set(upd_cols) & indexed)
    scoped = store
    candidates: list[int] | None = None
    if assume_dense_shards:
        dps = int(manifest.get("docs_per_shard") or 0)
        if dps:
            candidates = sorted({i // dps for i in ids})
            scoped = store.filter(F.col("shard").isin(candidates))
    # one job yields the affected shards AND the updated-doc count
    # (doc_id is unique in the store, so rows hit == docs updated);
    # the former shape paid a distinct-collect here plus a semi-join
    # count after the merge
    hit_query = (
        scoped.filter(F.col("doc_id").isin(ids))
        .groupBy("shard")
        .agg(F.count("*").alias("n"))
    )
    upd_pdf = pd.DataFrame(
        [
            {"doc_id": i, **{c: updates[i].get(c) for c in upd_cols}}
            for i in ids
        ]
    )
    upd = spark.createDataFrame(upd_pdf).alias("u")

    def _merged_over(rows_df: DataFrame) -> DataFrame:
        m = rows_df.alias("s").join(
            F.broadcast(upd), "doc_id", "left"
        ).select(
            "doc_id",
            *[
                (
                    F.coalesce(
                        F.col(f"u.{c}").cast(store_types[c]),
                        F.col(f"s.{c}"),
                    )
                    if c in upd_cols
                    else F.col(f"s.{c}")
                ).alias(c)
                for c in store_types
                if c != "doc_id"
            ],
        )
        if "content" in upd_cols and "content_sha256" in store_types:
            m = m.withColumn(
                "content_sha256",
                F.sha2(F.coalesce("content", F.lit("")), 256),
            )
        return m

    # materialize the merged rows BEFORE the rewrite wipes the source
    # partitions (same self-read hazard delete_docs guards against)
    if candidates is not None:
        # dense layout: the candidate shards are known without the hit
        # counts, so the merged snapshot (and, for the rebuild class,
        # its fingerprint agg) run CONCURRENTLY with the count job
        # (guide §2.6). Both are then narrowed to the truly affected
        # shards, keeping metrics and the resume gate byte-identical
        # (a replayed identical update still skips, shards_built == 0).
        merged_q = _merged_over(scoped)
        with ThreadPoolExecutor(max_workers=2) as pool:
            ck_fut = pool.submit(merged_q.localCheckpoint)
            fp_fut = (
                pool.submit(builder._fp_map, merged_q)
                if rebuild_class
                else None
            )
            hit = hit_query.collect()
            merged_all = ck_fut.result()
            fp_all = fp_fut.result() if fp_fut is not None else None
        affected = sorted(int(r["shard"]) for r in hit)
        n_updated = int(sum(r["n"] for r in hit))
        if not affected:
            return {"docs_updated": 0, "shards_rebuilt": 0}
        merged = merged_all.filter(F.col("shard").isin(affected))
        pre_fp = (
            {s: f for s, f in fp_all.items() if s in affected}
            if fp_all is not None
            else None
        )
    else:
        hit = hit_query.collect()
        affected = sorted(int(r["shard"]) for r in hit)
        n_updated = int(sum(r["n"] for r in hit))
        if not affected:
            return {"docs_updated": 0, "shards_rebuilt": 0}
        merged = _merged_over(
            store.filter(F.col("shard").isin(affected))
        ).localCheckpoint()
        pre_fp = None
    if rebuild_class:
        metrics = builder._build_locked(
            merged, index_dir, resume=True, append=True,
            precomputed_fp=pre_fp,
        )
    else:
        # stored-only attrs: docvalues-style doc-store partition
        # rewrite; postings/stats untouched (caller holds the lock).
        # Shards are independent (per-shard swap markers) — rewrite
        # them concurrently (guide §2.6).
        def _rewrite(s: int) -> None:
            rows = merged.filter(F.col("shard") == s).drop("shard")
            key = f"docs__shard={s}"
            tmp = f"{index_dir}/.{key}_compact_tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            rows.repartition(1).write.mode("overwrite").parquet(tmp)
            _swap_dir_commit(index_dir, f"docs/shard={s}", key)

        with ThreadPoolExecutor(max_workers=4) as pool:
            list(pool.map(_rewrite, affected))
        metrics = {}
    metrics.update(docs_updated=n_updated, shards_rebuilt=len(affected))
    return metrics


def attach_stored_column(
    spark: SparkSession,
    index_dir: str,
    values: DataFrame,
    column: str,
) -> dict:
    """Bulk docvalues attach: add (or replace) ONE stored doc-store
    column across the whole index from a ``(doc_id, <column>)``
    DataFrame — the reference's precomputed-rank-table pattern
    (GxdResultIndexer.java:869-883 computes R_BY_* sort ranks in a
    separate pass, then every query sorts on them) as a first-class
    index operation: compute ranks with any Spark window/agg job,
    attach them here, and ``sorted_matches``/facets/stats serve the
    new column immediately. Postings, dictionary and corpus stats are
    untouched by construction — this is ``update_docs``' docvalues
    path at corpus scale.

    Scale shape: ONE distributed job — the doc store left-joins the
    values on doc_id (co-partitioned by repartitioning on shard
    before the partitioned write, so each output partition writes
    once), lands in a tmp dir, and the whole ``docs`` artifact swaps
    in with the compaction marker protocol (crash mid-swap replays on
    next open). Docs absent from ``values`` get NULL (Solr's missing
    docvalue). ``values`` must not contain duplicate doc_ids (raises
    — a dup would fan out the join and duplicate store rows).

    Engines opened before the attach keep reading their old relation
    plans — re-open after, exactly like compaction.
    """
    if set(values.columns) != {"doc_id", column}:
        raise ValueError(
            f"values must have exactly (doc_id, {column!r}) columns, "
            f"got {values.columns}"
        )
    if column in ("doc_id", "shard"):
        raise ValueError(f"cannot attach identity column {column!r}")
    _recover_compaction(index_dir)
    with _WriterLock(index_dir):
        store = spark.read.parquet(f"{index_dir}/docs")
        vals = values.localCheckpoint()
        n_vals = vals.count()
        if vals.select("doc_id").distinct().count() != n_vals:
            raise ValueError("values contains duplicate doc_ids")
        base = store.drop(column) if column in store.columns else store
        joined = base.join(vals, "doc_id", "left")
        tmp = f"{index_dir}/.docs_compact_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        (
            joined.repartition("shard")
            .write.partitionBy("shard")
            .parquet(tmp)
        )
        _swap_dir_commit(index_dir, "docs", "docs")
        # honest count: values for ids absent from the index dropped
        # through the left join (column-pruned scan of the new store)
        n_attached = (
            spark.read.parquet(f"{index_dir}/docs")
            .filter(F.col(column).isNotNull())
            .count()
        )
    return {"column": column, "docs_with_value": int(n_attached)}


def backup_index(index_dir: str, dest_dir: str) -> dict:
    """Consistent point-in-time copy of a committed index — the Solr
    admin backup analog (the reference has no backup story beyond
    re-running the build). Holds the writer lock for the duration so
    no build/compaction/update mutates artifacts mid-copy; readers
    are unaffected (they never take the lock). Pending swaps are
    replayed first, so the copy is always a committed snapshot.

    The lock file and in-flight swap temporaries (dot-prefixed) are
    excluded — a restore must not resurrect another writer's lock
    state. Local-filesystem ``copytree`` here; on a cluster the same
    artifact set copies via distcp / object-store copy — the layout
    is plain parquet + json either way.

    -> {"files": n, "bytes": n}."""
    if os.path.exists(dest_dir) and os.listdir(dest_dir):
        raise ValueError(f"backup destination {dest_dir!r} is not empty")
    with _WriterLock(index_dir):
        _recover_compaction(index_dir)
        os.makedirs(dest_dir, exist_ok=True)
        for name in sorted(os.listdir(index_dir)):
            if name.startswith(".") or name == "_writer.lock":
                continue
            src = f"{index_dir}/{name}"
            dst = f"{dest_dir}/{name}"
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy2(src, dst)
        n_files = n_bytes = 0
        for root, _dirs, files in os.walk(dest_dir):
            for f in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return {"files": n_files, "bytes": n_bytes}


def restore_index(backup_dir: str, dest_dir: str) -> dict:
    """Restore a ``backup_index`` snapshot into ``dest_dir`` (must be
    empty/absent — restoring over a live index is refused rather than
    half-merged). The restored directory is immediately queryable and
    writable; it acquires its own fresh writer-lock file on first
    mutation."""
    if not os.path.isfile(f"{backup_dir}/manifest.json"):
        raise ValueError(f"{backup_dir!r} is not an index backup")
    if os.path.exists(dest_dir) and os.listdir(dest_dir):
        raise ValueError(f"restore destination {dest_dir!r} is not empty")
    os.makedirs(dest_dir, exist_ok=True)
    n = 0
    for name in sorted(os.listdir(backup_dir)):
        src = f"{backup_dir}/{name}"
        dst = f"{dest_dir}/{name}"
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy2(src, dst)
        n += 1
    return {"artifacts": n}


def _swap_dir_commit(index_dir: str, rel: str, key: str) -> None:
    """Marker-bracketed atomic directory swap (the compaction
    protocol, nested-path variant): replace ``{index_dir}/{rel}``
    with the fully-written ``.{key}_compact_tmp``. ``key`` must be
    ``rel`` with '/' encoded as '__' so ``_recover_compaction`` can
    replay an interrupted swap on next open."""
    src = f"{index_dir}/{rel}"
    tmp = f"{index_dir}/.{key}_compact_tmp"
    old = f"{index_dir}/.{key}_old"
    marker = f"{index_dir}/.{key}_swap.marker"
    shutil.rmtree(old, ignore_errors=True)
    with open(marker, "w") as fh:
        fh.write(rel)
    if os.path.isdir(src):
        os.rename(src, old)
    os.rename(tmp, src)
    shutil.rmtree(old, ignore_errors=True)
    os.remove(marker)


def _field_totals(
    kept_entries: dict[int, dict],
    delta_field_stats: dict[int, dict[str, dict]],
) -> dict[str, list[int]]:
    """Global per-field [n_docs, sum_dl] = kept shards' ledger
    field_stats + this build's delta aggregates — replaces the
    all-shards doc_stats scan with O(1) driver arithmetic."""
    totals: dict[str, list[int]] = {}
    for e in kept_entries.values():
        for f, st in e["field_stats"].items():
            t = totals.setdefault(f, [0, 0])
            t[0] += int(st["n_docs"])
            t[1] += int(st["sum_dl"])
    for per in delta_field_stats.values():
        for f, st in per.items():
            t = totals.setdefault(f, [0, 0])
            t[0] += st["n_docs"]
            t[1] += st["sum_dl"]
    return totals


class ConcurrentWriteError(RuntimeError):
    """Another live writer holds this index's writer lock."""


class _WriterLock:
    """Single-writer guard for an index directory.

    The Iceberg analog is optimistic snapshot commit; on a plain
    filesystem we hold an exclusive ``flock`` on a persistent lock
    file. The kernel owns the lock state, which removes both failure
    modes of pid-stamped lock files in one stroke: a crashed writer's
    lock releases automatically (no staleness, no /proc liveness
    check), and there is no delete/recreate steal window (the
    read-dead-pid -> remove -> O_EXCL dance has a TOCTOU race where
    two stealers can each remove the other's freshly created lock and
    both proceed). The pid is written into the file for diagnostics
    only; the lock file itself is never deleted.

    Readers never take the lock: artifacts commit via atomic renames
    and the manifest/ledger are replaced last, so a reader sees either
    the old or the new snapshot, never a torn one. On a multi-writer
    cluster against shared object storage, replace this with the
    catalog's optimistic commit (Iceberg) or a lock service — flock
    is a same-host primitive, which is exactly the scope a single
    Spark driver mutating one index needs.
    """

    def __init__(self, index_dir: str):
        self.path = f"{index_dir}/_writer.lock"
        self._fd: int | None = None

    def __enter__(self) -> "_WriterLock":
        import fcntl

        fd = os.open(self.path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            owner = "unknown"
            try:
                with open(self.path) as fh:
                    owner = json.load(fh).get("pid", "unknown")
            except (OSError, ValueError):
                pass
            os.close(fd)
            raise ConcurrentWriteError(
                f"index is being written by live pid {owner} ({self.path})"
            ) from None
        os.ftruncate(fd, 0)
        os.write(fd, json.dumps({"pid": os.getpid()}).encode())
        self._fd = fd
        return self

    def __exit__(self, *exc) -> None:
        import fcntl

        if self._fd is not None:
            fcntl.flock(self._fd, fcntl.LOCK_UN)
            os.close(self._fd)
            self._fd = None


def read_ledger(index_dir: str) -> dict[int, dict]:
    """Consolidated ledger (single json) with fallback to the legacy
    per-shard ledger/ directory from pre-consolidation builds."""
    path = f"{index_dir}/ledger.json"
    if os.path.isfile(path):
        with open(path) as fh:
            return {int(s): e for s, e in json.load(fh).items()}
    out: dict[int, dict] = {}
    ldir = f"{index_dir}/ledger"
    if not os.path.isdir(ldir):
        return out
    for fn in os.listdir(ldir):
        if fn.endswith(".json"):
            with open(f"{ldir}/{fn}") as fh:
                e = json.load(fh)
            out[int(e["shard"])] = e
    return out


def _artifact_shards(index_dir: str) -> set[int]:
    """Shard ids present in any artifact's partition directories."""
    out: set[int] = set()
    for art in ("docs", "doc_stats", "dict_parts", "postings"):
        d = f"{index_dir}/{art}"
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            if name.startswith("shard="):
                try:
                    out.add(int(name.split("=", 1)[1]))
                except ValueError:
                    pass
    return out


def _recover_compaction(index_dir: str) -> None:
    """Finish or roll back a compaction swap interrupted mid-rename.

    The swap window (src renamed away, replacement not yet in place)
    is bracketed by a marker file; on open we replay: prefer the fully
    written tmp (the marker is only written after tmp commits), else
    restore the old directory.
    """
    if not os.path.isdir(index_dir):
        return
    for name in os.listdir(index_dir):
        if not (name.startswith(".") and name.endswith("_swap.marker")):
            continue
        art = name[1 : -len("_swap.marker")]
        # "__" encodes a nested path (a doc-store shard partition
        # swapped by update_docs' attr-only path); plain artifact
        # names never contain it
        src = f"{index_dir}/{art.replace('__', '/')}"
        tmp = f"{index_dir}/.{art}_compact_tmp"
        old = f"{index_dir}/.{art}_old"
        if not os.path.isdir(src):
            if os.path.isdir(tmp):
                os.rename(tmp, src)
            elif os.path.isdir(old):
                os.rename(old, src)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        os.remove(f"{index_dir}/{name}")


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Segment compaction — the reference's end-of-build Solr `optimize`
    (Indexer.java:126-129) / Iceberg `rewrite_data_files` analog:
    rewrite each artifact coalesced to one file per shard partition so
    query-time scans open O(shards) files instead of O(shards x tasks).
    Content is unchanged (queries return identical results). The swap
    window is bracketed by a marker file and replayed by
    ``_recover_compaction`` on the next open, so a crash mid-swap
    never strands the index without an artifact. Holds the writer
    lock: compaction never races a build.
    """
    with _WriterLock(index_dir):
        return _compact_locked(spark, index_dir)


def _compact_locked(spark: SparkSession, index_dir: str) -> dict:
    _recover_compaction(index_dir)
    stats: dict = {}
    for art in ("postings", "doc_stats", "dict_parts", "docs"):
        src = f"{index_dir}/{art}"
        if not os.path.isdir(src):
            continue
        before = sum(
            1
            for root, _d, files in os.walk(src)
            for f in files
            if f.endswith(".parquet")
        )
        tmp = f"{index_dir}/.{art}_compact_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        # sort by the query-pushed keys inside each shard file so
        # parquet row-group min/max stats prune the term_id IN-list
        # scans (a query then reads only the row groups holding its
        # terms, not the whole shard file).
        sort_keys = (
            ["shard", "field", "term_id"]
            if art == "postings"
            else ["shard"]
        )
        (
            spark.read.parquet(src)
            .repartition("shard")
            .sortWithinPartitions(*sort_keys)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 0)
            .partitionBy("shard")
            .parquet(tmp)
        )
        old = f"{index_dir}/.{art}_old"
        shutil.rmtree(old, ignore_errors=True)
        marker = f"{index_dir}/.{art}_swap.marker"
        with open(marker, "w") as fh:
            json.dump({"artifact": art}, fh)
        os.rename(src, old)
        os.rename(tmp, src)
        os.remove(marker)
        shutil.rmtree(old, ignore_errors=True)
        after = sum(
            1
            for root, _d, files in os.walk(src)
            for f in files
            if f.endswith(".parquet")
        )
        stats[art] = {"files_before": before, "files_after": after}
    return stats
