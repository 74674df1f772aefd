"""Per-shard top-k scoring: vectorized exact TAAT and block-max WAND.

Both run inside the ``applyInPandas`` worker of operators/query.py —
one call per shard (SURVEY.md §3.4 scatter-gather). Posting segments
are self-contained: per-posting doc lengths (the Lucene-norms analog)
travel inside the blocks, so scoring needs no doc_stats side lookup
and the query path shuffles ONLY the query terms' postings.

* ``taat`` (term-at-a-time) decodes every posting of every query term
  and accumulates scores fully vectorized (np.unique + np.add.at).
  It is the *exact* reference path — no pruning — and the shape that
  keeps all hot loops in numpy.
* ``wand`` is a fully-vectorized block-max MaxScore (Turtle & Flood
  1995 + Ding & Suel WWW'11 block bounds, both public): term upper
  bounds split lists into essential/non-essential, block-max metadata
  + skip pointers bound candidates without decoding, and only the
  blocks that still hold survivors are decoded. Exactness
  property-tested against ``taat`` (SURVEY.md §5.4).

Scores are float64 with Lucene formulas from functions/bm25.py;
tiebreak (score desc, doc_id asc) everywhere.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from gxdindexer_spark.functions import bm25
from gxdindexer_spark.functions.codec import PostingList, posting_list_from_row


@dataclass
class QuerySpec:
    """Broadcast query plan: per-(field, term_id) idf already multiplied
    by the field weight; per-field avgdl; BM25 params; boolean clauses.

    ``must_groups``: one entry per '+token' — a set of (field, term_id)
    alternatives; a doc must match AT LEAST ONE member of EVERY group
    (Lucene BooleanQuery MUST over multi-field term expansion).
    ``must_not``: (field, term_id) pairs that exclude a doc outright.
    Boolean queries score exactly like pure should-queries over the
    scoring terms; excluded/unmatched docs are filtered afterward.
    """

    term_weights: dict[tuple[str, int], float]  # (field, term_id) -> w*idf
    avgdl: dict[str, float]
    k1: float = bm25.K1
    b: float = bm25.B
    must_groups: tuple = ()  # tuple[frozenset[(field, term_id)], ...]
    must_not: frozenset = frozenset()  # frozenset[(field, term_id)]

    @property
    def is_boolean(self) -> bool:
        return bool(self.must_groups) or bool(self.must_not)


def _plists(postings: pd.DataFrame, spec: QuerySpec):
    """postings rows -> [(field, term_id, weight, PostingList)] for
    terms present in the spec, skipping zero-weight entries."""
    out = []
    for r in postings.itertuples():
        w = spec.term_weights.get((r.field, int(r.term_id)), 0.0)
        if w <= 0.0:
            continue
        out.append(
            (
                r.field,
                r.term_id,
                w,
                posting_list_from_row(str(r.term_id), r._asdict()),
            )
        )
    return out


def _topk_from_scores(
    doc_ids: np.ndarray, scores: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    if doc_ids.size == 0:
        return doc_ids, scores
    if doc_ids.size > k:
        # keep every candidate >= k-th score so ties break on doc_id
        thresh = np.partition(scores, doc_ids.size - k)[doc_ids.size - k]
        keep = scores >= thresh
        doc_ids, scores = doc_ids[keep], scores[keep]
    order = np.lexsort((doc_ids, -scores))[:k]
    return doc_ids[order], scores[order]


def hits_frame(doc_ids: np.ndarray, scores: np.ndarray) -> pd.DataFrame:
    """(doc_id, score) rows, the frame a top-k shard worker emits."""
    return pd.DataFrame({"doc_id": doc_ids, "score": scores})


def match_scores(
    postings: pd.DataFrame,
    spec: QuerySpec,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact vectorized term-at-a-time scoring (with boolean clause
    filtering); returns (doc_ids, scores) for EVERY matching doc —
    the shared scoring core for ``taat`` (which top-k's it) and for
    group/collapse serving (which needs the full per-shard match set
    to pick per-group heads before any truncation)."""
    # decode every relevant posting row ONCE, keyed (field, term_id) —
    # must_not terms carry no weight but still need their doc sets
    decoded: dict[tuple[str, int], tuple] = {}
    needed = (
        set(spec.term_weights)
        | {m for g in spec.must_groups for m in g}
        | set(spec.must_not)
    )
    for r in postings.itertuples():
        key = (r.field, int(r.term_id))
        if key in needed:
            decoded[key] = posting_list_from_row(
                str(r.term_id), r._asdict()
            ).decode_all()
    all_docs, all_contrib = [], []
    for key, (docs, tfs, dls) in decoded.items():
        w = spec.term_weights.get(key, 0.0)
        if w <= 0.0:
            continue
        contrib = w * bm25.tf_norm(
            tfs.astype(np.float64),
            dls.astype(np.float64),
            spec.avgdl[key[0]],
            spec.k1,
            spec.b,
        )
        all_docs.append(docs)
        all_contrib.append(contrib)
    if not all_docs:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    docs = np.concatenate(all_docs)
    contrib = np.concatenate(all_contrib)
    uniq, inv = np.unique(docs, return_inverse=True)
    scores = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(scores, inv, contrib)
    # boolean clause filters (Lucene BooleanQuery semantics)
    keep = np.ones(uniq.size, dtype=bool)
    for group in spec.must_groups:
        gdocs = [decoded[m][0] for m in group if m in decoded]
        matched = (
            np.isin(uniq, np.concatenate(gdocs))
            if gdocs
            else np.zeros(uniq.size, dtype=bool)
        )
        keep &= matched
    if spec.must_not:
        xdocs = [decoded[m][0] for m in spec.must_not if m in decoded]
        if xdocs:
            keep &= ~np.isin(uniq, np.concatenate(xdocs))
    return uniq[keep], scores[keep]


def taat(
    postings: pd.DataFrame,
    spec: QuerySpec,
    k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact term-at-a-time top-k (``match_scores`` + selection)."""
    return _topk_from_scores(*match_scores(postings, spec), k)


def _sloppy_pf(pos_lists: list[np.ndarray], slop: int) -> float:
    """Phrase frequency over one doc's per-term position arrays.

    A match is an IN-ORDER tuple (p_1 < p_2 < ... < p_n), one position
    per phrase slot, whose cumulative gap sum((p_{i+1} - p_i) - 1) is
    <= ``slop``; each match contributes 1/(1 + total_gap) (the Lucene
    sloppyFreq shape: looser matches count less). slop=0 degenerates to
    adjacent chains with weight 1 — classic exact PhraseQuery tf.
    Unlike Lucene we do not allow out-of-order matches at slop >= 2;
    the in-order contract is what the DuckDB oracle reproduces.

    Vectorized frontier expansion: the candidate set is (position,
    used_gap) pairs; each next term extends every candidate to the
    positions inside its remaining-slop window via two searchsorteds.
    """
    cand_pos = pos_lists[0].astype(np.int64)
    cand_gap = np.zeros(cand_pos.size, dtype=np.int64)
    for pos_t in pos_lists[1:]:
        lo = np.searchsorted(pos_t, cand_pos + 1, side="left")
        hi = np.searchsorted(
            pos_t, cand_pos + 1 + (slop - cand_gap), side="right"
        )
        counts = hi - lo
        total = int(counts.sum())
        if total == 0:
            return 0.0
        rep = np.repeat(np.arange(cand_pos.size), counts)
        offs = np.arange(total) - np.repeat(
            np.cumsum(counts) - counts, counts
        )
        flat = pos_t[np.repeat(lo, counts) + offs]
        cand_gap = cand_gap[rep] + (flat - cand_pos[rep] - 1)
        cand_pos = flat
    return float(np.sum(1.0 / (1.0 + cand_gap)))


#: per-candidate key stride: doc_rank * _DOC_STRIDE + position keeps
#: every doc's positions in a disjoint key range, so ONE searchsorted
#: serves all candidate docs at once (positions < 2^32 - slop always)
_DOC_STRIDE = np.int64(1) << 32


def _phrase_freqs_batch(
    pos_by_term: list[tuple[np.ndarray, np.ndarray]],
    n_docs: int,
    slop: int,
) -> np.ndarray:
    """Sloppy phrase frequency for ALL candidate docs in one frontier
    expansion (the ``_sloppy_pf`` math lifted across docs).

    ``pos_by_term[t]`` = (keys, counts): the t-th phrase term's
    positions for every candidate doc, concatenated in doc order and
    keyed ``doc_rank * _DOC_STRIDE + position`` — ascending across the
    whole array, and a candidate's expansion window (``+1+slop``)
    can never cross into the next doc's key range. Frontier state is
    (key, used_gap) pairs; every term extends every candidate via two
    searchsorteds over the term's full keyed array. No per-doc python:
    the round-2 MaxScore treatment applied to PhraseQuery.
    -> per-doc phrase frequency (sum of 1/(1+total_gap) per match).
    """
    keys0, _c0 = pos_by_term[0]
    cand_key = keys0
    cand_gap = np.zeros(cand_key.size, dtype=np.int64)
    for keys_t, _ct in pos_by_term[1:]:
        if not cand_key.size:
            break
        lo = np.searchsorted(keys_t, cand_key + 1, side="left")
        hi = np.searchsorted(
            keys_t, cand_key + 1 + (slop - cand_gap), side="right"
        )
        counts = hi - lo
        total = int(counts.sum())
        if total == 0:
            return np.zeros(n_docs, dtype=np.float64)
        rep = np.repeat(np.arange(cand_key.size), counts)
        offs = np.arange(total) - np.repeat(
            np.cumsum(counts) - counts, counts
        )
        flat = keys_t[np.repeat(lo, counts) + offs]
        cand_gap = cand_gap[rep] + (flat - cand_key[rep] - 1)
        cand_key = flat
    pf = np.zeros(n_docs, dtype=np.float64)
    if cand_key.size:
        ranks = (cand_key // _DOC_STRIDE).astype(np.int64)
        np.add.at(pf, ranks, 1.0 / (1.0 + cand_gap.astype(np.float64)))
    return pf


def phrase_topk_shard(
    postings: pd.DataFrame,
    ordered_tids: list[int],
    field: str,
    idf_sum: float,
    avgdl: float,
    k: int,
    k1: float = bm25.K1,
    b: float = bm25.B,
    slop: int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """Phrase scoring for one shard, Lucene PhraseQuery semantics:
    tf = (sloppy) phrase frequency (see ``_sloppy_pf`` for the per-doc
    contract, ``_phrase_freqs_batch`` for the batched evaluation),
    idf = sum of the constituent terms' idfs, weighted by the field
    weight (folded into ``idf_sum``). Requires a positional index.

    Fully vectorized across candidate docs: positions decode in one
    flat pass per term (codec.decode_positions_flat), candidate docs'
    segments gather with numpy fancy indexing, and one cross-doc
    frontier expansion computes every doc's phrase frequency — a
    two-common-token phrase on a large shard stays in numpy instead
    of a per-doc interpreter loop.
    """
    by_tid: dict[int, tuple] = {}
    want = set(ordered_tids)
    for r in postings.itertuples():
        if r.field != field:
            continue
        tid = int(r.term_id)
        if tid in want and tid not in by_tid:
            pl = posting_list_from_row(str(tid), r._asdict())
            docs, tfs, dls = pl.decode_all()
            pos_flat, counts = pl.decode_positions_flat(counts=tfs)
            by_tid[tid] = (docs, dls, pos_flat, counts)
    if any(t not in by_tid for t in ordered_tids):
        return np.empty(0, np.int64), np.empty(0, np.float64)
    # candidate docs: intersection across all phrase terms
    common = by_tid[ordered_tids[0]][0]
    for t in ordered_tids[1:]:
        common = np.intersect1d(common, by_tid[t][0], assume_unique=True)
    if not common.size:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    n_c = common.size
    rank_base = np.arange(n_c, dtype=np.int64) * _DOC_STRIDE
    pos_by_term: list[tuple[np.ndarray, np.ndarray]] = []
    for t in ordered_tids:
        docs_t, _dls_t, pos_flat, counts = by_tid[t]
        if counts.size == n_c:
            # common == this term's whole doc list (the common-token
            # worst case): the segment gather is the identity
            sel_counts, flat_sel = counts, pos_flat
        else:
            idx = np.searchsorted(docs_t, common)
            sel_counts = counts[idx]
            seg_start = np.cumsum(counts) - counts
            total = int(sel_counts.sum())
            ramp = np.arange(total, dtype=np.int64) - np.repeat(
                np.cumsum(sel_counts) - sel_counts, sel_counts
            )
            flat_sel = pos_flat[np.repeat(seg_start[idx], sel_counts) + ramp]
        keys = flat_sel + np.repeat(rank_base, sel_counts)
        pos_by_term.append((keys, sel_counts))
    pf = _phrase_freqs_batch(pos_by_term, n_c, slop)
    hit = pf > 0.0
    if not hit.any():
        return np.empty(0, np.int64), np.empty(0, np.float64)
    d0, dl0 = by_tid[ordered_tids[0]][0], by_tid[ordered_tids[0]][1]
    dls_c = dl0[np.searchsorted(d0, common)].astype(np.float64)
    scores = idf_sum * bm25.tf_norm(pf[hit], dls_c[hit], avgdl, k1, b)
    return _topk_from_scores(
        common[hit].astype(np.int64), scores.astype(np.float64), k
    )


def best_window_shard(
    postings: pd.DataFrame,
    tids: list[int],
    field: str,
    doc_ids: np.ndarray,
    window: int,
) -> list[tuple[int, int, int, int]]:
    """Best highlight window per requested doc: the ``window``-token
    span holding the most query-term occurrences (earliest such span
    on ties) — the Solr/Lucene highlighter's passage-selection core,
    computed from the positional index without touching stored text.
    -> [(doc_id, start_pos, end_pos, n_hits)], only docs present.
    Two-pointer sweep over each doc's merged term positions.
    """
    want = set(int(d) for d in doc_ids)
    tid_set = set(tids)
    per_doc: dict[int, list[np.ndarray]] = {}
    for r in postings.itertuples():
        if r.field != field or int(r.term_id) not in tid_set:
            continue
        pl = posting_list_from_row(str(r.term_id), r._asdict())
        docs, _tfs, _dls = pl.decode_all()
        hits_idx = np.flatnonzero(np.isin(docs, np.fromiter(want, np.int64)))
        if not hits_idx.size:
            continue
        pos = pl.decode_all_positions()
        for i in hits_idx:
            per_doc.setdefault(int(docs[i]), []).append(pos[i])
    out = []
    for doc, plists in per_doc.items():
        merged = np.sort(np.concatenate(plists))
        # two-pointer: for each right index, shrink left until span fits
        best = (1, int(merged[0]), int(merged[0]))
        lo = 0
        for hi in range(merged.size):
            while merged[hi] - merged[lo] >= window:
                lo += 1
            n = hi - lo + 1
            if n > best[0]:
                best = (n, int(merged[lo]), int(merged[hi]))
        out.append((doc, best[1], best[2], best[0]))
    return out


def prefers_wand(spec: QuerySpec, present: set | None = None) -> bool:
    """The TAAT/WAND policy, from driver-side weights alone (field-boosted
    idfs, the upper-bound proxy): prune iff the heaviest term weight
    outweighs the sum of the rest — then low-weight lists can land
    non-essential once theta locks in. A long tail of near-equal
    weights leaves every list essential, and a single list has nothing
    to skip; both run TAAT. ``present`` restricts the test to the
    (field, term_id) keys one shard holds postings for
    (``present_terms``). Rank-identical either way: a latency rule."""
    ws = sorted(
        (
            w
            for kk, w in spec.term_weights.items()
            if present is None or kk in present
        ),
        reverse=True,
    )
    return len(ws) > 1 and ws[0] > sum(ws[1:])


def present_terms(postings: pd.DataFrame) -> set:
    """(field, term_id) keys with postings rows in ``postings``."""
    return set(
        postings[["field", "term_id"]]
        .drop_duplicates()
        .itertuples(index=False, name=None)
    )


def match_docs(postings: pd.DataFrame, spec: QuerySpec) -> np.ndarray:
    """Distinct doc ids matching ANY scoring term (OR semantics), with
    boolean clauses applied — the facet/count primitive behind the
    reference's `Hoxd*` image-count query
    (GxdResultHasImageIndexer.java:25-32)."""
    ids, _scores = taat(postings, spec, k=1 << 62)
    return ids


def wand(
    postings: pd.DataFrame,
    spec: QuerySpec,
    k: int,
    use_block_max: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized block-max top-k, rank-identical to ``taat``.

    Round 1 ran classic doc-at-a-time WAND here; the pure-python pivot
    loop cost more than TAAT's fully-vectorized exact scan at measured
    scale. This is the same pruning family (MaxScore, Turtle & Flood
    1995; block-max bounds, Ding & Suel WWW'11 — both public) arranged
    so every hot loop is numpy:

      1. sort lists by term upper bound (w * max block tf-norm) desc;
      2. bootstrap a score floor ``theta``: the k-th largest exact
         contribution of the TOP list alone lower-bounds the true
         k-th best full score;
      3. the maximal tail of lists whose upper bounds sum below theta
         is NON-ESSENTIAL: docs appearing only there can never reach
         the top-k (strictly below theta <= kth score, so not even a
         doc_id tiebreak can admit them);
      4. decode essential lists fully (vectorized), accumulate exact
         partial scores over the candidate union, and raise theta to
         the k-th largest partial (partials are lower bounds);
      5. bound each candidate by partial + sum of the non-essential
         lists' BLOCK maxes at the candidate's block — a searchsorted
         over skip pointers, no decode — and drop candidates strictly
         below theta (``>=`` keeps exact-tie candidates: stored block
         bounds are float32 rounded UP, never below the float64
         recompute, codec.encode_postings);
      6. decode only the non-essential blocks that still contain
         survivors and add exact contributions.

    Long stopword-like lists are typically non-essential, so their
    postings are bounded block-wise and mostly never decoded — the
    same skip benefit WAND gets from cursors, without per-doc python.
    """
    if spec.is_boolean:
        return taat(postings, spec, k)
    lists = _plists(postings, spec)
    entries = [
        (float(w * pl.block_max_tfn.max()), f, w, pl)
        for f, _t, w, pl in lists
        if pl.n_blocks
    ]
    if not entries:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    entries.sort(key=lambda e: -e[0])
    ubs = np.array([e[0] for e in entries], dtype=np.float64)

    def decode_contribs(field: str, w: float, pl: PostingList):
        docs, tfs, dls = pl.decode_all()
        c = w * bm25.tf_norm(
            tfs.astype(np.float64),
            dls.astype(np.float64),
            spec.avgdl[field],
            spec.k1,
            spec.b,
        )
        return docs, c

    # (2) bootstrap theta from the highest-ub list
    d0, c0 = decode_contribs(entries[0][1], entries[0][2], entries[0][3])
    theta = 0.0
    if c0.size >= k:
        theta = float(np.partition(c0, c0.size - k)[c0.size - k])

    # (3) essential/non-essential split: suffix[i] = sum(ubs[i:])
    suffix = np.cumsum(ubs[::-1])[::-1]
    n_ess = 1
    while n_ess < len(entries) and suffix[n_ess] >= theta:
        n_ess += 1
    ess, ness = entries[:n_ess], entries[n_ess:]

    # (4) exact partial scores over essential candidates
    decoded = [(d0, c0)] + [
        decode_contribs(f, w, pl) for (_ub, f, w, pl) in ess[1:]
    ]
    cand, inv = np.unique(
        np.concatenate([d for d, _c in decoded]), return_inverse=True
    )
    part = np.zeros(cand.size, dtype=np.float64)
    np.add.at(part, inv, np.concatenate([c for _d, c in decoded]))
    if cand.size >= k:
        theta = max(
            theta, float(np.partition(part, cand.size - k)[cand.size - k])
        )

    if not ness:
        return _topk_from_scores(cand, part, k)

    # (5) per-candidate upper bound via non-essential block maxes
    bound = part.copy()
    probes = []
    for _ub, _f, w, pl in ness:
        idx = np.searchsorted(pl.block_last, cand)
        idxc = np.minimum(idx, pl.n_blocks - 1)
        inb = (idx < pl.n_blocks) & (pl.block_first[idxc] <= cand)
        if use_block_max:
            add = w * pl.block_max_tfn[idxc].astype(np.float64)
        else:
            add = np.full(cand.size, _ub, dtype=np.float64)
        bound += np.where(inb, add, 0.0)
        probes.append((idxc, inb))
    keep = bound >= theta
    cand_k, scores = cand[keep], part[keep]

    # (6) exact contributions for survivors from non-essential lists:
    # batched selective decode — ONE varbyte pass over just the blocks
    # that still hold survivors (codec.decode_blocks), then a
    # searchsorted join of survivors against the decoded span.
    for (_ub, f, w, pl), (idxc, inb) in zip(ness, probes):
        sel = inb[keep]
        if not sel.any():
            continue
        kept_pos = np.flatnonzero(sel)  # indices into cand_k/scores
        c_sel = cand_k[sel]
        blocks = np.unique(idxc[keep][sel])
        docs_a, tfs_a, dls_a = pl.decode_blocks(blocks)
        pos = np.searchsorted(docs_a, c_sel)
        posc = np.minimum(pos, docs_a.size - 1)
        hit = docs_a[posc] == c_sel
        if not hit.any():
            continue
        contrib = w * bm25.tf_norm(
            tfs_a[posc[hit]].astype(np.float64),
            dls_a[posc[hit]].astype(np.float64),
            spec.avgdl[f],
            spec.k1,
            spec.b,
        )
        scores[kept_pos[hit]] += contrib
    return _topk_from_scores(cand_k, scores, k)
