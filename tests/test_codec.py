"""Unit + property tests for the posting codec (SURVEY.md §5.1/§5.4)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gxdindexer_spark.functions import bm25
from gxdindexer_spark.functions.codec import (
    delta_decode,
    delta_encode,
    encode_groups,
    encode_postings,
    group_starts,
    merge_salted,
    posting_list_from_row,
    varbyte_decode,
    varbyte_encode,
)


def test_varbyte_roundtrip_simple():
    vals = np.array([0, 1, 127, 128, 300, 2**20, 2**35, 2**56], dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(vals)), vals)


def test_varbyte_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_varbyte_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)


def test_delta_roundtrip():
    ids = np.array([3, 4, 10, 11, 500, 10**12], dtype=np.int64)
    assert np.array_equal(delta_decode(delta_encode(ids)), ids)


def test_delta_rejects_unsorted():
    with pytest.raises(ValueError):
        delta_encode(np.array([5, 5], dtype=np.int64))


def _mk_postings(n, seed=0, block_size=16):
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(10 * n + 10, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, size=n).astype(np.uint64)
    dls = rng.integers(10, 500, size=n).astype(np.uint64)
    tfn = bm25.tf_norm(tfs, dls.astype(np.float64), avgdl=120.0)
    row = encode_postings(ids, tfs, tfn, block_size=block_size, dls=dls)
    return ids, tfs, dls, tfn, row


def test_encode_postings_roundtrip_and_skip_pointers():
    ids, tfs, dls, tfn, row = _mk_postings(1000, block_size=128)
    pl = posting_list_from_row("t", row)
    assert pl.df == 1000
    d, t, l = pl.decode_all()
    assert np.array_equal(d, ids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)
    # per-block decode agrees and skip pointers bound the block
    for i in range(pl.n_blocks):
        bd, bt, bl = pl.decode_block(i)
        assert bd[0] == pl.block_first[i]
        assert bd[-1] == pl.block_last[i]
        lo = i * 128
        assert np.array_equal(bd, ids[lo : lo + 128])
        assert np.array_equal(bt, tfs[lo : lo + 128])
        assert np.array_equal(bl, dls[lo : lo + 128])
        # block-max bound is a true upper bound for every tfn in block
        assert pl.block_max_tfn[i] >= np.float32(tfn[lo : lo + 128].max()) - 1e-7


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=1, max_value=400),
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=0, max_value=2**31),
)
def test_encode_postings_property(n, block_size, seed):
    ids, tfs, dls, _, row = _mk_postings(n, seed=seed, block_size=block_size)
    pl = posting_list_from_row("t", row)
    d, t, l = pl.decode_all()
    assert np.array_equal(d, ids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)
    assert row["cf"] == int(tfs.sum())


def test_merge_salted_equals_unsalted():
    """SURVEY.md §5.4: merge of salted sub-lists == unsalted build."""
    ids, tfs, dls, tfn, whole = _mk_postings(500, seed=7, block_size=32)
    # range-bucket salts: salt = doc_id // range keeps ranges disjoint
    rng_size = int(ids.max()) // 3 + 1
    salts = ids // rng_size
    parts = []
    for s in np.unique(salts):
        m = salts == s
        p = encode_postings(ids[m], tfs[m], tfn[m], block_size=32, dls=dls[m])
        p["salt"] = int(s)
        parts.append(p)
    merged = merge_salted(parts)
    pl = posting_list_from_row("t", merged)
    d, t, l = pl.decode_all()
    assert np.array_equal(d, ids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)
    assert merged["df"] == whole["df"]
    assert merged["cf"] == whole["cf"]


def test_merge_salted_rejects_overlap():
    _, _, _, _, p1 = _mk_postings(50, seed=1)
    _, _, _, _, p2 = _mk_postings(50, seed=1)
    p1["salt"], p2["salt"] = 0, 1
    with pytest.raises(ValueError):
        merge_salted([p1, p2])


@settings(max_examples=50, deadline=None)
@given(
    st.integers(1, 400),
    st.integers(0, 10_000),
    st.data(),
)
def test_decode_blocks_matches_per_block(n, seed, data):
    """Batched selective decode == concatenation of per-block decodes
    for any ascending block subset."""
    _ids, _tfs, _dls, _tfn, row = _mk_postings(n, seed=seed, block_size=8)
    pl = posting_list_from_row("t", row)
    subset = sorted(
        data.draw(
            st.sets(
                st.integers(0, pl.n_blocks - 1),
                min_size=1,
                max_size=pl.n_blocks,
            )
        )
    )
    got = pl.decode_blocks(np.array(subset))
    parts = [pl.decode_block(b) for b in subset]
    for i in range(3):
        assert np.array_equal(got[i], np.concatenate([p[i] for p in parts]))


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(0, 70), min_size=1, max_size=12),
    st.integers(1, 40),
    st.booleans(),
    st.integers(0, 2**31),
)
def test_encode_groups_equals_per_group_encode(sizes, block_size, with_pos, seed):
    """One batch call == per-group encode_postings on every column, for
    empty and one-posting groups, any block size, positions on/off."""
    rng = np.random.default_rng(seed)
    groups = []
    for n in sizes:
        ids = np.sort(rng.choice(20 * n + 5, size=n, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 300, size=n).astype(np.uint64)
        dls = rng.integers(1, 2**20, size=n).astype(np.uint64)
        tfn = bm25.tf_norm(tfs, dls.astype(np.float64), avgdl=float(rng.integers(1, 500)))
        pos = (
            [np.sort(rng.choice(10**6, size=int(rng.integers(0, 5)), replace=False))
             for _ in range(n)]
            if with_pos
            else None
        )
        groups.append((ids, tfs, tfn, dls, pos))
    starts = np.concatenate([[0], np.cumsum(sizes)])
    batch_pos = None
    if with_pos:
        per_posting = [p for g in groups for p in g[4]]
        flat = [np.asarray(p, dtype=np.int64) for p in per_posting]
        batch_pos = (
            np.array([len(p) for p in per_posting], dtype=np.int64),
            np.concatenate(flat) if flat else np.empty(0, np.int64),
        )
    cat = [np.concatenate([g[i] for g in groups]) for i in range(4)]
    enc = encode_groups(starts, cat[0], cat[1], cat[2], cat[3], block_size, batch_pos)
    for g, (ids, tfs, tfn, dls, pos) in enumerate(groups):
        want = encode_postings(ids, tfs, tfn, block_size, dls=dls, positions=pos)
        assert set(enc) == set(want)
        for name, col in enc.items():
            if isinstance(col, tuple):
                values, offsets = col
                got = values[offsets[g] : offsets[g + 1]]
                got = got.tobytes() if name.endswith("_buf") else got.tolist()
            else:
                got = int(col[g])
            assert got == want[name], (g, name)


def test_group_starts_and_unsorted_group_rejected():
    keys = np.array([3, 3, 5, 5, 5, 9]), np.array([1, 2, 2, 2, 2, 2])
    assert group_starts(*keys).tolist() == [0, 1, 2, 5, 6]
    assert group_starts(np.array([], dtype=np.int64)).tolist() == [0]
    # descending ids across a group boundary are fine, inside are not
    ids = np.array([5, 9, 1, 4], dtype=np.int64)
    ones = np.ones(4)
    encode_groups(np.array([0, 2, 4]), ids, ones, ones)
    with pytest.raises(ValueError):
        encode_groups(np.array([0, 4]), ids, ones, ones)
