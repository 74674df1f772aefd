"""Posting-list physical codec: delta + varbyte compressed blocks with
skip pointers and block-max metadata.

This is the from-scratch artifact the reference delegates to Lucene
(the reference repo ships documents to Solr and never touches postings;
see the reference README.md:2). Everything here is pure numpy so it
runs inside Arrow-batched workers with no per-row Python
(BASELINE.json input_hint). The build encodes a whole sorted Arrow
batch of postings with ONE :func:`encode_groups` call: group and block
starts, gaps, block-max metadata and each varbyte stream are computed
for every term of the batch at once, and the per-term byte offsets
come from one cumulative sum of encoded lengths.
:func:`encode_postings` is the same encoder called on one term.

Layout per (field, term, shard):

* doc ids are sorted ascending, delta-encoded (first id absolute),
  then varbyte-compressed per block of ``BLOCK_SIZE`` docs;
* term frequencies are varbyte-compressed per block (no delta);
* per-posting doc lengths (the BM25 norm input) are varbyte-compressed
  alongside — the Lucene-norms analog that makes every posting segment
  self-contained: scoring needs NO side lookup (and therefore no
  doc_stats shuffle per query);
* per block we keep ``first_doc``, ``last_doc`` (skip pointers) and
  ``max_tf_norm`` — the maximum length-normalized tf in the block,
  which multiplied by the term idf gives the block-max score bound
  used by block-max WAND (Ding & Suel, WWW'11).

Varbyte convention: little-endian groups of 7 bits, MSB set on every
byte except the last of a value ("more bytes follow").
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE = 128


# ---------------------------------------------------------------- varbyte


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array -> bytes (no loop
    over values)."""
    return _varbyte(values)[0].tobytes()


def _varbyte(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """-> (encoded uint8 buffer, byte offset of each value's encoding,
    len = values + 1).

    Builds the (values x max-bytes) table of 7-bit groups and keeps
    each row's leading ``nbytes`` groups, row-major.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = _varbyte_lengths(v)
    ends = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=ends[1:])
    width = np.arange(int(nbytes.max()) if v.size else 0)
    groups = (
        (v[:, None] >> (7 * width).astype(np.uint64)) & np.uint64(0x7F)
    ).astype(np.uint8)
    groups[width < nbytes[:, None] - 1] |= np.uint8(0x80)
    return groups[width < nbytes[:, None]], ends


def varbyte_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Vectorized varbyte decode -> uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    # value index for each byte: number of completed values before it
    val_idx = np.zeros(b.size, dtype=np.int64)
    np.cumsum(is_last[:-1], out=val_idx[1:])
    n_vals = int(is_last.sum())
    # position of byte within its value = idx - start_of_value
    starts = np.zeros(n_vals, dtype=np.int64)
    ends = np.flatnonzero(is_last)
    starts[1:] = ends[:-1] + 1
    pos_in_val = np.arange(b.size, dtype=np.int64) - starts[val_idx]
    out = np.zeros(n_vals, dtype=np.uint64)
    np.add.at(
        out,
        val_idx,
        (b & np.uint8(0x7F)).astype(np.uint64) << (7 * pos_in_val).astype(np.uint64),
    )
    if count is not None and n_vals != count:
        raise ValueError(f"decoded {n_vals} values, expected {count}")
    return out


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """ascending int64 ids -> gaps (first absolute). Raises if unsorted."""
    a = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    if a.size == 0:
        return a.astype(np.uint64)
    d = np.diff(a)
    if (d <= 0).any():
        raise ValueError("doc ids must be strictly ascending")
    out = np.empty(a.size, dtype=np.uint64)
    out[0] = np.uint64(a[0])
    out[1:] = d.astype(np.uint64)
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(gaps.astype(np.int64))


# ---------------------------------------------------------------- blocks


@dataclass
class PostingList:
    """Decoded-header posting list; payload bytes decoded per block."""

    term: str
    df: int
    block_first: np.ndarray  # int64 per block (skip pointer lo)
    block_last: np.ndarray  # int64 per block (skip pointer hi)
    block_max_tfn: np.ndarray  # float32 per block (block-max tf-norm)
    block_count: np.ndarray  # int32 docs per block
    doc_offsets: np.ndarray  # int64 byte offsets into docs_buf (len = nblocks+1)
    tf_offsets: np.ndarray  # int64 byte offsets into tfs_buf (len = nblocks+1)
    dl_offsets: np.ndarray  # int64 byte offsets into dls_buf (len = nblocks+1)
    docs_buf: bytes
    tfs_buf: bytes
    dls_buf: bytes  # per-posting doc length (Lucene-norms analog)
    # optional positional payload: per posting [npos, pos0, deltas...]
    # varbyte-concatenated per block (empty when built without positions)
    pos_offsets: np.ndarray | None = None
    pos_buf: bytes = b""

    @property
    def n_blocks(self) -> int:
        return len(self.block_first)

    def decode_block(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """-> (doc_ids int64 asc, tfs uint64, dls uint64) for block i."""
        n = int(self.block_count[i])
        gaps = varbyte_decode(
            self.docs_buf[self.doc_offsets[i] : self.doc_offsets[i + 1]], n
        )
        docs = delta_decode(gaps)
        tfs = varbyte_decode(
            self.tfs_buf[self.tf_offsets[i] : self.tf_offsets[i + 1]], n
        )
        dls = varbyte_decode(
            self.dls_buf[self.dl_offsets[i] : self.dl_offsets[i + 1]], n
        )
        return docs, tfs, dls

    def decode_block_positions(self, i: int) -> list[np.ndarray]:
        """-> per-posting ascending position arrays for block i."""
        if self.pos_offsets is None or not len(self.pos_buf):
            raise ValueError("posting list was built without positions")
        vals = varbyte_decode(
            self.pos_buf[self.pos_offsets[i] : self.pos_offsets[i + 1]]
        ).astype(np.int64)
        out: list[np.ndarray] = []
        p = 0
        for _ in range(int(self.block_count[i])):
            n = int(vals[p])
            out.append(np.cumsum(vals[p + 1 : p + 1 + n]))
            p += 1 + n
        return out

    def decode_all_positions(self) -> list[np.ndarray]:
        out: list[np.ndarray] = []
        for i in range(self.n_blocks):
            out.extend(self.decode_block_positions(i))
        return out

    def decode_positions_flat(
        self, counts: np.ndarray | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """ALL postings' positions as ONE flat int64 array plus the
        per-posting counts — zero per-posting python.

        One varbyte pass over the whole pos_buf; the per-posting
        [npos, ...] headers sit at offsets computable from the tf
        stream (positional builds guarantee npos == tf:
        analyze.term_freqs_positions sets tf = len(positions)), so a
        boolean mask drops them and a segmented cumsum undoes the
        per-posting delta coding. Pass ``counts`` (the decoded tf
        array) to skip re-decoding tfs_buf.
        -> (pos_flat, counts); posting j's positions are
        pos_flat[cum[j]:cum[j+1]] with cum = cumsum(counts).
        """
        if self.pos_offsets is None or not len(self.pos_buf):
            raise ValueError("posting list was built without positions")
        vals = varbyte_decode(self.pos_buf).astype(np.int64)
        if counts is None:
            counts = varbyte_decode(self.tfs_buf)
        counts = counts.astype(np.int64)
        n = counts.size
        if not int(counts.sum()):
            return np.empty(0, np.int64), counts
        # header slot of posting j in vals: sum of (1 + count) before j
        heads = np.zeros(n, dtype=np.int64)
        np.cumsum(1 + counts[:-1], out=heads[1:])
        mask = np.ones(vals.size, dtype=bool)
        mask[heads] = False
        deltas = vals[mask]
        # segmented cumsum: per-posting running sum (first is absolute)
        cs = np.cumsum(deltas)
        seg0 = np.cumsum(counts) - counts
        offset = cs[seg0] - deltas[seg0]
        pos_flat = cs - np.repeat(offset, counts)
        return pos_flat, counts

    def decode_blocks(
        self, blocks: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Selective decode of an ASCENDING block-id subset in one
        varbyte pass per stream (per-block decode pays a fixed numpy
        overhead ~100x the per-value cost; batching the byte ranges
        makes k-block selective decode as cheap as one k-block scan).
        Returns (doc_ids asc, tfs, dls) concatenated across blocks —
        globally ascending because block doc ranges are disjoint asc.
        """
        blocks = np.asarray(blocks, dtype=np.int64)
        counts = self.block_count[blocks].astype(np.int64)
        total = int(counts.sum())
        if total == 0:
            e = np.empty(0, np.uint64)
            return np.empty(0, np.int64), e, e
        def gather(buf: bytes, offs: np.ndarray) -> bytes:
            return b"".join(
                buf[offs[b] : offs[b + 1]] for b in blocks
            )
        gaps = varbyte_decode(gather(self.docs_buf, self.doc_offsets), total)
        tfs = varbyte_decode(gather(self.tfs_buf, self.tf_offsets), total)
        dls = varbyte_decode(gather(self.dls_buf, self.dl_offsets), total)
        # segmented cumsum: every block starts with an ABSOLUTE doc id
        cs = np.cumsum(gaps.astype(np.int64))
        seg_starts = np.zeros(blocks.size, dtype=np.int64)
        np.cumsum(counts[:-1], out=seg_starts[1:])
        offset = cs[seg_starts] - gaps[seg_starts].astype(np.int64)
        seg = np.repeat(np.arange(blocks.size), counts)
        docs = cs - offset[seg]
        return docs, tfs, dls

    def decode_all(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        gaps = varbyte_decode(self.docs_buf)
        tfs = varbyte_decode(self.tfs_buf)
        dls = varbyte_decode(self.dls_buf)
        docs = np.empty(gaps.size, dtype=np.int64)
        # gaps are absolute at every block start, so cumsum per block
        off = 0
        for i in range(self.n_blocks):
            n = int(self.block_count[i])
            docs[off : off + n] = np.cumsum(gaps[off : off + n].astype(np.int64))
            off += n
        return docs, tfs, dls


def group_starts(*keys: np.ndarray) -> np.ndarray:
    """Row offsets of the runs of equal keys in key-sorted columns
    (len = groups + 1; the last entry is the row count)."""
    n = len(keys[0])
    change = np.zeros(n, dtype=bool)
    change[:1] = True
    for k in keys:
        change[1:] |= k[1:] != k[:-1]
    return np.append(np.flatnonzero(change), n)


def encode_groups(
    starts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    tf_norms: np.ndarray,
    dls: np.ndarray | None = None,
    block_size: int = BLOCK_SIZE,
    positions: tuple[np.ndarray, np.ndarray] | None = None,
) -> dict:
    """Encode every group of a batch of postings at once.

    Rows ``starts[g]:starts[g+1]`` are group ``g`` (one term's
    docID-sorted postings); rows past ``starts[-1]`` are ignored.
    ``positions`` is ``(counts, flat)``: per-posting position counts
    and all postings' ascending positions concatenated.

    Returns the postings-table columns for the G groups: ``df`` and
    ``cf`` as int64 arrays of len G; every list and binary column as
    ``(values, offsets)`` with group ``g``'s entry at
    ``values[offsets[g]:offsets[g+1]]`` (binary values are uint8).
    Each stream is varbyte-encoded once for the whole batch; the
    per-group and per-block byte offsets come from the cumulative
    encoded lengths.
    """
    starts = np.asarray(starts, dtype=np.int64)
    n = int(starts[-1])
    doc_ids = np.ascontiguousarray(doc_ids[:n], dtype=np.int64)
    tfs = np.ascontiguousarray(tfs[:n], dtype=np.uint64)
    dls = (
        np.zeros(n, dtype=np.uint64)
        if dls is None
        else np.ascontiguousarray(dls[:n], dtype=np.uint64)
    )
    tfn = np.asarray(tf_norms[:n], dtype=np.float64)
    g_n = starts.size - 1
    df = np.diff(starts)
    step = np.diff(doc_ids)
    inner = np.ones(step.size, dtype=bool)
    cuts = starts[1:-1]
    inner[cuts[(cuts > 0) & (cuts < n)] - 1] = False
    if (step[inner] <= 0).any():
        raise ValueError("doc ids must be strictly ascending")
    # blocks: group g holds ceil(df/block_size) of them, the first at
    # its first row
    per_group = (df + block_size - 1) // block_size
    blocks = np.zeros(g_n + 1, dtype=np.int64)
    np.cumsum(per_group, out=blocks[1:])
    b_group = np.repeat(np.arange(g_n), per_group)
    b_start = starts[b_group] + (
        np.arange(blocks[-1]) - blocks[b_group]
    ) * block_size
    b_end = np.minimum(b_start + block_size, starts[b_group + 1])
    # gaps with an absolute first value per block (blocks decode
    # standalone); the group-boundary steps are all overwritten here
    gaps = np.empty(n, dtype=np.uint64)
    gaps[1:] = step.astype(np.uint64)
    gaps[b_start] = doc_ids[b_start].astype(np.uint64)
    # block-max tf-norm, rounded UP to float32: the stored bound must
    # never fall below the float64 tf-norm recomputed at query time,
    # or block-max pruning would drop true top-k docs.
    m64 = (
        np.maximum.reduceat(tfn, b_start) if b_start.size else np.empty(0)
    )
    m32 = m64.astype(np.float32)
    bump = m32.astype(np.float64) < m64
    m32[bump] = np.nextafter(m32[bump], np.float32(np.inf))
    ctf = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(tfs, out=ctf[1:])
    # each *_offsets list holds its group's block offsets plus the
    # group's total byte length
    lists = blocks + np.arange(g_n + 1)
    at_block = np.arange(b_start.size) + b_group
    at_end = lists[1:] - 1

    def stream(values: np.ndarray, row_value: np.ndarray) -> tuple:
        """varbyte ``values`` once -> (per-block byte offsets column,
        buffer column); ``row_value[i]`` is the index of row i's first
        value (len = rows + 1)."""
        buf, ends = _varbyte(values)
        base = ends[row_value[starts]]
        rel = np.empty(at_block.size + g_n, dtype=np.int64)
        rel[at_block] = ends[row_value[b_start]] - base[b_group]
        rel[at_end] = base[1:] - base[:-1]
        return (rel, lists), (buf, base)

    rows = np.arange(n + 1)
    doc_offsets, docs_buf = stream(gaps, rows)
    tf_offsets, tfs_buf = stream(tfs, rows)
    dl_offsets, dls_buf = stream(dls, rows)
    if positions is None:
        pos_offsets = (np.zeros(at_block.size + g_n, np.int64), lists)
        pos_buf = (np.empty(0, np.uint8), np.zeros(g_n + 1, np.int64))
    else:
        # per posting [npos, first, deltas...]
        counts = np.asarray(positions[0][:n], dtype=np.int64)
        row_value = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts + 1, out=row_value[1:])
        heads = row_value[:-1]
        flat = np.asarray(positions[1], dtype=np.int64)[: row_value[-1] - n]
        deltas = flat.copy()
        if flat.size:
            deltas[1:] = np.diff(flat)
            first = (heads - np.arange(n))[counts > 0]
            deltas[first] = flat[first]
        vals = np.empty(int(row_value[-1]), dtype=np.uint64)
        vals[heads] = counts.astype(np.uint64)
        body = np.ones(vals.size, dtype=bool)
        body[heads] = False
        vals[body] = deltas.astype(np.uint64)
        pos_offsets, pos_buf = stream(vals, row_value)
    return {
        "df": df,
        "cf": (ctf[starts[1:]] - ctf[starts[:-1]]).astype(np.int64),
        "block_first": (doc_ids[b_start], blocks),
        "block_last": (doc_ids[b_end - 1], blocks),
        "block_max_tfn": (m32, blocks),
        "block_count": ((b_end - b_start).astype(np.int32), blocks),
        "doc_offsets": doc_offsets,
        "tf_offsets": tf_offsets,
        "dl_offsets": dl_offsets,
        "docs_buf": docs_buf,
        "tfs_buf": tfs_buf,
        "dls_buf": dls_buf,
        "pos_offsets": pos_offsets,
        "pos_buf": pos_buf,
    }


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    tf_norms: np.ndarray,
    block_size: int = BLOCK_SIZE,
    dls: np.ndarray | None = None,
    positions: list | None = None,
) -> dict:
    """Encode one term's docID-sorted postings into compressed blocks.

    ``tf_norms`` is the precomputed length-normalized tf per posting
    (tf / (tf + k1*(1-b+b*dl/avgdl))) used only for the block-max
    metadata; it is NOT stored per posting. ``dls`` (per-posting doc
    length) IS stored — the Lucene-norms analog.

    Returns a dict of plain-python/bytes values matching the postings
    table schema (arrays as lists for Arrow friendliness). A one-group
    call of :func:`encode_groups`.
    """
    n = len(doc_ids)
    pos = None
    if positions is not None:
        counts = np.fromiter((len(p) for p in positions), np.int64, count=n)
        flat = (
            np.concatenate([np.asarray(p, dtype=np.int64) for p in positions])
            if counts.sum()
            else np.empty(0, np.int64)
        )
        pos = (counts, flat)
    enc = encode_groups(
        np.array([0, n]), doc_ids, tfs, tf_norms, dls, block_size, pos
    )
    row = {}
    for name, col in enc.items():
        if not isinstance(col, tuple):
            row[name] = int(col[0])
            continue
        values, offsets = col
        one = values[offsets[0] : offsets[1]]
        row[name] = one.tobytes() if name.endswith("_buf") else one.tolist()
    return row


_VARBYTE_STEPS = np.uint64(1) << (7 * np.arange(1, 10, dtype=np.uint64))


def _varbyte_lengths(values: np.ndarray) -> np.ndarray:
    """bytes each value will occupy when varbyte-encoded."""
    return np.searchsorted(_VARBYTE_STEPS, values, side="right") + 1


def posting_list_from_row(term: str, row: dict) -> PostingList:
    """Rehydrate a PostingList from a postings-table row (dict-like)."""
    return PostingList(
        term=term,
        df=int(row["df"]),
        block_first=np.asarray(row["block_first"], dtype=np.int64),
        block_last=np.asarray(row["block_last"], dtype=np.int64),
        block_max_tfn=np.asarray(row["block_max_tfn"], dtype=np.float32),
        block_count=np.asarray(row["block_count"], dtype=np.int32),
        doc_offsets=np.asarray(row["doc_offsets"], dtype=np.int64),
        tf_offsets=np.asarray(row["tf_offsets"], dtype=np.int64),
        dl_offsets=np.asarray(row["dl_offsets"], dtype=np.int64),
        docs_buf=bytes(row["docs_buf"]),
        tfs_buf=bytes(row["tfs_buf"]),
        dls_buf=bytes(row["dls_buf"]),
        pos_offsets=(
            np.asarray(row["pos_offsets"], dtype=np.int64)
            if row.get("pos_offsets") is not None
            else None
        ),
        pos_buf=bytes(row.get("pos_buf") or b""),
    )


def merge_salted(parts: list[dict]) -> dict:
    """Merge per-salt partial encodings of ONE term into a single row.

    Salts are doc_id *range* buckets (salt = doc_id // range), so the
    partial posting lists cover disjoint, ascending docID ranges and can
    be concatenated block-wise in salt order without re-sorting — the
    skew-handling merge described in SURVEY.md §4.1. Each part carries
    its ``salt`` key.
    """
    parts = sorted(parts, key=lambda p: p["salt"])
    # verify disjoint ascending ranges
    for a, b in zip(parts, parts[1:]):
        if a["block_last"][-1] >= b["block_first"][0]:
            raise ValueError("salted parts overlap in docID space")
    out = {
        "df": sum(p["df"] for p in parts),
        "cf": sum(p["cf"] for p in parts),
        "block_first": [],
        "block_last": [],
        "block_max_tfn": [],
        "block_count": [],
        "doc_offsets": [0],
        "tf_offsets": [0],
        "dl_offsets": [0],
        "pos_offsets": [0],
        "docs_buf": b"",
        "tfs_buf": b"",
        "dls_buf": b"",
        "pos_buf": b"",
    }
    dbufs, tbufs, lbufs, pbufs = [], [], [], []
    for p in parts:
        d0, t0, l0, p0 = (
            out["doc_offsets"][-1],
            out["tf_offsets"][-1],
            out["dl_offsets"][-1],
            out["pos_offsets"][-1],
        )
        out["block_first"] += list(p["block_first"])
        out["block_last"] += list(p["block_last"])
        out["block_max_tfn"] += list(p["block_max_tfn"])
        out["block_count"] += list(p["block_count"])
        out["doc_offsets"] += [d0 + o for o in p["doc_offsets"][1:]]
        out["tf_offsets"] += [t0 + o for o in p["tf_offsets"][1:]]
        out["dl_offsets"] += [l0 + o for o in p["dl_offsets"][1:]]
        pos_off = p.get("pos_offsets") or [0] * len(p["doc_offsets"])
        out["pos_offsets"] += [p0 + o for o in pos_off[1:]]
        dbufs.append(p["docs_buf"])
        tbufs.append(p["tfs_buf"])
        lbufs.append(p["dls_buf"])
        pbufs.append(p.get("pos_buf") or b"")
    out["docs_buf"] = b"".join(dbufs)
    out["tfs_buf"] = b"".join(tbufs)
    out["dls_buf"] = b"".join(lbufs)
    out["pos_buf"] = b"".join(pbufs)
    return out
