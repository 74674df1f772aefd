"""Oracles the benchmark checks the engine's answers against.

Written from the engine's documented contracts, not from its code:
the tokenizers follow the analyzer contract (lowercase originals plus
camelCase/snake_case word parts; paths split on ``/ . - _``; ``lang``
kept whole; doc length counts original tokens), scoring is Lucene
BM25 with k1=1.2, b=0.75 and the field ladder lang 2.25, path 1.5,
content 1.0, and doc ids are dense over the (repo, path, commit) order.
Only numpy, pandas and the standard library are used.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import re
from collections import Counter

import numpy as np
import pandas as pd

K1, B = 1.2, 0.75
WEIGHTS = {"lang": 2.25, "path": 1.5, "content": 1.0}
FIELDS = {"content": "code", "path": "path", "lang": "lang"}
MAX_EXPANSIONS = 1024
REL = 1e-9

_RAW = re.compile(r"[A-Za-z0-9_]+")
_PART = re.compile(r"[A-Z]+(?![a-z])|[A-Z][a-z0-9]*|[a-z0-9]+")
_PATH_SEP = re.compile(r"[/.\-_]+")


def tokens(text: str, tokenizer: str) -> tuple[list[str], int]:
    """-> (tokens with word-part expansions, doc length in originals)."""
    if tokenizer == "lang":
        t = text.lower().strip()
        return ([t] if t else []), (1 if t else 0)
    if tokenizer == "path":
        text = _PATH_SEP.sub(" ", text)
    raw = _RAW.findall(text)
    out = [t.lower() for t in raw]
    for t in raw:
        parts = _PART.findall(t)
        if len(parts) > 1:
            out.extend(p.lower() for p in parts)
    return out, len(raw)


def query_tokens(text: str, tokenizer: str) -> list[str]:
    return list(dict.fromkeys(tokens(text, tokenizer)[0]))


def within_one_edit(a: str, b: str) -> bool:
    """Damerau distance <= 1: equal, one substitution, insertion,
    deletion, or one swap of adjacent characters."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        diff = [i for i in range(la) if a[i] != b[i]]
        if len(diff) == 1:
            return True
        return (
            len(diff) == 2
            and diff[1] == diff[0] + 1
            and a[diff[0]] == b[diff[1]]
            and a[diff[1]] == b[diff[0]]
        )
    if la > lb:
        a, b = b, a
    i = 0
    while i < len(a) and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1:]


def assign_doc_ids(docs: pd.DataFrame, first_id: int = 0) -> pd.DataFrame:
    """Dense ids over the (repo, path, commit) order."""
    out = docs.sort_values(["repo", "path", "commit"], kind="mergesort")
    out = out.reset_index(drop=True)
    out.insert(0, "doc_id", np.arange(first_id, first_id + len(out)))
    return out


class TextOracle:
    """In-memory BM25 over the current corpus (rows with ``doc_id``)."""

    def __init__(self, docs: pd.DataFrame):
        self.docs = docs.sort_values("doc_id").reset_index(drop=True)
        self.ids = self.docs["doc_id"].to_numpy(np.int64)
        n = len(self.docs)
        self.n = n
        self.post: dict[str, dict[str, tuple[np.ndarray, np.ndarray]]] = {}
        self.dl: dict[str, np.ndarray] = {}
        self.avgdl: dict[str, float] = {}
        for f, tk in FIELDS.items():
            acc: dict[str, tuple[list, list]] = {}
            dls = np.zeros(n, dtype=np.float64)
            for i, text in enumerate(self.docs[f].tolist()):
                toks, dl = tokens(text or "", tk)
                dls[i] = dl
                for t, c in Counter(toks).items():
                    e = acc.get(t)
                    if e is None:
                        acc[t] = e = ([], [])
                    e[0].append(i)
                    e[1].append(c)
            self.post[f] = {
                t: (np.asarray(d, np.int64), np.asarray(c, np.float64))
                for t, (d, c) in acc.items()
            }
            self.dl[f] = dls
            # every generated doc has a non-empty value in every field
            self.avgdl[f] = float(dls.mean())

    def df(self, f: str, t: str) -> int:
        e = self.post[f].get(t)
        return 0 if e is None else len(e[0])

    def _bounded(self, f: str, terms: list[str]) -> list[str]:
        """Lucene top-terms rewrite: the highest-df expansions survive."""
        ranked = sorted(terms, key=lambda t: (-self.df(f, t), t))
        return ranked[:MAX_EXPANSIONS]

    def clause_pairs(self, clause) -> list[tuple[str, str]]:
        _occur, tok, wildcard, fuzzy, scope = clause
        fields = [scope] if scope in FIELDS else list(FIELDS)
        out: list[tuple[str, str]] = []
        for f in fields:
            toks = query_tokens(tok, FIELDS[f])
            base = toks[0] if toks else tok.lower()
            vocab = self.post[f]
            if wildcard == "prefix":
                out += [(f, t) for t in self._bounded(
                    f, [t for t in vocab if t.startswith(base)])]
            elif wildcard == "suffix":
                out += [(f, t) for t in self._bounded(
                    f, [t for t in vocab if t.endswith(base)])]
            elif fuzzy:
                out += [(f, t) for t in self._bounded(
                    f, [t for t in vocab if within_one_edit(base, t)])]
            else:
                out += [(f, t) for t in toks]
        return out

    def evaluate(self, clauses, where: str = "") -> tuple[np.ndarray, np.ndarray]:
        """-> (score per doc row, match mask)."""
        scoring: set[tuple[str, str]] = set()
        musts: list[set] = []
        must_not: set = set()
        for c in clauses:
            pairs = self.clause_pairs(c)
            if c[0] == "must_not":
                must_not |= set(pairs)
                continue
            scoring |= set(pairs)
            if c[0] == "must":
                musts.append(set(pairs))
        scores = np.zeros(self.n, dtype=np.float64)
        hit = np.zeros(self.n, dtype=bool)
        for f, t in scoring:
            e = self.post[f].get(t)
            if e is None:
                continue
            d, tf = e
            w = WEIGHTS[f] * math.log(1.0 + (self.n - len(d) + 0.5) / (len(d) + 0.5))
            dl = self.dl[f][d]
            scores[d] += w * (tf / (tf + K1 * (1.0 - B + B * dl / self.avgdl[f])))
            hit[d] = True
        for group in musts:
            g = np.zeros(self.n, dtype=bool)
            for f, t in group:
                e = self.post[f].get(t)
                if e is not None:
                    g[e[0]] = True
            hit &= g
        for f, t in must_not:
            e = self.post[f].get(t)
            if e is not None:
                hit[e[0]] = False
        if where:
            hit &= self.where_mask(where)
        return scores, hit

    def where_mask(self, where: str) -> np.ndarray:
        col, op, val = where.split()
        v = self.docs[col].to_numpy()
        ops = {"<": np.less, ">": np.greater, "<=": np.less_equal,
               ">=": np.greater_equal}
        return ops[op](v, float(val))

    def ranked(self, clauses, where: str = "") -> list[tuple[int, float]]:
        scores, hit = self.evaluate(clauses, where)
        rows = np.flatnonzero(hit)
        order = np.lexsort((self.ids[rows], -scores[rows]))
        return [(int(self.ids[rows[i]]), float(scores[rows[i]])) for i in order]

    # ------------------------------------------------ stored-column kinds

    def matched(self, clauses) -> pd.DataFrame:
        scores, hit = self.evaluate(clauses)
        out = self.docs.loc[hit, ["doc_id", "repo", "lang", "stars"]].copy()
        out["score"] = scores[hit]
        return out

    def facet(self, clauses, by: str) -> dict:
        m = self.matched(clauses)
        return {k: int(v) for k, v in m.groupby(by).size().items()}

    def grouped(self, clauses, by: str, k_groups: int) -> list[tuple]:
        """Group heads (best score, then lower doc_id), ranked the same way."""
        m = self.matched(clauses).sort_values(
            ["score", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        heads = m.drop_duplicates(by).head(k_groups)
        return [(getattr(r, by), int(r.doc_id), float(r.score)) for r in heads.itertuples()]

    def sorted_page(self, clauses, by: str, offset: int, k: int) -> list[tuple]:
        m = self.matched(clauses).sort_values(
            [by, "doc_id"], ascending=[True, True], kind="mergesort"
        )
        page = m.iloc[offset:offset + k]
        return [(int(d), int(s)) for d, s in zip(page["doc_id"], page[by])]


def same_topk(got: list[tuple[int, float]], ranked: list[tuple[int, float]],
              k: int, rel: float = REL) -> bool:
    """Identical ids and scores within ``rel``; ids may differ only
    inside a run of scores equal to within 1e-12 (a float-order tie)."""
    exp = ranked[:k]
    if len(got) != len(exp):
        return False
    for (gd, gs), (ed, es) in zip(got, exp):
        if not math.isclose(gs, es, rel_tol=rel, abs_tol=1e-12):
            return False
    if [d for d, _ in got] == [d for d, _ in exp]:
        return True
    truth = dict(ranked)
    for gd, gs in got:
        es = truth.get(gd)
        if es is None or not math.isclose(gs, es, rel_tol=1e-12, abs_tol=1e-15):
            return False
    return len({d for d, _ in got}) == len(got)


# ------------------------------------------------------------ near-dup

MINHASH_P = 2_147_483_647
# the MinHash family's published Carter-Wegman coefficients
MINHASH_AS = [1103515245, 1299709, 15485863, 32452843, 49979687, 67867967,
              86028121, 104395301]
MINHASH_BS = [12345, 7919, 104729, 1299721, 15485867, 32452867, 49979693,
              67867979]
_WORD = re.compile(r"[^a-z0-9]+")


def minhash_signature(text: str, num_hashes: int, n: int = 3) -> tuple | None:
    """Distinct word 3-gram shingles, md5 -> 60-bit int -> mod P."""
    toks = [t for t in _WORD.split(text.lower()) if t]
    grams = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    if not grams:
        return None
    xs = np.array(
        [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % MINHASH_P
         for g in grams],
        dtype=np.int64,
    )
    return tuple(
        int(((MINHASH_AS[i] * xs + MINHASH_BS[i]) % MINHASH_P).min())
        for i in range(num_hashes)
    )


def banded_pairs(keys: dict[int, tuple], bands: int) -> set[tuple[int, int]]:
    """Pairs (a < b) agreeing on every row of at least one band."""
    rows = len(next(iter(keys.values()))) // bands
    out: set[tuple[int, int]] = set()
    for bi in range(bands):
        buckets: dict[tuple, list[int]] = {}
        for d, sig in keys.items():
            buckets.setdefault(sig[bi * rows:(bi + 1) * rows], []).append(d)
        for ids in buckets.values():
            ids.sort()
            for i, a in enumerate(ids):
                for b in ids[i + 1:]:
                    out.add((a, b))
    return out


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot product summed left to right in float64 (the
    accumulation order of the engine's array-aggregate expressions)."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for i in range(a.shape[1]):
        acc += a[:, i] * b[:, i]
    return acc


def lsh_buckets(emb: np.ndarray, planes: list[list[float]]) -> np.ndarray:
    v = emb.astype(np.float64)
    out = np.zeros(len(v), dtype=np.int64)
    for i, p in enumerate(planes):
        pr = np.broadcast_to(np.asarray(p, dtype=np.float64), v.shape)
        out += np.where(fold_dot(v, pr) > 0, 1 << i, 0)
    return out


MAX_FLIPS = 3


def lsh_probes(q: list[float], planes: list[list[float]], probes: int) -> list[int]:
    """A query's LSH probe ring: its own bucket, then the buckets one
    flip-set away, for every set of at most ``MAX_FLIPS`` planes,
    nearest first — ordered by the sum of the flipped planes' margins
    ``|q . plane|`` (ties: lower plane indices first)."""
    qv = np.asarray([q], dtype=np.float64)
    own = int(lsh_buckets(qv, planes)[0])
    margin = [abs(float(fold_dot(qv, np.asarray([p], dtype=np.float64))[0])) for p in planes]
    n = len(planes)
    ring = []
    for r in range(1, min(MAX_FLIPS, n) + 1):
        for planes_ in itertools.combinations(range(n), r):
            total = 0.0
            for i in planes_:
                total += margin[i]
            pad = planes_ + (n,) * (MAX_FLIPS - r)
            ring.append((total, pad, own ^ sum(1 << i for i in planes_)))
    ring.sort()
    return [own] + [b for _, _, b in ring[:probes - 1]]


def ivf_probes(q: list[float], centroids: list[list[float]], nprobe: int) -> list[int]:
    """The ``nprobe`` cells whose normalised centroids are nearest the
    query by cosine (ties: lower cell id first)."""
    c = np.asarray(centroids, dtype=np.float64)
    c = c / np.linalg.norm(c, axis=1, keepdims=True)
    v = np.asarray(q, dtype=np.float64)
    cos = c @ (v / np.linalg.norm(v))
    return [int(i) for i in np.lexsort((np.arange(len(c)), -cos))[:nprobe]]


def ivf_cells(emb: np.ndarray, centroids: list[list[float]]) -> np.ndarray:
    c = np.asarray(centroids, dtype=np.float64)
    c = c / np.linalg.norm(c, axis=1, keepdims=True)
    v = emb.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    return np.argmax(v @ c.T, axis=1)


def cosine_rank(emb: np.ndarray, ids: np.ndarray, q: list[float], k: int):
    """Exact cosine top-k over candidate rows -> [(id, cos)]."""
    if not len(ids):
        return []
    v = emb.astype(np.float64)
    qv = np.broadcast_to(np.asarray(q, dtype=np.float64), v.shape)
    qn = math.sqrt(sum(float(x) * float(x) for x in q))
    cos = fold_dot(v, qv) / (np.sqrt(fold_dot(v, v)) * qn)
    order = np.lexsort((ids, -cos))[:k]
    return [(int(ids[i]), float(cos[i])) for i in order]


def same_ann(got: list[tuple[int, float]], exp: list[tuple[int, float]]) -> bool:
    """Ids equal and cosines equal at the engine's 6-decimal rounding."""
    if [d for d, _ in got] != [d for d, _ in exp]:
        return False
    return all(abs(g - e) <= 1.5e-6 for (_, g), (_, e) in zip(got, exp))


def vector_neardup_pairs(
    ids: np.ndarray, emb: np.ndarray, buckets: np.ndarray, bands: int,
    rows: int, threshold: float,
) -> tuple[set, set]:
    """Banded near-dup pairs from the same buckets -> (sure, borderline):
    ``sure`` must all be emitted; ``borderline`` pairs sit within 1e-6
    of the threshold, where 6-decimal rounding may go either way."""
    v = emb.astype(np.float64)
    norm = np.sqrt(fold_dot(v, v))
    mask = (1 << rows) - 1
    cand: set[tuple[int, int]] = set()
    for bi in range(bands):
        sig = (buckets >> (bi * rows)) & mask
        for s in np.unique(sig):
            rows_ = np.flatnonzero(sig == s)
            if len(rows_) < 2:
                continue
            vn = v[rows_] / norm[rows_, None]
            c = vn @ vn.T
            ii, jj = np.nonzero(np.triu(c >= threshold - 1e-5, 1))
            for a, b in zip(rows_[ii], rows_[jj]):
                cand.add((int(a), int(b)))
    sure, border = set(), set()
    if cand:
        a = np.array([p[0] for p in cand])
        b = np.array([p[1] for p in cand])
        cos = fold_dot(v[a], v[b]) / (norm[a] * norm[b])
        for x, y, c in zip(a, b, cos):
            pair = tuple(sorted((int(ids[x]), int(ids[y]))))
            if abs(c - threshold) <= 1e-6:
                border.add(pair)
            elif c >= threshold:
                sure.add(pair)
    return sure, border
