"""Seeded input generator for the benchmark.

Everything a workload feeds the engine comes from here, derived from
one ``--seed``: the code corpus, the commit sequence, the query
stream, and the embeddings with planted near-duplicates. It uses only
numpy and the standard library, never the package under test, so a
change to the program cannot change the workload.

Each stream draws from its own child of ``numpy.random.SeedSequence``
(corpus, delta, queries, vectors), so adding draws to one stream
leaves the others unchanged.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

KEYWORDS = (
    "if return import def self for in not none is else from class try "
    "except raise while with as pass break continue lambda and or yield "
    "true false new const let var func struct impl pub static void int"
).split()
_VERBS = (
    "get set parse build read write merge scan load save open close find "
    "emit flush split join sort hash encode decode apply"
).split()
_NOUNS = (
    "index token posting block shard query doc term field cache buffer "
    "stream page chunk row batch meta codec ledger span"
).split()
_SUFFIXES = "list map stats state count size id key value bytes".split()
_SNAKE_A = "max min total byte salt skew rank hash seed page row".split()
_SNAKE_B = "count offset length weight bound limit width id size".split()
LANGS = ["py", "java", "go", "rs", "cpp", "js"]
_EXT = {"py": "py", "java": "java", "go": "go", "rs": "rs", "cpp": "cc", "js": "js"}
_PUNCT = ["(", ")", "=", ".", ",", ":", "{", "}", "[", "]", "+", "->"]
N_REPOS = 20
# share of planted near-duplicates in the corpus and in the embeddings
DUP_SHARE = 0.1
N_QUERIES = 200  # per stream, before it is dealt to the clients
DIM = 64  # embedding width


def _vocabulary(rng: np.random.Generator) -> list[str]:
    """Keywords first (the Zipf head), then camelCase and snake_case
    identifiers in a seeded order. Identifiers are lower-case words
    joined by capitals or underscores, without digits, so word-part
    splitting is unambiguous."""
    camel = [
        f"{v}{n.capitalize()}{s.capitalize()}"
        for v in _VERBS
        for n in _NOUNS
        for s in _SUFFIXES
    ]
    camel2 = [f"{v}{n.capitalize()}" for v in _VERBS for n in _NOUNS]
    snake = [f"{a}_{b}" for a in _SNAKE_A for b in _SNAKE_B]
    idents = camel + camel2 + snake
    order = rng.permutation(len(idents))
    # a 3k-term tail keeps the rare end of the Zipf curve sparse
    return KEYWORDS + [idents[i] for i in order[:3000]]


def _zipf_ranks(rng: np.random.Generator, n: int, size, s: float = 1.1):
    """Ranks 0..n-1 drawn with probability ~ 1/(rank+1)^s."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=w / w.sum())


@dataclass
class Corpus:
    """Documents of the code corpus plus the generator's own facts."""

    docs: pd.DataFrame  # repo, path, commit, lang, content, stars
    vocab: list[str]
    planted_pairs: list[tuple[int, int]] = field(default_factory=list)
    exact_pairs: list[tuple[int, int]] = field(default_factory=list)


def _code_lines(rng: np.random.Generator, vocab: list[str], n_tokens: int):
    ranks = _zipf_ranks(rng, len(vocab), n_tokens)
    words = [vocab[r] for r in ranks]
    out, line = [], []
    for w in words:
        line.append(w)
        if rng.random() < 0.3:
            line.append(_PUNCT[int(rng.integers(len(_PUNCT)))])
        if len(line) >= 8 or rng.random() < 0.08:
            out.append(" ".join(line))
            line = []
    if line:
        out.append(" ".join(line))
    return "\n".join(out)


def _edit(rng: np.random.Generator, text: str, vocab: list[str], n_edits: int):
    """Near-duplicate: replace ``n_edits`` whitespace tokens."""
    toks = text.split(" ")
    for _ in range(n_edits):
        i = int(rng.integers(len(toks)))
        toks[i] = vocab[int(rng.integers(len(KEYWORDS), len(vocab)))]
    return " ".join(toks)


def make_corpus(seed: int, n_docs: int, stream: int = 0) -> Corpus:
    """``n_docs`` code files; ``DUP_SHARE`` of them are planted copies
    of an earlier file: half exact copies of its content, half with
    three token edits. ``stream`` selects an independent draw (0 for
    the base corpus, 1 for the appended shard)."""
    ss = np.random.SeedSequence([seed, 17, stream])
    rng = np.random.default_rng(ss)
    vocab = _vocabulary(np.random.default_rng(np.random.SeedSequence([seed, 1])))
    contents: list[str] = []
    planted: list[tuple[int, int]] = []
    exact: list[tuple[int, int]] = []
    n_dup = int(n_docs * DUP_SHARE)
    dup_at = set(rng.choice(np.arange(n_docs // 4, n_docs), n_dup, replace=False).tolist())
    for i in range(n_docs):
        if i in dup_at:
            src = int(rng.integers(0, n_docs // 4))
            if len(planted) % 2 == 0:
                contents.append(contents[src])
                exact.append((src, i))
            else:
                contents.append(_edit(rng, contents[src], vocab, 3))
            planted.append((src, i))
            continue
        contents.append(_code_lines(rng, vocab, int(rng.integers(40, 200))))
    langs = [LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)]
    repos = rng.integers(0, N_REPOS, n_docs)
    mods = _zipf_ranks(rng, len(_NOUNS), n_docs, s=0.8)
    verbs = rng.integers(0, len(_VERBS), n_docs)
    paths = [
        f"src/{_NOUNS[m]}/{_VERBS[v]}_{_NOUNS[(m + 3) % len(_NOUNS)]}_{stream}_{i:05d}.{_EXT[lg]}"
        for i, (m, v, lg) in enumerate(zip(mods, verbs, langs))
    ]
    commits = [
        hashlib.sha1(f"{seed}:{stream}:{i}".encode()).hexdigest()
        for i in range(n_docs)
    ]
    stars = np.minimum(
        (rng.pareto(1.2, n_docs) * 40).astype(np.int64), 5000
    )
    docs = pd.DataFrame(
        {
            "repo": [f"org/repo{r:02d}" for r in repos],
            "path": paths,
            "commit": commits,
            "lang": langs,
            "content": contents,
            "stars": stars,
        }
    )
    return Corpus(docs, vocab, planted, exact)


# ------------------------------------------------------------ queries


@dataclass(frozen=True)
class Query:
    """One query of the stream. ``clauses`` is the structured form the
    oracle reads: (occur, token, wildcard, fuzzy, scope) with occur in
    should/must/must_not and wildcard in ''/prefix/suffix."""

    kind: str
    text: str
    clauses: tuple = ()
    arg: str = ""  # where predicate


TEXT_RICH_KINDS = ("boolean", "wildcard", "where", "facet", "grouped", "sorted")
WHERE_PRED = "stars < 40"


def _typo(rng: np.random.Generator, word: str) -> str:
    """One Damerau edit of ``word``: substitute, delete or transpose."""
    i = int(rng.integers(1, len(word) - 1))
    op = int(rng.integers(3))
    if op == 0:
        c = "qxz"[int(rng.integers(3))]
        return word[:i] + c + word[i + 1:]
    if op == 1:
        return word[:i] + word[i + 1:]
    return word[:i - 1] + word[i] + word[i - 1] + word[i + 1:]


def _plain_terms(rng, vocab, n_terms):
    """Zipf-skewed over the vocabulary, so some queries hold a term
    present in nearly every doc and some hold only rare terms."""
    return [vocab[r] for r in _zipf_ranks(rng, len(vocab), n_terms, s=0.9)]


def _rich(kind: str, rng, vocab: list[str]) -> Query:
    """Rich queries draw their terms from fixed rank bands (one of the
    ten most common terms, one identifier of rank 40-200), so their
    match sets are of similar size whatever the seed."""
    idents = vocab[len(KEYWORDS):]
    a, b, c = (vocab[int(r)] for r in rng.integers(0, 10, 3))
    ident = idents[int(rng.integers(40, 200))]
    if kind == "boolean":
        lg = LANGS[int(rng.integers(len(LANGS)))]
        return Query(kind, f"+{ident} -{b} lang:{lg} {c}",
                     (("must", ident, "", 0, ""), ("must_not", b, "", 0, ""),
                      ("should", lg, "", 0, "lang"), ("should", c, "", 0, "")))
    if kind == "wildcard":
        pre = ident.lower()[:4]
        suf = idents[int(rng.integers(40, 200))].lower()[-4:]
        typo = _typo(rng, idents[int(rng.integers(40, 200))].lower())
        return Query(kind, f"{pre}* *{suf} {typo}~1",
                     (("should", pre, "prefix", 0, ""), ("should", suf, "suffix", 0, ""),
                      ("should", typo, "", 1, "")))
    # where, facet, grouped, sorted: a plain 2-term match set
    return Query(kind, f"{a} {ident}",
                 (("should", a, "", 0, ""), ("should", ident, "", 0, "")),
                 WHERE_PRED if kind == "where" else "")


def make_text_queries(seed: int, corpus: Corpus, n_clients: int) -> list[list[Query]]:
    """One query stream per client, alternating plain disjunctive
    top-k (1-4 terms, Zipf popularity over a 60-query pool, so some
    repeat) with a rich query. The rich kinds run in the fixed order
    of ``TEXT_RICH_KINDS``, dealt round-robin to the clients, so the
    first ``len(TEXT_RICH_KINDS)`` rich queries cover every kind once."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 29]))
    vocab = corpus.vocab
    pool = []
    for _ in range(60):
        terms = _plain_terms(rng, vocab, int(rng.integers(1, 5)))
        pool.append(Query("plain", " ".join(terms),
                          tuple(("should", t, "", 0, "") for t in terms)))
    rich = [
        _rich(TEXT_RICH_KINDS[j % len(TEXT_RICH_KINDS)], rng, vocab)
        for j in range(N_QUERIES)
    ]
    plain = [pool[int(i)] for i in _zipf_ranks(rng, len(pool), N_QUERIES, s=0.8)]
    streams = []
    for c in range(n_clients):
        mine = []
        for j in range(c, N_QUERIES, n_clients):
            mine += [plain[j], rich[j]]
        streams.append(mine)
    return streams


def probe_terms(seed: int, corpus: Corpus, n: int) -> list[str]:
    """``n`` two-term queries drawn like the plain ones."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 31]))
    return [" ".join(_plain_terms(rng, corpus.vocab, 2)) for _ in range(n)]


# ------------------------------------------------------------ vectors


@dataclass
class Vectors:
    ids: np.ndarray  # int64
    emb: np.ndarray  # float32 (n, DIM)
    label: np.ndarray  # object
    planted_pairs: list[tuple[int, int]]
    exact_pairs: list[tuple[int, int]]


VEC_LABELS = np.array(["a", "b", "c", "d"], dtype=object)


def make_vectors(seed: int, n: int, first_id: int = 0, stream: int = 0) -> Vectors:
    """Clustered ``DIM``-wide float32 embeddings; ``DUP_SHARE`` of the rows are
    planted copies of an earlier row, half exact and half with noise
    small enough to keep cosine above 0.99."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 43, stream]))
    centers = np.random.default_rng(np.random.SeedSequence([seed, 41])).normal(
        size=(8, DIM)
    )
    which = rng.integers(0, len(centers), n)
    emb = centers[which] + rng.normal(scale=1.6, size=(n, DIM))
    n_dup = int(n * DUP_SHARE)
    dup_at = rng.choice(np.arange(n // 4, n), n_dup, replace=False)
    planted, exact = [], []
    for j, i in enumerate(sorted(dup_at.tolist())):
        src = int(rng.integers(0, n // 4))
        emb[i] = emb[src]
        if j % 2:
            emb[i] = emb[i] + rng.normal(scale=0.01, size=DIM)
        else:
            exact.append((first_id + src, first_id + i))
        planted.append((first_id + src, first_id + i))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    label = VEC_LABELS[rng.integers(0, len(VEC_LABELS), n)]
    return Vectors(ids, emb.astype(np.float32), label, planted, exact)


VEC_KINDS = ("lsh", "multiprobe", "ivf", "filtered")


def make_vector_queries(seed: int, base: Vectors, n_clients: int):
    """One (kind, vector) stream per client, alternating single-probe
    LSH top-k with one of multiprobe LSH, IVF and label-filtered IVF in
    fixed round-robin order. Query vectors are perturbed corpus rows
    drawn with Zipf popularity from a 60-vector pool, so every probed
    bucket holds candidates and some queries repeat."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 47]))
    src = rng.integers(0, len(base.ids), 60)
    vecs = base.emb[src].astype(np.float64) + rng.normal(
        scale=0.3, size=(60, base.emb.shape[1])
    )
    pick = _zipf_ranks(rng, 60, 2 * N_QUERIES, s=0.8)
    items = []
    for j in range(N_QUERIES):
        items.append(("lsh", [float(x) for x in vecs[pick[2 * j]]]))
        items.append((VEC_KINDS[1 + j % 3], [float(x) for x in vecs[pick[2 * j + 1]]]))
    return [
        [x for j in range(c, N_QUERIES, n_clients) for x in items[2 * j:2 * j + 2]]
        for c in range(n_clients)
    ]


def repeated_share(streams) -> float:
    """Share of stream entries that repeat an earlier entry."""
    seen, rep = set(), 0
    stream = [q for s in streams for q in s]
    for q in stream:
        key = repr(q)
        rep += key in seen
        seen.add(key)
    return rep / max(len(stream), 1)
