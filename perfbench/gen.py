"""Seeded input generator for the benchmark.

Everything the engine sees in a run comes from here, derived from one seed:

* a code-like corpus ``(doc_id, repo, path, commit, lang, content)`` with
  keyword heavy hitters, a Zipfian identifier vocabulary, recurring
  multi-token idioms (so phrase and NEAR queries match) and ~3% duplicate
  contents;
* per-family query logs with head (keyword), torso and tail terms, where
  the batch logs draw from a shared term pool so queries share terms;
* the ingest micro-batches and the delete-id stream of ``index_write``.

The generator is numpy-vectorised: unit ids, separators and lengths are
drawn as arrays, the whole corpus is joined into one string once and
sliced per document. It deliberately imports nothing from the engine, so
an engine change cannot change the inputs.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

KEYWORDS = (
    "def", "import", "return", "self", "if", "else", "for", "in", "class",
    "from", "const", "let", "function", "fn", "pub", "struct", "impl", "use",
    "while", "try", "except", "with", "as", "not", "and", "or", "none",
    "true", "false", "new", "this", "static", "void", "int", "string",
    "async", "await", "yield", "raise", "pass", "lambda", "match",
)
_SYLLABLES = (
    "auth", "user", "token", "index", "query", "parse", "node", "chunk",
    "embed", "store", "merge", "scan", "hash", "path", "file", "line", "tree",
    "repo", "data", "util", "cache", "load", "save", "read", "write", "open",
    "close", "send", "recv", "batch", "queue", "lock", "pool", "task", "job",
    "event", "state", "config", "model", "view", "route", "handle", "client",
    "server", "stream", "buffer", "frame", "block", "page", "row", "col",
    "key", "value", "item", "list", "map", "set", "sort", "find", "match",
    "span", "term", "doc", "score", "rank", "shard", "slice", "delta",
)
_SEPARATORS = np.array([" ", " ", " ", "(", ", ", ".", " = ", "\n", "\n    ", "): ", "; ", "["])
_SEP_P = np.array([0.30, 0.10, 0.05, 0.08, 0.10, 0.07, 0.07, 0.08, 0.08, 0.03, 0.02, 0.02])
_EXTS = np.array(["py", "js", "ts", "rs", "go", "java", "md"])
_LANGS = np.array(["python", "javascript", "typescript", "rust", "go", "java", "markdown"])
_EXT_P = np.array([0.35, 0.15, 0.12, 0.12, 0.10, 0.10, 0.06])

# share of corpus units that are keywords / idioms (the rest identifiers)
_KEYWORD_SHARE = 0.30
_IDIOM_SHARE = 0.06
_DUP_SHARE = 0.03
_HEAD_RANKS = 20
_PASTED_KEYWORDS = 24
INTERACTIVE_PATTERN = ("heavy", "bm25", "boolean")


@dataclass(frozen=True)
class Sizes:
    """Corpus and query-log sizes. ``Sizes()`` is the measured size;
    tests pass toy sizes."""

    n_docs: int = 10_000
    vocab: int = 30_000
    idioms: int = 400
    median_units: int = 110
    interactive_queries: int = 30
    bm25_batch: int = 100
    phrase_batch: int = 50
    bm25f_batch: int = 100
    percolate_queries: int = 20
    ingest_docs: int = 200
    ingest_epochs: int = 2
    delete_share: float = 0.01


@dataclass
class Corpus:
    doc_id: np.ndarray
    repo: list[str]
    path: list[str]
    commit: list[str]
    lang: list[str]
    content: list[str]

    def __len__(self) -> int:
        return len(self.content)

    def digest(self) -> str:
        h = hashlib.sha256()
        h.update(self.doc_id.tobytes())
        for col in (self.repo, self.path, self.commit, self.lang, self.content):
            h.update("\x1f".join(col).encode())
        return h.hexdigest()


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


def _zipf(rng: np.random.Generator, cdf: np.ndarray, size) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(size)), cdf.size - 1)


class Generator:
    """All inputs of one run. Vocabulary and idioms are fixed at
    construction; the corpus, each query log and the write stream draw
    from their own child streams, so adding a call never shifts another."""

    def __init__(self, seed: int, sizes: Sizes = Sizes()):
        self.seed = int(seed)
        self.sizes = sizes
        (vocab_ss, self._corpus_ss, self._interactive_ss, self._batch_ss,
         self._write_ss) = np.random.SeedSequence(self.seed).spawn(5)
        rng = np.random.default_rng(vocab_ss)
        syl = np.array(_SYLLABLES)
        # identifiers: distinct 2-3 syllable snake_case / concatenated names
        n_syl = len(_SYLLABLES)
        space2, space3 = n_syl**2, n_syl**3
        pick = rng.choice(space2 + space3, size=sizes.vocab, replace=False)
        names = []
        for code in pick:
            code = int(code)
            if code < space2:
                parts = [syl[code // n_syl], syl[code % n_syl]]
            else:
                code -= space2
                parts = [syl[code // n_syl**2], syl[(code // n_syl) % n_syl],
                         syl[code % n_syl]]
            names.append(("_" if code % 3 else "").join(parts))
        self.identifiers = np.array(names)  # index = Zipf rank
        self.keywords = np.array(KEYWORDS)
        self._kw_cdf = _zipf_cdf(len(KEYWORDS), 0.8)
        self._id_cdf = _zipf_cdf(sizes.vocab, 1.05)
        # the same law restricted to ranks >= _HEAD_RANKS (torso and tail)
        self._tail_cdf = (self._id_cdf[_HEAD_RANKS:] - self._id_cdf[_HEAD_RANKS - 1]) / (
            1.0 - self._id_cdf[_HEAD_RANKS - 1]
        )
        # idioms: 2-4 token sequences of keywords and head/torso identifiers
        idioms = []
        for _ in range(sizes.idioms):
            n = int(rng.integers(2, 5))
            toks = []
            for _ in range(n):
                if rng.random() < 0.35:
                    toks.append(str(self.keywords[_zipf(rng, self._kw_cdf, None)]))
                else:
                    toks.append(str(self.identifiers[int(rng.integers(0, min(2000, sizes.vocab)))]))
            idioms.append(" ".join(toks))
        self.idioms = np.array(idioms)
        self._idiom_cdf = _zipf_cdf(sizes.idioms, 0.9)

    # ------------------------------------------------------------------ corpus
    def _documents(self, rng: np.random.Generator, n: int, id0: int) -> Corpus:
        sz = self.sizes
        lens = np.clip(
            rng.lognormal(np.log(sz.median_units), 0.7, n), 8, 20 * sz.median_units
        ).astype(np.int64)
        total = int(lens.sum())
        r = rng.random(total)
        units = np.empty(total, dtype=object)
        kw = r < _KEYWORD_SHARE
        idiom = (r >= _KEYWORD_SHARE) & (r < _KEYWORD_SHARE + _IDIOM_SHARE)
        ident = ~(kw | idiom)
        units[kw] = self.keywords[_zipf(rng, self._kw_cdf, int(kw.sum()))]
        units[idiom] = self.idioms[_zipf(rng, self._idiom_cdf, int(idiom.sum()))]
        units[ident] = self.identifiers[_zipf(rng, self._id_cdf, int(ident.sum()))]
        seps = _SEPARATORS[rng.choice(_SEPARATORS.size, size=total, p=_SEP_P)]
        ends = np.cumsum(lens)
        seps[ends - 1] = "\n"
        pieces = np.empty(2 * total, dtype=object)
        pieces[0::2] = units
        pieces[1::2] = seps
        big = "".join(pieces.tolist())
        piece_len = np.fromiter((len(p) for p in pieces), dtype=np.int64, count=2 * total)
        char_end = np.cumsum(piece_len)[2 * ends - 1]
        char_start = np.concatenate(([0], char_end[:-1]))
        content = [big[a:b] for a, b in zip(char_start.tolist(), char_end.tolist())]
        # ~3% duplicate contents (copies of an earlier document)
        n_dup = int(n * _DUP_SHARE)
        if n_dup and n > 1:
            dst = rng.choice(np.arange(1, n), size=n_dup, replace=False)
            for d in dst.tolist():
                content[d] = content[int(rng.integers(0, d))]
        ext_i = rng.choice(_EXTS.size, size=n, p=_EXT_P)
        repo_i = _zipf(rng, _zipf_cdf(200, 1.0), n)
        mod = self.identifiers[rng.integers(0, min(3000, sz.vocab), size=n)]
        commits = rng.integers(0, 2**63, size=n, dtype=np.int64)
        ids = np.arange(id0, id0 + n, dtype=np.int64)
        return Corpus(
            doc_id=ids,
            repo=[f"org{i % 17}/repo{i}" for i in repo_i.tolist()],
            path=[f"src/{m}/f{d}.{e}" for m, d, e in zip(mod.tolist(), ids.tolist(), _EXTS[ext_i].tolist())],
            commit=[f"{c:016x}" for c in commits.tolist()],
            lang=_LANGS[ext_i].tolist(),
            content=content,
        )

    def corpus(self) -> Corpus:
        return self._documents(
            np.random.default_rng(self._corpus_ss), self.sizes.n_docs, 0
        )

    # ------------------------------------------------------------- query logs
    def _torso_tail(self, rng, size) -> list[str]:
        """Zipfian identifiers below the head ranks (the head of a query
        log is the keyword class) — torso and tail by construction."""
        ranks = _HEAD_RANKS + _zipf(rng, self._tail_cdf, size)
        return self.identifiers[ranks].tolist()

    def _phrase(self, rng) -> tuple[list[str], int | None]:
        """A 2-3 token run of one idiom; one in three is NEAR (its first
        and last token within a window of 4)."""
        toks = str(self.idioms[_zipf(rng, self._idiom_cdf, None)]).split()
        n = min(len(toks), int(rng.integers(2, 4)))
        start = int(rng.integers(0, len(toks) - n + 1))
        sub = toks[start : start + n]
        if rng.random() < 1 / 3:
            return [sub[0], sub[-1]], 4
        return sub, None

    def _boolean(self, rng, shape: int, pool: list[str] | None = None) -> str:
        """Query-log shapes 0-4: `a b`, `+a b`, `+a b -c`, `"a b" c`, `+kw +a`."""
        def term():
            if pool is not None:
                return pool[int(rng.integers(0, len(pool)))]
            return self._torso_tail(rng, 1)[0]

        if shape == 0:
            return f"{term()} {term()}"
        if shape == 1:
            return f"+{term()} {term()}"
        if shape == 2:
            return f"+{term()} {term()} -{term()}"
        if shape == 3:
            ph, _ = self._phrase(rng)
            return f'"{" ".join(ph[:2])}" {term()}'
        kw = str(self.keywords[_zipf(rng, self._kw_cdf, None)])
        return f"+{kw} +{term()}"

    def interactive_log(self) -> list[tuple[str, object]]:
        """Sequential single queries in a fixed three-slot pattern: a
        head-heavy "pasted code" BM25 query of the 24 head keywords (at
        10k files their summed df, ~150k, passes the engine's driver
        short-circuit cap, so it runs the distributed plan), a two-term
        torso/tail BM25 query and a `+a b -c` Boolean query. The shapes
        are fixed so that a seed changes the terms, not the work."""
        rng = np.random.default_rng(self._interactive_ss)
        out: list[tuple[str, object]] = []
        for i in range(self.sizes.interactive_queries):
            kind = INTERACTIVE_PATTERN[i % len(INTERACTIVE_PATTERN)]
            if kind == "heavy":
                kws = rng.permutation(_PASTED_KEYWORDS)
                out.append(("bm25", [str(self.keywords[j]) for j in kws]))
            elif kind == "bm25":
                out.append(("bm25", self._torso_tail(rng, 2)))
            else:
                out.append(("boolean", self._boolean(rng, shape=2)))
        return out

    def batch_logs(self) -> dict[str, dict]:
        """One fixed batch per executor family; terms come from a shared
        pool so queries within a batch overlap (as real query logs do).
        Registered percolator queries take the five Boolean shapes in
        turn."""
        sz = self.sizes
        rng = np.random.default_rng(self._batch_ss)
        pool = list(dict.fromkeys(self._torso_tail(rng, 120)))
        head = [str(k) for k in self.keywords[:8]]

        def terms(n):
            out = [pool[int(i)] for i in rng.integers(0, len(pool), size=n)]
            if rng.random() < 0.15:
                out[0] = head[int(rng.integers(0, len(head)))]
            return list(dict.fromkeys(out))

        return {
            "bm25": {i: terms(int(rng.integers(1, 5))) for i in range(sz.bm25_batch)},
            "phrase": {i: self._phrase(rng) for i in range(sz.phrase_batch)},
            "bm25f": {i: terms(int(rng.integers(1, 4))) for i in range(sz.bm25f_batch)},
            "percolate": {
                i: self._boolean(rng, i % 5, pool) for i in range(sz.percolate_queries)
            },
        }

    # ------------------------------------------------------------ write stream
    def write_stream(self, n_base: int) -> list[dict]:
        """Per epoch: a micro-batch of new docs (ids after the base corpus
        and earlier batches), ~1% of the ids issued so far to delete, and
        two two-term BM25 reads (one after the ingest, one after the
        delete)."""
        sz = self.sizes
        rng = np.random.default_rng(self._write_ss)
        epochs = []
        next_id = n_base
        for e in range(sz.ingest_epochs):
            docs = self._documents(rng, sz.ingest_docs, next_id)
            next_id += sz.ingest_docs
            n_del = max(1, int(next_id * sz.delete_share))
            dels = np.sort(rng.choice(next_id, size=n_del, replace=False))
            reads = [self._torso_tail(rng, 2) for _ in range(2)]
            epochs.append({"docs": docs, "deletes": dels, "reads": reads})
        return epochs
