"""Seeded benchmark inputs: the corpus, query logs and upsert waves.

Everything here is a pure function of the seed, so one seed always gives
the same documents, queries and waves.  The program under test only ever
sees the generated rows (as parquet files) and query strings.

Corpus recipe (the one ``bench_runs/zipf_wand.py`` documents for getting
non-uniform block maxima): body tokens are Zipf-distributed ranks over a
``VOCAB``-term vocabulary, with bursty within-document repeats (each
position repeats the doc's previous fresh draw with a per-doc probability
in [0.2, 0.8)), and doc lengths are log-spread between ``MIN_LEN`` and
``MAX_LEN``.  The rank-to-token mapping is a seeded permutation, so head
terms get different names under different seeds.  Paths carry two Zipf
tokens and a unique ``fNNNNNN`` file token; they feed the title field.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass

import numpy as np

from search_engine_spark.config import EngineConfig
from search_engine_spark.functions.tokenizer import tokenize_text
from search_engine_spark.plans.parser import SearchMode

VOCAB = 6000
ZIPF_S = 1.1
MIN_LEN, MAX_LEN = 16, 320
N_REPOS = 16
LANGS = (
    ("python", "py"), ("java", "java"), ("go", "go"),
    ("rust", "rs"), ("js", "js"), ("c", "c"),
)
SHAPES = (
    "term", "and2", "and3", "or_skewed", "or_wide", "phrase", "not",
    "boolean",
)
SORT_KEYS = ("repo", "path", "commit")


@dataclass
class Query:
    text: str
    mode: SearchMode
    shape: str


@dataclass
class Marker:
    """One re-crawled document of an upsert wave."""

    token: str  # only the new version carries it
    file_token: str  # title token shared by the old and new version
    repo: str
    path: str
    new_commit: str
    old_commit: str


@dataclass
class Wave:
    rows: list[dict]
    markers: list[Marker]


class Inputs:
    """Corpus plus the term statistics the query generator draws from."""

    def __init__(self, seed: int, n_docs: int, config: EngineConfig):
        self.config = config
        self.rng = np.random.default_rng(seed)
        p = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_S
        self._cdf = np.cumsum(p / p.sum())
        perm = self.rng.permutation(VOCAB)
        self._names = np.array([f"t{i:05d}" for i in perm])
        self._next_file = 0
        self.rows = [self._new_doc() for _ in range(n_docs)]
        keys = {tuple(r[k] for k in SORT_KEYS) for r in self.rows}
        if len(keys) != len(self.rows):
            raise RuntimeError("generated corpus has duplicate keys")
        self.ordered = sorted(
            self.rows, key=lambda r: tuple(r[k] for k in SORT_KEYS)
        )
        self._terms = [_doc_terms(r) for r in self.ordered]
        self.df = Counter(t for terms in self._terms for t in terms)
        self.head, self.mid, self.tail = self._strata()
        self._recrawled: set[int] = set()

    # ----- corpus -----

    def _zipf_ranks(self, n: int) -> np.ndarray:
        u = self.rng.random(n)
        return np.minimum(
            np.searchsorted(self._cdf, u, side="right"), VOCAB - 1
        )

    def _new_doc(self) -> dict:
        rng = self.rng
        n = int(MIN_LEN * (MAX_LEN / MIN_LEN) ** rng.random())
        ranks = self._zipf_ranks(n)
        repeat_p = 0.2 + 0.6 * rng.random()
        fresh = rng.random(n) >= repeat_p
        fresh[0] = True
        src = np.maximum.accumulate(np.where(fresh, np.arange(n), -1))
        body = self._names[ranks[src]]
        a, b = self._names[self._zipf_ranks(2)]
        lang, ext = LANGS[int(rng.integers(len(LANGS)))]
        idx = self._next_file
        self._next_file += 1
        return {
            "repo": f"repo{int(rng.integers(N_REPOS)):02d}",
            "path": f"src/{a}/{b}/f{idx:06d}.{ext}",
            "commit": f"{int(rng.integers(1 << 48)):012x}",
            "lang": lang,
            "content": " ".join(body),
        }

    def input_bytes(self, rows: list[dict] | None = None) -> int:
        """Bytes of the indexed text fields (path + content)."""
        return sum(
            len(r["path"].encode()) + len(r["content"].encode())
            for r in (self.rows if rows is None else rows)
        )

    # ----- query logs -----

    def _strata(self) -> tuple[list[str], list[str], list[str]]:
        """Vocabulary terms by df: head terms are IDF-pruned under the
        engine's threshold, mid terms have df >= 1% of docs, tail the
        rest (df >= 2)."""
        n = len(self.rows)
        thr = self.config.idf_threshold
        cut = max(4, n // 100)
        head, mid, tail = [], [], []
        for t, d in sorted(self.df.items()):
            if not (t.startswith("t") and len(t) == 6 and t[1:].isdigit()):
                continue
            if math.log((n - d + 0.5) / (d + 0.5)) < thr:
                head.append(t)
            elif d >= cut:
                mid.append(t)
            elif d >= 2:
                tail.append(t)
        if not (head and len(mid) >= 8 and len(tail) >= 8):
            raise RuntimeError("corpus too small for the query strata")
        return head, mid, tail

    def _pick(self, pool: list[str], k: int = 1) -> list[str]:
        idx = self.rng.choice(len(pool), size=k, replace=False)
        return [pool[int(i)] for i in idx]

    def _phrase_pair(self) -> list[str]:
        while True:
            toks = self.ordered[int(self.rng.integers(len(self.ordered)))][
                "content"
            ].split()
            j = int(self.rng.integers(len(toks) - 1))
            if toks[j] != toks[j + 1]:
                return [toks[j], toks[j + 1]]

    def make_query(self, shape: str) -> Query:
        """One query of a shape; terms drawn from the df strata."""
        mid, tail, head = self.mid, self.tail, self.head
        common = sorted(mid, key=lambda t: -self.df[t])[: max(8, len(mid) // 10)]
        if shape == "term":
            pool = mid if self.rng.random() < 0.5 else tail
            return Query(self._pick(pool)[0], SearchMode.QUERY_EVALUATOR, shape)
        if shape == "and2":
            return Query(" ".join(self._pick(common, 2)), SearchMode.AND, shape)
        if shape == "and3":
            terms = self._pick(common, 2) + self._pick(head)
            return Query(" ".join(terms), SearchMode.AND, shape)
        if shape == "or_skewed":
            terms = self._pick(tail) + self._pick(common) + self._pick(head)
            return Query(" ".join(terms), SearchMode.OR, shape)
        if shape == "or_wide":
            k = int(self.rng.integers(4, 7))
            terms = self._pick(mid, k - 2) + self._pick(tail) + self._pick(head)
            return Query(" ".join(terms), SearchMode.OR, shape)
        if shape == "phrase":
            return Query(" ".join(self._phrase_pair()), SearchMode.PHRASE, shape)
        if shape == "not":
            a, b = self._pick(common, 2)
            return Query(f"{a} NOT {b}", SearchMode.QUERY_EVALUATOR, shape)
        if shape == "boolean":
            a, b = self._pick(mid, 2)
            c = self._pick(common)[0]
            return Query(
                f"( {a} OR {b} ) AND {c}", SearchMode.QUERY_EVALUATOR, shape
            )
        raise ValueError(f"unknown query shape {shape!r}")

    def distinct_queries(
        self, n: int, exclude: set | None = None,
        shapes: tuple[str, ...] = SHAPES,
    ) -> list[Query]:
        """``n`` distinct queries cycling through ``shapes`` in turn."""
        seen = set(exclude or ())
        out: list[Query] = []
        attempts = 0
        while len(out) < n:
            q = self.make_query(shapes[len(out) % len(shapes)])
            attempts += 1
            if attempts > 100 * n:
                raise RuntimeError("cannot draw enough distinct queries")
            if (q.text, q.mode) in seen:
                continue
            seen.add((q.text, q.mode))
            out.append(q)
        return out

    def zipf_log(
        self, universe: int, n: int, s: float, exclude: set | None = None
    ) -> list[Query]:
        """``n`` requests with Zipf(s) popularity over ``universe``
        distinct queries.  Only the queries the log draws are generated;
        popularity rank ``r`` maps to the ``r``-th distinct query drawn,
        with shapes in turn."""
        p = 1.0 / np.arange(1, universe + 1, dtype=np.float64) ** s
        picks = self.rng.choice(universe, size=n, p=p / p.sum())
        ranks = sorted({int(i) for i in picks})
        drawn = self.distinct_queries(len(ranks), exclude=exclude)
        by_rank = dict(zip(ranks, drawn))
        return [by_rank[int(i)] for i in picks]

    def chunks_per_query(self, q: Query) -> int:
        """Chunks holding at least one of the query's terms in the base
        corpus (the per-chunk kernel work a query fans out to)."""
        terms = {t for t in tokenize_text(q.text) if t in self.df}
        cd = self.config.chunk_docs
        return len(
            {
                i // cd
                for i, doc_terms in enumerate(self._terms)
                if terms & doc_terms
            }
        )

    def stratum_mix(self, queries: list[Query]) -> dict:
        """Share of query terms per df stratum."""
        where = {**{t: "head" for t in self.head},
                 **{t: "mid" for t in self.mid},
                 **{t: "tail" for t in self.tail}}
        c = Counter(
            where.get(t, "other")
            for q in queries
            for t in tokenize_text(q.text)
            if t not in ("and", "or", "not", "(", ")")
        )
        total = sum(c.values()) or 1
        return {k: round(v / total, 4) for k, v in sorted(c.items())}

    # ----- upsert waves -----

    def make_wave(self, wave: int, n_new: int, n_recrawl: int) -> Wave:
        """New docs plus re-crawled versions of base docs under a new
        commit; each re-crawled version carries a unique marker token."""
        rows = [self._new_doc() for _ in range(n_new)]
        free = [i for i in range(len(self.rows)) if i not in self._recrawled]
        picks = self.rng.choice(len(free), size=n_recrawl, replace=False)
        markers = []
        for k, j in enumerate(sorted(int(free[int(i)]) for i in picks)):
            self._recrawled.add(j)
            old = self.rows[j]
            token = f"zzmk{wave:02d}{k:03d}"
            new = dict(
                old,
                commit=f"{int(self.rng.integers(1 << 48)):012x}",
                content=f"{old['content']} {token}",
            )
            rows.append(new)
            markers.append(
                Marker(
                    token=token,
                    file_token=old["path"].rsplit("/", 1)[1].split(".")[0],
                    repo=old["repo"],
                    path=old["path"],
                    new_commit=new["commit"],
                    old_commit=old["commit"],
                )
            )
        return Wave(rows=rows, markers=markers)


def _doc_terms(row: dict) -> set[str]:
    return set(tokenize_text(row["path"])) | set(tokenize_text(row["content"]))
