"""Block-max WAND on a PRUNABLE corpus: Zipf vocabulary + variable doc
length at 2.56M docs.

The r4 WAND work proved the batched sweep never LOSES to exhaustive
scoring on prune-resistant data (replicated sf corpus: every 128-doc
block contains a near-max-scoring doc, so block upper bounds are too
uniform to skip anything).  This run shows the other half: on a corpus
with realistic skew — term frequencies Zipf(s=1.2) over a 50k vocab,
doc lengths log-spread 20..200 — mid- and low-frequency terms leave one
posting per many blocks with genuinely varying bounds, and the
ub-descending sweep stops early.  For each query we measure use_wand
on/off latency on the SAME engine and assert rank identity (doc ids +
scores) between the two paths.

Corpus generation is deterministic and partition-independent: token j of
doc i is zipf_cdf^-1(u) where u = splitmix64(i * 4096 + j) scaled to
[0,1) — no RNG state, any partitioning yields identical docs.  Tokens
are `t%05d` so the contract "simple" tokenizer ([a-z0-9_]+) keeps them
whole.  Written sorted by (repo, path) so the builder's per-batch range
filter prunes files (a lesson of the 20.48M-doc run, r4_scale20m.json).

Burstiness: iid Zipf draws alone still give near-uniform block maxima
(tf is ~Bernoulli per doc, so every 128-doc block's max_tf is 1-2 and
WAND has nothing to cut — measured skip_rate 0.0 at 40k docs).  Real
text repeats terms within a document (Church/Gale burstiness), and THAT
is what spreads per-block upper bounds.  Each token position repeats
the most recent fresh draw of its doc with per-doc probability
q in [0.2, 0.8) (vectorized forward-fill; position 0 is always fresh,
so the fill never crosses a doc boundary).  Bursty docs carry tf up to
~20 for a term; blocks without one have low ub and get skipped.
"""
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F

from search_engine_spark.build.builder import IndexBuilder
from search_engine_spark.config import EngineConfig
from search_engine_spark.plans.parser import SearchMode
from search_engine_spark.query.engine import SearchEngine

N_DOCS = int(os.environ.get("ZIPF_DOCS", 2_560_000))
VOCAB = 50_000
ZIPF_S = 1.2
MIN_LEN, MAX_LEN = 20, 200

spark = (
    SparkSession.builder.master("local[32]")
    .appName("se_zipf_wand")
    .config("spark.sql.shuffle.partitions", "64")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.driver.memory", "48g")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.task.cpus", "2")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

# Zipf CDF over ranks 1..VOCAB (shared, tiny — broadcast by closure)
_p = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_S
_p /= _p.sum()
ZIPF_CDF = np.cumsum(_p)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer: uint64 -> well-mixed uint64."""
    z = x + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _gen(batches):
    for pdf in batches:
        ids = pdf["id"].to_numpy(dtype=np.uint64)
        # doc length: log-spread 20..200 from the doc's own hash
        u_len = _splitmix64(ids) / np.float64(2**64)
        lens = np.floor(
            MIN_LEN * (MAX_LEN / MIN_LEN) ** u_len
        ).astype(np.int64)
        total = int(lens.sum())
        # token index j within doc, doc id repeated per token
        doc_rep = np.repeat(ids, lens)
        offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
        j = np.arange(total, dtype=np.uint64) - np.repeat(
            offs.astype(np.uint64), lens
        )
        u = _splitmix64(doc_rep * np.uint64(4096) + j) / np.float64(2**64)
        ranks = np.searchsorted(ZIPF_CDF, u, side="right")  # 0-based rank
        # bursty repeats: per-doc repeat prob q, forward-fill fresh draws
        q_doc = 0.2 + 0.6 * (
            _splitmix64(ids * np.uint64(7919) + np.uint64(1)) / np.float64(2**64)
        )
        u_rep = _splitmix64(
            doc_rep * np.uint64(4096) + j + np.uint64(0x5DEECE66D)
        ) / np.float64(2**64)
        fresh = (u_rep >= np.repeat(q_doc, lens)) | (j == 0)
        pos = np.arange(total, dtype=np.int64)
        src = np.maximum.accumulate(np.where(fresh, pos, -1))
        ranks = ranks[src]
        toks = np.char.add("t", np.char.zfill(ranks.astype("U5"), 5))
        # join per doc
        bounds = np.concatenate((offs, [total]))
        content = [
            " ".join(toks[bounds[k]: bounds[k + 1]])
            for k in range(len(ids))
        ]
        # path embeds doc length so the (repo, path) sort = length-ordered
        # doc-id assignment: document reordering (the BMW literature's
        # URL/impact ordering).  Blocks become length-homogeneous, so
        # long-doc blocks carry genuinely low score bounds instead of
        # every block inheriting one short doc's loose min_dl.
        yield pd.DataFrame(
            {
                "repo": "zipf",
                "path": [
                    f"L{int(n):03d}_{int(i):012d}.txt"
                    for n, i in zip(lens, ids)
                ],
                "commit": "c0",
                "lang": "en",
                "content": content,
            }
        )


corpus_path = f"/tmp/se_corpus_zipf_{N_DOCS}.parquet"
if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
    t = time.time()
    (
        spark.range(0, N_DOCS, 1, 64)
        .mapInPandas(
            _gen,
            "repo string, path string, commit string, lang string, "
            "content string",
        )
        .orderBy("repo", "path")
        .write.mode("overwrite")
        .parquet(corpus_path)
    )
    print("corpus gen", round(time.time() - t, 1), "s", flush=True)
corpus = spark.read.parquet(corpus_path)
n_docs = corpus.count()
print("corpus rows", n_docs, flush=True)

cfg = EngineConfig(
    tokenizer="simple",
    idf_threshold=-1.0e18,  # pruning off: WAND does the real work
    chunk_docs=1 << 16,  # long per-chunk posting lists -> many blocks
    block_docs=32,  # finer block maxima: the spread WAND prunes on
    chunks_per_batch=16,
    build_concurrency=3,
    n_term_buckets=16,
)
index_dir = "/tmp/se_idx_zipf"
shutil.rmtree(index_dir, ignore_errors=True)
builder = IndexBuilder(spark, index_dir, cfg)
t0 = time.time()
builder.build_all(corpus)
build_wall = time.time() - t0
print("build", round(build_wall, 1), "s", flush=True)

engine = SearchEngine(spark, index_dir, cfg)
engine.enable_wand_stats()
engine.search("t00100", SearchMode.OR).collect()  # warm

# The queries WAND exists for are idf-SKEWED ORs (rare-ish term + a
# common term): θ locks onto the rare term's scores and every segment
# where only the common term is live bounds below it.  Symmetric ORs
# over same-frequency terms are the honest control — little to prune
# (every block genuinely holds a competitive doc), and the batched
# sweep must not lose there.
QUERIES = [
    ("or2_skew_hi", "t02000 t00020", "OR"),     # df ~ N/1000 + N/12
    ("or2_skew", "t00500 t00010", "OR"),        # df ~ N/200 + N/6
    ("or3_skew", "t00800 t01200 t00020", "OR"),
    ("or2_sym_head", "t00050 t00080", "OR"),    # control: head+head
    ("or2_sym_mid", "t00500 t00800", "OR"),     # control: mid+mid
    ("term_mid", "t01000", "AND"),
]

out = {"n_docs": int(n_docs), "build_wall_sec": round(build_wall, 2),
       "queries": {}}
for name, q, mode in QUERIES:
    ident = None
    per = {}
    for wand in (True, False):
        rows = engine.search(
            q, SearchMode[mode], use_wand=wand
        ).collect()
        got = [(r.doc_id, round(r.score, 9)) for r in rows]
        if ident is None:
            ident = got
        else:
            assert got == ident, f"rank identity broken: {name}"
        if wand:
            engine.reset_wand_stats()
        ls = []
        for _ in range(3):
            t = time.time()
            engine.search(q, SearchMode[mode], use_wand=wand).collect()
            ls.append(time.time() - t)
        per["wand" if wand else "exhaustive"] = round(
            statistics.median(ls), 4
        )
        if wand:
            # skip rate over the 3 timed runs (kernel-side counters)
            per["wand_skip_rate"] = engine.wand_stats()["skip_rate"]
    per["speedup"] = round(per["exhaustive"] / per["wand"], 2)
    out["queries"][name] = per
    print(name, per, flush=True)

out_path = os.environ.get(
    "ZIPF_OUT", os.path.join(os.path.dirname(__file__), "r5_zipf_wand.json")
)
with open(out_path, "w") as f:
    json.dump(out, f, indent=1)
print(json.dumps(out), flush=True)
spark.stop()
