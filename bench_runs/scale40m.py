"""40.96M-doc anchor: sf0.1 documents x8192, pipelined lineage batches.

One notch up from the 20.48M-doc run (r4_scale20m.json, same protocol): 40 bounded
lineage batches (~1.05M docs each) submitted 3-wide under the build-sized
session (spark.task.cpus=2), then the headline ranked-query set under a
FRESH query-sized session (task.cpus=1 + AQE, the r4 finding recorded in
r4_scale20m_queryconfig.json) — production sizes executors per workload,
so the anchor measures each phase under its own config.

The scale ladder this extends: 40k -> 5.12M -> 20.48M -> 40.96M, checking
per-doc build throughput does NOT degrade as fixed costs amortize — the
100-TB story's extrapolation evidence.
"""
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

from pyspark.sql import SparkSession, functions as F

from search_engine_spark.build.builder import IndexBuilder
from search_engine_spark.config import EngineConfig
from search_engine_spark.plans.parser import SearchMode
from search_engine_spark.query.engine import SearchEngine

QUERIES = [
    ("term", "dup", "AND"),
    ("and2", "dup small", "AND"),
    ("and3", "scan merge sort", "AND"),
    ("or2", "dup small", "OR"),
    ("or4", "line group join order", "OR"),
    ("phrase", "batch batch", "PHRASE"),
    ("not", "dup", "NOT"),
    ("bool", "dup AND line OR group", "QUERY_EVALUATOR"),
]

REP = int(os.environ.get("SCALE40M_REP", 8192))


def build_session():
    return (
        SparkSession.builder.master("local[32]")
        .appName("se_scale40m_build")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.task.cpus", "2")
        # persisted/spilled rdd blocks compressed — the id-assignment
        # persist spills at 9-figure doc counts; raw java-serialized
        # spill blocks were a disk-budget hazard at 163.84M docs
        .config("spark.rdd.compress", "true")
        .getOrCreate()
    )


def query_session():
    return (
        SparkSession.builder.master("local[32]")
        .appName("se_scale40m_query")
        .config("spark.sql.shuffle.partitions", "256")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.task.cpus", "1")
        .getOrCreate()
    )


spark = build_session()
spark.sparkContext.setLogLevel("ERROR")

sf_dir = "/root/testdata/sf0.1"
corpus_path = f"/tmp/se_corpus_40m_{REP}.parquet"
if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rep = spark.range(REP).select(F.col("id").alias("rep"))
    corpus = (
        docs.crossJoin(rep)
        .repartition(512)
        .select(
            F.format_string("corpus/r%04d", F.col("rep")).alias("repo"),
            F.format_string("p%012d.txt", F.col("doc_id")).alias("path"),
            F.lit("c0").alias("commit"),
            F.col("lang"),
            F.col("text").alias("content"),
        )
    )
    # materialize as the production input shape: parquet sorted by
    # (repo, path) so the builder's per-batch key-range filter prunes
    # files (20.48M-run lesson: unmaterialized crossJoin = 2.7x slower)
    t = time.time()
    corpus.orderBy("repo", "path").write.mode("overwrite").parquet(corpus_path)
    print("corpus materialize", round(time.time() - t, 1), "s", flush=True)
corpus = spark.read.parquet(corpus_path)
n_docs = corpus.count()
print("corpus rows", n_docs, flush=True)

cfg = EngineConfig(
    tokenizer="simplemma",
    idf_threshold=-1.0e18,
    chunk_docs=1 << 14,
    chunks_per_batch=64,
    build_concurrency=3,
    n_term_buckets=16,
)
index_dir = "/tmp/se_idx_40m"
shutil.rmtree(index_dir, ignore_errors=True)
builder = IndexBuilder(spark, index_dir, cfg)
t0 = time.time()
builder.build_docs(corpus)
docs_wall = time.time() - t0
# phase-isolated sessions: build_docs is its own checkpoint (docs/ on
# disk), so restarting the session here drops ALL of phase A's scratch
# (id-shuffle files + the assign_doc_ids persist) before phase B starts
# accumulating its own — the single-disk mirror of per-phase executor
# fleets.  Phase walls exclude the ~10 s restart (reported separately).
spark.stop()
t1 = time.time()
spark = build_session()
spark.sparkContext.setLogLevel("ERROR")
restart_wall = time.time() - t1
corpus = spark.read.parquet(corpus_path)
builder = IndexBuilder(spark, index_dir, cfg)
t1 = time.time()
metrics = builder.build_postings(corpus, resume=False)
postings_wall = time.time() - t1
t1 = time.time()
builder.finalize()
finalize_wall = time.time() - t1
# comparable with the no-restart 20M/40M/80M notches: the restart is
# bench-harness plumbing, not build work, and is reported separately
build_wall = docs_wall + postings_wall + finalize_wall
n_postings = sum(m["n_postings"] for m in metrics)
n_bytes = sum(m.get("bytes_postings", 0) for m in metrics)
print("build", round(build_wall, 1), "s;", len(metrics), "batches;",
      n_postings, "postings", flush=True)
spark.stop()

# ---- query phase under the query-sized session
spark = query_session()
spark.sparkContext.setLogLevel("ERROR")
engine = SearchEngine(spark, index_dir, cfg)
engine.search("dup", SearchMode.AND).collect()  # warm
per = {}
lats = []
for name, q, mode in QUERIES:
    ls = []
    for _ in range(3):
        t = time.time()
        engine.search(q, SearchMode[mode]).collect()
        ls.append(time.time() - t)
    per[name] = round(statistics.median(ls), 4)
    lats.extend(ls)
lats.sort()
out = {
    "corpus_rows": n_docs,
    "n_batches": len(metrics),
    "n_postings": n_postings,
    "postings_bytes_compressed": int(n_bytes),
    "build_wall_sec": round(build_wall, 2),
    "build_docs_per_sec": round(n_docs / build_wall, 1),
    "build_postings_per_sec": round(n_postings / build_wall, 1),
    "phases": {
        "docs_sec": round(docs_wall, 2),
        "session_restart_sec": round(restart_wall, 2),
        "postings_sec": round(postings_wall, 2),
        "finalize_sec": round(finalize_wall, 2),
    },
    "queries": per,
    "query_p50_sec": round(statistics.median(lats), 4),
    "query_p99_sec": round(lats[min(len(lats) - 1, int(0.99 * len(lats)))], 4),
}
out_path = os.environ.get(
    "SCALE40M_OUT",
    os.path.join(os.path.dirname(__file__), "r5_scale40m.json"),
)
with open(out_path, "w") as f:
    json.dump(out, f, indent=1)
print(json.dumps(out), flush=True)
spark.stop()
