"""The benchmark's own test: on a small seed, the engine's top-k over the
generated corpus equals the reference-semantics oracle
(``oracle.refsem.RefSemIndex``) for every query shape the benchmark
sends.  The oracle is slow and memory-hungry at benchmark scale, so it
stays out of the timed runs.

    python3 -m pytest perfbench/test_oracle.py -q
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from gen import SHAPES, SORT_KEYS, Inputs  # noqa: E402
from search_engine_spark.config import EngineConfig  # noqa: E402
from search_engine_spark.functions.tokenizer import tokenize_text  # noqa: E402

CFG = EngineConfig(chunk_docs=32)


def test_inputs_are_seeded_and_keys_unique():
    a, b = Inputs(5, 512, CFG), Inputs(5, 512, CFG)
    assert a.rows == b.rows
    assert a.distinct_queries(16) == b.distinct_queries(16)
    assert a.make_wave(0, 64, 32).rows == b.make_wave(0, 64, 32).rows
    assert Inputs(6, 512, CFG).rows != a.rows
    keys = [tuple(r[k] for k in SORT_KEYS) for r in a.rows]
    assert len(set(keys)) == len(keys)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    # the Python workers import the library from the repository root
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    tmp = tmp_path_factory.mktemp("spark")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench_oracle")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def test_engine_topk_matches_oracle(spark, tmp_path):
    from search_engine_spark.build.builder import IndexBuilder
    from search_engine_spark.oracle.refsem import RefSemIndex
    from search_engine_spark.query.engine import SearchEngine

    inputs = Inputs(7, 512, CFG)
    index_dir = str(tmp_path / "index")
    IndexBuilder(spark, index_dir, CFG).build_all(
        spark.createDataFrame(inputs.rows)
    )
    engine = SearchEngine(spark, index_dir, CFG)
    oracle = RefSemIndex(
        [
            (tokenize_text(r["path"]), tokenize_text(r["content"]))
            for r in inputs.ordered
        ]
    )
    queries = inputs.distinct_queries(3 * len(SHAPES))
    ranked = engine.search_batch([(q.text, q.mode) for q in queries]).collect()
    nonempty = 0
    for qid, q in enumerate(queries):
        got = sorted((r.rank, r.doc_id, r.score) for r in ranked if r.qid == qid)
        _, want = oracle.search(
            tokenize_text(q.text), q.mode,
            num_candidates=CFG.num_candidates, num_return=CFG.num_return,
        )
        assert [d for _, d, _ in got] == [d for _, d in want], q
        assert [s for _, _, s in got] == pytest.approx(
            [s for s, _ in want], rel=1e-9, abs=1e-12
        ), q
        nonempty += bool(want)
    # the mix must exercise scoring, not just agree on empty results
    assert nonempty >= len(queries) // 2
