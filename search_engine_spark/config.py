"""Engine configuration.

All scoring constants default to the *reference code's* values
(``/root/reference/search_engine/inverted_index.py``): k1=1.6 (:1237), b=0.75
(:1229), title field weight 2.0 (:1410), IDF prune threshold 1.5 (:1094),
num_candidates=100 / num_return=10 (:1845-1851).  k1 is configurable because
the published prose spec says 1.2 while the code says 1.6 — rank-identity
fixtures pin the code's 1.6.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # --- BM25 / scoring (reference parity) ---
    k1: float = 1.6
    b: float = 0.75
    title_weight: float = 2.0
    idf_threshold: float = 1.5
    num_candidates: int = 100
    num_return: int = 10
    snippet_length: int = 100

    # --- index layout (scale knobs, no effect on semantics) ---
    # Fixed doc-id span covered by one postings-row "chunk".  Chunks align
    # across terms (chunk_id = doc_id // chunk_docs) so query-time
    # intersection is a per-chunk local operation, and the chunk key is the
    # explicit doc-range salt for skewed high-DF terms at build time: a
    # stop-word's posting list is split into independent, doc-range-disjoint
    # merge tasks whose outputs concatenate back in chunk order
    # (mirrors the reference's disjoint-block concat property,
    # ingestion.py:473-485).  At 10^12-doc scale with chunk_docs=2^17 a
    # 50%-df stop word yields ~65k-entry rows (~100-200 KB compressed) —
    # bounded task size regardless of term skew.
    chunk_docs: int = 1 << 17
    # Postings per max-score block inside a chunk (block-max WAND metadata).
    block_docs: int = 128
    # Term-hash shards the postings table is partitioned by on disk
    # (partition pruning for term lookups).
    n_term_buckets: int = 32
    # Input rows per build batch commit (checkpoint/lineage granularity),
    # expressed in chunks so batch boundaries align with chunk boundaries
    # and resumed batches never rewrite earlier (term, chunk) rows.
    chunks_per_batch: int = 64
    # Independent lineage batches submitted as concurrent Spark jobs
    # during bulk builds (each writes only its own batch dirs and commits
    # its own lineage row file).  >1 fills scheduler slots a
    # single batch's shuffle leaves idle without growing the commit unit.
    build_concurrency: int = 1

    # --- spelling correction (reference Q23; trigram table must be built
    # via IndexBuilder.build_trigrams) ---
    enable_spelling: bool = False

    # --- tokenizer ---
    # "simplemma": re-derivation of simplemma.simple_tokenizer (reference's
    # tokenizer, preprocessing.py:40-44).  "simple": whitespace/word split
    # (SQL-replicable; used for the DuckDB-oracle contract queries).
    tokenizer: str = "simplemma"

    # --- spark ---
    shuffle_partitions: int = 32
    arrow_batch_rows: int = 2048

    extra_spark_conf: dict = field(default_factory=dict)


DEFAULT_CONFIG = EngineConfig()
