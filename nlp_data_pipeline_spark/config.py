"""Engine configuration surface.

Mirrors the reference app's user-facing knobs
(/root/reference/nlp_data_tagging.py:363-365 — Streamlit sliders) plus
the extension operators' parameters. Same defaults and ranges as the
reference where one exists.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # reference sliders (nlp_data_tagging.py:363-365)
    n_topics: int = 5            # range [3, 10]
    max_summary_length: int = 150  # range [50, 300]
    n_tags: int = 5              # range [3, 10]

    # reference vectorizer caps (nlp_data_tagging.py:95,148-154,163,221)
    vocab_size: int = 100
    fallback_vocab_size: int = 50
    lda_max_iter: int = 10
    lda_seed: int = 42

    # tokenizer rules (nlp_data_tagging.py:74, :84)
    min_token_len: int = 3       # "len(word) > 2"
    min_sentence_len: int = 11   # "len(s.strip()) > 10"

    # extension operators (single source of truth — operators/dedup.py
    # derives its signature/banding constants from these)
    minhash_num_hashes: int = 8   # signature length
    minhash_bands: int = 4        # LSH bands → band size = 8 // 4 = 2
    shingle_size: int = 3
    simhash_bits: int = 16
    ann_num_planes: int = 8
    topk_neighbors: int = 5


DEFAULT_CONFIG = PipelineConfig()


@dataclass(frozen=True)
class TableSpec:
    """One driver test table (see /root/repo/TESTDATA.md)."""
    name: str
    # columns worth documenting for partition strategy at scale
    partition_hint: str = ""


TABLES: dict[str, TableSpec] = {
    t.name: t
    for t in [
        TableSpec("region", "broadcast (5 rows at every sf)"),
        TableSpec("nation", "broadcast (25 rows at every sf)"),
        TableSpec("customer", "hash by c_custkey; broadcastable below ~1 GB"),
        TableSpec("supplier", "broadcast at test sf; hash by s_suppkey at scale"),
        TableSpec("part", "hash by p_partkey; broadcastable below ~1 GB"),
        TableSpec("orders", "hash/bucket by o_orderkey (join to lineitem)"),
        TableSpec("lineitem", "hash/bucket by l_orderkey; largest fact"),
        TableSpec("events", "range-partition by ts at scale (time-series)"),
        TableSpec("documents", "hash by doc_id"),
        TableSpec("embeddings", "hash by vec_id"),
    ]
}
