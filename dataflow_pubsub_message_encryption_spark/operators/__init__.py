"""Operator inventory assembly (SURVEY §2 contract).

Modules register queries + DuckDB oracles at import; ``registry()`` merges
them into the dicts ``__spark_entry__`` exposes to the driver.
"""

from __future__ import annotations

from importlib import import_module

_MODULES = [
    "ref_pipeline",
    "relational",
    "tpch",
    "text",
    "dedup",
    "similarity",
    "multimodal",
    "sampling",
    "curation",
    "cdc",
    "graph",
    "behavior",
    "scale",
]


# The correctness gate behind ``__spark_entry__`` grades a prefix of the
# registry (exactly the first 50 entries, in dict order), so registration
# order is part of that contract. ``registry()`` returns the ``_WINDOW`` keys
# first, in this order: keys whose implementation changed most recently
# lead, then the keys graded longest ago. Every other query with an oracle
# follows in module order; oracle-less queries sort last, so no graded slot
# goes to a row the gate cannot check. tests/test_registry.py checks that
# the window fits the graded prefix.
_WINDOW = [
    # --- r7 rotation tail + round-15 changed implementations ---
    "scan_agg_pushdown_stats",  # r7 rotation tail (VERDICT r14 item 2)
    "orders_pareto_class",  # r7 rotation tail
    "sim_ann_kmeans_ivf_topk_auto_sampled",  # Arrow-matmul assignment (r14 item 1)
    "sim_ann_kmeans_ivf_topk_auto",  # same Arrow assignment stage
    "sim_ann_kmeans_ivf_topk",  # same
    "embedding_index_pipeline",  # same
    "emb_ivf_cell_balance",  # same + r8-stale
    "emb_kmeans_elbow_curve",  # same + r8-stale; O(n) inertia re-join
    "dedup_embedding_lsh_recall_eval",  # ADVICE r14 guard + derived point
    "dedup_embedding_lsh_banded_auto",  # NEW: target-recall band count
    "sim_ann_kmeans_ivf_batch_topk",  # NEW: batch serve over learned index
    "dedup_semdedup_cells",  # NEW: SemDeDup within learned cells
    "decontam_embedding_cosine",  # NEW: semantic eval-set decontamination
    "dedup_semdedup_recall_eval",  # NEW: SemDeDup vs exact truth + volume
    "corpus_semantic_curation_report",  # NEW: eval/dup/contam/kept per source
    # --- round-15 optimization-pass changed implementations ---
    "dedup_span_suffix_array",  # OPT: _parallel before the suffix explode
    "dedup_span_suffix_doubling",  # OPT: same spread
    "dedup_embedding_lsh",  # OPT: broadcast-regime scan spread
    "dedup_embedding_lsh_auto",  # OPT: same (shared pair body)
    "dedup_embedding_lsh_banded",  # OPT: same (banded body)
    "sim_ann_graph_topk_blocked",  # OPT: fused edges + Arrow bucket pairs (s2)
    "sim_ann_graph_topk_blocked_wide",  # OPT: same
    "sim_ann_graph_topk_blocked_auto",  # OPT: same
    "sim_ivf_pq_topk",  # OPT s2: min_by PQ assign (was row_number window)
    # --- round-15 optimization session-5 changed implementations ---
    "corpus_dsir_resample_mix_shift",  # OPT s5: fused census + pinned weights
    "corpus_dsir_importance_topk",  # OPT s5: fused census (shared weights DAG)
    "text_heldout_perplexity",  # OPT s5: (N,V) derived from the count table
    "text_tfidf_keywords_topk",  # OPT s5: nd/df derived from tf
    "text_tfidf_top3",  # OPT s5: df derived from tf (oracle already says so)
    "dedup_weighted_jaccard",  # OPT s5: pinned df-capped token stream
    "graph_degree_histogram",  # OPT s5: the module-standard und pin
    # --- round-15 optimization session-6 changed implementations ---
    # (the components loop dropped its once-consumed nodes pin — every
    # key composing dedup_cluster_components changed with it — and the
    # RFM body's three rank passes now overlap from a thread pool)
    "dedup_cluster_components",  # OPT s6: unpinned once-consumed nodes
    "dedup_cluster_summary",  # OPT s6: composes the components loop
    "corpus_dedup_priority_keep",  # OPT s6: same
    "graph_partition_modularity",  # OPT s6: same
    "corpus_dedup_savings_report",  # OPT s6: same
    "rfm_segmentation_scalable",  # OPT s6: 3 rank passes thread-overlapped
    # --- 13 of the 44-key r8-newest cohort (COVERAGE.md order; the
    # displaced 6 lead the r16 rotation) ---
    "envelope_roundtrip",
    "orders_pareto_abc",
    "part_name_trigram_search",
    "join_fuzzy_name_editdist",
    "text_vocab_build",
    "text_bigram_colloc",
    "text_zipf_fit",
    "text_bm25_topk",
    "text_kneser_ney_logprob",
    "text_bm25_prf_expansion",
    "text_vocab_coverage_oov",
    "text_hapax_ratio",
    "dedup_semantic_lexical_agreement",
]


def registry() -> tuple[dict, dict]:
    queries: dict = {}
    oracles: dict = {}
    for name in _MODULES:
        mod = import_module(f".{name}", __package__)
        for k in mod.QUERIES:
            if k in queries:
                raise ValueError(f"duplicate query key: {k}")
        queries.update(mod.QUERIES)
        oracles.update(mod.ORACLES)

    missing = [k for k in _WINDOW if k not in queries]
    if missing:
        raise ValueError(f"_WINDOW names unknown queries: {missing}")
    no_oracle = [k for k in _WINDOW if k not in oracles]
    if no_oracle:
        raise ValueError(f"_WINDOW holds oracle-less queries: {no_oracle}")

    window_pos = {k: i for i, k in enumerate(_WINDOW)}
    merge_pos = {k: i for i, k in enumerate(queries)}

    def rank(k: str) -> tuple[int, int, int]:
        tier = 0 if k in window_pos else (1 if k in oracles else 2)
        return (tier, window_pos.get(k, 0), merge_pos[k])

    ordered = sorted(queries, key=rank)
    return {k: queries[k] for k in ordered}, oracles
