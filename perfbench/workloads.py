"""The benchmark's workloads: which registered ids or statement stream each
runs, and why. Names and reasons match BENCHMARK.json."""
import lake_ops

# LLM-data ids whose construction runs eager jobs (dedup_embedding,
# vec_mmr_rerank), hit the size gates' small-input side and the
# per-directory memos, plus the two pair-emitting shingle dedups whose
# recall is checked against the uncapped truth.
LLM_CURATION = [
    "dedup_embedding", "dedup_ngram", "dedup_containment", "vec_mmr_rerank",
    "text_bpe_train", "sim_cosine_pairs", "text_pii_scrub",
]

# pair-emitting dedup ids: output columns that name one pair
PAIR_COLUMNS = {
    "dedup_ngram": ["id1", "id2"],
    "dedup_containment": ["contained_id", "container_id"],
}

WORKLOADS = {
    "llm_curation": {"mode": "queries", "ids": LLM_CURATION,
                     "pairs": PAIR_COLUMNS, "min_passes": 3},
    # two rotations of the maintenance schedule: each step, and expiry on
    # each table, once
    "lake_mixed": {"mode": "lake", "min_passes": 2 * len(lake_ops.SCHEDULE)},
}

# generated input scale (see gen_data.py): 60k lineitem rows, 500 documents,
# 500 embeddings
DATA_SF = 0.01
DATA_SEED = 42
