"""Whole-surface plan hygiene: no query may plan a CartesianProduct or an
Exchange SinglePartition (the all-rows-to-one-task shapes). Catches any
future query or Spark-upgrade regression across the entire QUERIES
registry, not just the individually pinned plans in test_plans.py.

It also pins where the scan spread (``session.spread``, the package's only
keyless repartition) fires: the per-query count of
``RoundRobinPartitioning`` must equal ROUND_ROBIN, so a dropped or added
spread shows up as a diff against this table."""

import contextlib
import io

import pytest

from epstein_browser_spark.queries import QUERIES

SMELLS = ["CartesianProduct", "Exchange SinglePartition"]

# RoundRobinPartitioning occurrences per formatted plan; absent → 0
ROUND_ROBIN = {
    "q20_minhash_pairs": 2, "q24_token_stats": 1, "q25_langid": 1,
    "q26_fingerprint": 1, "q42_minhash_pairs_md5": 2, "q48_ivf_topk": 2,
    "q51_langid_ngram": 1, "q53_ivf_topk_multiprobe": 2,
    "q57_decontamination": 1, "q64_repetition_signals": 3,
    "q66_pq_adc_topk": 2, "q67_ivf_pq_topk": 7, "q70_chunking": 1,
    "q71_boilerplate_lines": 2, "q72_bpe_tokens": 3, "q73_packing_bpe": 3,
    "q74_ivf_kmeans_topk": 1, "q76_conv_neardup": 2, "q77_tfidf_topk": 2,
    "q79_dsir_weights": 5, "q84_lm_perplexity": 4, "q85_eval_containment": 1,
    "q87_nb_select": 3, "q93_dsir_select": 5, "q102_token_entropy": 1,
    "q103_centroid_diversity": 1, "q108_chunk_langid": 1,
    "q110_source_overlap": 4, "q113_split_leakage": 2,
    "q115_tokenizer_fertility": 3, "q118_code_detect": 1,
    "q139_edit_near_dups": 4, "q144_hll_customers": 2,
    "q145_cms_heavyhitters": 1, "q147_bloom_semijoin": 2,
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_plan_smells(spark, sf_dir, name):
    fn, _sql = QUERIES[name]
    df = fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    found = [s for s in SMELLS if s in plan]
    assert not found, f"{name} plans {found}:\n{plan[:2000]}"
    assert plan.count("RoundRobinPartitioning") == ROUND_ROBIN.get(name, 0), name
