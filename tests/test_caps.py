"""Pin: every corpus-facing composition passes a non-None doc-frequency
cap into its pair derivation.

The uncapped `ngram_jaccard_pairs` / `minhash_lsh_pairs` defaults
(`max_doc_freq=None`) are audit/baseline surface — at corpus scale a
boilerplate shingle shared by every doc turns the shingle-keyed join
quadratic. The capped variants are the scale path; this test intercepts
the pair-derivation calls each corpus-prep query makes and fails if any
wrapper (re)introduces an uncapped derivation.
"""

from __future__ import annotations

import pytest

from lol_data_collection_system_spark.operators import dedup as dedup_ops

SF_DIR = "/root/testdata/sf0.001"

#: Corpus-prep queries whose pair derivation MUST be capped. (The other
#: scale levers — contrastive_negatives' bucket count and
#: semantic_near_dup's pair budget — are pinned in test_sketches.py.)
CORPUS_PREP_QUERIES = [
    "dedup_components",
    "component_canonicals",
    "leakage_safe_split",
    "corpus_funnel",
    "train_test_contamination",
]

_PAIR_FNS = (
    "ngram_jaccard_pairs",
    "lsh_candidate_pairs",
    "benchmark_contamination",
)


class _Abort(Exception):
    pass


@pytest.mark.parametrize("qname", CORPUS_PREP_QUERIES)
def test_corpus_prep_pair_derivation_is_capped(spark, qname, monkeypatch):
    import __spark_entry__ as entry_mod
    from lol_data_collection_system_spark.session import reset

    q = entry_mod.queries().get(qname)
    if q is None:
        pytest.skip(f"{qname} not registered")

    # dedup_components / component_canonicals / leakage_safe_split
    # share their converged CC labels per session; a registry hit
    # returns the labels WITHOUT calling the spied pair derivation, so
    # this test would fail whenever another test had already run one of
    # those queries. Empty the session's registry first.
    reset(spark)

    calls: list[tuple[str, object]] = []

    def _spy(fn_name, real):
        def wrapper(*args, **kwargs):
            import inspect

            bound = inspect.signature(real).bind(*args, **kwargs)
            bound.apply_defaults()
            calls.append((fn_name, bound.arguments.get("max_doc_freq")))
            # Recording is the point — abort before any Spark job runs.
            raise _Abort

        return wrapper

    for fn_name in _PAIR_FNS:
        monkeypatch.setattr(
            dedup_ops, fn_name, _spy(fn_name, getattr(dedup_ops, fn_name))
        )
    try:
        q(spark, SF_DIR)
    except _Abort:
        pass
    assert calls, (
        f"{qname} never reached a pair derivation — if its pipeline "
        "changed, update _PAIR_FNS/CORPUS_PREP_QUERIES"
    )
    for fn_name, cap in calls:
        assert cap is not None, (
            f"{qname} calls {fn_name} with max_doc_freq=None — corpus-prep "
            "compositions must pass the doc-frequency skew cap"
        )
