"""Executed-plan pins for the round-11 optimization rewrites (guide §2.3/
§2.4): the census operators that used to join a per-key aggregate back onto
the full exploded table now answer ownership from the aggregate itself, so
the corpus-sized table is never re-joined on the high-cardinality digest.
Locally the old join-back hid behind a vocabulary-sized broadcast; at scale
that build side outgrows the broadcast threshold and degenerates to a full
sort-merge re-shuffle — these pins hold the rewritten shape so a refactor
cannot silently reintroduce it.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _join_lines(plan: str) -> list[str]:
    return [
        ln
        for ln in plan.splitlines()
        if "HashJoin" in ln or "SortMergeJoin" in ln or "NestedLoop" in ln
    ]


def _keys_on(ln: str, col: str) -> bool:
    """True when the bare column ``col`` (not a suffix of a longer name,
    e.g. d# inside doc_id# or h# inside sh#) appears in a plan line."""
    return re.search(rf"(?<![\w]){col}#\d", ln) is not None


@pytest.fixture(autouse=True)
def _release(spark):
    yield
    from floorist_spark.operators._cache import release_caches

    release_caches()


def test_d21_novelty_never_rejoins_exploded_table(spark):
    from floorist_spark.operators.dedup import d21_shingle_novelty

    plan = _plan(d21_shingle_novelty(spark, SF_SMOKE))
    # the (doc_id, h) explode feeds the owner aggregate exactly once —
    # novel counts come from a second aggregate OVER the owner table, and
    # the only join is doc-keyed metadata (sizes x novel-counts), so no
    # join carries the 8-byte shingle hash
    assert plan.count("Generate explode") == 1, plan
    joins = _join_lines(plan)
    assert joins, plan
    for ln in joins:
        assert not _keys_on(ln, "h"), ln


def test_t09_dup_fraction_never_rejoins_exploded_table(spark):
    from floorist_spark.operators.text import t09_dup_ngram_fraction

    plan = _plan(t09_dup_ngram_fraction(spark, SF_SMOKE))
    # the persisted (doc_id, digest) table feeds two aggregates (per-digest
    # counts, per-doc totals); the digest-keyed join-back is gone — the
    # only join attaches the per-owner unique counts on doc_id
    assert plan.count("InMemoryTableScan") >= 2, plan
    joins = _join_lines(plan)
    assert joins, plan
    for ln in joins:
        assert not _keys_on(ln, "h"), ln


def test_m12_census_counts_owners_without_rejoin(spark):
    from floorist_spark.operators.multimodal import m12_block_dedup_census

    plan = _plan(m12_block_dedup_census(spark, SF_SMOKE))
    # n_first_owned is a count over the owner table; the distinct block
    # table is never joined back on the digest d — the one join is the
    # doc-keyed attach of those counts
    joins = _join_lines(plan)
    assert joins, plan
    for ln in joins:
        assert not _keys_on(ln, "d"), ln
        assert _keys_on(ln, "doc_id"), ln


def test_d24_cache_holds_digests_not_gram_text(spark):
    from floorist_spark.operators.dedup import d24_exact_substring_spans

    plan = _plan(d24_exact_substring_spans(spark, SF_SMOKE))
    # the persisted anchor table carries 32-hex digest arrays (ds), never
    # the raw 8-token gram arrays, and the md5 pass ran once inside the
    # cache build — every InMemoryTableScan output is gram-text-free
    scans = [ln for ln in plan.splitlines() if "InMemoryTableScan" in ln]
    assert scans, plan
    assert any("ds#" in ln for ln in scans), scans
    for ln in scans:
        assert "grams#" not in ln, ln


def test_d30_signature_mins_read_distinct_cache(spark):
    from floorist_spark.operators.dedup import d30_source_pair_similarity

    plan = _plan(d30_source_pair_similarity(spark, SF_SMOKE))
    # the (source, h) explode happens once, inside the persisted distinct
    # build: the signature-min aggregate and both exact-Jaccard consumers
    # all read the cache (min is invariant under duplicates). The cached
    # relation's build plan is printed under every scan reference, so the
    # pin is that every printed explode is the SAME node (one expression
    # id) — the old shape ran a second, distinct explode for the mins
    explodes = {
        ln[ln.index("Generate") :]
        for ln in plan.splitlines()
        if "Generate explode" in ln
    }
    assert len(explodes) == 1, explodes
    assert plan.count("InMemoryTableScan") >= 3, plan
    assert "partial_min" in plan


def test_s16_rounds_persist_picked_no_exponential_inline(spark):
    from floorist_spark.operators import _cache
    from floorist_spark.operators.similarity import MMR_K, s16_mmr_diversify

    # r11 session 2: round r references the previous round's picked set
    # three times (anti-join, max-sim join, union); unpersisted, that
    # inlined 3^(K-1) copies of round 1 into the executed plan (166
    # Exchanges / 276 Windows at K=3). The fix persists+tracks the picked
    # table per intermediate round, alongside pool and pairs — pinned at
    # the tracking registry (the plan text is unpinnable here: cached
    # build subtrees re-print under every InMemoryTableScan reference)
    n0 = len(_cache.tracked())
    plan = _plan(s16_mmr_diversify(spark, SF_SMOKE))
    assert len(_cache.tracked()) - n0 >= 2 + (MMR_K - 2), _cache.tracked()
    # every greedy round reads caches, never a fresh corpus scan
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_d17_probe_reads_verified_pair_memo(spark):
    from floorist_spark.operators._cache import _MEMO, release_memos
    from floorist_spark.operators.dedup import d17_incremental_dedup

    # r11 session 2: the arrival-vs-index probe is a filter +
    # re-orientation of the memoized verified pairs (bit-exactness of the
    # memo's jaccard is pinned by test_scored_pairs_memo_values_and_reuse)
    # — constructing d17 with a cold memo tier must build the
    # verified-pair memo, which the old band-self-join + per-pair-verify
    # shape never touched
    release_memos()
    try:
        plan = _plan(d17_incremental_dedup(spark, SF_SMOKE))
        assert any(k[0] == "dedup_verified_pairs" for k in _MEMO), list(_MEMO)
        assert "InMemoryTableScan" in plan
        assert "CartesianProduct" not in plan
    finally:
        release_memos()


def test_m14_m15_share_one_chunk_memo(spark):
    from floorist_spark.operators._cache import release_memos
    from floorist_spark.operators.multimodal import (
        _cdc_chunk_rows,
        m14_cdc_chunks,
        m15_chunk_overlap_pairs,
    )

    release_memos()
    try:
        ch = _cdc_chunk_rows(spark, SF_SMOKE)
        assert ch is _cdc_chunk_rows(spark, SF_SMOKE)  # memo hit
        # m15 reads the cached chunk rows — no second mapInPandas
        # boundary scan in its executed plan
        plan = _plan(m15_chunk_overlap_pairs(spark, SF_SMOKE))
        assert "InMemoryTableScan" in plan, plan
        # the only Python evaluation is inside the cached build plan
        # (printed under InMemoryRelation); the live operator tree
        # above the scans must not re-run one
        live = plan.split("InMemoryRelation", 1)[0]
        assert "MapInPandas" not in live, live
        # m14 (r12: reverted off the memo — verdict item 4) is ONE
        # Arrow-batched scan of its own
        plan14 = _plan(m14_cdc_chunks(spark, SF_SMOKE))
        assert plan14.count("MapInPandas") == 1, plan14
    finally:
        release_memos()
