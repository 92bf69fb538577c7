"""Persisted-intermediate hygiene: per-entry operator caches must not
accumulate across a catalog sweep — the catalog boundary releases the
previous entry's caches (VERDICT r2 item 5). Session-lifetime MEMOS (the
shared MinHash signature chain) are the deliberate exception: they survive
release_caches but are O(1) per dataset (bounded set of named tables,
evicted on dataset switch), so the sweep stays memory-flat either way.
"""

from __future__ import annotations

from floorist_spark.operators._cache import (
    _MEMO,
    release_caches,
    release_memos,
)
from floorist_spark.operators.catalog import all_queries

from tests.conftest import SF_SMOKE


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_catalog_boundary_releases_previous_entry_caches(spark):
    release_caches()
    release_memos()  # clean slate regardless of test order
    qs = all_queries()

    df = qs["d04_lsh_jaccard_dedup"](spark, SF_SMOKE)
    df.count()
    n_after_d04 = _n_persisted(spark)
    assert n_after_d04 >= 2  # hashed shingles + signatures + pairs memos

    # building the NEXT catalog entry frees per-entry caches; memos stay
    qs["d01_exact_dedup"](spark, SF_SMOKE).count()
    assert _n_persisted(spark) == len(_MEMO)

    # and the memo set stays a BOUNDED named set when the chain re-runs
    # (the whole point: d09/d10 reuse d04's tables instead of rebuilding
    # them). r11 grew the set by three: candidate pairs, scored pairs,
    # and d09's converged cluster labels.
    qs["d09_dedup_clusters"](spark, SF_SMOKE).count()
    n_memos = len(_MEMO)
    # canonical docs, hashed shingles, minhash mins, cand pairs, scored
    # pairs, verified pairs, cluster labels
    assert n_memos <= 7
    # re-running the same consumers must not grow the set further
    qs["d09_dedup_clusters"](spark, SF_SMOKE).count()
    qs["d04_lsh_jaccard_dedup"](spark, SF_SMOKE).count()
    assert len(_MEMO) == n_memos
    release_caches()
    release_memos()
    assert _n_persisted(spark) == 0


def test_simhash_fp_memo_shared_across_consumers(spark):
    # r11: the SimHash fingerprint pass is memoized — d05/d06/d12/d29 all
    # ride ONE (doc_id, simhash) table instead of recomputing the
    # tokenize→md5→vote aggregation per consumer (and twice inside the
    # d06 self-join).
    release_caches()
    release_memos()
    from floorist_spark.operators.dedup import _simhash_fp, d06_simhash_near_pairs

    fp1 = _simhash_fp(spark, SF_SMOKE)
    n_memos = len(_MEMO)
    assert _simhash_fp(spark, SF_SMOKE) is fp1  # memo hit, same handle
    d06_simhash_near_pairs(spark, SF_SMOKE).count()
    assert len(_MEMO) == n_memos  # d06 rode the existing memos
    release_caches()
    release_memos()
    assert _n_persisted(spark) == 0


def test_cluster_labels_memo_shared_across_consumers(spark):
    # r11: d09's converged label table is memoized — d10/d16/c22 (and the
    # c16/c23 mixture chain) ride ONE propagation-loop run per dataset
    # instead of re-running the iterative join+checkpoint loop per entry.
    release_caches()
    release_memos()
    from floorist_spark.operators.dedup import (
        _cluster_labels,
        d10_curation_keep,
        d16_soft_dedup_weights,
    )

    labels = _cluster_labels(spark, SF_SMOKE)
    assert _cluster_labels(spark, SF_SMOKE) is labels  # memo hit
    n_memos = len(_MEMO)
    d10_curation_keep(spark, SF_SMOKE).count()
    d16_soft_dedup_weights(spark, SF_SMOKE).count()
    assert len(_MEMO) == n_memos  # consumers rode the memo, no rebuild
    release_caches()
    release_memos()
    # the aux-held localCheckpoint blocks must be freed with the memo tier
    assert _n_persisted(spark) == 0


def test_release_caches_is_idempotent_and_complete(spark):
    qs = all_queries()
    qs["d09_dedup_clusters"](spark, SF_SMOKE).count()
    assert _n_persisted(spark) >= 1
    release_caches()
    release_memos()
    assert _n_persisted(spark) == 0
    release_caches()  # second call is a no-op
    release_memos()
    assert _n_persisted(spark) == 0


def test_memo_evicts_on_dataset_switch(spark, tmp_path):
    """Memos are keyed by dataset dir; using a different dir evicts the
    old dataset's tables so at most one dataset's memos are ever live."""
    import shutil
    import os

    release_caches()
    release_memos()
    qs = all_queries()
    qs["d04_lsh_jaccard_dedup"](spark, SF_SMOKE).count()
    first_keys = set(_MEMO)
    assert first_keys

    other = tmp_path / "sfcopy"
    shutil.copytree(SF_SMOKE, other)
    qs["d04_lsh_jaccard_dedup"](spark, str(other)).count()
    dirs = {k[1] for k in _MEMO}
    assert dirs == {os.path.realpath(str(other))}
    release_caches()
    release_memos()


def _digest(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def _has_cached_plans(spark) -> bool:
    return not spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_build_on_another_thread_keeps_this_threads_caches(spark):
    """Concurrent dumps: each thread owns the intermediates its catalog
    builds tracked. Building an entry on thread B must not release what
    thread A's entry still reads, and A's result must equal the
    sequential one."""
    from concurrent.futures import ThreadPoolExecutor

    release_caches()
    release_memos()
    assert not _has_cached_plans(spark)
    qs = all_queries()
    sequential = _digest(qs["t24_source_divergence"](spark, SF_SMOKE))
    release_caches()

    with ThreadPoolExecutor(1) as a, ThreadPoolExecutor(1) as b:
        df = a.submit(qs["t24_source_divergence"], spark, SF_SMOKE).result(300)
        assert _has_cached_plans(spark), "t24 persists a tracked intermediate"
        b.submit(lambda: qs["q11_pricing_summary"](spark, SF_SMOKE).count()).result(300)
        assert _has_cached_plans(spark), "thread B released thread A's caches"
        assert a.submit(_digest, df).result(300) == sequential
        b.submit(release_caches).result(60)
        assert _has_cached_plans(spark)  # B owns none of them
        a.submit(release_caches).result(60)
    assert not _has_cached_plans(spark)
    release_memos()
    assert _n_persisted(spark) == 0


def test_concurrent_memo_misses_build_one_copy(spark):
    """Threads missing the same memo at once: one builds, every caller
    gets that copy, and no orphaned persisted duplicate is left behind."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from floorist_spark.operators._cache import memo

    release_memos()
    builds = []

    def build():
        builds.append(1)
        return spark.range(100)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            futs = [pool.submit(memo, spark, "stress", SF_SMOKE, build) for _ in range(16)]
            got = [f.result(300) for f in futs]
    finally:
        sys.setswitchinterval(interval)
    assert len(builds) == 1
    assert all(df is got[0] for df in got)
    release_memos()
    assert _n_persisted(spark) == 0
