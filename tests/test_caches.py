"""The operator cache registry: one ``persist``/``release_caches`` pair
behind the four legacy ``release_*`` names."""

from pathlib import Path

import pytest

from sequenzo_spark import caches

# the benchmark's read-only fixture tables, shipped in the repository
TABLES = str(
    Path(__file__).resolve().parent.parent / "perfbench" / "tables" / "sf0.01"
)


class _Frame:
    def __init__(self, fail=False):
        self.fail = fail
        self.persisted = False

    def persist(self):
        self.persisted = True
        return self

    def unpersist(self):
        if self.fail:
            raise RuntimeError("unpersist failed")
        self.persisted = False


def test_release_propagates_errors_and_unregisters_the_entry():
    ok, bad = _Frame(), _Frame(fail=True)
    assert caches.persist(ok) is ok and ok.persisted
    caches.persist(bad)
    with pytest.raises(RuntimeError, match="unpersist failed"):
        caches.release_caches()
    # the failing entry was popped before its unpersist: a retry releases
    # the rest instead of failing on it forever
    assert caches.release_caches() == 1
    assert not ok.persisted
    assert caches.release_caches() == 0


def test_legacy_release_names_are_the_registry():
    from sequenzo_spark.operators.prefix_tree import release_prefix_caches
    from sequenzo_spark.operators.subsequences import release_stats_caches
    from sequenzo_spark.operators.suffix_tree import release_suffix_caches
    from sequenzo_spark.pipeline.dedup import release_sig_caches

    for alias in (
        release_sig_caches,
        release_stats_caches,
        release_prefix_caches,
        release_suffix_caches,
    ):
        assert alias is caches.release_caches


def test_any_release_alias_drops_every_query_cache(spark):
    """Queries from the subsequence, prefix-tree and dedup families persist
    frames; one release through any legacy name leaves no persistent RDD."""
    from sequenzo_spark.driver_queries import QUERIES
    from sequenzo_spark.operators.prefix_tree import release_prefix_caches

    jsc = spark.sparkContext._jsc
    # start from zero: cached fixtures of other test modules are not ours
    spark.catalog.clearCache()
    assert jsc.getPersistentRDDs().size() == 0
    results = {}
    for q in (
        "frequent_event_subseq",
        "prefix_divergence_topp",
        "minhash_verified_pairs",
    ):
        df = QUERIES[q](spark, TABLES)
        results[q] = df.collect()
        assert jsc.getPersistentRDDs().size() > 0, q
    assert all(results.values())
    assert release_prefix_caches() > 0
    assert jsc.getPersistentRDDs().size() == 0
