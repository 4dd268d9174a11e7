"""Pin the session-config contract (round 7).

The r2→r6 bench-drift investigation (SCALING.md) listed silent config
drift among its suspects before the bisect exonerated code entirely —
this test makes the scale-relevant conf surface CI-visible so a future
drift question can rule it out by reading one green row instead of
re-running a two-worktree A/B. Every key here is load-bearing: AQE and
skew-join for runtime re-planning at 100 TB, UTC for oracle timestamp
parity, Arrow for the pandas hops, pushdown + 128 MB splits for the scan
tier, nanosAsLong for the events fixture, reused Python workers for the
per-worker model cache and the zip-finder release."""

from __future__ import annotations


_CONTRACT = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.python.worker.reuse": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
}


def test_engine_session_carries_the_scale_contract(spark):
    for key, want in _CONTRACT.items():
        assert spark.conf.get(key) == want, key


def test_shuffle_partitions_track_core_count(spark):
    from talkinghead_datapipeline_spark.session import DEFAULT_CPUS

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == DEFAULT_CPUS


def test_bench_headline_keys_all_registered():
    """bench.py silently skips HEADLINE names missing from the registry
    (by design, for forward-compat) — so a typo'd key would quietly
    shrink the benchmark. Pin that every current key resolves. (The r9
    string allowlist for pre-registration staged names is gone: ADVICE r9
    flagged that a typo in a pre-listed name would pass silently, and the
    r10 registrations made the allowlist empty anyway — any future staged
    pre-listing must re-derive its allowlist from the staged symbols, not
    hard-coded strings.)"""
    import bench

    from talkinghead_datapipeline_spark.queries import all_queries

    missing = [n for n in bench.HEADLINE if n not in all_queries()]
    assert not missing, f"HEADLINE keys not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate keys"
