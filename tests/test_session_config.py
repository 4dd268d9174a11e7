"""Pin the session-config contract (round 7).

The r2→r6 bench-drift investigation (SCALING.md) listed silent config
drift among its suspects before the bisect exonerated code entirely —
this test makes the scale-relevant conf surface CI-visible so a future
drift question can rule it out by reading one green row instead of
re-running a two-worktree A/B. Every key here is load-bearing: AQE and
skew-join for runtime re-planning at 100 TB, UTC for oracle timestamp
parity, Arrow for the pandas hops, pushdown + 128 MB splits for the scan
tier, nanosAsLong for the events fixture, reused Python workers for the
per-worker model cache and the zip-finder release, and a codegen cache
that holds a whole pass of generated classes."""

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
    "spark.sql.codegen.cache.maxEntries": "4096",
}

# R1 queries whose pass generates about 170 distinct classes in a fresh
# session: more than Spark's default codegen cache holds (100), at about a
# third of the whole R1 pass's cost.
_CODEGEN_KEYS = (
    "flagship_segment_leaders",
    "q5_join_chain_revenue",
    "q3_top_revenue_orders",
    "n7_argmax_per_group",
    "s8_savgol_fir",
    "sim_lsh_bucket_topk",
    "sessionize_users",
    "simhash_hamming_near_dups",
    "pack_token_budget",
    "stratified_sample_by_lang",
)


def test_engine_session_carries_the_scale_contract(spark):
    for key, want in _CONTRACT.items():
        assert spark.conf.get(key) == want, key


def test_shuffle_partitions_track_core_count(spark):
    from talkinghead_datapipeline_spark.session import DEFAULT_CPUS

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == DEFAULT_CPUS


def test_warm_pass_recompiles_no_generated_class(spark, sf_dir):
    """The second of two same-order passes finds every whole-stage-codegen
    class in Spark's cache. Compiled classes are kept in an LRU keyed by
    code text; when one pass generates more classes than the cache holds,
    every lookup of the next pass misses and the pass recompiles them all."""
    import bench

    from talkinghead_datapipeline_spark.queries import all_queries

    assert set(_CODEGEN_KEYS) <= set(bench.R1_KEYS)
    specs = all_queries()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = compiles.getCount()
        for name in _CODEGEN_KEYS:
            specs[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        return compiles.getCount() - before

    one_pass()
    assert one_pass() == 0


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
