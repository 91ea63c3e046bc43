"""Pins for run()'s post-round fast path (r7 optimization): the
one-aggregate next-frontier count must equal count(next_frontier)
exactly, round by round, and the narrow hit-row collect must
reproduce the matches delta's seed-id set (union with the prior
mirror being idempotent is what lets run() skip the delta's
window+filter job)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from common_crawl___autumn_2025_spark import synthetic as syn
from common_crawl___autumn_2025_spark.crawl.frontier import (
    FETCHED_SCHEMA,
    MATCH_SCHEMA,
    CrawlEngine,
    CrawlSpec,
    seeds_frontier,
)


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(max_depth=2, max_rounds=3),
        dict(max_depth=2, max_rounds=3, retry_max=2),
        dict(max_depth=2, max_rounds=3, early_exit=False),
        dict(max_depth=1, max_rounds=2, scope_mode="exclude_same_netloc"),
    ],
)
def test_fast_count_and_mirror_collect_equivalences(spark, kwargs):
    spec = CrawlSpec(web=syn.WebConfig(n_hosts=40), **kwargs)
    seeds = syn.seed_urls(spec.web, spec.web.n_hosts)
    root = tempfile.mkdtemp(prefix="fastcount_")
    try:
        eng = CrawlEngine(spark, spec, root, partitions=4)
        frontier = seeds_frontier(spark, seeds)
        matches = spark.createDataFrame([], MATCH_SCHEMA)
        # seed the driver mirror the way run() does on a fresh crawl
        eng._matched_ids = set()
        eng._mirror_valid = True
        eng._matched_df_n = None
        fc = len(seeds)
        rounds = 0
        for rnd in range(spec.max_rounds):
            if fc == 0:
                break
            nxt, fetched, delta, _records, _metrics = eng.run_round(
                rnd, frontier, matches, frontier_count=fc
            )
            delta_ids = {r[0] for r in delta.select("seed_id").collect()}
            hit_ids = {
                r[0]
                for r in fetched.where(
                    (F.col("status") == 200) & (F.col("target_number") != "")
                )
                .select("seed_id")
                .collect()
            }
            # narrow hit collect ≡ delta ids beyond the prior mirror
            assert hit_ids - eng._matched_ids == delta_ids
            eng._matched_ids.update(hit_ids)
            slow = nxt.count()
            assert eng._next_frontier_count_fast(fetched) == slow
            matches = matches.unionByName(delta)
            frontier, fc = nxt, slow
            rounds += 1
        assert rounds >= 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(max_depth=2, max_rounds=3),
        dict(max_depth=2, max_rounds=3, retry_max=2),
        dict(max_depth=2, max_rounds=3, early_exit=False),
    ],
)
def test_fast_count_in_broadcast_regime_with_commit_pending(spark, kwargs):
    """run() itself with ``matched_isin_limit`` lowered to 1: from the
    second matched seed on, the mirror filters of the hit collect and
    of ``_next_frontier_count_fast`` are broadcast anti-joins, run
    while the round's commit is still in flight. Each fast count must
    equal the committed next-frontier table's row count, and the
    mirror must end equal to the committed matches' seed ids."""
    spec = CrawlSpec(web=syn.WebConfig(n_hosts=40), **kwargs)
    seeds = syn.seed_urls(spec.web, spec.web.n_hosts)
    root = tempfile.mkdtemp(prefix="fastcount_bcast_")
    try:
        eng = CrawlEngine(spark, spec, root, partitions=4)
        eng.matched_isin_limit = 1
        counts, broadcast = [], []
        fast = eng._next_frontier_count_fast

        def recorded(fetched):
            broadcast.append(len(eng._matched_ids) > eng.matched_isin_limit)
            counts.append(fast(fetched))
            return counts[-1]

        eng._next_frontier_count_fast = recorded
        eng.run(seeds)
        assert counts and any(broadcast)
        for rnd, n in enumerate(counts):
            manifest = eng.store.read_manifest(rnd)
            assert manifest["tables"]["frontier"]["rows"] == n
        matched = {r[0] for r in eng.read_matches_cum().select("seed_id").collect()}
        assert eng._matched_ids == matched
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_fast_count_refuses_an_invalid_mirror(spark):
    """Standalone engines never seeded the mirror; the guard is an
    exception, not an assert, so it also holds under ``python -O``."""
    spec = CrawlSpec(web=syn.WebConfig(n_hosts=4))
    root = tempfile.mkdtemp(prefix="fastcount_invalid_")
    try:
        eng = CrawlEngine(spark, spec, root, partitions=2)
        assert not eng._mirror_valid
        fetched = spark.createDataFrame([], FETCHED_SCHEMA)
        with pytest.raises(RuntimeError, match="driver mirror"):
            eng._next_frontier_count_fast(fetched)
    finally:
        shutil.rmtree(root, ignore_errors=True)
