"""The crawl's own checkpoint reads carry their schemas: building the
DataFrame launches no Spark job (a schema-less parquet read runs a
one-task footer-inference job), and the pinned schema is the one
inference would have produced."""

import json
import os
import shutil
import tempfile
import uuid

import pytest

from common_crawl___autumn_2025_spark import synthetic as syn
from common_crawl___autumn_2025_spark.crawl.frontier import CrawlEngine, CrawlSpec


@pytest.fixture(scope="module")
def crawled(spark):
    spec = CrawlSpec(web=syn.WebConfig(n_hosts=12), max_depth=1, max_rounds=2)
    root = tempfile.mkdtemp(prefix="pinned_reads_")
    eng = CrawlEngine(spark, spec, root, partitions=4)
    eng.run(syn.seed_urls(spec.web, 10))
    yield eng
    shutil.rmtree(root, ignore_errors=True)


def _jobs_launched(spark, build):
    sc = spark.sparkContext
    group = f"pinned-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema-pinned reads")
    try:
        frames = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return frames, list(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_reads_launch_no_job(spark, crawled):
    eng = crawled
    latest = eng.store.latest_round()
    assert latest == 1
    frames, jobs = _jobs_launched(
        spark,
        lambda: {
            "seen": eng.seen.exact_df(),
            "matches": eng.read_matches_cum(latest),
            "frontier": eng.store.read_table(latest, "frontier"),
            "fetch_log": eng.store.read_table(0, "fetch_log"),
            "records": eng.store.read_table(0, "records"),
        },
    )
    assert jobs == []
    # same schema as inference gives (file reads make every field
    # nullable either way), and the same rows
    inferred = {
        "seen": spark.read.parquet(eng.seen.exact_path),
        "matches": spark.read.parquet(*eng.store.delta_table_paths("matches", latest)),
        "frontier": spark.read.parquet(f"{eng.store.root}/round={latest}/frontier"),
        "fetch_log": spark.read.parquet(f"{eng.store.root}/round=0/fetch_log"),
        "records": spark.read.parquet(f"{eng.store.root}/round=0/records"),
    }
    for name, df in frames.items():
        assert df.schema == inferred[name].schema, name
        assert sorted(map(repr, df.drop("bytes").collect())) == sorted(
            map(repr, inferred[name].drop("bytes").collect())
        ), name


def test_read_table_without_recorded_schema_infers(spark, crawled):
    """Manifests written before schemas were recorded still read."""
    root = tempfile.mkdtemp(prefix="pinned_legacy_")
    try:
        shutil.copytree(crawled.store.root, root, dirs_exist_ok=True)
        mf = os.path.join(root, "round=0", "manifest.json")
        with open(mf) as f:
            m = json.load(f)
        for meta in m["tables"].values():
            meta.pop("schema")
        with open(mf, "w") as f:
            json.dump(m, f)
        legacy = CrawlEngine(spark, crawled.spec, root, partitions=4)
        got = legacy.store.read_table(0, "fetch_log")
        want = crawled.store.read_table(0, "fetch_log")
        assert got.schema == want.schema
        assert got.count() == want.count()
    finally:
        shutil.rmtree(root, ignore_errors=True)
