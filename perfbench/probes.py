"""Single-threaded microprobes of the executor-side functions of a crawl.

They run in the driver process, after the measured pass, on a fixed
sample of the URLs that the workload's own bulk crawl fetched. They
split the fetch stage's cost into the synthetic web's fixture cost
(``fetchers``) and the engine's own per-URL work (link admission,
canonicalization, SURT keys, robots decisions), without Spark.
"""

from __future__ import annotations

import statistics
import time

from common_crawl___autumn_2025_spark import synthetic as syn
from common_crawl___autumn_2025_spark.canonical import canonicalize, host_of, surt
from common_crawl___autumn_2025_spark.crawl.fetchers import SyntheticFetcher
from common_crawl___autumn_2025_spark.crawl.frontier import admit_link
from common_crawl___autumn_2025_spark.crawl.robots import robots_decision

SAMPLE = 200
REPEATS = 3


def _us_per_item(fn, items) -> float:
    """Median over REPEATS of the per-item time of ``fn`` over
    ``items``, in microseconds."""
    if not items:
        return 0.0
    runs = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        runs.append((time.perf_counter() - t0) / len(items) * 1e6)
    return statistics.median(runs)


def _path(url: str) -> str:
    rest = url.split("://", 1)[1]
    path = "/" + rest.split("/", 1)[1] if "/" in rest else "/"
    return path.split("?", 1)[0]


def run(spec, urls: list[str]) -> dict[str, float]:
    """``urls``: fetched URLs of the workload; the first ``SAMPLE`` in
    SURT order are probed."""
    sample = sorted(urls, key=surt)[:SAMPLE]
    fetcher = SyntheticFetcher(spec.web)
    pages = [fetcher.fetch(u) for u in sample]
    ok = [p for p in pages if p.status == 200]
    links = [(p.url, host_of(p.url), h) for p in ok for h in fetcher.extract_links(p)]
    rules = {h: syn.robots_for_host(spec.web, h)[0] for h in {host_of(u) for u in sample}}
    return {
        "fetchers.fetch_us_per_url": _us_per_item(fetcher.fetch, sample),
        "fetchers.extract_links_us_per_page": _us_per_item(fetcher.extract_links, ok),
        "frontier.admit_us_per_link": _us_per_item(
            lambda x: admit_link(spec, *x), links
        ),
        "canonical.canonicalize_us_per_url": _us_per_item(canonicalize, sample),
        "canonical.surt_us_per_url": _us_per_item(surt, sample),
        "robots.decision_us_per_url": _us_per_item(
            lambda u: robots_decision(rules[host_of(u)], _path(u)), sample
        ),
    }
