"""The ``crawl_rounds`` workload and the traced bulk leg.

``crawl_rounds`` crawls a 300-host web to depth 1 with a 25% transient
failure rate and one retry, for ``MAX_ROUNDS`` rounds (the crawl's
completion), so every round carries at most about 860 URLs, the last
one a few dozen, and per-round fixed cost dominates
(job launches, the seen-set probe floor, the commit, the driver gaps).
Many re-discovered URLs make the seen set probe and confirm rather than
insert. It runs as two legs: ``ROUNDS_LEG1`` rounds, then a fresh engine
resumes the same checkpoint root for the rest, which exercises the read
side of ``crawl.checkpoints`` and ``SeenSet.rollback``. One run, JVM
launch included, takes about a minute on a 4-core host; 300 hosts keep
the URL count within a few percent from seed to seed (1,341-1,431 URLs
over seeds 11-20).

The bulk leg runs only in traced runs: a wide web crawled to depth 1 in
two rounds, where per-URL work dominates (fetch and link admission, the
insert-heavy seen-set append, the politeness window, large record
commits). It reports ``bulk.*`` layer numbers and no end-to-end metric.

The engine receives only the generated seed list and web config; the
benchmark seed becomes ``WebConfig(seed=...)``.
"""

from __future__ import annotations

import dataclasses
import os
import statistics
import time

from common_crawl___autumn_2025_spark import synthetic as syn
from common_crawl___autumn_2025_spark.canonical import registered_domain
from common_crawl___autumn_2025_spark.crawl import oracle
from common_crawl___autumn_2025_spark.crawl.frontier import CrawlEngine, CrawlSpec

from . import harness

ROUNDS_HOSTS = 300
ROUNDS_LEG1 = 2
MAX_ROUNDS = 4
BULK_HOSTS = 1000
PHASES = ("unseen", "fetch_and_seen_add", "new_matches", "commit_wait")
LOG_COLS = ("round", "host", "seq", "surt", "url", "depth", "seed_id",
            "status", "fetch_ts_offset", "target_number")


def rounds_spec(seed: int, hosts: int = ROUNDS_HOSTS) -> CrawlSpec:
    web = syn.WebConfig(seed=seed, n_hosts=hosts, fetch_failure_rate=0.25)
    return CrawlSpec(web=web, max_depth=1, max_rounds=MAX_ROUNDS, retry_max=1)


def bulk_spec(seed: int, hosts: int = BULK_HOSTS) -> CrawlSpec:
    return CrawlSpec(
        web=syn.WebConfig(seed=seed, n_hosts=hosts), max_depth=1, max_rounds=2
    )


@dataclasses.dataclass
class Leg:
    """One ``CrawlEngine.run`` call: its wall, its ``run_round`` calls
    as (start, end), its summary and its engine, or the error it
    raised."""

    start: float
    end: float
    round_calls: list[tuple[float, float]]
    summary: dict
    engine: CrawlEngine | None
    error: str | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def fetched(self) -> int:
        return sum(r["fetched"] for r in self.summary["rounds"])

    def round_latencies(self) -> list[float]:
        """Gap between consecutive ``run_round`` calls; the last round
        runs to the return of ``run``."""
        starts = [c[0] for c in self.round_calls]
        return [b - a for a, b in zip(starts, starts[1:] + [self.end])]


def run_leg(spark, spec, root, seeds, resume=False, tracer=None) -> Leg:
    """Build an engine and run it; an exception ends the leg and is
    kept as its error (one failed operation)."""
    calls: list[tuple[float, float]] = []
    eng = None
    start = time.time()
    try:
        eng = CrawlEngine(spark, spec, root, partitions=harness.nproc())
        if tracer is not None:
            instrument(eng, tracer)
        run_round = eng.run_round

        def clocked(*args, **kwargs):
            t0 = time.time()
            try:
                return run_round(*args, **kwargs)
            finally:
                calls.append((t0, time.time()))

        eng.run_round = clocked
        run = eng.run if tracer is None else tracer.wrap("frontier.run", eng.run)
        start = time.time()
        summary = run(seeds, resume=resume)
    except Exception as e:  # noqa: BLE001 — counted as a failed operation
        return Leg(start, time.time(), calls, {"rounds": []}, eng,
                   f"{type(e).__name__}: {e}")
    return Leg(start, time.time(), calls, summary, eng)


@dataclasses.dataclass
class RoundsPass:
    legs: list[Leg]
    root: str

    @property
    def wall(self) -> float:
        return sum(leg.wall for leg in self.legs)

    @property
    def fetched(self) -> int:
        return sum(leg.fetched for leg in self.legs)

    def latencies(self) -> list[float]:
        return [x for leg in self.legs for x in leg.round_latencies()]

    @property
    def errors(self) -> list[str]:
        return [leg.error for leg in self.legs if leg.error]

    @property
    def resume_s(self) -> float:
        """From ``run(resume=True)`` to its first ``run_round`` call."""
        if len(self.legs) < 2:
            return 0.0
        leg = self.legs[1]
        first = leg.round_calls[0][0] if leg.round_calls else leg.end
        return first - leg.start


class CrawlRounds:
    name = "crawl_rounds"

    def __init__(self, seed: int, work: str, hosts: int = ROUNDS_HOSTS,
                 bulk_hosts: int = BULK_HOSTS):
        self.seed = seed
        self.work = work
        self.hosts = hosts
        self.bulk_hosts = bulk_hosts
        self.n_runs = 0
        self._ref = None

    def _root(self, kind: str) -> str:
        self.n_runs += 1
        return os.path.join(self.work, "crawl", f"{kind}{self.n_runs}")

    def prepare(self, spark) -> None:
        """Input generation: the specs and their ordered seed lists."""
        self.spec = rounds_spec(self.seed, self.hosts)
        self.seeds = syn.seed_urls(self.spec.web, self.hosts)
        self.bulk = bulk_spec(self.seed, self.bulk_hosts)
        self.bulk_seeds = syn.seed_urls(self.bulk.web, self.bulk_hosts)

    def run_pass(self, spark, tracer=None) -> RoundsPass:
        root = self._root("rounds")
        leg1_spec = dataclasses.replace(self.spec, max_rounds=ROUNDS_LEG1)
        leg1 = run_leg(spark, leg1_spec, root, self.seeds, tracer=tracer)
        if leg1.error:
            return RoundsPass([leg1], root)
        leg2 = run_leg(spark, self.spec, root, self.seeds, True, tracer)
        return RoundsPass([leg1, leg2], root)

    def run_bulk(self, spark, tracer=None) -> Leg:
        return run_leg(spark, self.bulk, self._root("bulk"), self.bulk_seeds,
                       tracer=tracer)

    @staticmethod
    def pass_wall(p: RoundsPass) -> float:
        return p.wall

    def end_to_end(self, passes: list[RoundsPass]) -> dict[str, float]:
        lat = [x for p in passes for x in p.latencies()]
        return {
            "pass_s": statistics.median(p.wall for p in passes),
            "op_p50_s": statistics.median(lat),
            "op_geomean_s": statistics.geometric_mean(lat),
            "throughput_per_s": statistics.median(p.fetched / p.wall for p in passes),
        }

    def describe(self, p: RoundsPass) -> dict:
        return {
            "legs_s": [leg.wall for leg in p.legs],
            "round_latencies_s": p.latencies(),
            "resume_s": p.resume_s,
            "urls": p.fetched,
        }

    def attempted(self, p: RoundsPass) -> int:
        """Operations of a pass: its rounds and its resume; a leg that
        raised counts as one more (failed) operation."""
        return (sum(len(leg.summary["rounds"]) for leg in p.legs) + 1
                + len(p.errors))

    # -- output checks -----------------------------------------------------

    def oracle(self) -> tuple[list[tuple], dict]:
        """``crawl/oracle.py``'s uninterrupted single-threaded crawl."""
        ref = oracle.crawl(self.spec, self.seeds)
        return sorted(ref.fetch_log), ref.matches

    def bulk_oracle(self, spark) -> tuple[list[tuple], dict]:
        """The oracle over seed chunks, in parallel on the session's
        workers. Exact because seed i is host i and every crawl stays
        on its seed's registered domain, which ``check_bulk_scope``
        verifies."""
        n_chunks = harness.nproc() * 2
        step = -(-len(self.bulk_seeds) // n_chunks)
        chunks = [
            (self.bulk, i, self.bulk_seeds[i:i + step])
            for i in range(0, len(self.bulk_seeds), step)
        ]
        parts = spark.sparkContext.parallelize(chunks, len(chunks)).map(
            _oracle_chunk
        ).collect()
        return (sorted(row for p in parts for row in p[0]),
                {k: v for p in parts for k, v in p[1].items()})

    def check_pass(self, p: RoundsPass) -> list[str]:
        """The two-leg crawl equals the oracle's uninterrupted run (the
        oracle is computed once per run, outside every timed region)."""
        if p.errors:
            return [f"crawl_rounds: {e[:300]}" for e in p.errors]
        if self._ref is None:
            self._ref = self.oracle()
        return self.check(p.legs[-1], self._ref, "crawl_rounds")

    def traced_layers(self, spark, p: RoundsPass, tracer) -> tuple[dict, list[str]]:
        """Bulk leg, its oracle check, the microprobes and the layer
        metrics of a traced pass."""
        from . import probes

        bulk = self.run_bulk(spark, tracer)
        if p.errors or bulk.error:
            # the rounds pass's own errors are already counted
            return {}, [f"bulk: {bulk.error[:300]}"] if bulk.error else []
        ref = self.bulk_oracle(spark)
        failures = self.check_bulk_scope(ref) + self.check(bulk, ref, "bulk")
        layer = per_layer(p, bulk, tracer)
        layer.update(probes.run(self.bulk, [row[4] for row in ref[0]]))
        return layer, failures

    def spark_layers(self, p: RoundsPass, ev: dict) -> dict:
        n = max(1, sum(len(leg.summary["rounds"]) for leg in p.legs))
        return {
            "frontier.jobs_per_round": ev["pass"]["jobs"] / n,
            "frontier.tasks_per_round": ev["pass"]["tasks"] / n,
        }

    def windows(self, p: RoundsPass) -> dict:
        return {}

    def check(self, leg: Leg, ref: tuple[list[tuple], dict], what: str) -> list[str]:
        """The committed fetch log (per-host sequences, statuses,
        politeness offsets) and the matches equal the reference."""
        failures = []
        log = engine_fetch_log(leg.engine)
        want_log, want_matches = ref
        if log != want_log:
            failures.append(f"{what}: fetch log differs from the oracle "
                            f"({len(log)} vs {len(want_log)} rows)")
        got = {
            r.seed_id: (r.url, r.surt, r.target_number, r.round)
            for r in leg.engine.read_matches_cum().collect()
        }
        if got != want_matches:
            failures.append(f"{what}: matches differ from the oracle "
                            f"({len(got)} vs {len(want_matches)})")
        return failures

    def check_bulk_scope(self, ref: tuple[list[tuple], dict]) -> list[str]:
        web = self.bulk.web
        if any(
            registered_domain(row[1]) != registered_domain(syn.host_name(web, row[6]))
            for row in ref[0]
        ):
            return ["bulk: a crawl left its seed's domain; "
                    "the chunked oracle does not apply"]
        return []


def _oracle_chunk(args):
    spec, offset, seeds = args
    res = oracle.crawl(spec, seeds)
    log = [r[:6] + (r[6] + offset,) + r[7:] for r in res.fetch_log]
    return log, {k + offset: v for k, v in res.matches.items()}


def engine_fetch_log(eng: CrawlEngine) -> list[tuple]:
    store = eng.store
    rows = []
    for r in range(store.latest_round() + 1):
        table = store.read_table(r, "fetch_log").select(*LOG_COLS).toArrow()
        rows.extend(zip(*(table.column(c).to_pylist() for c in LOG_COLS)))
    return sorted(rows)


def instrument(eng: CrawlEngine, tracer) -> None:
    """Wrap the public calls of the frontier, seen-set and checkpoint
    layers on this engine's own objects."""
    eng.run_round = tracer.wrap("frontier.run_round", eng.run_round)
    seen, store = eng.seen, eng.store
    for name in ("add", "filter_unseen", "load_bitmaps", "rollback"):
        setattr(seen, name, tracer.wrap(f"seen.{name}", getattr(seen, name)))
    for name in ("commit", "read_manifest", "read_table"):
        setattr(store, name, tracer.wrap(f"checkpoints.{name}", getattr(store, name)))


def per_layer(p: RoundsPass, bulk: Leg, tracer) -> dict[str, float]:
    """Layer metrics: frontier.*, seen.* and checkpoints.* of the traced
    rounds pass, bulk.* of the traced bulk leg."""
    out: dict[str, float] = {}
    rounds = [r for leg in p.legs for r in leg.summary["rounds"]]
    phase = {k: sum(r["phase_sec"].get(k, 0.0) for r in rounds) for k in PHASES}
    out["frontier.rounds"] = len(rounds)
    out["frontier.run_round_s"] = sum(
        b - a for leg in p.legs for a, b in leg.round_calls
    )
    out["frontier.between_rounds_s"] = sum(
        (nxt[0] if nxt else leg.end) - cur[1]
        for leg in p.legs
        for cur, nxt in zip(leg.round_calls, leg.round_calls[1:] + [None])
    )
    for k in PHASES:
        out[f"frontier.phase.{k}_s"] = phase[k]
    out["frontier.unattributed_s"] = p.wall - sum(phase.values())
    urls_in = sum(r["frontier_in"] for r in rounds)
    attempted = sum(r["deduped_attempted"] for r in rounds)
    out["frontier.urls_in"] = urls_in
    out["frontier.urls_attempted"] = attempted
    out["frontier.dedup_yield"] = attempted / urls_in if urls_in else 0.0
    log = engine_fetch_log(p.legs[-1].engine)
    out["frontier.fetch_ok_ratio"] = (
        sum(1 for r in log if r[7] == 200) / len(log) if log else 0.0
    )
    out["frontier.resume_s"] = p.resume_s

    leg2 = p.legs[1]
    resume_window = (leg2.start, leg2.start + p.resume_s)
    in_pass = (p.legs[0].start, p.legs[-1].end)

    def total(name, window=in_pass):
        return sum(s.end - s.start for s in tracer.named(name)
                   if s.start >= window[0] and s.end <= window[1])

    out["checkpoints.resume_read_s"] = total(
        "checkpoints.read_manifest", resume_window
    ) + total("checkpoints.read_table", resume_window)
    out["checkpoints.commit_s"] = total("checkpoints.commit")
    for name in ("add", "filter_unseen", "load_bitmaps", "rollback"):
        out[f"seen.{name}_s"] = total(f"seen.{name}")
    out["seen.add_rows"] = attempted
    state_bytes, state_files = harness.dir_stats(p.root)
    seen_bytes, seen_files = harness.dir_stats(os.path.join(p.root, "seen"))
    out["seen.bytes"] = seen_bytes
    out["checkpoints.bytes_written"] = state_bytes - seen_bytes
    out["checkpoints.files_written"] = state_files - seen_files
    out["checkpoints.state_bytes_per_url"] = (
        state_bytes / p.fetched if p.fetched else 0.0
    )
    out["bulk.wall_s"] = bulk.wall
    out["bulk.urls"] = bulk.fetched
    out["bulk.phase.fetch_and_seen_add_s"] = sum(
        r["phase_sec"].get("fetch_and_seen_add", 0.0) for r in bulk.summary["rounds"]
    )
    return out
