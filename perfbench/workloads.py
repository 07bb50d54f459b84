"""The benchmark's workloads and their correctness references.

Every workload crawls the closed-form synthetic world of
``crawler_spark.fixtures``.  The seed URL list is built here from the
``--seed`` argument (which shifts the seed-id range), so the program
only ever receives the generated URL DataFrame, and a claim can be
rechecked on a seed it was not tuned on.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

# seed ids of --seed s are [s * SEED_STRIDE, s * SEED_STRIDE + num_seeds)
SEED_STRIDE = 1_000_000
HOT_HOST_PREFIX = "https://host0.example/"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    num_seeds: int
    num_hosts: int
    epoch_budget: int | None
    epochs: int  # epochs before the recrawl (all epochs without one)
    use_bloom: bool | str = False
    bloom_auto_threshold: int = 1_000_000
    recrawl_urls: int = 0  # seed URLs handed to recrawl(); 0 = no recrawl
    epochs_after: int = 0  # epochs run after the recrawl

    @property
    def total_epochs(self) -> int:
        return self.epochs + self.epochs_after

    def config(self):
        from crawler_spark.epoch import EpochConfig

        return EpochConfig(
            epoch_budget=self.epoch_budget,
            use_bloom=self.use_bloom,
            bloom_auto_threshold=self.bloom_auto_threshold,
        )

    def key(self, seed: int) -> str:
        """Cache key: changes whenever the workload definition does."""
        h = hashlib.sha256(json.dumps(asdict(self), sort_keys=True).encode())
        return f"{self.name}-{seed}-{h.hexdigest()[:12]}"


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="crawl_long",
            why="budgeted multi-epoch crawl on the exact anti-join: per-epoch "
                "fixed cost and history-growing state reads dominate",
            num_seeds=5000,
            num_hosts=250,
            epoch_budget=3000,
            epochs=3,
        ),
        Workload(
            name="recrawl_cuckoo",
            why="crawl_long world with the seen filter engaged and a recrawl after "
                "epoch 1: candidate Bloom, cuckoo build, counting deletes of tombstones",
            num_seeds=5000,
            num_hosts=250,
            epoch_budget=3000,
            epochs=1,
            use_bloom="auto",
            bloom_auto_threshold=1,
            recrawl_urls=2000,
            epochs_after=1,
        ),
    )
}


def seed_urls(w: Workload, seed: int) -> list[str]:
    from crawler_spark import fixtures as fx

    base = seed * SEED_STRIDE
    return [fx.py_seed_url(k, w.num_hosts) for k in range(base, base + w.num_seeds)]


def recrawl_list(w: Workload, urls: list[str]) -> list[str]:
    """The first ``recrawl_urls`` seeds off the hot host.  recrawl()
    tombstones only those already visited; the count is deterministic
    per seed and is part of the correctness digest."""
    return [u for u in urls if not u.startswith(HOT_HOST_PREFIX)][: w.recrawl_urls]


def hash_digest(hashes) -> str:
    h = hashlib.sha256()
    for v in sorted(int(x) for x in hashes):
        h.update(v.to_bytes(8, "little", signed=True))
    return h.hexdigest()


class _RecrawlVisited(dict):
    """The simulator's visited map with a recrawl applied between epochs.

    ``simulate`` tests ``uh in visited`` only while admitting an epoch's
    candidates, and fetches only after that, so the first membership test
    after a fetch starts the next epoch.  Just before epoch ``at`` is
    admitted, the recrawled keys that are still visited are dropped, as
    ``epoch.recrawl`` tombstones exactly those.
    """

    def __init__(self, forget: list[int], at: int):
        super().__init__()
        self.forget, self.at = forget, at
        self.epoch, self.fetched = 1, False
        self.forgotten: list[int] = []

    def __contains__(self, key) -> bool:
        if self.fetched:
            self.fetched = False
            self.epoch += 1
            if self.epoch == self.at:
                self.forgotten = [h for h in self.forget if dict.__contains__(self, h)]
                for h in self.forgotten:
                    del self[h]
        return dict.__contains__(self, key)


def simulate_expected(w: Workload, urls: list[str]) -> dict:
    """Per-epoch (selected, fetched_ok), the final visited-set digest and
    the recrawl count that ``crawler_spark.simulator.simulate`` gives for
    the same seeds and config.

    ``simulate`` reports only successful fetches, so selected counts are
    taken by counting its calls to ``fixtures.py_fetch_status`` (one per
    selected row); its per-host slot pass calls ``py_crawl_delay`` before
    each epoch's fetches, which marks where an epoch starts.  A recrawl is
    applied through the visited map (``_RecrawlVisited``); the tombstone
    epoch ``recrawl`` commits fetches nothing, so simulator epoch
    ``epochs + 1`` is the first epoch after it.
    """
    from crawler_spark import fixtures as fx
    from crawler_spark import simulator
    from crawler_spark.functions.url import py_canonicalize, py_xxhash64

    cfg = w.config()
    selected: list[int] = []
    new_epoch = [False]
    visited = _RecrawlVisited(
        [py_xxhash64(py_canonicalize(u)) for u in recrawl_list(w, urls)],
        at=w.epochs + 1 if w.recrawl_urls else 0,
    )
    orig = fx.py_crawl_delay, fx.py_fetch_status, simulator.SimResult

    def delay(host):
        new_epoch[0] = True
        return orig[0](host)

    def status(url, attempt):
        if new_epoch[0] or not selected:
            selected.append(0)
            new_epoch[0] = False
        selected[-1] += 1
        visited.fetched = True
        return orig[1](url, attempt)

    def result():
        res = orig[2]()
        res.visited = visited
        return res

    fx.py_crawl_delay, fx.py_fetch_status, simulator.SimResult = delay, status, result
    try:
        sim = simulator.simulate(
            urls,
            w.total_epochs,
            epoch_seconds=cfg.epoch_seconds,
            epoch_budget=cfg.epoch_budget,
            max_depth=cfg.max_depth,
            host_scope_re=cfg.host_scope_re,
            respect_robots=cfg.respect_robots,
        )
    finally:
        fx.py_crawl_delay, fx.py_fetch_status, simulator.SimResult = orig
    ok = [0] * len(selected)
    for ep, _, _ in sim.fetch_log:
        ok[ep - 1] += 1
    return {
        "per_epoch": [[s, o] for s, o in zip(selected, ok)],
        "visited_n": len(sim.visited),
        "visited_sha": hash_digest(sim.visited),
        "recrawled": len(visited.forgotten),
    }

