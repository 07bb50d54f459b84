"""The simulator reference the correctness gate compares against."""

from dataclasses import replace

from crawler_spark.simulator import simulate
from perfbench import workloads

TINY = workloads.Workload(
    name="tiny", why="test", num_seeds=60, num_hosts=6, epoch_budget=40, epochs=3)


def test_seed_shifts_the_url_range():
    a, b = workloads.seed_urls(TINY, 1), workloads.seed_urls(TINY, 2)
    assert len(a) == len(set(a)) == TINY.num_seeds
    assert not set(a) & set(b)
    assert a == workloads.seed_urls(TINY, 1)


def test_expected_matches_plain_simulate_without_recrawl():
    urls = workloads.seed_urls(TINY, 3)
    exp = workloads.simulate_expected(TINY, urls)
    sim = simulate(urls, TINY.epochs, epoch_budget=TINY.epoch_budget)
    assert exp["visited_n"] == len(sim.visited)
    assert exp["visited_sha"] == workloads.hash_digest(sim.visited)
    assert [o for _, o in exp["per_epoch"]] == [
        sum(1 for ep, _, _ in sim.fetch_log if ep == e) for e in (1, 2, 3)]
    # the budget binds in every epoch of this world; retries fail, so
    # selected counts exceed successes somewhere
    assert [s for s, _ in exp["per_epoch"]] == [40, 40, 40]
    assert sum(s - o for s, o in exp["per_epoch"]) > 0
    assert exp["recrawled"] == 0


def test_recrawl_forgets_visited_seeds_before_the_next_epoch():
    w = replace(TINY, epochs=1, recrawl_urls=10, epochs_after=2)
    urls = workloads.seed_urls(w, 3)
    exp = workloads.simulate_expected(w, urls)
    plain = workloads.simulate_expected(replace(w, recrawl_urls=0), urls)
    assert 0 < exp["recrawled"] <= 10
    assert exp["per_epoch"][0] == plain["per_epoch"][0]
    # forgotten seeds are fetched again and take budget from new URLs,
    # so fewer distinct URLs end up visited
    assert exp["visited_n"] < plain["visited_n"]
