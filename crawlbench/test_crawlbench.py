"""Tests of the benchmark's own logic.

    python3 -m pytest crawlbench/test_crawlbench.py -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import kernels  # noqa: E402
import metrics  # noqa: E402
from spans import Span, Tracer, self_time  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_self_time_subtracts_children_once():
    parent = Span(0, "round", None, 0.0, 10.0)
    spans = [
        parent,
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 5.0),  # overlaps a: 1..5 covered once
        Span(3, "c", 0, 8.0, 12.0),  # clipped to the parent's end
        Span(4, "grandchild", 1, 1.5, 2.0),  # not a direct child
    ]
    assert self_time(parent, spans) == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_time(spans[1], spans) == pytest.approx(3.0 - 0.5)
    assert self_time(spans[2], spans) == pytest.approx(2.0)


def test_tracer_nesting_and_totals():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("pass") as root:
        for _ in range(2):
            with tr.span("round"):
                clock.t += 1.0
                with tr.span("fetch") as sp:
                    clock.t += 2.0
                    sp.counts["rows"] = 10
                clock.t += 0.5
    t = tr.totals(root)
    assert root.duration == pytest.approx(7.0)
    assert t["fetch"] == {"s": 4.0, "self_s": 4.0, "rows": 20}
    assert t["round"]["s"] == pytest.approx(7.0)
    assert t["round"]["self_s"] == pytest.approx(3.0)
    assert [s.parent for s in tr.spans] == [None, 0, 1, 0, 3]


def test_metric_names_and_limits_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    names = list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"] == ("s", "lower")
    setup_bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert all(m["bound"] <= setup_bound for m in spec["end_to_end"])
    assert kernels.KERNEL_SUM in layer and kernels.REQUESTER in layer


def test_benchmark_json_workloads_match_code():
    import run
    import workloads

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        n: w.why for n, w in workloads.WORKLOADS.items()
    }
    assert set(run.WORKLOADS) == set(workloads.WORKLOADS)


@pytest.mark.parametrize("name", ["crawl"])
def test_input_digest_follows_the_seed(name, tmp_path):
    import workloads

    cls = workloads.WORKLOADS[name]
    a = cls(1, tmp_path).make_inputs()
    assert cls(1, tmp_path).make_inputs() == a
    assert cls(2, tmp_path).make_inputs() != a


def test_suite_input_is_fixed(tmp_path):
    import workloads

    cls = workloads.CurationSuite
    assert cls(1, tmp_path).make_inputs() == cls(2, tmp_path).make_inputs()


def test_deep_crawl_grows_a_backlog(tmp_path):
    """The oracle's BFS rounds grow, some host keeps unvisited pages
    after every round, and the changed pages are ~10% of the visited."""
    import workloads

    wl = workloads.DeepCrawl(1, tmp_path)
    wl.make_inputs()
    sizes = [len(r) for r in wl.want_rounds]
    assert len(sizes) == wl.ROUNDS and sizes == sorted(sizes)
    assert len(wl.want_keys) > 5 * len(wl.visited)
    assert abs(len(wl.bumped) - 0.1 * len(wl.visited)) <= 1


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import box

    box.fit_spark_env(ROOT, tmp_path_factory.mktemp("work"))
    from webcollector_spark.session import get_spark

    s = get_spark("crawlbench-test", cores=2, shuffle_partitions=2)
    yield s
    s.stop()


def test_kernel_timer_does_the_fetch_paths_work(spark, tmp_path):
    """page_work extracts the same image bytes, phash, caption and links
    as the fetch operator on a sample of fresh_round's own pages."""
    import workloads
    from webcollector_spark.crawler import seed_rows
    from webcollector_spark.operators.fetch import fetch as fetch_op

    wl = workloads.FreshRound(3, tmp_path)
    wl.make_inputs()
    requester, rows, revalidate = wl.kernel_sample()
    rows = rows[:24]
    clock = kernels.KernelClock()
    mine = {r["url"]: kernels.page_work(requester, r, revalidate, clock) for r in rows}
    theirs = {
        r.url: r
        for r in fetch_op(seed_rows(spark, [r["url"] for r in rows]), requester, wl.cfg).collect()
    }
    images = dict(zip(wl.corpus["image_id"], wl.corpus["bytes"]))
    for url, got in mine.items():
        want = theirs[url]
        assert got["code"] == want.code == 200
        assert got["image"] == images[want.image_id]
        assert got["phash"] == want.phash
        assert got["caption"] == want.caption
        assert got["links"] == list(want.links or [])
    assert set(clock.total) == {kernels.REQUESTER, *kernels.ENGINE_KERNELS}
