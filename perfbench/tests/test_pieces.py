"""Tests of the benchmark's own pieces (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import inputs  # noqa: E402
from perfbench.stats import exact, median  # noqa: E402
from perfbench.trace import Span, Tracer, self_jobs, self_times  # noqa: E402


def _bronze(n: int) -> list[dict]:
    return [
        {"Id": i, "Status12": "FOP"[i % 3], "Title1": f"Alert {i}", "_ingest_seq": i}
        for i in range(n)
    ]


def _stage(tmp: Path, seed: int, pages: int = 3) -> list[bytes]:
    churn = inputs.Churn(_bronze(200), 150, seed)
    out = []
    for k in range(pages):
        path = tmp / f"s{seed}-{k}.jsonl"
        inputs.write_page(path, churn.next_page().records)
        out.append(path.read_bytes())
    return out


def test_same_seed_gives_identical_pages(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    assert _stage(tmp_path / "a", 7) == _stage(tmp_path / "b", 7)


def test_different_seeds_give_different_pages(tmp_path):
    assert _stage(tmp_path, 7) != _stage(tmp_path, 8)


def test_pages_churn_as_specified():
    churn = inputs.Churn(_bronze(200), 150, 3)
    seen_new = set()
    for _ in range(5):
        before = dict(churn.status)
        page = churn.next_page()
        assert len(page.updated) == 15 and len(page.new_ids) == 5
        assert len(page.records) == 20
        for rid, status in page.updated.items():
            assert status != before[rid]  # a real change
        assert not seen_new & set(page.new_ids)
        seen_new |= set(page.new_ids)
        seqs = [r["_ingest_seq"] for r in page.records]
        assert min(seqs) > max(r["_ingest_seq"] for r in _bronze(200))
        assert len(set(seqs)) == len(seqs)


def test_catalog_tables_are_a_function_of_the_seed(tmp_path):
    inputs.write_catalog_tables(tmp_path / "a", 5, 2_000)
    inputs.write_catalog_tables(tmp_path / "b", 5, 2_000)
    inputs.write_catalog_tables(tmp_path / "c", 6, 2_000)
    for f in sorted((tmp_path / "a").iterdir()):
        assert f.read_bytes() == (tmp_path / "b" / f.name).read_bytes(), f.name
    differs = [
        f.name
        for f in (tmp_path / "a").iterdir()
        if f.read_bytes() != (tmp_path / "c" / f.name).read_bytes()
    ]
    assert "nation.parquet" not in differs  # a fixed dimension
    assert len(differs) == 6


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert median([17.25]) == 17.25  # one op per run is the common case
    with pytest.raises(ValueError):
        median([])


def test_exact_counter():
    assert exact([144, 144, 144], "jobs") == 144
    with pytest.raises(ValueError, match="jobs varies"):
        exact([144, 145], "jobs")


def _spans() -> list[Span]:
    # op 1: a (0..10, 6 jobs) holds b (1..4, 2 jobs) and c (5..6, 1 job);
    # b holds d (2..3, 1 job); op 2: a again (0..2, 1 job)
    return [
        Span(0, "a", 0.0, 10.0, None, 1, jobs=6),
        Span(1, "b", 1.0, 4.0, 0, 1, jobs=2),
        Span(2, "d", 2.0, 3.0, 1, 1, jobs=1),
        Span(3, "c", 5.0, 6.0, 0, 1, jobs=1),
        Span(4, "a", 0.0, 2.0, None, 2, jobs=1),
    ]


def test_self_time_subtracts_direct_children_only():
    st = self_times(_spans())
    assert st == {"a": 6.0 + 2.0, "b": 2.0, "d": 1.0, "c": 1.0}
    assert self_jobs(_spans()) == {"a": 3 + 1, "b": 1, "d": 1, "c": 1}


def test_self_time_of_one_op():
    one = [s for s in _spans() if s.op == 1]
    assert self_times(one)["a"] == 6.0
    assert sum(self_times(one).values()) == 10.0  # self times tile the op


class _FakeCounters:
    """A job and stage counter that every read advances by one job."""

    def __init__(self):
        self.n = 0

    def jobs(self) -> int:
        self.n += 1
        return self.n

    def stages(self) -> int:
        return 10 * self.n


def test_tracer_records_nesting_and_job_deltas():
    t = Tracer(_FakeCounters())

    class Mod:
        @staticmethod
        def work(x):
            return x * 2

    t.wrap(Mod, "work", "layer.work")
    t.wrap(Mod, "work", "layer.always", always=True)
    assert Mod.work(2) == 4  # detail off: only the always-on span
    assert [s.name for s in t.spans] == ["layer.always"]
    t.detail, t.op = True, 7
    with t.span("outer") as outer:
        assert Mod.work(3) == 6
    names = {s.name: s for s in t.spans if s.op == 7}
    assert names["layer.always"].parent == outer.id
    assert names["layer.work"].parent == names["layer.always"].id
    # every counter read advances the fake by one job
    assert names["layer.work"].jobs == 1
    assert outer.jobs == 5 and outer.start <= outer.end
