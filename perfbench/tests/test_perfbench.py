"""Unit tests of the benchmark's own machinery (no Spark session).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys
import types

import pytest

from gen import COLUMNS, Generator
from tracing import Tracer, self_time, tail_percentile


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _run(gen: Generator):
    hist = gen.batch(list(range(40)), 60)
    day = gen.batch([40], 300, correction_days=[3, 17, 39], corrections_per_day=5)
    return hist, day


def test_generator_is_deterministic(tmp_path):
    a, b, c = (Generator(s, str(tmp_path / n)) for s, n in ((7, "a"), (7, "b"), (8, "c")))
    ra, rb, rc = _run(a), _run(b), _run(c)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert [x.account for x in ra] == [x.account for x in rb]
    assert [x.account for x in ra] != [x.account for x in rc]


def test_generator_accounting_matches_the_replay(tmp_path):
    from lakehouse_architecture_spark.schemas import SCHEMAS
    from replay import Replay

    gen = Generator(3, str(tmp_path))
    replay = Replay(SCHEMAS)
    try:
        for batch in _run(gen):
            got = replay.batch(batch.raw_paths)
            for t in COLUMNS:
                g = batch.account[t]
                a = got[t]
                assert (a["raw"], a["corrupt"], a["rejected"], a["dropped"], a["clean"], a["new_keys"]) == (
                    g.raw, g.corrupt, g.rejected, g.dropped, g.clean, g.new_keys
                ), t
                assert g.raw == g.corrupt + g.rejected_total + g.clean + g.dropped
        day = batch.account
        assert day["orders"].corrections == 15 and day["order_items"].corrections == 3 * 27
        assert all(day[t].corrupt and day[t].rejected and day[t].dropped
                   for t in ("orders", "order_items"))
        assert set(day["order_items"].rejected) == {
            "Null id", "Invalid order_id reference", "Invalid product_id reference"}
    finally:
        replay.close()


@pytest.mark.parametrize("n, expect", [(5, None), (10, None), (11, (9, 0)), (25, (60, 14)),
                                       (110, (90, 98))])
def test_tail_percentile_keeps_ten_samples_beyond(n, expect):
    got = tail_percentile(list(range(n)))
    assert got == expect
    if got:
        assert sum(1 for x in range(n) if x > got[1]) >= 10


def test_self_time_subtracts_the_union_of_children():
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    # children clipped to the parent; disjoint and nested intervals
    assert self_time(0, 10, [(-2, 1), (9, 12), (4, 6), (4.5, 5)]) == pytest.approx(6)


class _FakeSC:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        if v is None:
            self.props.pop(k, None)
        else:
            self.props[k] = v

    def setJobGroup(self, gid, desc, interruptOnCancel=False):
        self.props.update({"spark.jobGroup.id": gid, "spark.job.description": desc,
                           "spark.job.interruptOnCancel": str(interruptOnCancel).lower()})


def _tracer():
    return Tracer(types.SimpleNamespace(sparkContext=_FakeSC()))


def test_spans_nest_and_restore_the_parent_job_group():
    tr = _tracer()
    sc = tr.sc
    sc.setJobGroup("outer-group", "caller")
    with tr.span("a") as a:
        with tr.span("b") as b:
            assert sc.getLocalProperty("spark.jobGroup.id") == b["id"]
        assert sc.getLocalProperty("spark.jobGroup.id") == a["id"]
    assert sc.getLocalProperty("spark.jobGroup.id") == "outer-group"
    assert sc.getLocalProperty("perfbench.span") is None
    assert b["parent"] == a["id"] and a["parent"] is None


def test_wrappers_are_restored(monkeypatch):
    pkg = types.ModuleType("fakepkg")
    sub = types.ModuleType("fakepkg.sub")

    def f(x):
        return x + 1

    pkg.f = f
    sub.f = f  # a module that imported f by name
    monkeypatch.setitem(sys.modules, "fakepkg", pkg)
    monkeypatch.setitem(sys.modules, "fakepkg.sub", sub)
    tr = _tracer()
    tr.patch_everywhere(pkg, "f", tr.spanned("layer"))
    assert pkg.f is not f and sub.f is pkg.f
    assert sub.f(1) == 2 and [s["name"] for s in tr.spans] == ["layer"]
    tr.patch(pkg, "f", tr.spanned("outer"))
    tr.restore()
    assert pkg.f is f and sub.f is f

