"""Span arithmetic and function wrapping, without Spark."""

from __future__ import annotations

import importlib
import sys
import textwrap

import pytest

from perfbench.trace import Span, Tracer, layer_of, report_name, self_times


def nested_spans() -> list[Span]:
    # build [0, 10] ─┬─ a [1, 4] ── helper [2, 3]
    #                └─ c [5, 6]
    spans = [Span("build", None, 0.0, 10.0), Span("a", 0, 1.0, 4.0),
             Span("helper", 1, 2.0, 3.0), Span("c", 0, 5.0, 6.0)]
    for s in spans[1:]:
        spans[s.parent].children += s.end - s.start
    return spans


def test_self_time_subtracts_direct_children_only():
    assert self_times(nested_spans()) == {
        "build": 6.0, "a": 2.0, "helper": 1.0, "c": 1.0}


def test_unreported_spans_fold_into_nearest_reported_ancestor():
    spans = nested_spans()
    fold = {"build": "pipeline", "a": "a", "c": "c"}
    assert report_name(spans, spans[2], fold) == "a"
    got = self_times(spans, fold)
    assert got == {"pipeline": 6.0, "a": 3.0, "c": 1.0}
    assert sum(got.values()) == spans[0].end - spans[0].start


class FakeContext:
    def __init__(self):
        self.groups = []

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.groups.append(value)


@pytest.fixture
def fake_package(tmp_path, monkeypatch):
    pkg = tmp_path / "fakepkg"
    (pkg / "operators").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "operators" / "__init__.py").write_text("")
    (pkg / "operators" / "ops.py").write_text(textwrap.dedent("""
        __all__ = ["outer", "inner"]

        def inner(x):
            return x + 1

        def outer(x):
            return inner(x) * 2

        def _private(x):
            return x
    """))
    (pkg / "pipeline.py").write_text(textwrap.dedent("""
        from .operators.ops import outer

        def run(x):
            return outer(x)
    """))
    monkeypatch.syspath_prepend(str(tmp_path))
    yield importlib.import_module("fakepkg")
    for name in [m for m in sys.modules if m.startswith("fakepkg")]:
        del sys.modules[name]


def test_install_wraps_where_defined_and_where_imported(fake_package):
    from fakepkg import pipeline
    from fakepkg.operators import ops

    sc = FakeContext()
    tr = Tracer(sc)
    assert tr.install(fake_package) == ["ops.inner", "ops.outer", "pipeline.run"]
    try:
        assert pipeline.outer is ops.outer  # the imported name is rebound too
        assert pipeline.run(1) == 4  # inactive: no spans, no job groups
        assert tr.spans == [] and sc.groups == []
        with tr.run():
            with tr.span("build"):
                assert pipeline.run(1) == 4
        names = [s.name for s in tr.spans]
        assert names == ["build", "pipeline.run", "ops.outer", "ops.inner"]
        assert [s.parent for s in tr.spans] == [None, 0, 1, 2]
        # each span sets its own group and restores its parent's on exit
        assert sc.groups == ["perfbench:0", "perfbench:1", "perfbench:2",
                             "perfbench:3", "perfbench:2", "perfbench:1",
                             "perfbench:0", None]
    finally:
        tr.uninstall()
    assert ops.outer.__name__ == "outer" and not hasattr(ops.outer, "__wrapped__")
    assert pipeline.outer is ops.outer


def test_layer_names():
    assert layer_of("pkg.operators.text", "pkg") == "text"
    assert layer_of("pkg.functions.derive", "pkg") == "functions"
    assert layer_of("pkg.sources", "pkg") == "sources"
