"""The benchmark's tracer wraps program functions by name
(``perfbench/tracing.py``: ``Tracer.install``). A rename in the program
would break ``perfbench/run.py --trace 1`` only when a traced run starts;
this pins the names, and the signatures the tracer's span attributes
bind, without a Spark session."""

from __future__ import annotations

import inspect
import sys
from pathlib import Path

import pytest

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


@pytest.fixture
def tracing(monkeypatch):
    monkeypatch.syspath_prepend(str(PERFBENCH))
    import tracing

    yield tracing
    sys.modules.pop("tracing", None)


def test_install_wraps_existing_attributes_and_uninstall_restores(tracing, tmp_path):
    tracer = tracing.Tracer(tmp_path)
    tracer.install()
    try:
        patches = list(tracer._patches)
        assert patches, "install wrapped nothing"
        for owner, attr, orig in patches:
            assert callable(orig), f"{owner.__name__}.{attr}"
            assert getattr(owner, attr) is not orig, f"{owner.__name__}.{attr} not wrapped"
    finally:
        tracer.uninstall()
    for owner, attr, orig in patches:
        assert getattr(owner, attr) is orig, f"{owner.__name__}.{attr} not restored"
    assert not tracer._patches


def test_span_attribute_callbacks_match_signatures():
    """The tracer's span-attribute callbacks bind these parameters
    positionally and call these helpers."""
    from zenodb_spark import engine, rpc, web

    def params(fn):
        return list(inspect.signature(fn).parameters)

    assert params(engine.DB.query) == ["self", "sql"]
    assert params(engine.DB._plan_cacheable) == ["self", "sql"]
    assert params(engine.DB.insert_rows)[:3] == ["self", "stream", "rows"]
    assert params(web.QueryRunner._finish) == ["self", "q", "plan"]
    assert params(web._Handler._handle_dashboard) == ["self", "url", "timeout", "immediate"]
    assert callable(web._Handler._sql_from_url)
    assert params(web.collect_guarded)[0] == "df"
    assert callable(rpc._RPCHandler._handle_query)
