"""Session-artifact registry (transmog_spark.artifacts): one store per
Spark application, released on teardown or when another application looks
something up."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from transmog_spark import artifacts


def _session(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def registry(monkeypatch):
    # a private store: the shared suite session's entries stay untouched
    monkeypatch.setattr(artifacts, "_ENTRIES", {})
    monkeypatch.setattr(artifacts, "_owner", None)


def test_new_application_releases_previous_entries(registry, spark):
    from transmog_spark.sources import synth

    plan = synth.sequences(spark, 10)  # a library plan memo
    assert synth.sequences(spark, 10) is plan

    builds, released = [], []

    def build(value):
        builds.append(value)
        return value

    old = _session("app-old")
    assert artifacts.cached(old, ("model",), lambda: build("m"), released.append) == "m"
    artifacts.cached(old, ("index",), lambda: build("i"), released.append)
    assert artifacts.cached(old, ("model",), lambda: build("m2"), released.append) == "m"
    assert builds == ["m", "i"]
    # the first application's plan memo went when app-old looked up
    assert list(artifacts._ENTRIES) == [("model",), ("index",)]

    assert artifacts.cached(_session("app-new"), ("model",), lambda: "fresh") == "fresh"
    assert sorted(released) == ["i", "m"]
    assert list(artifacts._ENTRIES) == [("model",)]

    # back on the first application: nothing of its old memo survived
    assert synth.sequences(spark, 10) is not plan
    assert sorted(released) == ["i", "m"]


def test_release_runs_every_callable_once_despite_failures(registry):
    released = []

    def stopped_session(_value):
        raise RuntimeError("SparkContext already stopped")

    app = _session("app")
    artifacts.cached(app, ("a",), lambda: 1, stopped_session)
    artifacts.cached(app, ("b",), lambda: 2, released.append)
    artifacts.cached(app, ("c",), lambda: 3)
    artifacts.release()
    assert released == [2]
    assert not artifacts._ENTRIES
    artifacts.release()
    assert released == [2]
