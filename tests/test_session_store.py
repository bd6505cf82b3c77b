"""The session artifact store (``session.ArtifactStore``): one key
decides an artifact's identity, its scratch directory and its lifetime.

The first group drives the store with a fake ``spark`` (no JVM); the
last two pin defects that per-module memos with hand-written keys had:
a scratch dir shared by two parameter sets, and one directory spelled
three ways building three corpus broadcasts."""

from __future__ import annotations

import os
import tempfile
from types import SimpleNamespace

import pytest

from flink_project_userbehavioranalysis_spark.session import ArtifactStore


def _fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def store(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return ArtifactStore()


def _counting_build(calls: list):
    def build(path):
        calls.append(path)
        return object()

    return build


def test_rehit_returns_same_object(store):
    calls = []
    spark = _fake_spark("app-1")
    a = store.get(spark, "idx", "/data/sf1", {"n": 1}, _counting_build(calls))
    b = store.get(spark, "idx", "/data/sf1/", {"n": 1}, _counting_build(calls))
    assert a is b
    assert len(calls) == 1
    assert store.peek(spark, "idx", "/data/sf1", {"n": 1}) is a


def test_new_application_id_rebuilds(store):
    """A cold JVM (new SparkContext, new application id) must rebuild
    every artifact: nothing built in a dead session is handed back."""
    calls = []
    a = store.get(_fake_spark("app-1"), "idx", "/data/sf1", None, _counting_build(calls))
    b = store.get(_fake_spark("app-2"), "idx", "/data/sf1", None, _counting_build(calls))
    assert a is not b
    assert len(calls) == 2
    assert calls[0] != calls[1], "a new session must not reuse the old scratch dir"
    assert store.peek(_fake_spark("app-3"), "idx", "/data/sf1") is None


def test_distinct_params_get_distinct_scratch_dirs(store):
    calls = []
    spark = _fake_spark("app-1")
    store.get(spark, "ann-idx", "/data/sf1", {"n_cells": 32}, _counting_build(calls))
    store.get(spark, "ann-idx", "/data/sf1", {"n_cells": 8}, _counting_build(calls))
    store.get(spark, "ann-idx", "/data/sf1", {"n_cells": 32}, _counting_build(calls))
    assert len(calls) == 2 and calls[0] != calls[1]
    d32 = store.scratch_dir(spark, "ann-idx", "/data/sf1", {"n_cells": 32})
    d8 = store.scratch_dir(spark, "ann-idx", "/data/sf1", {"n_cells": 8})
    assert d32 == calls[0] and d8 == calls[1]
    assert os.path.isdir(d32) and os.path.basename(d32).startswith("ubx-")
    # one path, however the data dir is spelled
    assert d32 == store.scratch_dir(spark, "ann-idx", "/data/../data/sf1/", {"n_cells": 32})


def test_lru_bound_evicts_and_releases(store):
    spark = _fake_spark("app-1")
    released = []

    def get(i):
        return store.get(
            spark, "manifest", "/data/sf1", {"i": i}, lambda _p: f"m{i}",
            max_entries=2, release=released.append,
        )

    view = store.view("manifest")
    store.get(spark, "other", "/data/sf1", None, lambda _p: "unbounded")
    get(0)
    get(1)
    get(0)  # re-hit: m0 becomes the most recently used
    get(2)
    assert released == ["m1"]
    assert len(view) == 2 and sorted(view.values()) == ["m0", "m2"]
    # the view acts on its kind only: other kinds are neither counted
    # nor dropped, and clear() releases nothing
    view.clear()
    assert len(view) == 0 and released == ["m1"]
    assert store.peek(spark, "other", "/data/sf1") == "unbounded"


def test_ann_index_params_do_not_share_a_scratch_dir(spark, sf_dir):
    """build_ann_index(n_cells=32) → (8) → (32) again: the third call
    must still see 32 centroids, not the 8 the second build wrote."""
    from flink_project_userbehavioranalysis_spark.operators import similarity as S

    def n_centroids(root):
        return spark.read.parquet(f"{root}/centroids").count()

    first = S.build_ann_index(spark, sf_dir, n_cells=32)
    eight = S.build_ann_index(spark, sf_dir, n_cells=8)
    again = S.build_ann_index(spark, sf_dir, n_cells=32)
    assert eight != first
    assert n_centroids(eight) == 8
    assert again == first
    assert n_centroids(again) == 32


def test_corpus_broadcast_one_per_directory(spark, sf_dir):
    """Three spellings of one data dir share one driver collect and
    one broadcast."""
    from flink_project_userbehavioranalysis_spark.operators import similarity as S

    parent, name = os.path.split(os.path.abspath(sf_dir))
    spellings = [sf_dir, sf_dir.rstrip("/") + "/", os.path.join(parent, "..", os.path.basename(parent), name)]
    bcs = [S._corpus_broadcast(spark, d) for d in spellings]
    assert bcs[0] is bcs[1] is bcs[2]
