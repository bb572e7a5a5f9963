"""The frame tier (frames.tier): plan-keyed entries, one build per key,
the scratch-write fallback, and the IVF index cache that shares its key
rule."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from e_commerce_data_engineering_spark import frames

from .conftest import SF_SMOKE

_BUILDS: list[tuple] = []


def _scaled(df, factor: int):
    _BUILDS.append(("scaled", factor))
    return df.select((F.col("id") * factor).alias("v"))


def _corpus(spark, n: int):
    return spark.range(n).select(F.col("id"), (F.col("id") % 3).alias("g"))


def _entry(build, frame, **params) -> frames._Entry:
    return frames._ENTRIES[frames.key(build, (frame,), params)]


def test_equal_inputs_share_one_entry_and_one_build(spark):
    before = len(frames._ENTRIES)
    _BUILDS.clear()
    a = frames.tier(_scaled, _corpus(spark, 50), factor=7)
    b = frames.tier(_scaled, _corpus(spark, 50), factor=7)  # built independently
    assert b is a
    assert len(frames._ENTRIES) == before + 1
    assert _BUILDS == [("scaled", 7)]
    assert sorted(r.v for r in a.collect()) == [7 * i for i in range(50)]


def test_hit_calls_no_build_and_reloads_after_clear_cache(spark):
    first = frames.tier(_scaled, _corpus(spark, 60), factor=2)
    _BUILDS.clear()
    spark.catalog.clearCache()
    again = frames.tier(_scaled, _corpus(spark, 60), factor=2)
    assert _BUILDS == []
    assert again is first and again.storageLevel.useMemory
    # the reload reads the scratch parquet, not the build's plan
    entry = _entry(_scaled, _corpus(spark, 60), factor=2)
    assert os.path.isdir(entry.path)
    assert "parquet" in again._jdf.queryExecution().analyzed().toString().lower()
    assert again.count() == 60


def test_param_or_content_change_makes_distinct_entries(spark):
    _BUILDS.clear()
    base = frames.tier(_scaled, _corpus(spark, 40), factor=3)
    other_param = frames.tier(_scaled, _corpus(spark, 40), factor=5)
    other_rows = frames.tier(_scaled, _corpus(spark, 41), factor=3)
    assert _BUILDS == [("scaled", 3), ("scaled", 5), ("scaled", 3)]
    entries = [
        _entry(_scaled, _corpus(spark, 40), factor=3),
        _entry(_scaled, _corpus(spark, 40), factor=5),
        _entry(_scaled, _corpus(spark, 41), factor=3),
    ]
    assert [e.frame for e in entries] == [base, other_param, other_rows]
    assert len({e.path for e in entries}) == 3
    assert all(os.path.isdir(e.path) for e in entries)
    assert max(r.v for r in other_param.collect()) == 5 * 39
    assert other_rows.count() == 41


def test_concurrent_callers_build_once(spark):
    """The per-key lock: threads racing for one missing entry run its
    build once and all get the same frame."""
    import sys
    import threading

    _BUILDS.clear()
    got = []
    threads = [
        threading.Thread(target=lambda: got.append(frames.tier(_scaled, _corpus(spark, 70), factor=11)))
        for _ in range(8)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert _BUILDS == [("scaled", 11)]
    assert len(got) == 8 and all(g is got[0] for g in got)


def test_tier_rejects_closure(spark):
    """A build that captures a variable would depend on something the
    key does not cover; it is refused with TypeError (not an assert, so
    it holds under python -O)."""
    factor = 4

    def captured(df):
        return df.select((F.col("id") * factor).alias("v"))

    with pytest.raises(TypeError, match="captures"):
        frames.tier(captured, _corpus(spark, 5))

    def clean(df, factor):  # nested but closure-free: legal
        return df.select((F.col("id") * factor).alias("v"))

    assert frames.tier(clean, _corpus(spark, 5), factor=factor).count() == 5


def test_scratch_write_failure_keeps_memory_tier(spark, tmp_path, monkeypatch):
    """A scratch root that cannot hold a directory (it sits under a
    regular file; root ignores chmod, so a read-only dir would not
    fail) degrades to memory-persisted entries with identical rows."""
    from e_commerce_data_engineering_spark.plans.registry import all_queries

    query = all_queries()["d24_containment_pairs"]
    frames.clear_frame_cache()
    want = sorted(map(tuple, query(spark, SF_SMOKE).collect()))

    blocker = tmp_path / "file"
    blocker.write_text("not a directory")
    monkeypatch.setattr(frames, "_SCRATCH_ROOT", str(blocker / "root"))
    frames.clear_frame_cache()
    got = sorted(map(tuple, query(spark, SF_SMOKE).collect()))
    assert got == want
    assert frames._ENTRIES
    for entry in frames._ENTRIES.values():
        assert entry.path is None
        assert entry.frame.storageLevel.useMemory
    frames.clear_frame_cache()


def test_s34_reuses_d24_frames_and_adds_two(spark):
    """s34 after d24 in one session: the shingle and candidate-pair
    entries d24 built are reused, and s34 adds only its idf table and
    per-document idf mass."""
    from e_commerce_data_engineering_spark.operators import dedup
    from e_commerce_data_engineering_spark.plans.registry import all_queries

    queries = all_queries()
    frames.clear_frame_cache()
    queries["d24_containment_pairs"](spark, SF_SMOKE).count()
    after_d24 = set(frames._ENTRIES)
    queries["s34_idf_soft_jaccard"](spark, SF_SMOKE).count()
    added = [k[1] for k in frames._ENTRIES if k not in after_d24]
    assert sorted(c.co_name for c in added) == ["_s34_idf", "_s34_idf_mass"]
    built_by_d24 = {k[1] for k in after_d24}
    assert {dedup._shingles.__code__, dedup._anchored_pairs.__code__} <= built_by_d24
    frames.clear_frame_cache()


def test_ivf_index_cache_is_per_corpus(spark, tmp_path):
    """d06 over one corpus, then over another in the same session: the
    second run must cluster its own vectors, not reuse the first
    corpus's cached index."""
    from e_commerce_data_engineering_spark.operators.layout import fan_out
    from e_commerce_data_engineering_spark.operators.similarity import ivf_index
    from e_commerce_data_engineering_spark.plans.registry import all_queries
    from e_commerce_data_engineering_spark.sources.tables import load_table

    other = str(tmp_path / "sf_half")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    emb.filter(F.col("vec_id") % 2 == 0).write.parquet(f"{other}/embeddings.parquet")

    d06 = all_queries()["d06_semdedup"]
    assert d06(spark, SF_SMOKE).count() == n
    got = {(r.vec_id, r.cell) for r in d06(spark, other).select("vec_id", "cell").collect()}

    assigned, _ = ivf_index(
        fan_out(load_table(spark, other, "embeddings")), 16, "vec_id", "embedding", 42
    )
    want = {(r.vec_id, r._cell) for r in assigned.select("vec_id", "_cell").collect()}
    assert len(want) < n
    assert got == want
