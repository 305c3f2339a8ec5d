"""The session factory's confs are in effect, and re-applying them to a
session never tries to set a conf the session cannot modify."""

from __future__ import annotations

from lakehouse_platform_nyc_taxi_spark.session import RUNTIME_CONFS, apply_runtime_confs


def test_runtime_confs_read_back(spark):
    # a static conf that silently failed to apply (e.g. getOrCreate
    # returned a session built without it) reads back its old value
    got = {k: spark.conf.get(k) for k in RUNTIME_CONFS}
    assert got == RUNTIME_CONFS


def test_apply_runtime_confs_skips_static_confs(spark, monkeypatch):
    conf = spark.conf
    static = {k for k in RUNTIME_CONFS if not conf.isModifiable(k)}
    assert "spark.sql.codegen.cache.maxEntries" in static
    set_keys: list[str] = []
    monkeypatch.setattr(conf, "set", lambda k, v: set_keys.append(k))
    apply_runtime_confs(spark)
    assert set_keys == [k for k in RUNTIME_CONFS if k not in static]
