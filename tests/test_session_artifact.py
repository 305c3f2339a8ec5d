"""``harness.session_artifact``: the one session cache behind every shared
harness intermediate (band index, pair tables, ANN indexes, trade edges,
gate indexes).

Rules pinned here: a repeat call returns the cached object without
rebuilding; each artifact name holds one live entry, so a new sf_dir
evicts the old one and releases its checkpoint blocks; distinct names
coexist; and a file rewritten under the same sf_dir is never served
stale.
"""

from __future__ import annotations

import ast
import pathlib
import shutil

import pyarrow.parquet as pq

from lakehouse_platform_nyc_taxi_spark import harness
from lakehouse_platform_nyc_taxi_spark.harness import llm, mining

from .conftest import SF_ORACLE, SF_SMOKE

HARNESS_DIR = pathlib.Path(harness.__file__).parent


def _checkpoint_rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _persisted_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_session_artifact_reuses_then_evicts_and_releases(spark):
    builds = []

    def build(spark, sf_dir):
        builds.append(sf_dir)
        return spark.range(10).localCheckpoint()

    a = harness.session_artifact(spark, SF_SMOKE, "test_probe", build)
    assert harness.session_artifact(spark, SF_SMOKE, "test_probe", build) is a
    assert builds == [SF_SMOKE]
    a_rdd = _checkpoint_rdd_id(a)
    assert a_rdd in _persisted_rdd_ids(spark)

    b = harness.session_artifact(spark, SF_ORACLE, "test_probe", build)
    assert builds == [SF_SMOKE, SF_ORACLE]
    assert b is not a
    assert a_rdd not in _persisted_rdd_ids(spark)  # old blocks released
    assert b.count() == 10  # the new entry stays usable


def test_session_artifact_releases_tuple_and_dataclass_frames(spark):
    """The PQ index is a (codes, codebook) tuple and the IVF index an
    IvfIndex dataclass: eviction releases the DataFrames inside both."""
    from lakehouse_platform_nyc_taxi_spark.operators.similarity import IvfIndex

    def build_pair(spark, sf_dir):
        return spark.range(5).localCheckpoint(), {"codebook": sf_dir}

    def build_ivf(spark, sf_dir):
        return IvfIndex(spark.range(3).localCheckpoint(), spark.range(1), "id", 1)

    codes, _ = harness.session_artifact(spark, SF_SMOKE, "test_pair", build_pair)
    index = harness.session_artifact(spark, SF_SMOKE, "test_ivf", build_ivf)
    held = {_checkpoint_rdd_id(codes), _checkpoint_rdd_id(index.assigned)}
    assert held <= _persisted_rdd_ids(spark)
    harness.session_artifact(spark, SF_ORACLE, "test_pair", build_pair)
    harness.session_artifact(spark, SF_ORACLE, "test_ivf", build_ivf)
    assert not held & _persisted_rdd_ids(spark)


def test_shared_band_index_evicts_on_sf_dir_change(spark):
    a = llm.shared_band_index(spark, SF_SMOKE)
    assert llm.shared_band_index(spark, SF_SMOKE) is a
    a_rdd = _checkpoint_rdd_id(a)
    b = llm.shared_band_index(spark, SF_ORACLE)
    assert b is not a
    assert a_rdd not in _persisted_rdd_ids(spark)
    assert b.count() > 0


def test_pair_tables_coexist_per_sf_dir(spark):
    """The source- and lang-blocked pair tables are two artifact names:
    both stay cached for one sf_dir; a new sf_dir evicts each name's own
    entry."""
    cluster = llm._cluster_pairs(spark, SF_SMOKE)
    containment = llm._containment_pairs(spark, SF_SMOKE)
    assert llm._cluster_pairs(spark, SF_SMOKE) is cluster
    assert llm._containment_pairs(spark, SF_SMOKE) is containment
    cluster_rdd = _checkpoint_rdd_id(cluster)
    fresh = llm._cluster_pairs(spark, SF_ORACLE)
    assert fresh is not cluster
    assert cluster_rdd not in _persisted_rdd_ids(spark)
    assert llm._containment_pairs(spark, SF_SMOKE) is containment
    fresh.count()  # the new entry stays usable


def test_trade_edges_evicts_on_sf_dir_change(spark):
    a = mining._trade_edges(spark, SF_SMOKE)
    assert mining._trade_edges(spark, SF_SMOKE) is a
    a_rdd = _checkpoint_rdd_id(a)
    b = mining._trade_edges(spark, SF_ORACLE)
    assert b is not a
    assert a_rdd not in _persisted_rdd_ids(spark)
    assert b.count() > 0


def test_rewritten_file_is_not_served_stale(spark, tmp_path):
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    for f in pathlib.Path(SF_SMOKE).iterdir():
        shutil.copyfile(f, sf_dir / f.name)
    sf_dir = str(sf_dir)
    docs_path = f"{sf_dir}/documents.parquet"
    docs = pq.read_table(docs_path)

    first = llm.shared_band_index(spark, sf_dir)
    assert first.select("doc_id").distinct().count() == docs.num_rows

    kept = docs.num_rows // 2
    pq.write_table(docs.slice(0, kept), docs_path)
    second = llm.shared_band_index(spark, sf_dir)
    assert second is not first
    assert second.select("doc_id").distinct().count() == kept


def test_no_harness_module_keeps_its_own_session_cache():
    """Every session cache goes through ``session_artifact``: outside the
    helper, ``applicationId`` appears only in core.py's per-app staging
    path, and no module-level ``*_CACHE`` dict remains."""
    uses = {p.name for p in HARNESS_DIR.glob("*.py") if "applicationId" in p.read_text()}
    assert uses == {"__init__.py", "core.py"}, uses
    assert (HARNESS_DIR / "core.py").read_text().count("applicationId") == 1
    for p in HARNESS_DIR.glob("*.py"):
        for node in ast.parse(p.read_text()).body:
            targets = (
                node.targets
                if isinstance(node, ast.Assign)
                else [node.target]
                if isinstance(node, ast.AnnAssign)
                else []
            )
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            assert not [n for n in names if n.endswith("_CACHE")], (p.name, names)
