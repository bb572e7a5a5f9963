"""tools/scale_stress.py times registered queries over sf-shaped replica
roots: every op must name a registered query and known tables, a x1
replica root must read like the sf dir it was built from, and an op
must report its query's own row count."""

from __future__ import annotations

import importlib.util
from pathlib import Path

from pyspark.sql import functions as F

from e_commerce_data_engineering_spark.plans.registry import all_queries
from e_commerce_data_engineering_spark.sources.tables import TABLES, load_table

from .conftest import SF_SMOKE

_spec = importlib.util.spec_from_file_location(
    "scale_stress", Path(__file__).resolve().parent.parent / "tools" / "scale_stress.py"
)
ss = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ss)


def test_every_op_names_a_registered_query_and_known_tables():
    queries = all_queries()
    for op, (query, root, tables) in ss.OPS.items():
        assert query in queries, op
        assert root in ("clones", "salted"), op
        assert tables and set(tables) <= set(TABLES), op
    assert set(ss.REPLICA_KEYS) == set(TABLES)
    assert set(ss.OP_MAX_SCALE) <= set(ss.OPS)


def test_x1_clones_root_reads_like_its_sf_dir(spark, tmp_path):
    root = str(tmp_path / "clones")
    for t in TABLES:
        n = ss.replicate(spark, SF_SMOKE, str(tmp_path), "clones", t, 1)
        base, rep = load_table(spark, SF_SMOKE, t), load_table(spark, root, t)
        assert rep.dtypes == base.dtypes, t
        assert n == base.count(), t
        assert rep.exceptAll(base).isEmpty() and base.exceptAll(rep).isEmpty(), t


def test_x2_key_shifts_keep_joins_replica_disjoint(spark, tmp_path):
    def order_lines(sf_dir):
        li, o = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
        return li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).count()

    for t in ("lineitem", "orders"):
        ss.replicate(spark, SF_SMOKE, str(tmp_path), "clones", t, 2)
    assert order_lines(str(tmp_path / "clones")) == 2 * order_lines(SF_SMOKE) > 0


def test_op_reports_its_registry_querys_rows(spark, tmp_path):
    query, root, tables = ss.OPS["event_windows"]
    for t in tables:
        ss.replicate(spark, SF_SMOKE, str(tmp_path), root, t, 1)
    rows, sec = ss.time_op(spark, query, str(tmp_path / root))
    assert rows == all_queries()[query](spark, SF_SMOKE).count() > 0
    assert sec > 0
