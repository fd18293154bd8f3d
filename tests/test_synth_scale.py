"""tools/synth_scale.py integrity: replication must preserve join shape.

The scaling-curve measurement (BASELINE.md round 3) is only meaningful if
the synthetic data joins exactly like the base — every replica's foreign
keys must land on that replica's shifted primary keys, never cross-replica.
Checked with DuckDB over a 2-replica build of sf0.001 (no JVM needed).
"""

from __future__ import annotations

import importlib.util
import sys

import pytest

from .compare import oracle_con
from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def synth_dir(tmp_path_factory):
    dst = tmp_path_factory.mktemp("synth")
    spec = importlib.util.spec_from_file_location(
        "synth_scale", "/root/repo/tools/synth_scale.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.SRC = "/root/testdata/sf0.001"
    mod.DST = str(dst)
    old_argv = sys.argv
    sys.argv = ["synth_scale.py", "2"]
    try:
        mod.main()
    finally:
        sys.argv = old_argv
    return str(dst)


def test_row_counts_scale_exactly(synth_dir):
    with oracle_con(SF_SMALL) as base, oracle_con(synth_dir) as synth:
        for t in ["customer", "orders", "lineitem", "events", "documents", "embeddings"]:
            nb = base.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
            ns = synth.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
            assert ns == 2 * nb, f"{t}: {ns} != 2×{nb}"


def test_join_cardinality_scales_exactly(synth_dir):
    q = """SELECT COUNT(*) FROM orders
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN customer ON o_custkey = c_custkey"""
    with oracle_con(SF_SMALL) as base, oracle_con(synth_dir) as synth:
        nb = base.execute(q).fetchone()[0]
        ns = synth.execute(q).fetchone()[0]
    assert ns == 2 * nb, (
        f"3-way join produced {ns}, expected exactly 2×{nb} — replica keys "
        "are colliding or dangling"
    )


def test_no_dangling_foreign_keys(synth_dir):
    with oracle_con(synth_dir) as synth:
        dangling = synth.execute(
            """SELECT COUNT(*) FROM lineitem
               LEFT JOIN orders ON l_orderkey = o_orderkey
               WHERE o_orderkey IS NULL"""
        ).fetchone()[0]
    assert dangling == 0
