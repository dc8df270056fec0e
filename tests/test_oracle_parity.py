"""Every queries() entry with an oracle must match it exactly at
sf0.001 (fast) — the driver runs the same compare at sf0.01."""

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

# oracles whose literals are constants of the sf0.01 corpus (the
# driver's correctness scale) — checked at sf0.01 below, not sf0.001.
# kg_edges_neural selects frozen literals by the corpus-fingerprint
# probe and carries rows for BOTH scales, so it runs in the regular
# sf0.001 set above (as does the retired kg_pair_tensors_digest, now
# in test_library_oracle_parity.py).
SF001_ONLY = {
    "ann_topk_ivf",
}


@pytest.mark.parametrize("name", sorted(set(ORACLES) - SF001_ONLY))
def test_oracle_parity(spark, name):
    df = QUERIES[name](spark, SF_SMOKE)
    ok, msg = compare(df, ORACLES[name], SF_SMOKE)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", sorted(SF001_ONLY))
def test_oracle_parity_sf001(spark, name):
    """IVF centroid literals are trained on (and frozen for) the
    sf0.01 embeddings — the scale the driver compares at."""
    sf = "/root/testdata/sf0.01"
    df = QUERIES[name](spark, sf)
    ok, msg = compare(df, ORACLES[name], sf)
    assert ok, f"{name}: {msg}"


def test_all_oracle_keys_have_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_query_tmpdir_is_removed_at_exit():
    """q_edges_incremental and q_nodes_table_roundtrip return DataFrames
    that read a fresh RAM-disk directory lazily (_ram_tmpdir); it goes
    when the interpreter exits. Checked in a subprocess that starts no
    Spark session."""
    import os
    import subprocess
    import sys

    code = (
        "import os, __spark_entry__ as e\n"
        "p = e._ram_tmpdir('kg_exit_')\n"
        "open(os.path.join(p, 'f'), 'w').close()\n"
        "print(os.path.isdir(p), p)\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=os.path.dirname(os.path.abspath(entry_mod.__file__)), timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    existed, path = r.stdout.split()
    assert existed == "True" and os.path.basename(path).startswith("kg_exit_")
    assert not os.path.exists(path)
