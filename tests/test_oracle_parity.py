"""Replicates the driver's Spark-vs-DuckDB comparison for every registered
query at sf0.001 (fast); the driver runs the same at sf0.01."""

import pytest

from kgpipe.queries import ORACLES, QUERIES
from kgpipe.queries.parity import compare

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, name):
    r = compare(spark, name, SF)
    assert r["ok"], r.get("detail", r)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_contract(spark):
    import __spark_entry__ as se

    df = se.entry(spark)
    assert df.count() > 0
    qs, os_ = se.queries(), se.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 40


_IMPORT_PROBE = """
import sys
import kgpipe.fixtures.generator as gen

calls = []

def fake_materialize(scale, *a, **k):
    calls.append(scale)
    if sys.argv[1] == "fail":
        raise OSError("read-only fixture dir")
    return "/gold/" + scale

gen.materialize = fake_materialize
import __spark_entry__ as se
from kgpipe.queries import ORACLES, QUERIES

assert calls == [], calls  # importing the registry writes no fixture
assert "kg_triples" in QUERIES
oracles = se.oracle_sql()
assert calls == ["sf0.01"], calls
if sys.argv[1] == "fail":
    assert not any(n.startswith("kg_") for n in oracles), sorted(oracles)
    assert "kg_triples" not in ORACLES
else:
    assert "/gold/sf0.01/gold_triples.parquet" in oracles["kg_triples"]
    assert "@" not in oracles["kg_triples"]
assert len(oracles) > 40
ORACLES.get("kg_triples"), list(ORACLES)
assert calls == ["sf0.01"], calls  # resolved once
"""


@pytest.mark.parametrize("mode", ["ok", "fail"])
def test_gold_fixture_written_on_first_oracle_access(mode):
    """Importing the query registry must not write the sf0.01 gold
    fixture; the first oracle access does, once. When that write fails,
    the kg_* rows degrade to rows-only and every other oracle stays."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "-c", _IMPORT_PROBE, mode],
                          cwd=repo, capture_output=True, text=True,
                          timeout=120)
    assert proc.returncode == 0, proc.stderr[-2000:]
