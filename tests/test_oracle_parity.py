"""Driver-mimicking correctness gate: every oracle-backed query in
``__spark_entry__`` must match its DuckDB oracle at sf0.001 (row count,
schema names, order-insensitive values)."""

from __future__ import annotations

import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from oracle_utils import compare, duck_con  # noqa: E402

SF = "/root/testdata/sf0.001"

_ORACLES = entrymod.oracle_sql()
_QUERIES = entrymod.queries()


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(spark, con, name):
    assert name in _QUERIES, f"oracle without query: {name}"
    compare(_QUERIES[name](spark, SF), con, _ORACLES[name])


def test_rows_only_queries_run(spark):
    for name in sorted(set(_QUERIES) - set(_ORACLES)):
        df = _QUERIES[name](spark, SF)
        assert df.count() > 0, name


def test_entry_smoke(spark):
    out = entrymod.entry(spark)
    rows = out.collect()
    assert len(rows) > 0
    assert [f.name for f in out.schema.fields] == [
        "url", "success", "error", "n_blocks", "extracted_text",
    ]


def test_flagship_entries_lead_queries():
    # an oracle sweep capped at the first 50 entries must still check them
    flagship = {
        "extract_golden_parity",
        "extract_pages",
        "extract_pages_staged",
        "multimodal_meta",
        "status_windowed",
    }
    assert flagship <= set(list(_QUERIES)[:50])
