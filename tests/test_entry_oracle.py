"""The DuckDB-oracle hash contract for the entries whose processors write
fields: each ``queries()`` entry must hash-equal its ``oracle_sql()`` twin
on the sf0.001 tables, compared with ``tools/check_entry.py``'s
``frame_hash`` (run ``python tools/check_entry.py <sf_dir>`` for all 43)."""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry
from test_pipeline import SF_DIR
from tools.check_entry import TABLES, frame_hash

WRITING_ENTRIES = [
    "field_ops", "replace_truncate_extract", "convert_types", "grok_parse",
    "grok_multi", "user_agent", "kv_parse", "decode_json", "fingerprint",
    "timestamp_parse",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from '{p}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", WRITING_ENTRIES)
def test_entry_hash_equals_oracle(spark, duck, name):
    got = entry.queries()[name](spark, SF_DIR).toPandas()
    want = duck.execute(entry.oracle_sql()[name]).fetchdf()
    assert len(got) == len(want)
    assert sorted(got.columns) == sorted(want.columns)
    assert frame_hash(got) == frame_hash(want)
