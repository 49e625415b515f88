"""Every oracle twin runs on DuckDB, with no Spark session.

``scripts/check_oracle.py`` compares each twin with its Spark query but
takes minutes; this runs every ``oracle_sql()`` twin alone over the test
scale factor, so a twin DuckDB cannot run fails in the fast lane."""

import duckdb

import __spark_entry__ as entry
from scripts.check_oracle import TABLES


def test_every_oracle_twin_runs_on_duckdb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failed = []
    for name, sql in entry.oracle_sql().items():
        try:
            con.execute(sql).fetchall()
        except duckdb.Error as e:  # report every broken twin, not the first
            failed.append(f"{name}: {str(e).splitlines()[0]}")
    assert not failed, "oracle twins DuckDB cannot run:\n" + "\n".join(failed)
