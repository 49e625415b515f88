"""The driver's layout-aware read (``__spark_entry__._t``): a table in
``_REBALANCE_TABLES`` whose parquet file has fewer row groups than
``defaultParallelism`` and at least ``_MIN_REBALANCE_ROWS`` rows is
hash-repartitioned on its lead column to ``defaultParallelism``; every
other case reads the file as it lies. The layout is read from the
footer per (path, mtime, size), so a file rewritten at the same path
gets a fresh decision."""

import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry


def _write(sf_dir, table, rows, row_groups=1):
    t = pa.table({
        "doc_id": pa.array(range(rows), pa.int64()),
        "text": pa.array([f"doc {i}" for i in range(rows)]),
    })
    pq.write_table(t, sf_dir / f"{table}.parquet",
                   row_group_size=-(-rows // row_groups))
    assert pq.ParquetFile(sf_dir / f"{table}.parquet").metadata.num_row_groups == row_groups


def _repartitions(df):
    """(column, partitions) of every hash exchange in the physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"Exchange hashpartitioning\((\w+)#\d+L?, (\d+)\)", plan)


@pytest.fixture
def par(spark):
    p = spark.sparkContext.defaultParallelism
    assert p >= 2, "the rule needs a parallelism a single row group falls short of"
    return p


def test_single_row_group_documents_is_rebalanced(spark, tmp_path, par):
    _write(tmp_path, "documents", 2400)
    df = entry._t(spark, str(tmp_path), "documents")
    assert _repartitions(df) == [("doc_id", str(par))]


@pytest.mark.parametrize("table,rows,row_groups,rebalance", [
    ("documents", 2400, 1, False),                       # per-query override
    ("documents", entry._MIN_REBALANCE_ROWS - 1, 1, None),  # too small to pay off
    ("documents", 2400, "par", None),                    # layout already parallel
    ("events", 2400, 1, None),                           # not in _REBALANCE_TABLES
])
def test_read_as_laid_out(spark, tmp_path, par, table, rows, row_groups, rebalance):
    _write(tmp_path, table, rows, par if row_groups == "par" else row_groups)
    df = entry._t(spark, str(tmp_path), table, rebalance=rebalance)
    assert _repartitions(df) == []


def test_rewritten_file_gets_a_fresh_decision(spark, tmp_path, par):
    _write(tmp_path, "documents", 2400)
    assert _repartitions(entry._t(spark, str(tmp_path), "documents")) == [("doc_id", str(par))]
    _write(tmp_path, "documents", 2400, row_groups=par)
    assert _repartitions(entry._t(spark, str(tmp_path), "documents")) == []
