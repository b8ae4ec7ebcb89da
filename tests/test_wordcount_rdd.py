"""wordcount_rdd edge cases in the default tier.

The query counts in Python workers (one ``Counter`` per partition), so
two things can go wrong that the fixture-wide differential does not
exercise: documents the fixtures lack (NULL, empty, whitespace- or
punctuation-only) and partitions with no rows at all; and executors
that cannot import this package, since the partition function must be
shipped by value.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.registry import all_queries

from tests.conftest import SF_DIR
from tests.oracle_util import assert_matches_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_TEXTS = [
    None,
    "",
    "  \t\n ",
    "...,;!? -- ()",
    "Hello HELLO hello, World! wOrLd",
    "don't O'Brien's 'quoted' rock'n'roll",
    "foo-bar a1b2c3 x",
]


def test_edge_documents_match_oracle_with_empty_partitions(spark, tmp_path):
    schema = pq.ParquetFile(
        os.path.join(SF_DIR, "documents.parquet")).schema_arrow
    n = len(_TEXTS)
    table = pa.Table.from_pydict({
        "doc_id": list(range(n)),
        "text": _TEXTS,
        "lang": ["en"] * n,
        "source": ["web"] * n,
        "n_chars": [len(t or "") for t in _TEXTS],
    }, schema=schema)
    path = tmp_path / "documents.parquet"
    pq.write_table(table, str(path), row_group_size=1)

    # Splits of 1/(2n) of the file: one file of one-row row groups becomes
    # about 2n scan partitions, so at least n of them are empty.
    confs = {"spark.sql.files.maxPartitionBytes":
             str(os.path.getsize(path) // (2 * n)),
             "spark.sql.files.openCostInBytes": "1"}
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        parts = load_table(spark, str(tmp_path), "documents").rdd
        assert parts.getNumPartitions() > n
        assert min(parts.glom().map(len).collect()) == 0
        spec = all_queries()["wordcount_rdd"]
        df = spec.fn(spark, str(tmp_path))
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        try:
            assert_matches_oracle(df, con, spec.oracle)
        finally:
            con.close()
        assert dict(df.collect()) == {
            "hello": 3, "world": 2, "don't": 1, "o'brien's": 1, "'quoted'": 1,
            "rock'n'roll": 1, "foobar": 1, "abc": 1, "x": 1}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from mapreducewordcounting_spark.operators.wordcount import (
    word_count, word_count_rdd)
from mapreducewordcounting_spark.session import get_spark

spark = get_spark(app_name="wordcount-rdd-import", cpus=2)
try:
    print(json.dumps([sorted(map(list, fn(spark, sys.argv[2]).collect()))
                      for fn in (word_count_rdd, word_count)]))
finally:
    spark.stop()
"""


def test_runs_where_executors_cannot_import_the_package(tmp_path):
    """Driver finds the package only through a sys.path insert; the
    Python workers start in a directory without it and no PYTHONPATH."""
    sf01 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    if not os.path.exists(os.path.join(sf01, "documents.parquet")):
        pytest.skip(f"no fixtures at {sf01}")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO, sf01], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    rdd_rows, canonical_rows = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rdd_rows and rdd_rows == canonical_rows
