"""CSV ingest (reference R1) behavior tests, incl. the Q10 divergence:
ragged input errors instead of silently null-padding."""

from __future__ import annotations

import os

import pytest

from spark_clustering_spark.sources.csv_numeric import read_numeric_csv

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark_clustering_spark",
    "fixtures",
)


def test_reads_rectangular_csv(spark):
    df = read_numeric_csv(spark, os.path.join(FIXTURES, "csv_tiny.csv"))
    rows = df.orderBy("id").collect()
    assert len(rows) == 12
    assert rows[0]["id"] == 0
    assert len(rows[0]["features"]) == 2
    assert all(isinstance(v, float) for v in rows[0]["features"])


def test_ragged_csv_raises(spark, tmp_path):
    p = tmp_path / "ragged.csv"
    p.write_text("1.0,2.0,3.0\n4.0,5.0\n6.0,7.0,8.0\n")
    with pytest.raises(Exception):
        read_numeric_csv(spark, str(p)).collect()


def test_non_numeric_token_raises(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("1.0,2.0\n3.0,abc\n")
    with pytest.raises(Exception):
        read_numeric_csv(spark, str(p)).collect()


def test_multi_file_ids_follow_file_then_position_order(spark, tmp_path):
    """Ingesting a DIRECTORY of CSVs mints ids in (file, in-file
    position) order — the two-pass rank must be stable across files,
    not just within one (the R1 front door at fleet scale is always
    many files)."""
    from spark_clustering_spark.sources.csv_numeric import read_numeric_csv

    (tmp_path / "a.csv").write_text("1,10\n2,20\n3,30\n")
    (tmp_path / "b.csv").write_text("4,40\n5,50\n")
    df = read_numeric_csv(spark, str(tmp_path))
    rows = {r["id"]: r["features"] for r in df.collect()}
    assert sorted(rows) == [0, 1, 2, 3, 4]
    assert rows[0] == [1.0, 10.0] and rows[2] == [3.0, 30.0]
    assert rows[3] == [4.0, 40.0] and rows[4] == [5.0, 50.0]


def test_ragged_csv_message(spark, tmp_path):
    """The ragged check (an empty cell; a short row already fails the
    FAILFAST parse) rides the id-minting job and keeps its message."""
    p = tmp_path / "short.csv"
    p.write_text("1.0,2.0\n3.0,\n")
    with pytest.raises(ValueError, match="ragged CSV input"):
        read_numeric_csv(spark, str(p))
