"""Fixture catalog: the declared-schema cache behind ``load_table``."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from dynamic_etl_pipeline_spark import catalog


def test_schema_cache_misses_on_in_place_part_rewrite(spark, tmp_path):
    """A directory table rewritten in place (same part-file name, so
    the directory's own stat is unchanged) must not be served its old
    cached schema."""
    table = tmp_path / "t.parquet"
    table.mkdir()
    part = table / "part-00000.parquet"
    pq.write_table(pa.table({"id": [1, 2]}), part)
    first = catalog.load_table(spark, str(tmp_path), "t")
    assert first.columns == ["id"]

    dir_stat = table.stat()
    pq.write_table(pa.table({"id": [1, 2], "x": ["a", "b"]}), part)
    assert table.stat().st_mtime_ns == dir_stat.st_mtime_ns

    second = catalog.load_table(spark, str(tmp_path), "t")
    assert second.columns == ["id", "x"]
    assert sorted(map(tuple, second.collect())) == [(1, "a"), (2, "b")]
