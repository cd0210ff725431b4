"""read_parquet_memo: the session table-plan memo must miss when an
export directory changes, including a change that only deletes files."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from rust_evm_indexer_spark.sources.batch import read_parquet_memo


def test_memo_misses_after_a_part_file_is_deleted(spark, tmp_path):
    d = tmp_path / "export"
    d.mkdir()
    for i in range(3):
        f = d / f"part-{i}.parquet"
        pq.write_table(pa.table({"x": [i, i + 10]}), f)
        # distinct mtimes, oldest first: deleting part-0 leaves the
        # newest file (the mtime anchor) untouched
        os.utime(f, ns=(1_000_000_000 * (i + 1), 1_000_000_000 * (i + 1)))
    first = read_parquet_memo(spark, d)
    assert read_parquet_memo(spark, d) is first  # unchanged dir: a hit
    (d / "part-0.parquet").unlink()
    after = read_parquet_memo(spark, d)
    assert after is not first
    assert sorted(r["x"] for r in after.collect()) == [1, 2, 11, 12]
