"""catalog.table_meta reads row and split counts off parquet footers."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from build_pipeline_with_apache_beam_spark.catalog import table_meta


def test_table_meta_counts_partitioned_layout(tmp_path):
    table = tmp_path / "documents.parquet"
    for k, n in (("a", 3), ("b", 5)):
        part = table / f"k={k}"
        part.mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": list(range(n))}),
                       part / "part.parquet")
    assert table_meta(str(tmp_path), "documents") == (8, 2)
