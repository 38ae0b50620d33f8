"""The driver-generated parquet tables (TESTDATA.md): ``<sf_dir>/<name>.parquet``
for every name in ``TABLES``.

Parquet scans get predicate pushdown + column pruning from Catalyst for
free — the Spark-native replacement for the reference reader's record-range
and channel pushdown (reference: file_io/edf.py:421-450, 353-373).
"""

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
