"""bigdata06_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo `reynaldyAl/BigData06` (a single-threaded pandas/requests
Spotify ETL pipeline), extended into a full analytics engine:

- reference-parity dataflow operators (SURVEY.md §2.A): dedup, union,
  sort/top-k, filter, enrichment (broadcast) join, counts, nested-JSON
  flattening, ragged-date normalization, CSV/parquet sinks;
- core analytics (SURVEY.md §2.B): all join types, hash aggregation,
  rollup/cube, window functions, set ops, scalar function surface;
- LLM-data-pipeline operators: exact/MinHash/SimHash/n-gram dedup,
  embedding similarity search, text analysis, multimodal columns;
- Structured Streaming over the `events` table.

Design rules (enforced throughout):
- DataFrame/SQL only; Catalyst plans everything. No RDDs.
- No `.collect()` inside operators — driver-edge only.
- Built-in `pyspark.sql.functions` in the hot path; Pandas UDFs
  (Arrow-batched) only where built-ins can't express the semantics.
- Every operator documents its partitioning/shuffle behavior for the
  100 TB design point.
"""

__version__ = "0.1.0"

from bigdata06_spark import zipdir as _zipdir

_zipdir.install()
