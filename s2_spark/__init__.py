"""s2_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of s2-streamstore/s2 (an append-only
durable-streams store), re-expressed Spark-first.

Layout:
    session    — tuned SparkSession builder
    tables     — fixture table loading / temp-view registration
    model      — canonical record schema + metered-size + command records
    registry   — declared-query registry (Spark callable + DuckDB oracle SQL)
    suite/     — SURVEY.md §2.B query inventory, one module per family
    store      — batch data plane (append/read/check_tail/trim/fence/list)
    manifest   — manifest-MVCC generation log: the store's visibility
    catalog    — basins/streams metadata + 3-layer config resolution
    streaming/ — Structured Streaming source/sink/live-tail/stateful ops
    functions/ — extension operators (dedup, similarity, text, multimodal)
"""

__version__ = "0.1.0"
