from callysto_spark.sinks.core import (
    ParquetSink,
    KafkaSink,
    JdbcSink,
    ElasticsearchSink,
    MemorySink,
    MemTopicSink,
)

__all__ = [
    "ParquetSink",
    "KafkaSink",
    "JdbcSink",
    "ElasticsearchSink",
    "MemorySink",
    "MemTopicSink",
]
