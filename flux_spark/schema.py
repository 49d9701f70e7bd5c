"""Canonical record schema for topic logs.

Mirrors the reference's single record shape (SURVEY.md §1.2):
producer/ProducerRecord.java:19-89 and consumer/ConsumerRecord.java:8-32.
`offset` is widened int32 -> int64 for 100 TB logs; `headers` uses the
same ARRAY<STRUCT<key,value>> type as Spark's built-in Kafka source.
"""

from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

HEADER_TYPE = ArrayType(
    StructType(
        [
            StructField("key", StringType(), False),
            StructField("value", BinaryType(), True),
        ]
    )
)

# Full consumer-side record (ConsumerRecord.java:8-32): what reads return.
RECORD_SCHEMA = StructType(
    [
        StructField("topic", StringType(), False),
        StructField("partition", IntegerType(), False),
        StructField("offset", LongType(), False),
        StructField("timestamp", TimestampType(), False),
        StructField("key", StringType(), True),
        StructField("value", StringType(), False),
        StructField("headers", HEADER_TYPE, True),
    ]
)

# RECORD_SCHEMA in Arrow: the table a driver-side read returns
RECORD_ARROW_SCHEMA = to_arrow_schema(RECORD_SCHEMA)

# What is physically stored inside each parquet file: `partition` is a
# Hive-style directory column (partition=N/) and `topic` is implied by the
# directory root, so neither is materialized in the file bytes.
STORED_FILE_SCHEMA = StructType(
    [
        StructField("offset", LongType(), False),
        StructField("timestamp", TimestampType(), False),
        StructField("key", StringType(), True),
        StructField("value", StringType(), False),
        StructField("headers", HEADER_TYPE, True),
    ]
)

# Producer-side input (ProducerRecord.java:19-89): partition/key/timestamp
# optional; value required.
PRODUCER_RECORD_FIELDS = ("topic", "partition", "timestamp", "key", "value", "headers")
