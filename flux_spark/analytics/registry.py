"""Shared query-registry plumbing.

Each engine query is a :class:`QuerySpec`: a Spark callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the equivalent
ANSI SQL for the DuckDB oracle. Column names/aliases must match exactly —
the driver's comparator sorts columns by name and hashes values.

Float determinism contract (applies to every spec here): per-row arithmetic
is done in DOUBLE (bit-identical across engines), aggregates over floats go
through a per-row CAST to DECIMAL so the SUM is exact and order-independent,
and the final value is CAST back to DOUBLE. Integer/count/min/max aggregates
are exact as-is. This removes summation-order nondeterminism — the only way
distributed Spark and single-threaded DuckDB can disagree on identical input.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

_DEC = "decimal(25,6)"


def _dec_sum(col, alias):
    """Exact, order-independent sum of a double expression: per-row CAST to
    DECIMAL so the distributed SUM is exact, final CAST back to DOUBLE
    (the float-determinism contract in the module docstring)."""
    from pyspark.sql import functions as F

    return F.sum(col.cast(_DEC)).cast("double").alias(alias)


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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # parquet reader rejects; read as int64 nanos and truncate to micros
        # (exactly what DuckDB's ns->us cast does, keeping oracles aligned).
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Driver testdata may store ts as timestamp[us] (read as
            # TIMESTAMP_NTZ). Normalize to TIMESTAMP so unix_micros &co
            # analyze; sessions run under UTC so the wall-clock value is
            # unchanged and DuckDB's tz-naive epoch_us stays aligned.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def input_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of a table's parquet input (file or directory) —
    the deterministic scale signal behind size-gated materialization
    decisions (guide §2: derive scale knobs from input size, never from
    a constant tuned for one deployment). Re-reads the filesystem every
    call; no cross-run state. A ``scheme://`` path is sized through the
    active session's Hadoop FileSystem, and raises if it cannot be."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    if "://" in path:
        try:
            spark = SparkSession.getActiveSession()
            hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
            return int(fs.getContentSummary(hpath).getLength())
        except Exception as e:
            raise RuntimeError(f"input_bytes: cannot size {path}") from e
    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


# Persisting/checkpointing a shared intermediate only pays once the scans
# it saves outweigh the materialization cost: at bench SF the corpus scan
# is milliseconds and an eager persist is pure overhead (VERDICT r13 #2
# measured -39%/-47% on the two lanes that materialized unconditionally),
# while at sf10+ the re-derivations dominate. 64 MB of table input is
# the crossover measured at sf0.1 (<1 MB: persist loses) vs sf10
# (~60 MB: persist wins); env-overridable for cluster tuning.
PERSIST_MIN_INPUT_BYTES = int(
    __import__("os").environ.get(
        "SPARK_GRAFT_PERSIST_MIN_BYTES", str(64 * 1024 * 1024)
    )
)


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # ANSI SQL for DuckDB; None -> rows-only check
    description: str = ""


ANALYTICS_QUERIES: dict[str, QuerySpec] = {}


def register(registry: dict[str, QuerySpec], name: str, oracle: str | None, description: str = ""):
    def deco(fn):
        registry[name] = QuerySpec(fn=fn, oracle=oracle, description=description)
        return fn

    return deco
