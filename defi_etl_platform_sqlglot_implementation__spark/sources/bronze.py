"""Bronze-layer sources: parquet fixtures + the JSON event codec.

The reference's Kafka consumer path is ``bytes -> json.loads -> dict``
(etl_pipeline.py:54-58) and its producer path is
``dataclass -> json.dumps -> bytes`` (kafka_producer.py:51-52). In Spark
those are ``from_json``/``to_json`` over the explicit envelope schema —
executed columnar, JVM-side (SURVEY.md §2.1 S4/S5).

Driver-local rows (fixture grids, driver-loop state such as k-means
centroids) enter plans through :func:`local_frame` only.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from ..schemas import ENVELOPE

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: StructType | str
) -> DataFrame:
    """Driver-local tuples -> a frame whose plan leaf is a JVM relation.

    ``schema`` is a StructType or a DDL string; nothing is inferred.  The
    rows become one ``pyarrow.Table`` of that schema, which Spark turns
    into a ``LocalRelation`` (an RDD of Arrow batches above
    ``spark.sql.execution.arrow.localRelationThreshold``).  Unlike
    ``createDataFrame(<list>)``, whose scan is a PythonRDD, executing the
    plan starts no Python worker, and Catalyst can fold projections over
    it and size it for broadcast.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow, strict=True)], schema=arrow)
    return spark.createDataFrame(table, schema)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES, register: bool = True
) -> dict[str, DataFrame]:
    out = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def parse_raw_events(
    raw: DataFrame, value_col: str = "value", schema: StructType = ENVELOPE
) -> DataFrame:
    """Kafka-shaped frame (binary/string `value`) -> typed envelope rows.

    Malformed JSON yields NULL structs (PERMISSIVE), mirroring the
    reference's skip-on-failure tolerance (backfill.py:58-66).
    """
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), schema).alias("e")
    )
    return parsed.select("e.*")


def to_event_json(envelope_cols: Column | None = None) -> Column:
    """Envelope struct -> JSON bytes-compatible string (S5)."""
    cols = envelope_cols if envelope_cols is not None else F.struct(*[f.name for f in ENVELOPE])
    return F.to_json(cols)


def parse_raw_events_quarantine(
    raw: DataFrame, value_col: str = "value", schema: StructType = ENVELOPE
) -> tuple[DataFrame, DataFrame]:
    """Like :func:`parse_raw_events`, but splits rejects into a dead-letter
    frame instead of silently nulling them.

    Returns ``(events, rejects)``: ``events`` carries only rows whose JSON
    parsed cleanly; ``rejects`` carries the raw payload plus a rejection
    timestamp, ready for a quarantine sink. This is the production bronze
    contract the reference approximates with per-block try/except skipping
    (reference scripts/backfill.py:58-66) — here the quarantine is a
    first-class output, so bad input is observable and replayable instead
    of logged-and-lost.

    Both outputs derive from ONE ``from_json`` evaluation (the corrupt
    column rides along in the parsed struct); the split is two filters on
    the same projection — at scale, one pass over the bytes, no re-parse.
    """
    # StructType.add MUTATES (and returns) the passed-in schema object —
    # repeated calls would stack duplicate _corrupt_record fields onto the
    # shared module-level ENVELOPE (one per micro-batch / per caller) and
    # poison every later parse. Build a fresh StructType instead.
    with_corrupt = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    parsed = raw.select(
        F.col(value_col).cast("string").alias("_raw"),
        F.from_json(
            F.col(value_col).cast("string"),
            with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("e"),
    )
    ok = (
        parsed.filter(F.col("e._corrupt_record").isNull())
        .select("e.*")
        .drop("_corrupt_record")
    )
    rejects = parsed.filter(F.col("e._corrupt_record").isNotNull()).select(
        F.col("_raw").alias("raw_value"),
        F.current_timestamp().alias("rejected_at"),
    )
    return ok, rejects
