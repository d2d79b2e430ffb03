"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference DeFi ETL platform
(``wolfworldrun/DeFi-ETL-Platform-sqlglot-Implementation-``).

Design stance (SURVEY.md §7.1): pure DataFrame -> DataFrame transform
functions + Spark SQL views. Catalyst/Tungsten provide the optimizer and
physical execution the reference (a single-process pandas pipeline) lacks.
The reference's sqlglot write-once-run-anywhere goal is satisfied by
construction — Spark SQL is the executing dialect; ``plans.transpile``
(the rule transpiler in ``plans.transpiler``) emits the other six.

Layout
------
- ``schemas``    : explicit StructTypes for the event envelope + payloads
- ``functions``  : scalar helpers (keccak/EIP-55, hex decode, time, maps)
- ``sources``    : bronze parquet/fixture loaders, Kafka wiring, JSON codec
- ``operators``  : transfers / swaps / tx features / block agg / MEV / risk
                   + scale extensions (dedup, similarity, text stats,
                   multimodal)
- ``plans``      : canonical SQL registry, validation, rule transpiler
- ``streaming``  : Structured Streaming variants of the batch transforms
- ``serving``    : the four chart-endpoint computations (JSON shapes)
- ``pipeline``   : run_batch() orchestrator mirroring the reference's
                   ``BlockchainETLPipeline.run`` output contract
- ``gates``      : registry discovery, gate code fingerprints and the
                   driver's verification window
- ``session()``  : the one local SparkSession factory (below)
"""

__version__ = "0.1.0"


def session(cpus, app: str, **overrides):
    """The one local SparkSession builder for bench, scripts and tests:
    ``local[cpus]``, as many shuffle partitions, UTC session time (timestamp
    parity with the DuckDB oracles), AQE on, no UI, ERROR logs.  Overrides
    name Spark confs without ``spark.``, dots as underscores:
    ``driver_memory="12g"`` sets ``spark.driver.memory``."""
    from pyspark.sql import SparkSession

    conf = {"spark.sql.shuffle.partitions": str(cpus), "spark.sql.session.timeZone": "UTC",
            "spark.sql.adaptive.enabled": "true", "spark.ui.enabled": "false",
            **{"spark." + k.replace("_", "."): str(v) for k, v in overrides.items()}}
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app)
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
