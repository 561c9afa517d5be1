"""Table scans.

Production shape: Iceberg tables (``spark.read.table``) partitioned
``bucket(N, conv_id)`` / ``days(ts)`` so Catalyst gets partition
pruning and the (conv_id, turn_idx) joins co-locate. The sandbox has
no Iceberg runtime jar, so the seam reads parquet directories with
identical schemas — swapping the catalog in is a one-line change per
reader (the reference's analogous seam is its file reader,
src/inference.py:146-157).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..synth import generate_alias_dict, generate_transcripts

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

ALIAS_DICT_SCHEMA = T.StructType(
    [
        T.StructField("alias_norm", T.StringType()),
        T.StructField("canonical", T.StringType()),
        T.StructField("label", T.StringType()),
    ]
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def synthetic_transcripts(
    spark: SparkSession,
    n_conversations: int = 200,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic transcripts DataFrame (input_hint schema).

    Driver-side generation is fine at test scale; the bench generator
    (bench.py) parallelizes generation executor-side for larger row
    counts.
    """
    rows = generate_transcripts(n_conversations=n_conversations, seed=seed)
    df = spark.createDataFrame(rows, schema=TRANSCRIPTS_SCHEMA)
    if partitions:
        df = df.repartition(partitions, "conv_id")
    return df


def local_table(
    spark: SparkSession, rows: list[tuple] | list[dict], schema: T.StructType | str
) -> DataFrame:
    """A small driver-built table as a JVM-local relation.

    Rows are tuples in schema order or dicts keyed by field name;
    `schema` is a StructType or a DDL string. The rows go to the JVM as
    one Arrow table and plan as a `LocalRelation`. `createDataFrame(list)`
    plans as a Python RDD instead, which every reference of the
    DataFrame re-runs in Python workers."""
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [r if isinstance(r, dict) else dict(zip(names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema=schema)


def alias_dict_df(spark: SparkSession) -> DataFrame:
    """The entity-linking dictionary — small, broadcast side — as a
    JVM-local table (`local_table`)."""
    return local_table(spark, generate_alias_dict(), ALIAS_DICT_SCHEMA)


def distributed_transcripts(
    spark: SparkSession,
    n_conversations: int,
    seed: int = 42,
    partitions: int = 32,
    min_turns: int = 3,
    max_turns: int = 12,
) -> DataFrame:
    """Executor-side transcript synthesis for bench scale.

    ``spark.range`` over conversation ids → mapInPandas generator per
    batch; each conversation is generated from its own id-derived seed
    so output is independent of partitioning (deterministic under any
    parallelism level — required for the two-cluster-size scaling
    evidence)."""
    import pandas as pd  # noqa: PLC0415

    from ..synth import generate_conversation  # noqa: PLC0415

    def gen(batches):
        for batch in batches:
            out = []
            for cid in batch["id"]:
                out.extend(
                    generate_conversation(
                        int(cid), seed=seed, min_turns=min_turns, max_turns=max_turns
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[f.name for f in TRANSCRIPTS_SCHEMA.fields],
            )

    ids = spark.range(0, n_conversations, 1, partitions)
    return ids.mapInPandas(gen, TRANSCRIPTS_SCHEMA)
