"""Fixed, explicit StructTypes for every pipeline table (SURVEY.md §1.2).

No schema inference anywhere in the pipeline: every read in prod paths
passes one of these, and every frame built from driver-side rows goes
through ``local_frame`` with an explicit schema (an Arrow table planned as
a LocalTableScan — never a list-based createDataFrame, whose pickled RDD
starts a Python worker pool of its own). The transcripts schema is
authoritative from BASELINE.json:15 (input_hint).
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def local_frame(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in field order, or
    dicts keyed by field name) with exactly ``schema`` (a StructType or a
    DDL string).

    The rows are built into a pyarrow table on the driver and handed to
    createDataFrame, which plans it as a LocalTableScan: no Spark job and
    no Python worker. A list of tuples instead is pickled into an RDD
    whose re-serializing map is a PythonRDD stage, and that stage starts
    a second ``pyspark.daemon`` plus one worker per core beside the
    mapInPandas pool. A pyarrow table never takes createDataFrame's
    pickled fallback (only pandas input does), so a failed conversion
    raises here instead of silently starting that pool.

    Zero rows give an empty frame with the schema. NULL is kept in a
    nullable column and refused in a non-nullable one (the check the
    pickled path's verifySchema makes). Naive datetimes read as UTC, the
    session timezone (session.py)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    names = schema.fieldNames()
    if rows and isinstance(rows[0], dict):
        cols = [[r.get(n) for r in rows] for n in names]
    else:
        cols = [list(c) for c in zip(*rows)] if rows else [[] for _ in names]
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)]
    for field, arr in zip(schema.fields, arrays):
        if not field.nullable and arr.null_count:
            raise ValueError(f"local_frame: NULL in non-nullable field {field.name!r}")
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema
    )

# INPUT — BASELINE.json:15: (conv_id:string, turn_idx:int32, role:string,
# text:string, tool:string, ts:timestamp)
TRANSCRIPTS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), False),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), False),
    ]
)

TURN_STRUCT = StructType(
    [
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), False),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), False),
    ]
)

# one row per conversation; turns sorted by turn_idx ASC (the per-turn
# equality invariant surface, BASELINE.json:15)
DOCUMENTS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("n_turns", IntegerType(), False),
        StructField("turns", ArrayType(TURN_STRUCT, False), False),
    ]
)

SENTENCES = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("sent_idx", IntegerType(), False),
        StructField("tokens", ArrayType(StringType(), False), False),
        StructField("char_begin", IntegerType(), False),
        StructField("char_end", IntegerType(), False),
    ]
)

MENTION_STRUCT = StructType(
    [
        StructField("begin", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("ent_type", StringType(), False),
        StructField("surface", StringType(), False),
        StructField("conf", DoubleType(), False),
    ]
)

# relations carry their argument mentions' (type, surface) inline: triple
# resolution then joins the DISTINCT-SURFACE map (small, broadcastable)
# instead of the mention-sized id map — the joins that dominated triple
# materialization at scale disappear (see materialize.build_triples).
RELATION_STRUCT = StructType(
    [
        StructField("subj_begin", IntegerType(), False),
        StructField("subj_end", IntegerType(), False),
        StructField("subj_ent_type", StringType(), False),
        StructField("subj_surface", StringType(), False),
        StructField("obj_begin", IntegerType(), False),
        StructField("obj_end", IntegerType(), False),
        StructField("obj_ent_type", StringType(), False),
        StructField("obj_surface", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("conf", DoubleType(), False),
    ]
)

# output of the single fused extraction stage (E+F, SURVEY.md §2.E/§2.F):
# one row per sentence, mentions+relations as nested arrays so one numpy
# forward pass serves both and no hidden-state shuffle is needed (F2).
EXTRACTED = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("sent_idx", IntegerType(), False),
        StructField("mentions", ArrayType(MENTION_STRUCT, False), False),
        StructField("relations", ArrayType(RELATION_STRUCT, False), False),
    ]
)

MENTIONS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("sent_idx", IntegerType(), False),
        StructField("mention_id", StringType(), False),
        StructField("begin", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("ent_type", StringType(), False),
        StructField("surface", StringType(), False),
        StructField("conf", DoubleType(), False),
    ]
)

RELATIONS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("sent_idx", IntegerType(), False),
        StructField("subj_mention_id", StringType(), False),
        StructField("obj_mention_id", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("conf", DoubleType(), False),
    ]
)

ENTITIES = StructType(
    [
        StructField("entity_id", StringType(), False),
        StructField("canonical", StringType(), False),
        StructField("ent_type", StringType(), False),
        StructField("n_mentions", LongType(), False),
        StructField("aliases", ArrayType(StringType(), False), False),
    ]
)

PROVENANCE_STRUCT = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("sent_idx", IntegerType(), False),
    ]
)

TRIPLES = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("conf", DoubleType(), False),
        StructField("n_evidence", LongType(), False),
        StructField("provenance", ArrayType(PROVENANCE_STRUCT, False), False),
    ]
)

MARKERS = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("partition_key", StringType(), False),
        StructField("snapshot_id", StringType(), False),
        StructField("input_rows", LongType(), False),
        StructField("output_rows", LongType(), False),
        StructField("triple_count", LongType(), False),
        StructField("code_hash", StringType(), False),
        StructField("model_hash", StringType(), False),
        StructField("committed_at", TimestampType(), False),
    ]
)

# CoNLL04-style inventories (SURVEY.md §5.3)
ENT_TYPES = ["Peop", "Org", "Loc", "Other"]
REL_TYPES = ["Work_For", "Live_In", "Located_In", "OrgBased_In", "Kill"]
NONE_REL = "None"
