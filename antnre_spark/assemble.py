"""C: document assembly / turn ordering (SURVEY.md §2.C).

The per-turn text-equality invariant (BASELINE.json:15) lives here: documents
carry turns in deterministic turn_idx order regardless of shuffle or
partition count. We therefore never rely on ``collect_list`` order (it is
shuffle-order-dependent); ``sort_array`` over a struct whose FIRST field is
turn_idx gives a total, shuffle-independent order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# C1's collect_list is bounded by capping turns per document: a conversation
# longer than this is split into continuation documents (doc_seq 0,1,2,…) so
# a single pathological conversation can never blow an executor's memory
# (explicit skew handling, SURVEY.md §4.3.1).
MAX_TURNS_PER_DOC = 512

EXTRACT_ROLES = ("user", "assistant")


def filter_extractable(transcripts: DataFrame) -> DataFrame:
    """B1: keep text-bearing turns. Sargable predicates, pushed to the scan
    by Catalyst (verify with .explain: PushedFilters on role/text)."""
    return transcripts.filter(
        F.col("role").isin(*EXTRACT_ROLES)
        & F.col("text").isNotNull()
        & (F.length("text") > 0)
    )


def dedup_turns(transcripts: DataFrame) -> DataFrame:
    """C2: exactly one row per (conv_id, turn_idx), keeping the latest ts.

    Retry/duplicate turns are a fixture pathology (FIXTURES.md F1.a). The
    tie-break is total (ts DESC, then text DESC — chosen so the fused
    single-shuffle path below can reproduce it with an ascending struct
    sort) so the survivor is deterministic even for equal timestamps.
    """
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("ts").desc(), F.col("text").desc_nulls_last()
    )
    return (
        transcripts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def partition_for_extraction(
    transcripts: DataFrame, n_partitions: int
) -> DataFrame:
    """Size the ONE assembly shuffle for the downstream compute stage.

    repartition(n, conv_id) ahead of the fused groupBy: Catalyst recognizes
    the hash partitioning and elides the groupBy's own exchange (verified —
    the whole assemble->segment->extract chain runs with a SINGLE Exchange),
    so the model stage inherits n-way parallelism WITHOUT a second shuffle
    of raw sentence text. The pipeline passes defaultParallelism: one model
    task per core. AQE would coalesce a small assembly shuffle by size and
    starve the compute-bound pandas-UDF stage, and every partition beyond
    one per core adds a Python task that pays the worker's fixed per-task
    set-up (~0.25 s measured on a 4-core host, where 40 tasks per
    micro-batch cost 3.4 s of wall for ~0.1 s of model work).

    Rows are conv-hash balanced; a single conversation larger than one
    partition's fair share is the one case this cannot split.
    """
    return transcripts.repartition(n_partitions, "conv_id")


def assemble_documents_fused(
    transcripts: DataFrame, max_turns_per_doc: int = MAX_TURNS_PER_DOC
) -> DataFrame:
    """C2+C1 fused: dedup + window-ordered assembly in ONE shuffle.

    The separate operators shuffle twice (row_number by (conv_id, turn_idx),
    then groupBy conv_id). At 10^12 turns that doubled shuffle volume is the
    stage-1 bottleneck, so the production path groups ONCE by conv_id,
    sorts the collected struct array by (turn_idx, ts, text) ascending, and
    keeps the LAST element per turn_idx — exactly the (ts DESC, text DESC)
    dedup survivor — with a JVM-side filter lambda. Long conversations are
    then sliced into continuation docs (doc_seq) in-array.

    Equivalence with dedup_turns + assemble_documents is asserted in
    tests/test_assemble.py.
    """
    arr = F.sort_array(
        F.collect_list(F.struct("turn_idx", "ts", "text", "role", "tool"))
    )
    grouped = transcripts.groupBy("conv_id").agg(arr.alias("_arr"))
    n = F.size("_arr")
    # keep element i iff it is the last entry for its turn_idx; the lookup
    # index is clamped to n because ANSI mode makes out-of-bounds
    # element_at throw (the clamped self-compare is masked by i == n-1)
    deduped = F.filter(
        F.col("_arr"),
        lambda x, i: (i == n - 1)
        | (
            F.element_at(F.col("_arr"), F.least(i + 2, n).cast("int"))["turn_idx"]
            != x["turn_idx"]
        ),
    )
    # reorder struct fields to the public TURN_STRUCT layout
    turns = F.transform(
        deduped,
        lambda x: F.struct(
            x["turn_idx"].alias("turn_idx"),
            x["role"].alias("role"),
            x["text"].alias("text"),
            x["tool"].alias("tool"),
            x["ts"].alias("ts"),
        ),
    )
    with_turns = grouped.select("conv_id", turns.alias("_turns"))
    k = max_turns_per_doc
    n_docs = F.ceil(F.size("_turns") / F.lit(k)).cast("int")
    slices = F.transform(
        F.sequence(F.lit(0), F.greatest(n_docs - 1, F.lit(0))),
        lambda i: F.slice(F.col("_turns"), (i * k + 1).cast("int"), k),
    )
    return (
        with_turns.select(
            "conv_id", F.posexplode(slices).alias("doc_seq", "turns")
        )
        .filter(F.size("turns") > 0)
        .select(
            "conv_id",
            F.col("doc_seq").cast("int").alias("doc_seq"),
            F.size("turns").cast("int").alias("n_turns"),
            "turns",
        )
    )


def assemble_documents(
    transcripts: DataFrame, max_turns_per_doc: int = MAX_TURNS_PER_DOC
) -> DataFrame:
    """C1: window-ordered groupBy conv_id -> ordered turns array
    (BASELINE.json:6 "turns assembled into documents via window-ordered
    groupBy on conv_id").

    One shuffle on (conv_id, doc_seq). ``sort_array`` on
    struct(turn_idx, ...) yields turn_idx-ascending order deterministically;
    doc_seq splits over-long conversations (skew cap).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    with_seq = transcripts.withColumn(
        "doc_seq",
        ((F.row_number().over(w) - F.lit(1)) / F.lit(max_turns_per_doc)).cast("int"),
    )
    return (
        with_seq.groupBy("conv_id", "doc_seq")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("turn_idx", "role", "text", "tool", "ts"))
            ).alias("turns")
        )
        .withColumn("n_turns", F.size("turns").cast("int"))
        .select("conv_id", "doc_seq", "n_turns", "turns")
    )


def explode_documents(documents: DataFrame) -> DataFrame:
    """Inverse of assemble_documents (used by the equality-invariant test:
    explode(documents.turns) ⋈ raw transcripts on (conv_id, turn_idx) must
    show zero text mismatches — SURVEY.md §3.4)."""
    return documents.select(
        "conv_id", F.explode("turns").alias("t")
    ).select(
        "conv_id",
        F.col("t.turn_idx").alias("turn_idx"),
        F.col("t.role").alias("role"),
        F.col("t.text").alias("text"),
        F.col("t.tool").alias("tool"),
        F.col("t.ts").alias("ts"),
    )


def epoch_seconds(col: F.Column) -> F.Column:
    """THE engine-wide timestamp->epoch rule (one semantics for sessionize,
    the c3 demo, and any future gap logic): parquet timestamps read as
    TIMESTAMP_NTZ; epoch seconds go through the LTZ detour so the value is
    defined under the session timezone (UTC in all jobs/tests), matching
    DuckDB's epoch(). A direct NTZ->long cast happens to agree under UTC but
    silently diverges under any other session tz — so it is banned."""
    return col.cast("timestamp_ltz").cast("long")


def sessionize(
    transcripts: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """C3: split conversations at idle gaps > gap_minutes into sessions.

    lag(ts) over (conv_id ORDER BY turn_idx, ts) flags gap starts; a running
    sum of flags numbers sessions. Single window shuffle, no UDF.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    gap_s = gap_minutes * 60
    secs = epoch_seconds(F.col("ts"))
    flagged = transcripts.withColumn(
        "_new_session",
        F.when(secs - F.lag(secs).over(w) > F.lit(gap_s), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    running = Window.partitionBy("conv_id").orderBy("turn_idx", "ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return flagged.withColumn(
        "session_id",
        F.concat_ws("#", F.col("conv_id"), F.sum("_new_session").over(running)),
    ).drop("_new_session")
