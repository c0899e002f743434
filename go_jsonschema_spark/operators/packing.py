"""Sequence packing: concatenate-and-chunk token accounting for
pretraining pipelines.

GPT-style pretraining packs documents back to back into fixed-size
context windows; a document may straddle a window boundary.  For a
deterministic document order this is pure window arithmetic — each doc's
global start offset is the exclusive cumulative token sum within its
group, and the chunk grid falls out of a division:

    start    = sum(n_tok) OVER (group ORDER BY key  ROWS < current)
    pack_id  = floor(start / budget)
    offset   = start % budget
    n_packs spanned = floor((start + n_tok - 1)/budget) - pack_id + 1

One shuffle (the per-group sort that any deterministic packing needs);
no UDFs, no iteration — and the identical arithmetic runs in any SQL
engine, so the assignment is oracle-checkable and reproducible.
Greedy no-straddle packing (docs never split) is intentionally NOT the
default: its running-remainder recurrence is sequential per group, and
concat-and-chunk is what tokenizer pipelines actually do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

__all__ = ["pack_chunks", "pack_greedy", "chunk_grid",
           "packing_efficiency"]


def pack_chunks(
    df: DataFrame,
    *,
    token_col: str = "n_tok",
    key: str = "doc_id",
    budget: int = 2048,
    group_col: str,
) -> DataFrame:
    """Adds ``pack_id`` / ``pack_offset`` / ``pack_span`` (how many
    windows the doc touches) per the concat-and-chunk grid.  ``group_col``
    scopes packing (e.g. per source or per split): each group is its own
    stream, and the groups sort in parallel."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    w = (
        Window.partitionBy(group_col)
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    budget = int(budget)
    start = F.coalesce(F.sum(token_col).over(w), F.lit(0)).cast("long")
    n = F.col(token_col).cast("long")
    # integer `div`, never floor(double/): double division loses exactness
    # past 2^53 cumulative tokens, silently desyncing pack_id from the
    # (exact long) offset arithmetic — and from the oracle's integer `//`
    return (
        df.withColumn("__start__", start)
        .withColumn(
            "__last__",
            F.when(n > 0, F.col("__start__") + n - 1)
            .otherwise(F.col("__start__")),
        )
        .withColumn("pack_id", F.expr(f"__start__ div {budget}"))
        .withColumn("pack_offset", F.col("__start__") % budget)
        .withColumn(
            "pack_span",
            (F.expr(f"__last__ div {budget}") - F.col("pack_id") + 1)
            .cast("long"),
        )
        .drop("__start__", "__last__")
    )


def pack_greedy(
    df: DataFrame,
    *,
    token_col: str = "n_tok",
    key: str = "doc_id",
    budget: int = 2048,
    group_col: str,
) -> DataFrame:
    """Greedy NO-STRADDLE packing: docs in deterministic ``key`` order
    fill a pack until the next doc doesn't fit, then a new pack opens —
    documents are never split across packs (the SFT/eval-pipeline
    contract, vs :func:`pack_chunks`' concat-and-chunk pretraining grid).

    The running-remainder recurrence is sequential PER GROUP — exactly
    the shape ``applyInPandas`` exists for: one shuffle on ``group_col``,
    then a linear scan per group in Python.  Recurrence (also the DuckDB
    recursive-CTE oracle, __spark_entry__.py ``packed_greedy``)::

        fits        = used + n <= budget
        pack_id'    = pack_id      if fits or used == 0 else pack_id + 1
        pack_offset = used         if fits else 0
        used'       = used + n     if fits else n

    so an oversize doc (``n > budget``) gets a pack of its own.  Groups
    are the unit of parallelism AND of pack numbering."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    budget = int(budget)
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("pack_id", T.LongType()),
           T.StructField("pack_offset", T.LongType())]
    )

    def fill(pdf):
        pdf = pdf.sort_values(key, kind="mergesort").reset_index(drop=True)
        packs, offsets = [], []
        pack = used = 0
        # null token counts pack as 0-length docs instead of crashing
        # the int64 cast (arbitrary input tables; the driver-contract
        # query feeds a never-null token_count)
        for n in pdf[token_col].fillna(0).astype("int64"):
            n = int(n)
            if used + n <= budget:
                offsets.append(used)
                used += n
            elif used == 0:
                offsets.append(0)
                used = n
            else:
                pack += 1
                offsets.append(0)
                used = n
            packs.append(pack)
        pdf["pack_id"] = packs
        pdf["pack_offset"] = offsets
        return pdf

    return df.groupBy(group_col).applyInPandas(fill, schema)


def chunk_grid(
    df: DataFrame,
    *,
    token_col: str = "n_tok",
    key: str = "doc_id",
    size: int = 512,
    stride: int,
) -> DataFrame:
    """Overlapping token-window chunk grid per document — the
    context-window splitter for RAG indexing / long-doc training.  For a
    doc of ``n`` tokens, windows start at ``0, stride, 2·stride, …`` and
    STOP at the first window whose end (``start + size``) reaches ``n`` —
    coverage semantics: every token lands in ≥1 window and no window
    starts after the doc is already covered (n=112, size=64, stride=48
    → 2 chunks, starts 0 and 48; NOT a third at 96).  Each window spans
    ``[start, min(start+size, n))``.  Pure per-row arithmetic + one
    ``explode`` (narrow, no shuffle); the chunk COUNT per doc is
    ``ceil(max(n - size, 0) / stride) + 1`` for n > 0.  Empty docs yield
    no chunks.

    Returns the input row per chunk with ``chunk_id`` / ``chunk_start`` /
    ``chunk_end`` (token offsets; the caller slices its token array or
    text with them)."""
    if size <= 0:
        raise ValueError("size must be positive")
    if stride <= 0:
        raise ValueError("stride must be positive")
    stride = int(stride)
    n = F.col(token_col).cast("long")
    n_chunks = F.expr(
        f"CASE WHEN {token_col} > {size} "
        f"THEN (CAST({token_col} AS BIGINT) - {size} + {stride} - 1) "
        f"div {stride} + 1 ELSE 1 END"
    )
    # filter BEFORE the explode: sequence(0, -1) would generate a
    # DESCENDING [0, -1] for empty docs, not an empty list
    return (
        df.filter(n > 0)
        .withColumn(
            "chunk_id",
            F.explode(F.sequence(
                F.lit(0).cast("long"), n_chunks.cast("long") - 1)),
        )
        .withColumn("chunk_start", F.col("chunk_id") * stride)
        .withColumn("chunk_end", F.least(F.col("chunk_start") + size, n))
    )

def packing_efficiency(
    df: DataFrame,
    lengths: list[int],
    *,
    n_tok_col: str = "n_tok",
) -> DataFrame:
    """Context-length sweep: for each candidate ``L`` report how much of
    the padded token grid each packing POLICY wastes — the number a
    training team actually uses to pick a context length:

    - ``pad_per_doc``: every document padded to a multiple of L
      (no cross-doc packing; chunked docs pad only their last chunk)
    - ``concat_chunk``: the whole corpus concatenated then chunked
      (pack_chunks policy — waste is only the final partial block)

    One aggregation pass over ONE integer column computes every L
    (each L adds two sums to the same map-side-combined agg — the scan
    is shared, nothing rescans per L).  Output per L: total real
    tokens, padded slot counts and utilization (round 6, a single
    division of exact integer sums).  NULL/negative ``n_tok`` rows are
    ignored (shape violations are the validator's finding, not a
    packing input)."""
    if not lengths or any(
            not isinstance(x, int) or x <= 0 for x in lengths):
        raise ValueError("lengths must be positive ints")
    n = F.col(n_tok_col)
    ok = n.isNotNull() & (n > 0)
    aggs = [F.sum(F.when(ok, n).otherwise(F.lit(0))).alias("__tok__")]
    for i, L in enumerate(sorted(set(lengths))):
        # pad_per_doc slots: ceil(n/L)*L per doc
        slots = (F.floor((n + F.lit(L - 1)) / F.lit(L)) * F.lit(L))
        aggs.append(F.sum(F.when(ok, slots).otherwise(F.lit(0)))
                    .alias(f"__s{i}__"))
    one = df.agg(*aggs)
    Ls = sorted(set(lengths))
    entries = [
        F.struct(
            F.lit(L).cast("int").alias("context_len"),
            F.col("__tok__").cast("long").alias("total_tokens"),
            F.col(f"__s{i}__").cast("long").alias("pad_per_doc_slots"),
            # concat_chunk: one global grid — ceil(total/L)*L
            (F.floor((F.col("__tok__") + F.lit(L - 1)) / F.lit(L))
             * F.lit(L)).cast("long").alias("concat_chunk_slots"),
        )
        for i, L in enumerate(Ls)
    ]
    rows = one.select(F.explode(F.array(*entries)).alias("e")).select("e.*")
    return rows.select(
        "context_len", "total_tokens",
        "pad_per_doc_slots",
        F.round(F.col("total_tokens") / F.col("pad_per_doc_slots"), 6)
        .alias("pad_per_doc_util"),
        "concat_chunk_slots",
        F.round(F.col("total_tokens") / F.col("concat_chunk_slots"), 6)
        .alias("concat_chunk_util"),
    ).orderBy("context_len")
