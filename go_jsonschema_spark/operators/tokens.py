"""Token-array operators over pre-tokenized sequences — the
BASELINE.json input shape ``(doc_id, tokens: array<int32>, n_tok,
source)``.

The engine's flagship validates token arrays structurally (bounds,
shape, uniqueness); these ops answer the next question a training
pipeline asks: are the token IDS themselves legal against the
tokenizer's vocabulary, and how much of the stream is out-of-vocab?
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

__all__ = ["oov_rate", "sequence_audit",
           "token_frequency", "token_ngram_contamination",
           "token_minhash_pairs", "token_ngram_heavy_hitters"]


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    *,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    vocab_col: str = "token_id",
    max_vocab: int = 5_000_000,
) -> DataFrame:
    """Per-document out-of-vocabulary audit:
    ``(doc_id, n_tok, n_oov, oov_rate)`` — exact membership of every
    token against the vocabulary table, with ZERO explode: the vocab
    (bounded by tokenizer size, ≤ a few hundred thousand ids) collects
    once on the driver and ships to executors inside the Arrow-batched
    UDF closure; each batch answers membership with one vectorized
    ``np.isin`` over the concatenated token buffer.  The explode
    alternative shuffles ``Σ n_tok`` rows (the decoded token stream —
    terabytes at 10^12 sequences) just to count misses; this op
    shuffles NOTHING and scans once.

    NULL token elements count as OOV (no vocabulary contains NULL);
    NULL/empty arrays yield ``n_tok = 0`` and a NULL ``oov_rate``
    (0/0 — nothing to judge).  ``oov_rate`` is rounded to 6.

    ``max_vocab`` bounds the driver collect (the sibling
    ``max_probe_windows`` / ``max_queries`` discipline): a caller who
    points ``vocab`` at a token STREAM instead of a tokenizer-sized id
    table gets a crisp error naming the knob, not a driver OOM.
    """
    from pyspark.sql.functions import pandas_udf

    # Arrow-backed toPandas: the bounded collect of up to max_vocab ids
    # lands as one Arrow batch instead of pickled Rows (the Row path
    # spent ~0.1 s deserializing a 32k vocab and scales linearly with
    # vocab size — r7); same distinct values either way.  NULLs drop in
    # Spark so the column stays int64 (a NULL would make it float64 and
    # round ids above 2^53)
    vc = F.col(vocab_col)
    ids = vocab.select(vc).where(vc.isNotNull()).distinct().limit(
        max_vocab + 1).toPandas()[vocab_col]
    if len(ids) > max_vocab:
        raise ValueError(
            f"oov_rate: vocab has > {max_vocab} distinct {vocab_col!r} "
            "values — that is a token stream, not a tokenizer "
            "vocabulary; pre-reduce it or raise max_vocab")
    vocab_arr = np.sort(ids.to_numpy(dtype=np.int64))

    @pandas_udf("long")
    def oov_count(tokens: pd.Series) -> pd.Series:
        out = np.zeros(len(tokens), dtype=np.int64)
        arrs = tokens.to_numpy()
        lens = np.fromiter(
            (0 if a is None else len(a) for a in arrs),
            dtype=np.int64, count=len(arrs))
        if lens.sum() == 0:
            return pd.Series(out)
        # one concatenated int64 buffer → one exact np.isin per Arrow
        # batch (the arrays hold no NULLs, so Arrow never widens to float)
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in arrs if a is not None
             and len(a)])
        miss = ~np.isin(flat, vocab_arr)
        idx = np.repeat(np.arange(len(arrs)), lens)
        np.add.at(out, idx, miss.astype(np.int64))
        return pd.Series(out)

    n_tok = F.coalesce(F.size(F.col(tokens_col)), F.lit(0))
    # size() is -1 for NULL arrays pre-coalesce on some paths — clamp
    n_tok = F.when(n_tok < 0, F.lit(0)).otherwise(n_tok)
    # NULL elements are OOV: counted natively, never shipped to Python
    non_null = F.filter(F.col(tokens_col), lambda t: t.isNotNull())
    return df.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tok"),
        F.when(n_tok > 0, oov_count(non_null) + n_tok - F.size(non_null))
        .otherwise(F.lit(0)).cast("long").alias("n_oov"),
    ).select(
        id_col, "n_tok", "n_oov",
        F.round(
            F.when(F.col("n_tok") > 0,
                   F.col("n_oov") / F.col("n_tok")),
            6,
        ).alias("oov_rate"),
    )


def sequence_audit(
    df: DataFrame,
    *,
    tokens_col: str = "tokens",
    bos_id: int,
    eos_id: int,
) -> DataFrame:
    """Per-sequence sanity audit — the degenerate-generation /
    corrupt-tokenization signals a training pipeline gates on BEFORE
    sequences reach a loss: appends to every input row

    - ``n_tok``         — ``size(tokens)`` (0 for empty/NULL arrays)
    - ``max_run``       — longest run of one repeated token (the
      pathological ``the the the ...`` / padding-leak shape); 0 for
      empty arrays
    - ``n_distinct``    — distinct token count
    - ``distinct_ratio``— ``n_distinct / n_tok`` rounded to 6 (NULL for
      empty arrays): near-zero means a looping generator
    - ``bos_ok``/``eos_ok`` — first/last token equals the declared
      special id; False for empty arrays (a sequence with no BOS is
      malformed, not vacuously fine)

    Everything is ONE narrow projection in whole-stage codegen: the run
    scan is a single ``F.aggregate`` fold over the array (state =
    (prev, run, best)), ``n_distinct`` is ``array_distinct`` — no
    explode, no shuffle, no Python.  At 10^12 sequences this audit
    rides the same scan as the validation pass it usually joins.
    """
    toks = F.col(tokens_col)
    n_tok = F.coalesce(F.size(toks), F.lit(0))
    n_tok = F.when(n_tok < 0, F.lit(0)).otherwise(n_tok)

    # gaps-and-islands as a fold: eqNullSafe so a (pathological) run of
    # NULL tokens still counts as a run; prev starts NULL and never
    # null-safe-equals a real first token
    run_state = F.aggregate(
        F.coalesce(toks, F.array().cast(df.schema[tokens_col].dataType)),
        F.struct(
            F.lit(None).cast("long").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, t: F.struct(
            t.cast("long").alias("prev"),
            F.when(t.cast("long").eqNullSafe(acc.getField("prev")),
                   acc.getField("run") + 1)
            .otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc.getField("best"),
                F.when(t.cast("long").eqNullSafe(acc.getField("prev")),
                       acc.getField("run") + 1)
                .otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc.getField("best"),
    )
    n_distinct = F.when(
        n_tok > 0, F.size(F.array_distinct(toks)).cast("long")
    ).otherwise(F.lit(0).cast("long"))

    return df.select(
        "*",
        n_tok.cast("long").alias("n_tok_audit"),
        run_state.alias("max_run"),
        n_distinct.alias("n_distinct"),
        F.round(
            F.when(n_tok > 0, n_distinct / n_tok), 6
        ).alias("distinct_ratio"),
    ).withColumn(
        "bos_ok",
        F.coalesce(F.try_element_at(toks, F.lit(1)) == F.lit(int(bos_id)),
                   F.lit(False)),
    ).withColumn(
        "eos_ok",
        F.coalesce(F.try_element_at(toks, F.lit(-1)) == F.lit(int(eos_id)),
                   F.lit(False)),
    )


def _token_windows(tokens_col, n: int):
    """All n-token windows of an array as one `transform` over a
    position `sequence` of ``array_join(slice, '-')`` — the exact string
    form an external SQL engine can replay.  Arrays shorter than ``n``
    yield an empty window list (``sequence(1, k)`` with k < 1 would
    RAISE, so the short case is gated to an empty array)."""
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    last = F.size(toks) - F.lit(n - 1)
    return F.when(
        last >= 1,
        F.transform(F.sequence(F.lit(1), last),
                    lambda i: F.array_join(F.slice(toks, i, n), "-")),
    ).otherwise(F.array().cast("array<string>"))


def token_ngram_contamination(
    df: DataFrame,
    probes: DataFrame,
    *,
    n: int = 13,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    max_probe_windows: int = 200_000,
) -> DataFrame:
    """Token-ID-level benchmark decontamination (the Dolma/paloma-style
    13-gram rule, applied BEFORE detokenization): flag corpus sequences
    sharing any ``n``-token window with an evaluation/benchmark set.
    ``probes`` carries its tokens in the same ``tokens_col``.

    Returns ``(doc_id, n_windows, n_hits, contaminated)`` where
    ``n_hits`` counts DISTINCT probe windows found in the document.

    Scale shape mirrors decontam.py's text path (same reasoning): the
    probe side is small by nature, so its distinct windows collect once
    on the driver (bounded — raises past ``max_probe_windows``) and
    ship as ONE literal array; the corpus side never shuffles and never
    explodes — each row builds its window list with a `transform` over
    a position `sequence` and intersects against the literal
    (`array_intersect` hashes the literal once per batch).  Windows are
    exact '-'-joined id strings, so an external engine (the DuckDB
    oracle) can recompute the identical intersection.
    """
    probe_windows = (
        probes.select(
            F.explode(_token_windows(tokens_col, n)).alias("w"))
        .distinct().limit(max_probe_windows + 1).collect()
    )
    if len(probe_windows) > max_probe_windows:
        raise ValueError(
            f"probe set yields >{max_probe_windows} token {n}-gram "
            "windows; raise max_probe_windows or pre-reduce the probes")
    plist = sorted(r["w"] for r in probe_windows)
    # bind the window list to its OWN projected column before the two
    # consumers (size + array_intersect) reference it: expressions are
    # re-evaluated per reference, so the inline form built every row's
    # window strings twice (the duplicate_spans free-subexpression
    # lesson; ~2× the corpus-side work)
    bound = df.select(
        F.col(id_col),
        _token_windows(tokens_col, n).alias("__w__"),
    )
    # one PARSED array literal: pyspark's F.lit(list) expands per
    # element (~1.2 s of driver build for a 2,400-window probe at 13
    # tokens, measured r7); the parsed form is the identical literal
    from go_jsonschema_spark.functions.literals import lit_strings

    hits = (
        F.size(F.array_intersect(F.col("__w__"), lit_strings(plist)))
        if plist else F.lit(0)
    )
    return bound.select(
        F.col(id_col),
        F.size("__w__").cast("long").alias("n_windows"),
        hits.cast("long").alias("n_hits"),
    ).withColumn("contaminated", F.col("n_hits") > 0)



def token_frequency(
    df: DataFrame,
    *,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Corpus token-frequency spectrum ``(token, cnt, rank)`` — rank 1 =
    most frequent, ties broken by token id (fully deterministic).

    The ONLY scale-honest plan is explode + hash aggregate: the
    generate feeds a partial (map-side) aggregation, so each task's
    shuffle write is bounded by the VOCABULARY (≤ a few hundred
    thousand rows), not by its token count; the final exchange then
    moves `tasks × vocab` partial rows, independent of corpus size.
    Per-row map-merging alternatives (`aggregate` into map columns)
    centralize the same combine work in slower expression code without
    removing the exchange.  The single-partition rank window runs over
    vocab-bounded data — negligible by construction.

    NULL token elements are dropped (they are OOV, not a frequency
    class; `oov_rate` counts them)."""
    freq = (
        df.select(F.explode(tokens_col).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return freq.select(
        "token", "cnt", F.row_number().over(w).cast("long").alias("rank"))


def token_ngram_heavy_hitters(
    df: DataFrame,
    *,
    n: int = 2,
    k: int = 20,
    capacity: int = 4096,
    tokens_col: str = "tokens",
) -> DataFrame:
    """EXACT top-``k`` token n-grams (n ≤ 3) with an exactness
    certificate, without ever shuffling or hash-aggregating the n-gram
    stream.

    The problem at 10^12 sequences: distinct n-grams grow ~|V|^n, so
    the naive explode → groupBy builds hash tables (and a shuffle) the
    size of the N-GRAM VOCABULARY.  This operator bounds all state by
    ``capacity``:

    1. **Candidates** (one scan, bounded state, zero shuffle of the
       stream): each partition runs a batched Misra-Gries summary of
       size ``capacity`` over its n-grams — vectorized numpy (windows
       packed into one int64 with 21-bit fields, ``np.unique`` per
       Arrow batch), never a per-token Python loop.  Union guarantee
       (pigeonhole over partitions): any n-gram with GLOBAL count
       > N/capacity survives in at least one partition's summary.
    2. **Exact recount** (one scan, candidate-bounded state): Spark-
       native window codes explode into a broadcast semi-join against
       the candidate set, so the aggregation hash table holds at most
       ``capacity × partitions`` entries regardless of n-gram
       diversity; counts for candidates are EXACT.
    3. **Certificate**: with N = total windows, every non-candidate has
       count ≤ N/capacity; ``exact`` is true iff the k-th candidate
       count strictly beats that bound — then the top-k is provably the
       true top-k.  A false certificate means "raise capacity", never a
       silently wrong answer.

    Output: ``(t1..tn, cnt, rank, exact)`` — token ids as separate int
    columns so deterministic (cnt desc, t1, t2, ...) ordering is
    engine-portable.  Token ids must be in [0, 2^21) (any real
    tokenizer; enforced — packing would silently corrupt otherwise).
    """
    if n not in (1, 2, 3):
        raise ValueError("token_ngram_heavy_hitters supports n in {1,2,3}")
    if k > capacity:
        raise ValueError("k must be <= capacity")
    spark = df.sparkSession

    # ---- phase 1: per-partition batched Misra-Gries over packed codes
    def _mg(it):
        summary: dict[int, int] = {}
        for pdf in it:
            codes_parts = []
            for arr in pdf[tokens_col]:
                if arr is None or len(arr) < n:
                    continue
                a = np.asarray(arr, dtype=np.int64)
                if a.min() < 0 or a.max() >= (1 << 21):
                    raise ValueError("token ids must be in [0, 2^21)")
                L = len(a) - n + 1
                acc = a[0:L].copy()
                for off in range(1, n):
                    acc = (acc << 21) | a[off:off + L]
                codes_parts.append(acc)
            if not codes_parts:
                continue
            codes, cnts = np.unique(
                np.concatenate(codes_parts), return_counts=True)
            for c, ct in zip(codes.tolist(), cnts.tolist()):
                summary[c] = summary.get(c, 0) + ct
            if len(summary) > capacity:
                vals = np.fromiter(summary.values(), dtype=np.int64,
                                   count=len(summary))
                # batched MG decrement: subtract the (len-capacity)-th
                # smallest count from everyone, drop the non-positive —
                # total undercount per survivor ≤ N_partition/capacity
                d = int(np.partition(vals, len(summary) - capacity - 1)
                        [len(summary) - capacity - 1])
                summary = {c: ct - d for c, ct in summary.items()
                           if ct - d > 0}
        yield pd.DataFrame({"code": list(summary.keys())})

    cand = (
        df.select(tokens_col)
        .mapInPandas(_mg, "code long")
        .distinct()
    )

    # ---- phase 2: Spark-native exact recount of the candidate set
    toks = F.col(tokens_col)
    last = F.size(toks) - F.lit(n - 1)

    def _code(i):
        acc = F.element_at(toks, i).cast("long")
        for off in range(1, n):
            acc = F.shiftleft(acc, 21).bitwiseOR(
                F.element_at(toks, i + off).cast("long"))
        return acc

    codes = F.when(
        last >= 1, F.transform(F.sequence(F.lit(1), last), _code)
    ).otherwise(F.array().cast("array<bigint>"))
    # the certificate's window total rides the recount scan as an
    # Observation metric: every exploded row IS one window (null/short
    # arrays explode to zero rows, matching greatest(size-(n-1), 0)), so
    # count(*) observed below the broadcast join equals the separate
    # sum-of-sizes scan this replaces — one fewer full pass over the
    # token arrays (r7; at corpus scale that pass reread every row).
    from pyspark.sql import Observation

    obs = Observation()
    exploded = df.select(F.explode(codes).alias("code")).observe(
        obs, F.count(F.lit(1)).alias("nw"))
    counted = (
        exploded.join(F.broadcast(cand), "code")
        .groupBy("code").agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counted.orderBy(F.desc("cnt"), F.asc("code")).limit(k)

    # ---- phase 3: certificate — N windows vs the k-th candidate count
    # (n_windows arrives with the recount job via the Observation).  Read
    # it only when the certificate needs it: with no candidate at all
    # (empty input, every array shorter than n) AQE prunes the observed
    # scan and the metric is never collected.
    rows = top.collect()
    exact = False
    if len(rows) >= k:
        n_windows = obs.get["nw"] or 0
        exact = bool(rows[-1]["cnt"] * capacity > n_windows)

    # unpack codes into token-id columns; deterministic rank
    out_rows = []
    for r_i, r in enumerate(
            sorted(rows, key=lambda r: (-r["cnt"], r["code"]))):
        code = r["code"]
        ts = [(code >> (21 * (n - 1 - j))) & ((1 << 21) - 1)
              for j in range(n)]
        out_rows.append(tuple(ts) + (r["cnt"], r_i + 1, exact))
    schema = (", ".join(f"t{j + 1} int" for j in range(n))
              + ", cnt long, rank long, exact boolean")
    return spark.createDataFrame(out_rows, schema)

def token_minhash_pairs(
    df: DataFrame,
    *,
    n: int = 5,
    k: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    max_bucket: int | None = 1024,
) -> DataFrame:
    """Near-duplicate pairs over TOKEN sequences ``(a, b, jaccard)`` —
    MinHash-LSH where the shingle set is the document's DISTINCT token
    ``n``-gram windows (the tokens-payload twin of the text pipeline:
    dedup BEFORE detokenization, so byte-identical and
    whitespace-variant re-tokenizations collapse on the ids the model
    actually trains on).

    Thin front-end over the same signature→band→bucket-join→
    exact-Jaccard core as ``dedup.minhash_lsh_pairs`` (one candidate
    shuffle carrying 8-byte ids, shingle arrays never enter it);
    windows are '-'-joined id strings, so the DuckDB oracle replays the
    exact Jaccard verification."""
    from go_jsonschema_spark.operators.dedup import _lsh_pairs_from_shingles

    base = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            _token_windows(tokens_col, n)).alias("sh"),
    ).filter(F.size("sh") > 0)
    return _lsh_pairs_from_shingles(
        base, k=k, bands=bands, threshold=threshold, max_bucket=max_bucket)
