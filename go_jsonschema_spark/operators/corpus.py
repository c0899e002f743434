"""Corpus-level text statistics: n-gram LM perplexity scoring and
TF-IDF keyword extraction.

These complete the classic web-curation stack (reference has no text
pipeline at all — this is north-star territory like dedup.py):
CCNet (Wenzek et al. 2020) filters CommonCrawl by the perplexity of a
KenLM n-gram model; the Spark-first re-expression trains the same kind
of count-based model AS a DataFrame (two map-side-combined
aggregations) and scores the corpus with ONE join against it — no
Python in any row path, no driver-side model object.

Scale notes (the 100 TB shape):
- The LM is Zipf-bounded: distinct bigrams grow ~O(corpus^0.7), so the
  model table is orders of magnitude smaller than the corpus.  The
  scoring join keys on (w1, w2); AQE broadcasts the model when it fits
  and shuffle-joins otherwise.  Hot function words are NOT skew keys on
  the corpus side because the corpus is pre-aggregated to per-doc
  distinct grams (``dc`` carries the multiplicity), which also
  map-side-combines boilerplate.
- All tokenization is ``functions.text.words`` (lowercase, ``\\s+``)
  filtered of empties, the same contract every dedup/Gopher oracle
  replays — one tokenizer across the whole engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from go_jsonschema_spark.functions.text import words

__all__ = ["bigram_lm", "lm_perplexity", "tfidf_keywords", "bm25_rank",
           "rrf_fuse", "pmi_collocations", "vocab_overlap"]


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, ws) with empty tokens removed; null texts keep ws = []."""
    w = F.filter(words(F.col(text_col)), lambda x: F.length(x) > 0)
    return df.select(
        F.col(id_col).alias("__id__"),
        F.when(F.col(text_col).isNull(), F.array().cast("array<string>"))
        .otherwise(w).alias("ws"),
    )


def _doc_bigrams(tok: DataFrame) -> DataFrame:
    """(id, w1, w2, dc): per-doc bigram multiplicities.

    The zip-with-shifted form (word_shingles rationale: HOF ``slice``
    allocation is the slow path); the trailing (last-word, null) pair is
    filtered before the explode.  Docs with < 2 words vanish here and
    are restored by the caller's left join.
    """
    shifted = F.slice(F.col("ws"), 2,
                      F.greatest(F.size("ws"), F.lit(1)))
    pairs = F.filter(
        F.zip_with(F.col("ws"), shifted,
                   lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))),
        lambda p: p["w2"].isNotNull(),
    )
    return (
        tok.select("__id__", F.explode(pairs).alias("p"))
        .select("__id__", "p.w1", "p.w2")
        .groupBy("__id__", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("dc"))
    )


def bigram_lm(
    train_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, int]:
    """Count-based bigram model over ``train_df``: returns
    ``(lm, vocab_size)`` where ``lm`` has columns
    ``(w1, w2, c2, c1)`` — c2 = corpus count of the bigram, c1 = corpus
    count of w1 as a bigram PREFIX (= sum of c2 over w2, the correct
    conditional-probability denominator) — and ``vocab_size`` is the
    corpus-wide distinct-word count (the add-k smoothing support).

    vocab_size is the one scalar collected to the driver (a single-row
    aggregate, same contract as ann.kmeans_centroids).
    """
    tok = _tokens(train_df, text_col, id_col)
    c2 = (
        _doc_bigrams(tok)
        .groupBy("w1", "w2")
        .agg(F.sum("dc").alias("c2"))
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    lm = c2.join(c1, "w1")
    vocab = (
        tok.select(F.explode("ws").alias("u"))
        .agg(F.countDistinct("u").alias("v"))
        .collect()[0]["v"]
    )
    return lm, int(vocab)


def lm_perplexity(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Score every document by the perplexity of an add-k-smoothed
    bigram LM (CCNet's filter signal, re-expressed relationally):

        P(w2 | w1) = (c2(w1,w2) + k) / (c1(w1) + k·V)
        avg_logprob = sum(dc · ln P) / sum(dc)   over the doc's bigrams
        ppl = exp(-avg_logprob)

    The LM trains on ``df`` itself (self-perplexity — low means the doc
    looks like the corpus, high means outlier/garbage; CCNet trains on a
    clean reference corpus instead).

    Output: ``(id_col, n_bigrams, avg_logprob, ppl)`` — one row per
    input document; docs with < 2 tokens get n_bigrams = 0 and NULL
    scores.  Raw (unrounded) doubles; round at the query edge.
    """
    if k <= 0:
        raise ValueError(f"lm_perplexity: smoothing k must be > 0, got {k}")
    lm, vocab = bigram_lm(df, text_col=text_col, id_col=id_col)
    tok = _tokens(df, text_col, id_col)
    grams = _doc_bigrams(tok)
    p = (
        F.coalesce(F.col("c2"), F.lit(0)) + F.lit(float(k))
    ) / (
        F.coalesce(F.col("c1"), F.lit(0)) + F.lit(float(k) * vocab)
    )
    # c2 and c1 join SEPARATELY, each a left join: a bigram missing from
    # the model as a pair keeps its prefix's c1(w1) denominator.  c1 is
    # functionally dependent on w1, so the distinct prefix table is exact.
    c2p = lm.select("w1", "w2", "c2")
    c1p = lm.select("w1", "c1").distinct()
    scored = (
        grams.join(c2p, ["w1", "w2"], "left")
        .join(c1p, ["w1"], "left")
        .withColumn("lp", F.log(p))
        .groupBy("__id__")
        .agg(
            F.sum("dc").alias("n_bigrams"),
            (F.sum(F.col("dc") * F.col("lp")) / F.sum("dc"))
            .alias("avg_logprob"),
        )
    )
    return (
        tok.select("__id__")
        .join(scored, "__id__", "left")
        .select(
            F.col("__id__").alias(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long")
            .alias("n_bigrams"),
            F.col("avg_logprob"),
            F.exp(-F.col("avg_logprob")).alias("ppl"),
        )
    )


def tfidf_keywords(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
) -> DataFrame:
    """Top-``top_k`` characteristic terms per document by TF-IDF:

        tfidf(w, d) = count(w in d) · (ln((N + 1) / (df(w) + 1)) + 1)

    (the smoothed-idf variant, always positive so pure term frequency
    still ranks when a word is in every doc).  Rank is deterministic:
    (round(tfidf, 6) DESC, word ASC) — ranking on the ROUNDED score
    makes the order reproducible bit-for-bit in any engine, immune to
    last-ulp float divergence.

    Shape: one shuffle for per-doc term counts (map-side combined), one
    vocab-sized aggregate for document frequencies (broadcast back by
    AQE), one per-doc window for the top-k.  N is the single collected
    scalar.  Output: ``(id_col, word, tf, tfidf, rank)``.
    """
    from pyspark.sql.window import Window

    tok = _tokens(df, text_col, id_col)
    n_docs = tok.count()
    tf = (
        tok.select("__id__", F.explode("ws").alias("word"))
        .groupBy("__id__", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(
        F.count(F.lit(1)).alias("df_docs"))
    scored = tf.join(dfreq, "word").withColumn(
        "tfidf",
        F.round(
            F.col("tf")
            * (F.log(F.lit(float(n_docs + 1)) / (F.col("df_docs") + 1))
               + F.lit(1.0)),
            6,
        ),
    )
    w = Window.partitionBy("__id__").orderBy(
        F.col("tfidf").desc(), F.col("word").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("__id__").alias(id_col), "word",
            F.col("tf").cast("long").alias("tf"),
            "tfidf", F.col("rank").cast("long").alias("rank"),
        )
    )


def bm25_rank(
    df: DataFrame,
    query_terms: list[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Top-``top_k`` documents for a keyword query by Okapi BM25
    (Robertson-Sparck Jones; the Lucene-default scoring function):

        score(d) = sum_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))
        idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))

    Probabilistic keyword retrieval over the corpus — the lookup side
    of the TF-IDF coin (tfidf_keywords describes documents; bm25_rank
    finds them).

    Shape: the query-term filter is a literal IN over ≤ |q| strings, so
    the explode's output collapses to matching terms only BEFORE any
    shuffle; ``dl`` rides the explode (no doc-keyed join); term df/idf
    is a ≤ |q|-row aggregate joined back broadcast; N and avgdl are two
    collected scalars (bounded).  One doc-keyed aggregation sums the
    per-term contributions; ranking sorts the scored-docs table, which
    is at most the number of docs containing a query term.  Ties are
    deterministic: (round(score, 6) DESC, id ASC).

    Output: ``(id_col, n_terms, score, rank)`` — ``n_terms`` = distinct
    query terms present in the doc.
    """
    if not query_terms:
        raise ValueError("bm25_rank: query_terms must be non-empty")
    if top_k < 1:
        raise ValueError("bm25_rank: top_k must be >= 1")
    terms = sorted({t.lower() for t in query_terms})
    tok = _tokens(df, text_col, id_col)
    scalars = tok.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size("ws")).alias("avgdl"),
    ).collect()[0]
    n_docs, avgdl = scalars["n"], scalars["avgdl"]
    if not n_docs:
        raise ValueError("bm25_rank: empty corpus")

    hits = tok.select(
        "__id__",
        F.size("ws").alias("dl"),
        F.explode("ws").alias("word"),
    ).where(F.col("word").isin(terms))
    tf = hits.groupBy("__id__", "word").agg(
        F.count(F.lit(1)).alias("tf"),
        F.first("dl").alias("dl"),
    )
    idf = tf.groupBy("word").agg(
        F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.count(F.lit(1)) + 0.5)
            / (F.count(F.lit(1)) + 0.5)
        ).alias("idf")
    )
    contrib = tf.join(F.broadcast(idf), "word").withColumn(
        "__s__",
        F.col("idf") * F.col("tf") * (k1 + 1)
        / (F.col("tf")
           + k1 * (1 - b + b * F.col("dl") / F.lit(float(avgdl)))),
    )
    from pyspark.sql.window import Window

    scored = (
        contrib.groupBy("__id__")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum("__s__"), 6).alias("score"),
        )
    )
    # distributed top-k first (TakeOrderedAndProject — per-partition
    # heaps, no global window over the full scored table), THEN rank
    # the <= top_k survivors with a trivially-small window
    top = scored.orderBy(
        F.col("score").desc(), F.col("__id__").asc()).limit(top_k)
    w = Window.partitionBy().orderBy(
        F.col("score").desc(), F.col("__id__").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            F.col("__id__").alias(id_col),
            F.col("n_terms").cast("long").alias("n_terms"),
            "score", F.col("rank").cast("long").alias("rank"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_cols: list[str],
    *,
    k: int = 60,
    rank_col: str = "rank",
    top_k: int,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked lists —
    ``score(d) = Σ_lists 1/(k+rank_d)`` (Cormack et al.'s parameter-free
    hybrid-retrieval combiner; k=60 is the canonical damping).  The
    standard way to merge a lexical (BM25) and a dense (ANN) ranking
    without score calibration, and just as useful for fusing any
    "important rows" heuristics.

    Each input carries ``id_cols`` + an integer ``rank_col`` (1-based,
    from its own bounded top-N).  Shape: a union of the (already
    bounded) lists, ONE id-keyed aggregation, then a global sort of the
    fused candidates — bounded by Σ list sizes by construction, so the
    final ordering window is small no matter the corpus size.  Ties
    break on the id columns for engine-independent output.

    Output: ``(*id_cols, n_lists, rrf_score, fused_rank)`` for the
    ``top_k`` best fused ranks, score rounded to 6.
    """
    from functools import reduce

    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rrf_fuse: no rankings given")
    if k <= 0:
        raise ValueError(f"rrf_fuse: k must be > 0, got {k}")
    if top_k < 1:
        raise ValueError(f"rrf_fuse: top_k must be >= 1, got {top_k}")
    parts = [
        r.select(*id_cols,
                 (1.0 / (k + F.col(rank_col).cast("double"))).alias("__w__"))
        for r in rankings
    ]
    u = reduce(lambda a, b: a.unionByName(b), parts)
    fused = u.groupBy(*id_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.round(F.sum("__w__"), 6).alias("rrf_score"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(),
                       *[F.col(c) for c in id_cols])
    out = fused.withColumn(
        "fused_rank", F.row_number().over(w).cast("long"))
    return out.where(F.col("fused_rank") <= top_k)


def pmi_collocations(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Corpus-level collocation mining: the ``top_k`` bigrams by
    pointwise mutual information,

        PMI(w1,w2) = ln P(w1,w2) − ln P(w1) − ln P(w2)
                   = ln c12 + 2·ln T − ln B − ln c1 − ln c2

    with c12 = corpus bigram count, c1/c2 = corpus unigram counts,
    B/T = total bigram/unigram mass (Church & Hanks 1990).  The classic
    phrase detector (word2vec's phrase pass is a thresholded variant);
    in a curation pipeline it surfaces templated boilerplate phrases.

    Shape (100 TB): bigram counts arrive pre-aggregated per doc
    (``_doc_bigrams`` dc), so the corpus-wide groupBy map-side-combines
    boilerplate; the unigram table is Zipf-bounded and joins onto the
    bigram table by w1 then w2 (AQE broadcasts it when it fits); the
    two totals ride a one-row broadcast crossJoin; the final top-k is
    TakeOrderedAndProject — no global sort materializes.

    ``min_count`` guards the low-count PMI pathology (hapax pairs get
    the highest scores).  PMI is evaluated as the five-term log sum
    above — every term is ln of an exact integer, so any engine
    replays it to within an ulp; ranked and emitted at round-4 (the
    proven cross-engine precision for log sums, same as
    lm_perplexity).

    Output: ``(w1, w2, c12, pmi)``, ordered by (pmi desc, w1, w2),
    at most ``top_k`` rows.
    """
    if min_count < 1:
        raise ValueError(
            f"pmi_collocations: min_count must be >= 1, got {min_count}")
    tok = _tokens(df, text_col, id_col)
    big = (
        _doc_bigrams(tok)
        .groupBy("w1", "w2")
        .agg(F.sum("dc").alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    uni = (
        tok.select(F.explode("ws").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    )
    totals = uni.agg(F.sum("c").alias("__T__"))
    # bigram mass is computed from the (pre-min_count) bigram table so
    # the two denominators stay self-consistent
    bmass = _doc_bigrams(tok).agg(F.sum("dc").alias("__B__"))
    j = (
        big
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")),
              "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")),
              "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(bmass))
    )
    pmi = (
        F.log(F.col("c12").cast("double"))
        + F.lit(2.0) * F.log(F.col("__T__").cast("double"))
        - F.log(F.col("__B__").cast("double"))
        - F.log(F.col("c1").cast("double"))
        - F.log(F.col("c2").cast("double"))
    )
    return (
        j.select("w1", "w2", F.col("c12").cast("long").alias("c12"),
                 F.round(pmi, 4).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_k)
    )


def vocab_overlap(
    df: DataFrame,
    *,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus slices: for every
    unordered pair of ``group_col`` values, the overlap of their
    DISTINCT token vocabularies —

        jaccard = |V_a ∩ V_b| / (|V_a| + |V_b| − |V_a ∩ V_b|)

    The standard mixture-design diagnostic (are two sources near-clones
    or genuinely complementary?) and a cheap proxy for domain distance.

    Shape (100 TB): ONE distinct aggregation to (group, word) — vocab
    is Zipf-bounded, orders of magnitude below corpus mass; the
    intersection is a word-keyed self-join whose per-word fan-out is
    capped by the number of groups (≤ G per side, G ~ tens), so no
    skew-salting is needed; per-group sizes are a tiny table broadcast
    into an all-pairs skeleton, so pairs with EMPTY intersections still
    emit (left join + zero-fill).  NULL group rows are excluded (they
    are a data-quality concern for the verdict path, not a slice).

    Output: ``(g1, g2, v1, v2, n_common, jaccard)`` with g1 < g2,
    jaccard rounded to 6.
    """
    tok = (
        df.filter(F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("g"),
                F.explode(F.filter(words(F.col(text_col)),
                                   lambda x: F.length(x) > 0)).alias("w"))
        .distinct()
    )
    sizes = tok.groupBy("g").agg(F.count(F.lit(1)).alias("v"))
    inter = (
        tok.alias("a")
        .join(tok.alias("b"),
              (F.col("a.w") == F.col("b.w"))
              & (F.col("a.g") < F.col("b.g")))
        .groupBy(F.col("a.g").alias("g1"), F.col("b.g").alias("g2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    skel = (
        sizes.select(F.col("g").alias("g1"), F.col("v").alias("v1"))
        .crossJoin(F.broadcast(
            sizes.select(F.col("g").alias("g2"), F.col("v").alias("v2"))))
        .filter(F.col("g1") < F.col("g2"))
    )
    out = (
        skel.join(inter, ["g1", "g2"], "left")
        .withColumn("n_common",
                    F.coalesce(F.col("n_common"), F.lit(0)).cast("long"))
    )
    return out.select(
        "g1", "g2",
        F.col("v1").cast("long").alias("v1"),
        F.col("v2").cast("long").alias("v2"),
        "n_common",
        F.round(
            F.col("n_common").cast("double")
            / (F.col("v1") + F.col("v2") - F.col("n_common")).cast("double"),
            6).alias("jaccard"),
    )
