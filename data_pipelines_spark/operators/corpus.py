"""Corpus-level operators for training-data curation: vocabulary
statistics, deterministic stratified sampling (data mixing), and
benchmark decontamination.

All three are shuffle-minimal by construction:

- vocabulary counts shuffle only (token, partial_count) pairs — the
  classic map-side-combine wordcount, fine at any scale;
- sampling is a pure narrow filter (hash predicate), no shuffle at all,
  reproducible across runs and engines;
- decontamination broadcasts the benchmark n-gram set (benchmarks are
  dimension-sized: thousands of questions, not terabytes) and
  semi-joins the exploded document n-grams against it.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipelines_spark.functions.text import tokens


def vocabulary_stats(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int | None = None,
    with_idf: bool = False,
) -> DataFrame:
    """Corpus token-frequency table: (token, token_cnt, doc_cnt[, idf],
    rank).

    Explode → groupBy(token) with map-side partial aggregation; rank by
    descending frequency with a deterministic tie-break. ``top_k``
    bounds the output via TakeOrdered (no global sort materialization).
    The Zipf head this produces drives tokenizer-vocabulary and
    stopword decisions in a corpus pipeline.

    ``with_idf=True`` appends the BM25 inverse document frequency
    ``round(ln((N − doc_cnt + 0.5)/(doc_cnt + 0.5) + 1), 6)`` (the
    Robertson/Lucene form used by :func:`operators.ranking.bm25_scores`;
    N = document count, a single-row broadcast — constant-sized at any
    corpus scale; rounded so external engines reproduce it exactly).
    """
    toks = docs.select(
        F.col("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("token_cnt"),
        F.countDistinct("doc_id").alias("doc_cnt"),
    )
    if with_idf:
        n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
        dc = F.col("doc_cnt").cast("double")
        counts = counts.crossJoin(F.broadcast(n_docs)).select(
            "token",
            "token_cnt",
            "doc_cnt",
            F.round(
                F.log(
                    (F.col("__n").cast("double") - dc + 0.5) / (dc + 0.5) + 1.0
                ),
                6,
            ).alias("idf"),
        )
    order = [F.desc("token_cnt"), F.asc("token")]
    if top_k is not None:
        # TakeOrdered head, then rank only the top_k rows — the single-
        # partition window touches a bounded head, never the corpus.
        from pyspark.sql import Window

        head = counts.orderBy(*order).limit(top_k)
        w = Window.orderBy(*order)
        return head.withColumn("rank", F.row_number().over(w).cast("long"))

    # Unbounded output: two-phase distributed rank — a full-vocabulary
    # Window.orderBy would funnel tens of millions of tokens through
    # one task at corpus scale.
    from data_pipelines_spark.plans.windows import global_rank

    return global_rank(counts, order)


def hash_fraction(
    id_col: Column, salt: str = "sample", portable: bool = False
) -> Column:
    """Uniform [0,1) value derived from a row id — the deterministic
    coin every sampling decision flips. Same id + salt → same value on
    any run, any engine, any partitioning.

    ``portable=True`` derives the value from md5 (first 8 hex chars /
    2^32) instead of xxhash64, so external engines (the DuckDB oracle)
    reproduce the exact sampling decision; the default fast path keeps
    the cheaper JVM-native hash.
    """
    if portable:
        h = F.conv(
            F.substring(
                F.md5(F.encode(F.concat_ws(":", id_col.cast("string"), F.lit(salt)), "UTF-8")),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return h / F.lit(float(1 << 32))
    return (
        F.pmod(F.xxhash64(id_col.cast("string"), F.lit(salt)), F.lit(1_000_000))
        / 1_000_000.0
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "sample",
    portable: bool = False,
) -> DataFrame:
    """Deterministic per-stratum sampling — the data-mixing stage of a
    training pipeline ("keep 30% of crawl, 100% of books, ...").

    Hash-based, not random(): reproducible across runs and resumable
    (a re-run keeps exactly the same rows), and a pure narrow filter —
    no shuffle, no state, pushes through whatever partitioning the
    input has. Rates are a {stratum: fraction} mapping; unlisted
    strata get ``default_rate``.
    """
    rate = None
    for value, r in sorted(rates.items()):
        cond = F.col(strata_col) == value
        rate = F.when(cond, F.lit(float(r))) if rate is None else rate.when(
            cond, F.lit(float(r))
        )
    rate_col = (
        rate.otherwise(F.lit(float(default_rate)))
        if rate is not None
        else F.lit(float(default_rate))
    )
    return docs.where(hash_fraction(F.col(id_col), salt, portable) < rate_col)


def assign_splits(
    docs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
    portable: bool = False,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: adds a ``split`` column
    chosen by where the row's :func:`hash_fraction` lands in the
    cumulative weight intervals (weights are normalized; split names
    are processed in sorted order so the interval layout is stable).

    Hash-based, not random(): every row keeps its split across re-runs,
    engines, and repartitioning — the property that makes incremental
    corpus rebuilds safe (a doc never migrates from test into train).
    A pure narrow map: no shuffle, pushes through any partitioning.
    """
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("split weights must sum to a positive value")
    frac = hash_fraction(F.col(id_col), salt, portable)
    expr = None
    upper = 0.0
    names = sorted(weights)
    for name in names[:-1]:
        upper += float(weights[name]) / total
        branch = F.when(frac < F.lit(upper), F.lit(name))
        expr = branch if expr is None else expr.when(frac < F.lit(upper), F.lit(name))
    last = F.lit(names[-1])
    split = last if expr is None else expr.otherwise(last)
    return docs.withColumn(out_col, split)


def assign_splits_leakage_safe(
    docs: DataFrame,
    clusters: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
    portable: bool = False,
    broadcast_clusters: bool = False,
    out_col: str = "split",
) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates
    across splits: the split is hashed from the doc's CLUSTER id (the
    :func:`~data_pipelines_spark.operators.dedup.duplicate_clusters`
    keeper label), so every member of a near-dup cluster lands in the
    SAME split. Per-doc :func:`assign_splits` silently violates this —
    two ~identical docs hash independently, one into train and one
    into test, and the eval set measures memorization instead of
    generalization (the Lee et al. 2022 dedup-before-split argument).

    ``clusters`` is the (id_col, cluster_id) frame from
    ``duplicate_clusters`` (possibly persisted from a prior dedup run).
    Docs absent from it — e.g. a clusters frame computed only over
    pair-implicated docs — fall back to their own id, which IS their
    cluster label for singletons, so the two sources agree. Expected
    split proportions hold at the CLUSTER grain; heavily duplicated
    corpora therefore see doc-grain proportions drift toward the big
    clusters' splits — inherent to leakage-safety, not a bug (the same
    trade as grouped cross-validation).

    Shape: one equi join on the doc id (broadcast when the cluster
    frame is dimension-sized and ``broadcast_clusters=True``, else
    shuffle — both co-partition on the id), then the same narrow
    hash-interval map as :func:`assign_splits`.
    """
    lab = clusters.select(
        F.col(id_col), F.col("cluster_id").alias("__cluster")
    )
    if broadcast_clusters:
        lab = F.broadcast(lab)
    joined = docs.join(lab, id_col, "left").withColumn(
        "__cluster", F.coalesce(F.col("__cluster"), F.col(id_col))
    )
    out = assign_splits(
        joined, weights, id_col="__cluster", salt=salt, portable=portable,
        out_col=out_col,
    )
    return out.drop("__cluster")


def seeded_shuffle(
    docs: DataFrame,
    id_col: str = "doc_id",
    salt: str = "shuffle",
    portable: bool = False,
) -> DataFrame:
    """Deterministic global training-order shuffle: adds ``shuffle_pos``,
    the row's 1-based position in the permutation ordered by
    (:func:`hash_fraction`, id). Writing the corpus sorted by this
    column yields the same "random" document order on every run — the
    reproducible-shuffle contract pretraining jobs need for resumable
    epochs.

    Scale shape: the permutation rank comes from the two-phase
    :func:`~data_pipelines_spark.plans.windows.global_rank`
    (range-repartition distributed sort + partition-count-sized offsets)
    — never a single-partition global window. The hash key is uniform,
    so the range partitioning is balanced by construction even when the
    input ids are skewed or clustered.
    """
    from data_pipelines_spark.plans.windows import global_rank

    keyed = docs.withColumn(
        "__shuffle_key", hash_fraction(F.col(id_col), salt, portable)
    )
    ranked = global_rank(
        keyed,
        [F.col("__shuffle_key").asc(), F.col(id_col).asc()],
        alias="shuffle_pos",
    )
    return ranked.drop("__shuffle_key")


def boilerplate_lines(
    docs: DataFrame,
    text_col: str = "text",
    min_doc_count: int = 2,
) -> DataFrame:
    """Lines that appear (as trimmed, non-empty lines) in at least
    ``min_doc_count`` DISTINCT documents — navigation bars, cookie
    banners, boilerplate footers. Output: (line, doc_cnt).

    Scale shape: each doc contributes its distinct lines once
    (array_distinct before explode), so the groupBy sees at most
    docs x distinct-lines rows and map-side partial aggregation
    collapses repeats; the shuffle key is the line itself (well
    distributed — identical lines are exactly what we're counting)."""
    per_doc = docs.select(
        F.explode(
            F.array_distinct(
                F.filter(
                    F.transform(
                        F.split(F.col(text_col), r"\n"), lambda l: F.trim(l)
                    ),
                    lambda l: F.length(l) > 0,
                )
            )
        ).alias("line")
    )
    return (
        per_doc.groupBy("line")
        .agg(F.count(F.lit(1)).alias("doc_cnt"))
        .where(F.col("doc_cnt") >= min_doc_count)
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_count: int = 2,
) -> DataFrame:
    """C4-style line-level corpus dedup: drop every line that occurs in
    ``min_doc_count``+ distinct documents, keep the rest in original
    order. Output: one row per input doc —
    (id_col, clean_text, n_lines, n_boiler_lines).

    The line-frequency table is corpus-derived but much smaller than the
    corpus (only repeated lines survive the HAVING); the anti-join
    against it is left to AQE (broadcast when it fits, shuffle
    otherwise). Reassembly sorts each doc's surviving lines by original
    position inside a per-doc aggregate — no global sort."""
    boiler = boilerplate_lines(docs, text_col, min_doc_count)
    lines = docs.select(
        F.col(id_col),
        F.posexplode_outer(
            F.filter(
                F.transform(F.split(F.col(text_col), r"\n"), lambda l: F.trim(l)),
                lambda l: F.length(l) > 0,
            )
        ).alias("pos", "line"),
    )
    kept = lines.join(boiler.select("line"), "line", "left_anti")
    clean = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count("line").alias("n_kept"),
    )
    n_lines = docs.select(
        F.col(id_col),
        F.size(
            F.filter(
                F.transform(F.split(F.col(text_col), r"\n"), lambda l: F.trim(l)),
                lambda l: F.length(l) > 0,
            )
        ).cast("long").alias("n_lines"),
    )
    return (
        n_lines.join(clean, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_boiler_lines"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    stream_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard pretraining
    layout: within each stream, documents are logically concatenated in
    ``id_col`` order and sliced into fixed ``seq_len``-token training
    sequences. Adds, per doc:

    - ``seq_id``    — index of the sequence its first token lands in;
    - ``seq_off``   — token offset of the doc within that sequence;
    - ``seq_spans`` — how many sequence boundaries the doc crosses + 1
      (a doc longer than its sequence remainder straddles several).

    Deterministic by construction (pure function of ids and token
    counts — re-running on the same corpus reproduces the exact
    layout), and scale-safe: the running total uses the two-phase
    :func:`~data_pipelines_spark.plans.windows.grouped_running_sum`,
    never a one-partition-per-stream window.
    """
    from data_pipelines_spark.plans.windows import grouped_running_sum

    cum = grouped_running_sum(
        docs,
        [stream_col],
        [F.col(id_col).asc()],
        tokens_col,
        alias="__cum_before",
    )
    before = F.col("__cum_before")
    toks = F.col(tokens_col)
    return (
        cum.withColumn("seq_id", F.floor(before / seq_len).cast("long"))
        .withColumn("seq_off", F.pmod(before, F.lit(seq_len)).cast("long"))
        .withColumn(
            "seq_spans",
            (
                F.floor((before + F.greatest(toks, F.lit(1)) - 1) / seq_len)
                - F.floor(before / seq_len)
                + 1
            ).cast("long"),
        )
        .drop("__cum_before")
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int,
    overlap_tokens: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chunk_tokens: int = 1,
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    context-preparation step for retrieval indexes and long-document
    training (each chunk small enough to embed or pack, the overlap
    preserving sentence context across cuts).

    Output: one row per chunk with ``(id_col, chunk_id, chunk_start,
    chunk_n_tokens, chunk_text)`` where ``chunk_start`` is the 0-based
    token offset and windows advance by ``chunk_tokens -
    overlap_tokens``. Window generation STOPS at the first window that
    reaches the document's end — with overlap, naive stride-to-the-end
    generation would emit trailing windows that are strict subsets of
    the previous chunk (duplicate content in a retrieval index). A
    trailing window shorter than ``min_chunk_tokens`` is dropped unless
    it is the document's only chunk (so no non-empty document
    vanishes); blank documents produce no chunks. Chunk text is the
    whitespace-rejoin of the window's tokens (the engine's token grain
    is `functions.text.tokens`).

    Spark shape: pure narrow map — tokenize once, build the window
    start positions with ``sequence``, slice with ``F.slice`` inside
    the lambda, and ``posexplode``. No shuffle, no UDF; chunk rows
    inherit the input partitioning, so a 100 TB corpus chunks at scan
    speed. Deterministic by construction (a pure function of the
    text), so re-runs and retries produce identical chunk ids.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            "overlap_tokens must be in [0, chunk_tokens); got "
            f"overlap={overlap_tokens}, chunk={chunk_tokens}"
        )
    from data_pipelines_spark.functions.text import let, tokens

    stride = chunk_tokens - overlap_tokens

    def over(toks: Column) -> Column:
        n = F.size(toks)
        # Window starts 0, stride, 2*stride, ... stopping at the FIRST
        # start whose window reaches the document end: the smallest
        # multiple of stride >= n - chunk_tokens (ceiling division).
        # Later starts would be strict subsets of that window.
        last = F.when(
            n > chunk_tokens,
            F.floor((n - chunk_tokens + stride - 1) / stride) * stride,
        ).otherwise(F.lit(0))
        starts = F.sequence(F.lit(0).cast("long"), last.cast("long"), F.lit(stride).cast("long"))
        windows = F.transform(
            starts,
            lambda s: F.struct(
                s.alias("start"),
                F.slice(toks, s + 1, chunk_tokens).alias("toks"),
            ),
        )
        keep = F.filter(
            windows,
            lambda w, i: (F.size(w["toks"]) >= min_chunk_tokens) | (i == 0),
        )
        # Blank documents produce no chunks (nothing to retrieve/train on).
        return F.when(n > 0, keep).otherwise(F.slice(keep, 1, 0))

    chunked = docs.select(
        F.col(id_col),
        F.posexplode(let(tokens(F.col(text_col)), over)).alias("chunk_id", "__w"),
    )
    return chunked.select(
        id_col,
        F.col("chunk_id").cast("long"),
        F.col("__w.start").cast("long").alias("chunk_start"),
        F.size("__w.toks").cast("long").alias("chunk_n_tokens"),
        F.array_join("__w.toks", " ").alias("chunk_text"),
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    decimals: int = 6,
) -> DataFrame:
    """Self-trained unigram language-model score per document: the mean
    log10 probability of its tokens under the corpus's own unigram
    distribution — the cheap stand-in for the KenLM-perplexity quality
    filter every big corpus pipeline runs (low mean log-prob = unusual
    token mix = gibberish or boilerplate candidate).

    Output: (id_col, n_tokens, lm_logprob10), one row per doc with >=1
    token. Scale shape: token counts are a map-side-combined wordcount;
    the per-token score join shuffles on the token key; no UDFs.

    Engine-portability: each token's log-prob is rounded to ``decimals``
    and summed as DECIMAL — float sums are order-of-summation dependent
    in their last ulps, so an unrounded double sum would differ between
    runs (and engines) while this is bit-stable anywhere.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored = (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "__lp",
            F.round(F.log10(F.col("cnt") / F.col("total")), decimals).cast(
                "decimal(28,8)"
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum("__lp").cast("double") / F.count(F.lit(1)), decimals
        ).alias("lm_logprob10"),
    )


def kneser_ney_bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_docs: DataFrame | None = None,
    discount: float = 0.75,
    decimals: int = 6,
    unk_logprob10: float = -10.0,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram language-model score per document
    — the real shape of the CCNet-style perplexity quality filter
    (Wenzek et al., LREC 2020 train a 5-gram KenLM; this is the same
    filter with the model trained IN-ENGINE, relationally):

        P(w2|w1) = (c(w1,w2) − D)/c(w1) + λ(w1)·P_cont(w2)
        λ(w1)    = D·N1+(w1·)/c(w1)
        P_cont(w2) = N1+(·w2)/N1+(··)

    (Kneser & Ney 1995; Chen & Goodman 1998 interpolated form, single
    discount D). Bigrams run over ``<s>`` + the lowercased whitespace
    tokens, so every token is one prediction event. Trained on
    ``train_docs`` (default: ``docs`` itself — the self-trained filter,
    where every scored bigram is in the model); scoring backs off per
    the model: unseen bigram → λ(w1)·P_cont(w2), unseen context →
    P_cont(w2), unseen word → ``unk_logprob10``.

    Output: (id_col, n_tokens, kn_logprob10, kn_ppl10) for docs with
    ≥1 token; ``kn_logprob10`` is the mean log10 event probability and
    ``kn_ppl10 = 10^(−kn_logprob10)`` the perplexity.

    Scale shape: counts are map-side-combined groupBys at bigram /
    context / word grain; scoring shuffle-joins the doc bigram stream
    against the model on its natural keys (the model is corpus-sized —
    never broadcast, never collected); the type-count total is the
    only 1-row broadcast. No UDFs.

    Engine-portability: every probability is a fixed-shape arithmetic
    tree over exact integer counts (IEEE-deterministic), the only libm
    call (log10) is rounded to ``decimals``, and per-doc sums run in
    DECIMAL — the same contract as :func:`unigram_logprob`, replayed
    bit-for-bit by the `corpus_doc_curation` oracle.
    """
    D = float(discount)
    if not 0.0 < D < 1.0:
        raise ValueError(f"discount must be in (0, 1), got {D}")

    def bigram_stream(frame: DataFrame) -> DataFrame:
        toked = frame.select(
            F.col(id_col),
            tokens(F.lower(F.col(text_col))).alias("__toks"),
        ).where(F.size("__toks") > 0)
        w1s = F.concat(
            F.array(F.lit("<s>")),
            F.slice(F.col("__toks"), 1, F.size("__toks") - 1),
        )
        return toked.select(
            F.col(id_col),
            F.explode(
                F.arrays_zip(w1s.alias("w1"), F.col("__toks").alias("w2"))
            ).alias("__bg"),
        ).select(id_col, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))

    train = bigram_stream(train_docs if train_docs is not None else docs)
    bi = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = bi.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    cont = bi.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    types = bi.agg(F.count(F.lit(1)).alias("n1pp"))

    # linear probabilities so the backoff branches compose by coalesce;
    # expression shape mirrors the oracle SQL exactly
    lam = F.lit(D) * F.col("n1f") / F.col("c1")
    model = (
        bi.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            (
                (F.col("c12") - F.lit(D)) / F.col("c1")
                + lam * (F.col("n1b") / F.col("n1pp"))
            ).alias("__p12"),
        )
    )
    ctx_tbl = ctx.select("w1", lam.alias("__lam"))
    cont_tbl = cont.crossJoin(F.broadcast(types)).select(
        "w2", (F.col("n1b") / F.col("n1pp")).alias("__pcont")
    )

    scored = (
        bigram_stream(docs)
        .join(model, ["w1", "w2"], "left")
        .join(ctx_tbl, "w1", "left")
        .join(cont_tbl, "w2", "left")
        .withColumn(
            "__lp",
            F.round(
                F.log10(
                    F.coalesce(
                        F.col("__p12"),
                        F.col("__lam") * F.col("__pcont"),
                        F.col("__pcont"),
                        F.lit(10.0 ** unk_logprob10),
                    )
                ),
                decimals,
            ).cast("decimal(28,8)"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum("__lp").cast("double") / F.count(F.lit(1)), decimals
        ).alias("kn_logprob10"),
    )
    return per_doc.withColumn(
        "kn_ppl10", F.round(F.pow(F.lit(10.0), -F.col("kn_logprob10")), 4)
    )


def duplicate_aware_weights(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    alpha: float = 1.0,
    decimals: int = 6,
) -> DataFrame:
    """Soft deduplication: instead of DROPPING near-duplicates, weight
    every document by its duplicate-family size —
    ``dup_weight = round(cluster_size^(-alpha), decimals)`` — so a
    family of n near-identical docs contributes total weight n^(1-α)
    (α=1: exactly one doc's worth, the "count each idea once" rule;
    0<α<1: the partial-dedup middle ground studies like D4 [Abbas et
    al. 2023] explore between keep-all and keep-one).

    ``clusters`` is any (id_col, cluster_col) family frame —
    `dedup.duplicate_clusters` keeper labels or an exact-dup keeper
    join. Docs absent from it are singletons (weight 1.0). The output
    (id_col, cluster_size, dup_weight) feeds
    :func:`importance_resample` (add the log-weight) or any weighted
    sampler.

    Shape: one count per family (map-side combined), one join back on
    the cluster label, one left join to docs — all co-partitioned; no
    collects.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    lab = clusters.select(id_col, cluster_col)
    sizes = lab.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    member = lab.join(sizes, cluster_col).select(id_col, "cluster_size")
    return (
        docs.select(id_col)
        .join(member, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cluster_size"), F.lit(1).cast("long")).alias(
                "cluster_size"
            ),
        )
        .withColumn(
            "dup_weight",
            F.round(
                F.pow(
                    F.col("cluster_size").cast("double"), F.lit(-float(alpha))
                ),
                decimals,
            ),
        )
    )


def cluster_top_terms(
    docs: DataFrame,
    assignments: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
    top_n: int = 10,
    decimals: int = 6,
) -> DataFrame:
    """Class-based TF-IDF topic terms per document cluster — the
    BERTopic labeling step (Grootendorst 2022, "BERTopic: Neural topic
    modeling with a class-based TF-IDF procedure"): treat each cluster
    as ONE class document and score

        W(t, c) = tf(t, c) · ln(1 + A / f(t))

    with tf(t, c) = term count inside cluster c, f(t) = term count
    across the corpus, A = mean token count per cluster. The terms
    that are frequent IN the cluster but not everywhere surface as its
    label. Composes with any assignment source —
    `similarity.ivf_assign` / `kmeans_centroids` for embedding-space
    topics, `dedup.duplicate_clusters` for near-dup family labels.

    Output: (cluster_col, term, ctfidf, rank), rank ≤ ``top_n`` with a
    deterministic tie-break (rounded score desc, then term asc — the
    rounding makes the ordering engine-portable before ties resolve
    lexically).

    Scale shape: one doc→cluster equi join (co-partitioned on the doc
    id), map-side-combined (cluster, term) and term counts, a 1-row
    broadcast for A, and a per-cluster window over that cluster's
    VOCABULARY rows (bounded by distinct terms per cluster, not docs).
    No UDFs, no collects.
    """
    toks = docs.join(
        assignments.select(id_col, cluster_col), id_col
    ).select(
        F.col(cluster_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy(cluster_col, "term").agg(
        F.count(F.lit(1)).alias("c_tc")
    )
    ft = tf.groupBy("term").agg(F.sum("c_tc").alias("f_t"))
    stats = tf.agg(
        (
            F.sum("c_tc").cast("double") / F.countDistinct(cluster_col)
        ).alias("__a")
    )
    scored = (
        tf.join(ft, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            cluster_col,
            "term",
            F.round(
                F.col("c_tc")
                * F.log(F.lit(1.0) + F.col("__a") / F.col("f_t")),
                decimals,
            ).alias("ctfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col).orderBy(
        F.desc("ctfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_n)
    )


def filter_by_group_quantile(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    q: float = 0.1,
    keep: str = "above",
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Keep rows whose ``value_col`` is at-or-above (``keep='above'``)
    or at-or-below (``'below'``) their group's q-quantile — the
    "drop the worst decile per source" curation filter applied after
    LM/quality scoring (compose with :func:`unigram_logprob` or
    `functions.text` quality signals).

    Scale shape: one aggregate pass computes the per-group cutoff
    (``approx_percentile`` by default, a bounded-memory sketch;
    ``exact=True`` opts into the exact percentile, whose buffer holds
    each group's values), then the cutoff table (|groups| rows) joins
    back — AQE broadcasts it when dimension-sized. With no ``group_cols`` the single global cutoff
    row is cross-joined broadcast. NULL values never pass (SQL
    comparison semantics), matching "unscored rows are dropped"; a
    NULL GROUP is a real stratum (GROUP BY semantics) — its rows are
    filtered against their own cutoff via a null-safe join-back, not
    silently dropped.
    """
    if keep not in ("above", "below"):
        raise ValueError(f"unknown keep: {keep}")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    cutoff = (
        F.expr(f"percentile({value_col}, {q!r})")
        if exact
        else F.expr(f"approx_percentile({value_col}, {q!r}, {accuracy})")
    ).alias("__cutoff")
    cond = (
        F.col(value_col) >= F.col("__cutoff")
        if keep == "above"
        else F.col(value_col) <= F.col("__cutoff")
    )
    if group_cols:
        # Null-safe join-back: GROUP BY forms a group for NULL keys, so
        # the cutoff table has a row for it — but a plain equi join
        # would never match it and every NULL-group row would silently
        # vanish instead of being filtered against its own group's
        # cutoff.
        cutoffs = df.groupBy(*group_cols).agg(cutoff)
        alias_map = {g: f"__g_{i}" for i, g in enumerate(group_cols)}
        cut = cutoffs.select(
            *[F.col(g).alias(a) for g, a in alias_map.items()], "__cutoff"
        )
        on = None
        for g, a in alias_map.items():
            c = F.col(g).eqNullSafe(F.col(a))
            on = c if on is None else (on & c)
        return (
            df.join(cut, on)
            .where(cond)
            .drop("__cutoff", *alias_map.values())
        )
    return (
        df.crossJoin(F.broadcast(df.agg(cutoff)))
        .where(cond)
        .drop("__cutoff")
    )


def _word_ngrams_from_tokens(toks: Column, n: int) -> Column:
    """n-gram strings from an ALREADY-MATERIALIZED token-array column.

    The caller must bind ``toks`` to a real column (select/withColumn),
    not pass the tokenizer expression tree directly: the lambda below
    references it n+1 times, and an inlined `tokens(lower(text))`
    subtree would re-run the regex split once per reference per
    position — measured 20x slowdown on the contamination scan."""
    cnt = F.size(toks)
    return F.when(
        cnt >= n,
        F.transform(
            F.sequence(F.lit(1), cnt - n + 1),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _word_ngrams(text: Column, n: int) -> Column:
    return _word_ngrams_from_tokens(tokens(F.lower(text)), n)


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    ngram_n: int = 8,
    prefilter: str | None = None,
    prefilter_fpp: float = 0.01,
    bench_ngrams: int | None = None,
) -> DataFrame:
    """Flag documents that contain any benchmark n-gram — the
    decontamination stage that keeps eval questions out of training
    data (the n-gram-overlap rule used by most LLM data stacks).

    Scale shape, default mode: the benchmark side is dimension-sized,
    so its distinct n-grams are broadcast; document n-grams are
    exploded and inner-joined (broadcast hash join), then re-aggregated
    per doc. Output: (doc_id, matched_ngrams) for contaminated docs
    only — anti-join it back to drop them.

    ``prefilter='bloom'`` is the shape for benchmark suites whose
    distinct n-grams no longer fit a broadcast: a Bloom sketch of the
    benchmark grams (plans/bloom.py) discards definite-miss doc grams
    locally, and only the might-contain remainder — |true matches| +
    fpp·|doc grams| rows — pays the exact semi join, which now
    SHUFFLES both sides instead of broadcasting. The result is
    identical to the default mode (false positives die in the exact
    join; Bloom filters have no false negatives). ``bench_ngrams``
    (estimated distinct benchmark grams) sizes the sketch without an
    eager count job.
    """
    bench_grams = (
        benchmark.select(tokens(F.lower(F.col(bench_text_col))).alias("__toks"))
        .select(
            F.explode(_word_ngrams_from_tokens(F.col("__toks"), ngram_n)).alias(
                "gram"
            )
        )
        .distinct()
    )
    doc_grams = docs.select(
        F.col("doc_id"), tokens(F.lower(F.col(text_col))).alias("__toks")
    ).select(
        F.col("doc_id"),
        F.explode(_word_ngrams_from_tokens(F.col("__toks"), ngram_n)).alias("gram"),
    )
    if prefilter == "bloom":
        from data_pipelines_spark.plans.bloom import bloom_filter_join

        matched = bloom_filter_join(
            doc_grams,
            bench_grams,
            "gram",
            how="left_semi",
            fpp=prefilter_fpp,
            expected_items=bench_ngrams,
        )
    elif prefilter is None:
        matched = doc_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
    else:
        raise ValueError(f"unknown prefilter: {prefilter}")
    return matched.groupBy("doc_id").agg(
        F.countDistinct("gram").alias("matched_ngrams")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    ngram_n: int = 8,
) -> DataFrame:
    """Docs with every benchmark-overlapping document removed."""
    flagged = contamination_check(docs, benchmark, text_col, ngram_n=ngram_n)
    return docs.join(flagged, "doc_id", "left_anti")


def temperature_rates(
    docs: DataFrame,
    strata_col: str = "source",
    alpha: float = 0.5,
    weight_col: Column | None = None,
    budget_factor: float = 1.0,
) -> DataFrame:
    """Per-stratum sampling rates for temperature-based data mixing.

    The standard pretraining-mixture formula (the multinomial-
    temperature reweighting used for multilingual/multi-source corpora):
    a stratum holding weight ``n_i`` (token count by default via
    ``weight_col``; row count if None) is resampled at

        ``rate_i = share_i * B / n_i``,  ``share_i = n_i^α / Σ_j n_j^α``

    with ``B = budget_factor * Σ n_j``, so α=1 is proportional
    (identity), α=0 is uniform-per-stratum, and 0<α<1 flattens the
    distribution — upsampling low-resource strata (rate > 1) and
    downsampling dominant ones (rate < 1) while preserving the total
    budget.

    Output: one dimension-sized row per stratum
    (``strata_col``, ``n_weight``, ``rate``), rates rounded to 6
    decimals. Engine-portable by construction: α=0.5 uses ``sqrt``
    (IEEE-exact in every engine, unlike ``pow``'s final-ulp latitude),
    weights are rounded then DECIMAL-summed (order-independent exact
    sum), and every later step is identical-expression double
    arithmetic, so a SQL oracle reproduces each rate bit-for-bit.
    Generic α falls back to ``pow`` — the 6-decimal rounding absorbs
    its cross-engine ulp differences for all practical inputs.

    Scale shape: one map-side-combined aggregation to stratum grain,
    two 1-row totals broadcast back — nothing row-scaled leaves the
    stratum aggregate.
    """
    w = F.lit(1).cast("long") if weight_col is None else weight_col.cast("long")
    counts = docs.groupBy(strata_col).agg(F.sum(w).alias("n_weight"))
    if alpha == 0.5:
        raw = F.sqrt(F.col("n_weight"))
    elif alpha == 1.0:
        raw = F.col("n_weight").cast("double")
    elif alpha == 0.0:
        raw = F.lit(1.0)
    else:
        raw = F.pow(F.col("n_weight"), F.lit(float(alpha)))
    wtd = counts.withColumn("__w6", F.round(raw, 6).cast("decimal(28,6)"))
    totals = wtd.agg(
        F.sum("__w6").alias("__sw"),
        (F.sum("n_weight") * F.lit(float(budget_factor))).alias("__b"),
    )
    share = F.col("__w6").cast("double") / F.col("__sw").cast("double")
    # A zero-weight stratum (every doc empty after cleaning) has nothing
    # to draw: rate 0 by definition. Unguarded, the 0/0 aborts the WHOLE
    # query under ANSI mode; its zero w6 already contributes nothing to
    # the others' shares. Same guard on __sw for the all-zero corpus.
    rate = F.when(
        (F.col("n_weight") > 0) & (F.col("__sw") > 0),
        share * F.col("__b").cast("double") / F.col("n_weight").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        wtd.join(F.broadcast(totals))
        .select(strata_col, "n_weight", F.round(rate, 6).alias("rate"))
    )


def temperature_upsample(
    docs: DataFrame,
    strata_col: str = "source",
    alpha: float = 0.5,
    weight_col: Column | None = None,
    budget_factor: float = 1.0,
    id_col: str = "doc_id",
    salt: str = "upsample",
    portable: bool = False,
) -> DataFrame:
    """Materialize the :func:`temperature_rates` mixture: every row
    gains ``n_repeats`` (``floor(rate)`` plus one deterministic
    fractional coin via :func:`hash_fraction`) and is exploded into
    that many copies with a 1-based ``copy_no`` — rows drawn into zero
    copies (downsampled strata) drop out. Expected output size is the
    budget; the decision is a pure function of (id, salt, stratum
    weights), so re-runs and engines agree row-for-row.

    Scale shape: the rate table is dimension-sized and broadcast; the
    explode is a narrow per-row generate bounded by ``ceil(rate)``
    copies — no shuffle anywhere.
    """
    rates = temperature_rates(docs, strata_col, alpha, weight_col, budget_factor)
    frac = F.col("rate") - F.floor(F.col("rate"))
    coin = (hash_fraction(F.col(id_col), salt, portable) < frac).cast("long")
    n_rep = (F.floor(F.col("rate")).cast("long") + coin).alias("n_repeats")
    # Null-safe join: GROUP BY gives a NULL stratum its own rate row,
    # but a plain equi join would silently drop every NULL-stratum doc
    # from the mixture (its weight having been counted in the budget).
    rate_side = rates.select(
        F.col(strata_col).alias("__stratum"), "rate"
    )
    joined = (
        docs.join(
            F.broadcast(rate_side),
            F.col(strata_col).eqNullSafe(F.col("__stratum")),
        )
        .drop("__stratum")
        .withColumn("n_repeats", n_rep)
    )
    copies = F.when(
        F.col("n_repeats") >= 1,
        F.sequence(F.lit(1).cast("long"), F.col("n_repeats")),
    ).otherwise(F.array().cast("array<long>"))
    return (
        joined.withColumn("copy_no", F.explode(copies))
        .drop("rate", "n_weight")
    )


def sample_exact_k(
    docs: DataFrame,
    k: int,
    group_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "exactk",
    portable: bool = False,
    margin: int | None = None,
) -> DataFrame:
    """Deterministically select EXACTLY min(k, |group|) rows per group
    (globally when ``group_col`` is None) — fixed-size eval subsets,
    per-source caps, golden samples. The selection is the k smallest
    hash coins, so it is stable across runs, engines (``portable``),
    and repartitionings, and mostly stable under corpus growth (a new
    row displaces at most one selected row).

    Skew-safe plan (rate-based sampling alone cannot hit an exact k;
    a per-group ``row_number`` over the raw data would funnel each
    giant group through one task): per-group counts size a coin cutoff
    of (k + margin)/n with a Chernoff margin (default ``6*sqrt(k)+10``
    — under-selection probability ~1e-9), the cutoff pre-filter drops
    all but ~k rows per group as a NARROW filter, and only survivors
    (k-sized partitions) pay the exact ranking window. Groups where the
    margin ever under-selects are detected by a survivor count and
    re-ranked over their full rows — correctness never depends on the
    probabilistic bound. Coins are content hashes: retry-deterministic.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from pyspark.sql import Window

    groups = [group_col] if group_col else []
    gkey = (
        F.concat_ws("/", F.col(group_col).cast("string"), F.col(id_col).cast("string"))
        if group_col
        else F.col(id_col).cast("string")
    )
    coined = docs.withColumn("__coin", hash_fraction(gkey, salt, portable))
    counts = coined.groupBy(*groups).agg(F.count(F.lit(1)).alias("__n"))
    m = margin if margin is not None else int(6 * (k**0.5) + 10)
    cut = F.least(
        F.lit(1.0), F.lit(float(k + m)) / F.col("__n").cast("double")
    )
    if group_col:
        # Null-safe join-back: GROUP BY forms a NULL group, and a plain
        # equi join would silently drop its rows from the sample (the
        # filter_by_group_quantile NULL-group-loss class).
        cts = counts.withColumnRenamed(group_col, "__g")
        sized = coined.join(
            cts, F.col(group_col).eqNullSafe(F.col("__g"))
        ).drop("__g")
    else:
        sized = coined.crossJoin(F.broadcast(counts))
    survivors = sized.where(F.col("__coin") <= cut)

    # Deficit repair: a group whose survivor count fell below min(k, n)
    # (possible only when the Chernoff margin loses its ~1e-9 bet)
    # re-enters with ALL its rows.
    deficits = (
        survivors.groupBy(*groups, "__n")
        .agg(F.count(F.lit(1)).alias("__s"))
        .where(F.col("__s") < F.least(F.lit(k).cast("long"), F.col("__n")))
        .select(*groups)
    )
    if group_col:
        defs = deficits.withColumnRenamed(group_col, "__g")
        on = F.col(group_col).eqNullSafe(F.col("__g"))
        repaired = survivors.join(defs, on, "left_anti").unionByName(
            sized.join(defs, on, "left_semi")
        )
    else:
        # Global mode: the single "group" either met k or it didn't, so
        # the branch is a boolean — probed EAGERLY here (one
        # survivor-sized job at plan-build time) rather than threading a
        # join through the plan for a one-row decision.
        repaired = survivors if deficits.isEmpty() else sized

    w = Window.partitionBy(*groups).orderBy(F.asc("__coin"), F.asc(id_col))
    return (
        repaired.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__coin", "__n", "__rk")
    )


def sample_token_budget(
    docs: DataFrame,
    budget: int | float,
    weight_col: str = "n_tokens",
    group_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "tokbudget",
    portable: bool = False,
    include_overflow: bool = False,
    flag_col: str | None = None,
) -> DataFrame:
    """Deterministically sample documents up to a token budget per
    group ("take 1B tokens per source") — the budget-constrained member
    of the sampling family (rate: :func:`stratified_sample`, count:
    :func:`sample_exact_k`, mixture: :func:`temperature_upsample`).

    Each group's docs are ordered by a content-hash coin (a
    reproducible uniform shuffle) and the maximal prefix whose total
    ``weight_col`` fits the budget is kept: by default the prefix total
    never exceeds ``budget`` (the first doc that would cross is cut);
    ``include_overflow=True`` keeps that crossing doc instead, so the
    sample reaches at least ``budget`` whenever the group has that much
    (overshoot < one document). Because weights are non-negative the
    kept set IS a coin-order prefix — once a row fails the budget test
    every later row fails too.

    Scale shape: the prefix test needs an exclusive running sum per
    group under the coin order — :func:`plans.windows.grouped_running_
    sum`'s two-phase scheme (range-repartition + local window + offset
    join), so a handful of giant groups never funnel through
    one-partition windows. Coins are content hashes (retry- and
    partitioning-deterministic); ``portable=True`` makes them md5-based
    so external engines reproduce the exact prefix.

    NULL weights consume nothing (treated as 0) but count as sampled
    rows; negative weights raise (they would break the prefix
    invariant). NULL groups sample as their own group.

    ``flag_col``: instead of filtering, return EVERY row with a boolean
    column naming the budget decision — the audit/report shape (and the
    driver-oracle hook): downstream can filter, inspect, or join it.
    """
    if not (float(budget) >= 0):
        raise ValueError(f"budget must be non-negative, got {budget}")
    from data_pipelines_spark.plans.windows import grouped_running_sum

    groups = [group_col] if group_col else []
    gkey = (
        F.concat_ws("/", F.col(group_col).cast("string"), F.col(id_col).cast("string"))
        if group_col
        else F.col(id_col).cast("string")
    )
    w = F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0))
    guarded = F.when(
        w < 0,
        F.raise_error(
            F.concat(
                F.lit(f"sample_token_budget: negative {weight_col}: "),
                F.col(weight_col).cast("string"),
            )
        ),
    ).otherwise(w)
    coined = docs.withColumn("__coin", hash_fraction(gkey, salt, portable)).withColumn(
        "__w", guarded
    )
    summed = grouped_running_sum(
        coined,
        groups,
        [F.asc("__coin"), F.asc(id_col)],
        "__w",
        alias="__before",
    )
    keep = (
        (F.col("__before") < F.lit(float(budget)))
        if include_overflow
        else (F.col("__before") + F.col("__w") <= F.lit(float(budget)))
    )
    if flag_col is not None:
        return summed.withColumn(flag_col, keep).drop(
            "__coin", "__w", "__before"
        )
    return summed.where(keep).drop("__coin", "__w", "__before")


def _dsir_bucket(gram: Column, num_buckets: int, portable: bool) -> Column:
    """Hashed-feature bucket of an n-gram string (the DSIR feature
    space). Portable path = first 8 md5 hex chars, the engine's usual
    SQL-replayable convention (`sketches._cms_bucket`)."""
    if portable:
        h = F.conv(
            F.substring(
                F.md5(F.encode(F.concat(F.lit("dsir:"), gram), "UTF-8")),
                1, 8,
            ),
            16, 10,
        ).cast("long")
    else:
        h = F.xxhash64(gram, F.lit(7))
    return F.pmod(h, F.lit(int(num_buckets))).cast("int")


def _dsir_grams(
    df: DataFrame, text_col: str, max_ngram: int
) -> Column:
    """All 1..max_ngram word grams of ``text_col`` as one array —
    unigrams + bigrams is the DSIR paper's feature set."""
    toks = tokens(F.lower(F.col(text_col)))
    parts = [_word_ngrams_from_tokens(F.col("__toks"), k)
             for k in range(1, max_ngram + 1)]
    return toks, (parts[0] if len(parts) == 1 else F.concat(*parts))


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ngram: int = 2,
    num_buckets: int = 10_000,
    smoothing: float = 1.0,
    decimals: int = 6,
    portable: bool = True,
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score
    every ``raw`` document by how much more likely its hashed-n-gram
    features are under the ``target`` domain than under the raw pool —
    ``(id_col, n_features, dsir_logweight)``, higher = more
    target-like. Select with :func:`importance_resample` (the paper's
    Gumbel resampling step) or a plain weight-ordered head.

    Model (the paper's): features are word 1..``max_ngram``-grams
    hashed into ``num_buckets`` buckets; each corpus fits a bag-of-
    buckets multinomial with add-``smoothing`` regularization;
    ``dsir_logweight = Σ_grams ln(p_target(b)/p_raw(b))``.

    Plan shape at 100 TB: two map-side-combined bucket wordcounts (the
    feature distributions are ≤ ``num_buckets`` rows each — broadcast
    size by construction, no driver collect), one broadcast join of
    the raw gram stream against the ratio table, one groupBy(doc).
    Engine-portability: per-bucket log ratios round to ``decimals``
    and per-doc sums run in DECIMAL (`unigram_logprob`'s contract), so
    an external engine replays weights bit-for-bit. Documents with
    zero tokens get no row (no features = no evidence).
    """
    if max_ngram < 1:
        raise ValueError(f"max_ngram must be >= 1, got {max_ngram}")
    if num_buckets <= 0:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    if smoothing <= 0:
        raise ValueError(
            f"smoothing must be positive (the model is undefined on "
            f"unseen buckets otherwise), got {smoothing}"
        )

    def bucket_stream(df: DataFrame, cols: list) -> DataFrame:
        toks, grams = _dsir_grams(df, text_col, max_ngram)
        return (
            df.withColumn("__toks", toks)
            .select(*cols, F.explode(grams).alias("__g"))
            .select(
                *cols, _dsir_bucket(F.col("__g"), num_buckets, portable)
                .alias("bucket"),
            )
        )

    def dist(df: DataFrame, cnt_name: str, tot_name: str):
        counts = bucket_stream(df, []).groupBy("bucket").agg(
            F.count(F.lit(1)).alias(cnt_name)
        )
        total = counts.agg(
            F.coalesce(F.sum(cnt_name), F.lit(0)).alias(tot_name)
        )
        return counts, total

    tc, tt = dist(target, "__ct", "__tt")
    rc, rt = dist(raw, "__cr", "__tr")
    lam = float(smoothing)
    b = float(num_buckets)
    ratio = (
        rc.join(tc, "bucket", "full_outer")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .select(
            "bucket",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(lam))
                        / (F.col("__tt") + F.lit(lam * b))
                    )
                    / (
                        (F.coalesce(F.col("__cr"), F.lit(0)) + F.lit(lam))
                        / (F.col("__tr") + F.lit(lam * b))
                    )
                ),
                decimals,
            ).cast("decimal(28,8)").alias("__lr"),
        )
    )
    return (
        bucket_stream(raw, [id_col])
        .join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.round(F.sum("__lr").cast("double"), decimals).alias(
                "dsir_logweight"
            ),
        )
    )


def importance_resample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: str = "dsir",
) -> DataFrame:
    """Deterministic Gumbel top-k: sample ``k`` rows WITHOUT
    replacement with probability proportional to ``exp(weight_col)`` —
    the DSIR paper's importance-resampling step, made replayable: the
    Gumbel noise comes from a content-derived md5 uniform (same
    coin-order convention as `hash_fraction`/`sample_exact_k`), so the
    selection is a pure function of (data, seed), identical on any
    partitioning and replayable by an external engine. Returns the
    input rows plus ``gumbel_key``, ordered by it descending.

    Plan shape: one narrow map (the key) + TakeOrdered top-k — no
    single-partition global sort.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.encode(
                        F.concat(
                            F.lit(f"{seed}:"), F.col(id_col).cast("string")
                        ),
                        "UTF-8",
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(2.0 ** 32 + 2.0)
    key = F.round(
        F.col(weight_col).cast("double") - F.log(-F.log(u)), 9
    )
    return (
        df.withColumn("gumbel_key", key)
        .orderBy(F.desc("gumbel_key"), F.col(id_col))
        .limit(int(k))
    )
