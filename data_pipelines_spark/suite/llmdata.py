"""LLM-training-data operators over the `documents` and `embeddings`
tables: dedup tiers, text analysis, similarity search.

Queries without an oracle entry (minhash/simhash — they depend on
Spark's xxhash64, which DuckDB cannot reproduce) get the driver's
rows-only check; their semantics are unit-tested against hand-built
fixtures in tests/test_dedup.py instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipelines_spark.functions.text import (
    byte_length,
    ccnet_normalize,
    punct_count,
    quality_score,
    rolling_fingerprint,
    token_count,
)
from data_pipelines_spark.operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from data_pipelines_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    lsh_bucketed_topk,
)
from data_pipelines_spark.session import tune
from data_pipelines_spark.sources.tables import load_table
from data_pipelines_spark.suite._registry import make_registry

QUERIES, ORACLES, register = make_registry()


@register(
    "exact_dedup_docs",
    """
    SELECT 'min_id' AS policy,
           md5(text) AS text_md5,
           min(doc_id) AS keeper_id,
           count(*)    AS dup_cnt
    FROM documents
    GROUP BY 2
    UNION ALL
    SELECT 'best_copy', text_md5, doc_id, cnt FROM (
        SELECT md5(text) AS text_md5, doc_id,
               count(*) OVER (PARTITION BY md5(text)) AS cnt,
               row_number() OVER (
                   PARTITION BY md5(text)
                   ORDER BY -CAST((doc_id * 2654435761) % 1000 AS DOUBLE),
                            doc_id) AS rk
        FROM documents
    ) WHERE rk = 1
    """,
)
def exact_dedup_docs(spark, sf_dir):
    """Exact deduplication via content hash, both keeper policies
    method-tagged at the (policy, text_md5, keeper_id, dup_cnt) grain:
    ``min_id`` keeps the canonical minimum doc id; ``best_copy`` keeps
    the highest-quality copy (`exact_duplicates(quality_col=...)` —
    identical content, different provenance; the score here is a
    deterministic per-doc hash standing in for the metadata-richness
    score, so the oracle replays the argmax and the min-id tie-break
    exactly)."""
    from data_pipelines_spark.operators.dedup import exact_duplicates_policies

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.withColumn(
        "q", F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(1000)).cast("double")
    )
    # ONE grouped pass computes both keepers (min + min_by partials
    # compose map-side), then melts to the method-tagged grain — the
    # earlier two-exact_duplicates-calls shape scanned and shuffled
    # the corpus twice for the same answer.
    both = exact_duplicates_policies(scored, quality_col="q")
    return both.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("min_id").alias("policy"),
                    F.col("keeper_min_id").alias("keeper_id"),
                ),
                F.struct(
                    F.lit("best_copy").alias("policy"),
                    F.col("keeper_best_id").alias("keeper_id"),
                ),
            )
        ).alias("p"),
        "text_md5",
        "dup_cnt",
    ).select(
        F.col("p.policy").alias("policy"),
        "text_md5",
        F.col("p.keeper_id").alias("keeper_id"),
        "dup_cnt",
    )


_BPE_PATTERN = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"

# Span-level exact-substring dedup + fixed-query BM25, fused into the
# text_stats entry (doc grain preserved; registry stays at 50).
_SPAN_N = 8
_BM25_TERMS = ("customer", "vector", "spark", "the")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _text_stats_sql() -> str:
    """Oracle: narrow per-doc stats + duplicated-span profile (positioned
    8-grams → corpus-duplicated grams → merged maximal spans) + Okapi
    BM25 against the pinned query, mirroring the operators' rounded-ln
    determinism contract expression for expression."""
    n = _SPAN_N
    toks_lower = (
        "CASE WHEN length(trim(text)) = 0 THEN [] "
        "ELSE string_split_regex(trim(lower(text)), '\\s+') END"
    )
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    tf_cols = ",\n               ".join(
        f"len(list_filter(toks, t -> t = '{t}')) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    contribs = "\n                 + ".join(
        f"CASE WHEN tf_{i} > 0 THEN round("
        f"round(ln((CAST(n_corpus AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{i} AS DOUBLE) + 0.5) + 1.0), 6)"
        f" * (CAST(tf_{i} AS DOUBLE) * ({_BM25_K1} + 1.0)"
        f" / (CAST(tf_{i} AS DOUBLE) + {_BM25_K1} * ({1.0 - _BM25_B}"
        f" + {_BM25_B} * CAST(dl AS DOUBLE) / avgdl))), 6) ELSE 0.0 END"
        for i in range(len(_BM25_TERMS))
    )
    return rf"""
    WITH base AS (
        SELECT doc_id, text, {toks_lower} AS toks FROM documents
    ),
    pos_grams AS (
        SELECT doc_id, u.i AS pos, u.gram AS gram
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - {n} + 2),
                          i -> struct_pack(i := i, gram := {gram}))) AS u
            FROM base WHERE len(toks) >= {n}
        )
    ),
    dupg AS (
        SELECT gram, min(doc_id * 1000000 + pos) AS first_key
        FROM pos_grams GROUP BY gram HAVING count(*) >= 2
    ),
    marked AS (
        SELECT p.doc_id, p.pos FROM pos_grams p JOIN dupg d USING (gram)
    ),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         <= {n} THEN 0 ELSE 1 END AS new_span
        FROM marked
    ),
    islands AS (
        SELECT doc_id, pos,
               sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS span_id
        FROM flagged
    ),
    span_aggs AS (
        SELECT doc_id, span_id, count(*) AS g,
               max(pos) - min(pos) + {n} AS covered
        FROM islands GROUP BY doc_id, span_id
    ),
    dup_per_doc AS (
        SELECT doc_id, sum(g) AS n_dup_grams, count(*) AS n_dup_spans,
               sum(covered) AS dup_tokens
        FROM span_aggs GROUP BY doc_id
    ),
    cut_marked AS (
        SELECT p.doc_id, p.pos
        FROM pos_grams p JOIN dupg d USING (gram)
        WHERE p.doc_id * 1000000 + p.pos <> d.first_key
    ),
    cut_flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         <= {n} THEN 0 ELSE 1 END AS new_span
        FROM cut_marked
    ),
    cut_islands AS (
        SELECT doc_id, pos,
               sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS span_id
        FROM cut_flagged
    ),
    cut_ranges AS (
        SELECT doc_id, min(pos) AS s, max(pos) + {n} - 1 AS e
        FROM cut_islands GROUP BY doc_id, span_id
    ),
    cut_lists AS (
        SELECT doc_id, list(struct_pack(s := s, e := e)) AS cuts
        FROM cut_ranges GROUP BY doc_id
    ),
    cleaned AS (
        SELECT b.doc_id,
               list_filter(b.toks,
                           (t, i) -> len(list_filter(
                               coalesce(cl.cuts, []),
                               r -> i >= r.s AND i <= r.e)) = 0) AS kept,
               len(b.toks) AS n_all
        FROM base b LEFT JOIN cut_lists cl ON b.doc_id = cl.doc_id
    ),
    tf AS (
        SELECT doc_id, len(toks) AS dl,
               {tf_cols}
        FROM base
    ),
    stats AS (
        SELECT count(*) AS n_corpus, sum(dl) AS sum_dl, {df_cols} FROM tf
    ),
    bm25 AS (
        SELECT doc_id,
               round(CASE WHEN dl > 0 THEN
                   {contribs}
               ELSE 0.0 END, 6) AS bm25_score
        FROM tf, (SELECT *, CAST(sum_dl AS DOUBLE) / CAST(n_corpus AS DOUBLE)
                         AS avgdl FROM stats)
    )
    SELECT d.doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+'))
                END AS BIGINT) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                AS BIGINT) AS n_punct,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(COALESCE(dp.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(COALESCE(dp.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(dp.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           round(CAST(COALESCE(dp.dup_tokens, 0) AS DOUBLE)
                 / greatest(CAST(len(d.toks) AS DOUBLE), 1.0), 6)
               AS dup_token_frac,
           b.bm25_score,
           md5(coalesce(array_to_string(c.kept, ' '), ''))
               AS span_clean_md5,
           CAST(c.n_all - len(c.kept) AS BIGINT) AS n_removed_tokens
    FROM base d
    LEFT JOIN dup_per_doc dp ON d.doc_id = dp.doc_id
    JOIN bm25 b ON d.doc_id = b.doc_id
    JOIN cleaned c ON d.doc_id = c.doc_id
    """


@register("text_stats", _text_stats_sql())
def text_stats(spark, sf_dir):
    """Per-document text statistics: char/byte length, whitespace token
    count, punctuation count, and BPE-style pre-tokenization count
    (letter runs, short digit runs, individual symbols — the GPT-2-style
    splitter shape restricted to a regex dialect identical in Java and
    RE2) — all native expressions. Absorbs the former bpe_token_counts
    query, and (round 5) fuses two corpus-level signal families at the
    same doc grain so the driver hash-checks them every sweep:

    - ``n_dup_grams`` / ``n_dup_spans`` / ``dup_tokens`` /
      ``dup_token_frac`` — span-level exact-substring duplication
      (`operators.dedup.duplicate_span_stats`, the Lee et al. 2022
      shape): positions whose 8-gram occurs >= 2 times corpus-wide,
      merged into maximal spans (gap <= n), and the token coverage of
      those spans. Runs the ``hash_grams=True`` scale mode (r14):
      8-byte token-tuple hashes instead of gram strings in the
      duplication shuffle — output identical short of a 64-bit
      collision (equivalence unit-tested, oracle re-verified at
      sf0.001/0.01/0.1).
    - ``bm25_score`` — Okapi BM25 (`operators.ranking.bm25_scores`)
      against a pinned 4-term query; corpus stats (N, avgdl, df) are a
      single-row broadcast, idf rounded to 6 before the multiply so the
      oracle reproduces the score bit-for-bit.
    - ``span_clean_md5`` / ``n_removed_tokens`` — the removal step
      (`operators.dedup.remove_duplicate_spans`, keep-first): exactly
      one copy of each duplicated passage survives (canonical = global
      min (doc, pos)); the oracle reproduces the full cut + reassembly
      and hashes the cleaned text."""
    from data_pipelines_spark.functions.text import let, tokens
    from data_pipelines_spark.operators.dedup import (
        _cut_ranges_expr,
        _kept_tokens,
        _span_positions,
        _span_stat_struct,
    )
    from data_pipelines_spark.operators.ranking import _term_freq

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_terms = len(_BM25_TERMS)

    # Fully fused plan (r14): ONE streamed scan carries text + lowered
    # tokens; the only other subtrees are the shared gram pipeline
    # (`_span_positions` — one explode+aggregate+probe+groupBy(doc) for
    # BOTH span families; the pre-r14 composition ran it twice with a
    # window shuffle+sort per branch) and the single-row BM25 corpus
    # statistics, both broadcast back. Every output column — base
    # stats, span profile, keep-first removal hash, BM25 — is computed
    # in one final projection, so the three per-doc joins and two extra
    # tokenizing scans of the old base ⨝ report ⨝ bm25 shape disappear
    # (whole query re-measured at sf0.1: 2.4-3.0 s warm split → 1.7 s
    # operator-fused → ~1.2 s this shape, same oracle hash).
    # ONE tokenize pass for the whole query (r15): the lowered token
    # array feeds four branches — the carried output column, BOTH sides
    # of _span_positions' probe join, and the BM25 corpus statistics.
    # Un-persisted, each branch re-ran the regex tokenizer over the
    # corpus (4 passes, ~0.2-0.5 s each at sf0.1 — most of the query's
    # warm cost). Persisting (id, text, tokens) tokenizes once; the
    # same D1 trade corpus_doc_curation makes with full text.
    toked = docs.select(
        "doc_id", "text", tokens(F.lower(t)).alias("__toks")
    ).persist()
    # hash_grams (r14, guide §2.3): the 8-word gram strings existed
    # only to be grouped and probed; hashing the 8 token fields
    # directly shuffles 8-byte longs instead of ~50-byte strings and
    # never materializes the gram text. The duplicated-position sets —
    # and every downstream span/cut/stat column — are identical unless
    # a 64-bit collision pairs two distinct grams (~N²/2⁶⁴; the
    # deterministic fixtures are collision-free, re-verified against
    # the oracle at sf0.001/0.01/0.1 after the switch).
    per_doc = _span_positions(
        toked, n=_SPAN_N, hash_grams=True, tokens_col="__toks"
    )

    stats = toked.select(
        F.size("__toks").cast("long").alias("dl"),
        *[
            _term_freq(F.col("__toks"), term).alias(f"__tf_{i}")
            for i, term in enumerate(_BM25_TERMS)
        ],
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("dl").alias("__sum_dl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(n_terms)
        ],
    )

    joined = toked.join(per_doc, "doc_id", "left").join(F.broadcast(stats))

    pl = F.coalesce(
        F.col("__pl"), F.array().cast("array<struct<pos:int,__cut:boolean>>")
    )
    toks = F.col("__toks")

    # BM25 with the exact `bm25_scores` arithmetic: idf rounded to 6
    # before the multiply, each term contribution rounded to 6, row
    # total rounded to 6; dl/tf recomputed from the carried token
    # array (identical values — lowering does not change token counts).
    n_corpus = F.col("__n").cast("double")
    avgdl = F.col("__sum_dl").cast("double") / n_corpus
    dl = F.size(toks).cast("double")
    norm = F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * dl / avgdl
    )
    contribs = []
    for i, term in enumerate(_BM25_TERMS):
        tf = _term_freq(toks, term).cast("double")
        df = F.col(f"__df_{i}").cast("double")
        idf6 = F.round(F.log((n_corpus - df + 0.5) / (df + 0.5) + 1.0), 6)
        sat = tf * F.lit(_BM25_K1 + 1.0) / (tf + norm)
        contribs.append(
            F.when(tf > 0, F.round(idf6 * sat, 6)).otherwise(F.lit(0.0))
        )
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    bm25 = F.round(
        F.when(F.size(toks) > 0, score).otherwise(F.lit(0.0)), 6
    ).alias("bm25_score")

    def derive(pl_b):
        st = _span_stat_struct(
            F.transform(pl_b, lambda x: x.getField("pos")), _SPAN_N
        )
        ranges = _cut_ranges_expr(
            F.transform(
                F.filter(pl_b, lambda x: x.getField("__cut")),
                lambda x: x.getField("pos"),
            ),
            _SPAN_N,
        )
        kept = let(ranges, lambda r: _kept_tokens(toks, r))
        return F.struct(st.alias("st"), kept.alias("kept"))

    n_tok = F.size(toks).cast("long")
    return joined.select(
        "doc_id", "text", "__toks", let(pl, derive).alias("__d"), bm25
    ).select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_calc"),
        byte_length(t).alias("n_bytes"),
        token_count(t).alias("n_tokens"),
        punct_count(t).alias("n_punct"),
        F.size(
            F.regexp_extract_all(t, F.lit(_BPE_PATTERN), F.lit(0))
        ).cast("long").alias("n_bpe_tokens"),
        F.col("__d.st.n_dup_grams").alias("n_dup_grams"),
        F.col("__d.st.n_dup_spans").alias("n_dup_spans"),
        F.col("__d.st.dup_tokens").alias("dup_tokens"),
        F.round(
            F.col("__d.st.dup_tokens")
            / F.greatest(n_tok, F.lit(1)).cast("double"),
            6,
        ).alias("dup_token_frac"),
        "bm25_score",
        F.md5(
            F.encode(F.concat_ws(" ", F.col("__d.kept")), "UTF-8")
        ).alias("span_clean_md5"),
        (F.size(toks) - F.size("__d.kept")).cast("long").alias(
            "n_removed_tokens"
        ),
    )


def _doc_profile_sql() -> str:
    """Combined oracle for the per-document profile: quality score,
    rolling-hash fingerprint, stopword-profile language guess, PII
    counts, and repetition signals."""
    from data_pipelines_spark.functions.text import (
        _ACCENT_DST,
        _ACCENT_SRC,
        EMAIL_PATTERN,
        LANG_STOPWORDS,
        PHONE_PATTERN,
    )

    hit_cols = []
    for code, words in sorted(LANG_STOPWORDS.items()):
        lst = ", ".join(f"'{w}'" for w in words)
        hit_cols.append(
            f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
            f" t -> list_contains([{lst}], t))) AS hits_{code}"
        )
    hits_sql = ",\n               ".join(hit_cols)
    codes_desc = sorted(LANG_STOPWORDS, reverse=True)
    best = ", ".join(f"hits_{c}" for c in sorted(LANG_STOPWORDS))
    case = "\n                ".join(
        f"WHEN hits_{c} = greatest({best}) THEN '{c}'" for c in codes_desc[:-1]
    )
    return rf"""
    WITH base AS (
        SELECT doc_id, lang AS labeled_lang, text,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(string_split_regex(trim(text), '\s+'))
                    END AS BIGINT) AS n_tok,
               CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                    AS BIGINT) AS n_punct,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ''),
                                      c -> CAST(ascii(c) AS BIGINT))),
                   (acc, x) -> (acc * 31 + x) % 2147483647
               ) AS fingerprint,
               CAST(len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(text, '{PHONE_PATTERN}')) AS BIGINT)
                   AS n_phones,
               list_filter(list_transform(string_split(text, chr(10)),
                                          l -> trim(l)),
                           l -> length(l) > 0) AS lines,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE string_split_regex(trim(lower(text)), '\s+')
               END AS toks,
               {hits_sql}
        FROM documents
    ),
    rep AS (
        SELECT doc_id,
               CASE WHEN len(lines) > 0
                    THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                         / len(lines)
                    ELSE 0.0 END AS dup_line_frac_raw,
               CASE WHEN len(toks) >= 2 THEN
                   list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1])
               ELSE [] END AS grams
        FROM base
    ),
    rep2 AS (
        SELECT doc_id, dup_line_frac_raw,
               CASE WHEN len(grams) > 0
                    THEN CAST(list_max(list_transform(list_distinct(grams),
                             g -> len(list_filter(grams, x -> x = g)))) AS DOUBLE)
                         / len(grams)
                    ELSE 0.0 END AS top_bigram_frac_raw
        FROM rep
    ),
    img AS (
        SELECT doc_id,
               CAST(8 + doc_id % 5 AS BIGINT) AS img_width,
               CAST(6 + doc_id % 4 AS BIGINT) AS img_height,
               list_transform(
                   string_split(
                       substr(repeat(md5(text), 4), 1,
                              CAST((8 + doc_id % 5) * (6 + doc_id % 4) AS INT)),
                       ''),
                   c -> CAST(ascii(c) AS BIGINT)) AS px
        FROM documents
    ),
    aud_hex AS (
        SELECT doc_id, repeat(md5(text), 4) AS hx FROM documents
    ),
    emb AS (
        SELECT doc_id,
               ROUND(vals[1] / norm, 6) AS emb0,
               ROUND(list_sum(list_transform(vals, x -> x / norm)), 6)
                   AS emb_sum
        FROM (
            SELECT doc_id, vals,
                   sqrt(list_sum(list_transform(vals, x -> x * x))) AS norm
            FROM (
                SELECT doc_id,
                       list_transform(
                           flatten(list_transform(range(0, 4), i ->
                               list_transform(range(0, 16), j ->
                                   (instr('0123456789abcdef',
                                          substr(md5(md5(text) || '-'
                                                     || CAST(i AS VARCHAR)),
                                                 CAST(2*j+1 AS INT), 1)) - 1)
                                   * 16
                                   + instr('0123456789abcdef',
                                           substr(md5(md5(text) || '-'
                                                      || CAST(i AS VARCHAR)),
                                                  CAST(2*j+2 AS INT), 1)) - 1
                               ))),
                           b -> b / 255.0 - 0.5) AS vals
                FROM documents
            )
        )
    ),
    vid AS (
        SELECT doc_id,
               CAST(3 + doc_id % 4 AS BIGINT) AS vid_n_samples,
               CAST((3 + doc_id % 4) * 40 AS DOUBLE) / 1000 AS vid_duration_s,
               CAST(1000 AS DOUBLE) / 40 AS vid_fps,
               CAST(8 + doc_id % 5 AS BIGINT) AS vid_w,
               md5(list_reduce(
                   list_transform(range(0, CAST(3 + doc_id % 4 AS INT)),
                                  k -> md5(text || '-' || CAST(k AS VARCHAR))),
                   (a, b) -> a || b)) AS vid_frames_md5
        FROM documents
    ),
    aud AS (
        SELECT doc_id,
               list_transform(raws,
                   k -> CASE WHEN k >= 32768 THEN k - 65536 ELSE k END) AS ks
        FROM (
            SELECT doc_id,
                   list_transform(range(0, 32), i ->
                       ((instr('0123456789abcdef', substr(hx, CAST(4*i+3 AS INT), 1)) - 1) * 16
                        + instr('0123456789abcdef', substr(hx, CAST(4*i+4 AS INT), 1)) - 1) * 256
                       + (instr('0123456789abcdef', substr(hx, CAST(4*i+1 AS INT), 1)) - 1) * 16
                       + instr('0123456789abcdef', substr(hx, CAST(4*i+2 AS INT), 1)) - 1
                   ) AS raws
            FROM aud_hex
        )
    )
    SELECT base.doc_id,
           ROUND((
               least(n_chars / 500.0, CAST(1.0 AS DOUBLE))
               + CASE WHEN n_tok > 0
                           AND n_chars / n_tok >= 3
                           AND n_chars / n_tok <= 12
                      THEN 1.0 ELSE 0.5 END
               + CASE WHEN n_chars > 0
                      THEN 1.0 - least(CAST(n_punct AS DOUBLE) / n_chars * 5.0,
                                       CAST(1.0 AS DOUBLE))
                      ELSE 0.0 END
           ) / 3.0, 6) AS quality,
           fingerprint,
           labeled_lang,
           CASE WHEN greatest({best}) = 0 THEN 'und'
                {case}
                ELSE '{codes_desc[-1]}' END AS guessed_lang,
           n_emails,
           n_phones,
           ROUND(dup_line_frac_raw, 6) AS dup_line_frac,
           ROUND(top_bigram_frac_raw, 6) AS top_bigram_frac,
           ROUND(CASE WHEN n_tok > 0
                 THEN CAST(list_sum(list_transform(toks, t -> length(t)))
                           AS DOUBLE) / n_tok
                 ELSE 0.0 END, 6) AS mean_word_len,
           ROUND(CASE WHEN n_tok > 0
                 THEN CAST(len(list_filter(toks,
                               t -> regexp_matches(t, '[A-Za-z]')))
                           AS DOUBLE) / n_tok
                 ELSE 0.0 END, 6) AS alpha_word_frac,
           (n_tok >= 50 AND n_tok <= 100000
            AND (CASE WHEN n_tok > 0
                 THEN CAST(list_sum(list_transform(toks, t -> length(t)))
                           AS DOUBLE) / n_tok ELSE 0.0 END) >= 3.0
            AND (CASE WHEN n_tok > 0
                 THEN CAST(list_sum(list_transform(toks, t -> length(t)))
                           AS DOUBLE) / n_tok ELSE 0.0 END) <= 10.0
            AND (CASE WHEN n_tok > 0 THEN
                 CAST(length(text) - length(replace(text, '#', ''))
                      + (length(text) - length(replace(text, '...', ''))) / 3
                      AS DOUBLE) / n_tok ELSE 0.0 END) <= 0.1
            AND (CASE WHEN n_tok > 0
                 THEN CAST(len(list_filter(toks,
                               t -> regexp_matches(t, '[A-Za-z]')))
                           AS DOUBLE) / n_tok ELSE 0.0 END) >= 0.8
            AND (CASE WHEN len(lines) > 0
                 THEN CAST(len(list_filter(lines,
                               l -> substr(l, 1, 1) IN ('-', '*', '•')))
                           AS DOUBLE) / len(lines) ELSE 0.0 END) <= 0.9
            AND (CASE WHEN len(lines) > 0
                 THEN CAST(len(list_filter(lines,
                               l -> l LIKE '%...' OR l LIKE '%…'))
                           AS DOUBLE) / len(lines) ELSE 0.0 END) <= 0.3
            AND hits_en >= 2) AS passes_gopher,
           md5(regexp_replace(
                   regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
                   '{PHONE_PATTERN}', '<PHONE>', 'g')) AS redacted_md5,
           md5(trim(regexp_replace(translate(replace(replace(replace(
                   translate(lower(text), '{_ACCENT_SRC}', '{_ACCENT_DST}'),
                   'æ', 'ae'), 'œ', 'oe'), 'ß', 'ss'),
                   '123456789', '000000000'), '\\s+', ' ', 'g')))
               AS ccnet_md5,
           img.img_width,
           img.img_height,
           ROUND(CAST(list_sum(img.px) AS DOUBLE) / len(img.px), 6) AS img_mean,
           CAST(list_sum(img.px) AS BIGINT) AS img_px_sum,
           CAST(list_sum(flatten(list_transform(range(0, 3), y ->
               list_transform(range(0, 4), x ->
                   img.px[CAST(least(y * img.img_height // 3,
                                     img.img_height - 1) * img.img_width
                               + least(x * img.img_width // 4,
                                       img.img_width - 1) + 1 AS INT)]))))
                AS BIGINT) AS img_resized_sum,
           emb.emb0,
           emb.emb_sum,
           CAST(8000 AS BIGINT) AS aud_rate,
           ROUND(sqrt(list_sum(list_transform(aud.ks,
                     k -> (k * k) / 1073741824.0)) / 32), 6) AS aud_rms,
           ROUND(CAST(len(list_filter(range(1, 32), i ->
                     (CASE WHEN aud.ks[CAST(i AS INT)] > 0 THEN 1
                           WHEN aud.ks[CAST(i AS INT)] < 0 THEN -1 ELSE 0 END)
                     <> (CASE WHEN aud.ks[CAST(i+1 AS INT)] > 0 THEN 1
                              WHEN aud.ks[CAST(i+1 AS INT)] < 0 THEN -1 ELSE 0 END)))
                 AS DOUBLE) / 31, 6) AS aud_zcr,
           vid.vid_n_samples,
           vid.vid_duration_s,
           vid.vid_fps,
           vid.vid_w,
           vid.vid_frames_md5
    FROM base
    JOIN rep2 ON base.doc_id = rep2.doc_id
    JOIN img ON base.doc_id = img.doc_id
    JOIN aud ON base.doc_id = aud.doc_id
    JOIN emb ON base.doc_id = emb.doc_id
    JOIN vid ON base.doc_id = vid.doc_id
    """


@register("doc_profile", _doc_profile_sql())
def doc_profile(spark, sf_dir):
    """Per-document profile in one pass: heuristic quality score
    (length / token-shape / punctuation terms), polynomial rolling-hash
    fingerprint (base 31 mod 2^31-1, native aggregate() over the char
    array), stopword-profile language ID next to the labeled lang
    column (tie-break: most hits wins; equal hits → lexicographically
    larger code, mirrored by the descending CASE chain in the oracle),
    PII detection counts (email/phone regex, RE2-compatible dialect)
    plus the normalization key (``ccnet_md5`` digests the
    `functions.text.ccnet_normalize` output — the CCNet dedup-key
    transform, accent fold replayed via the same translate table in
    SQL) and the REDACTION output itself (``redacted_md5`` digests the
    scrubbed text, so sentinel placement — not just match counts — is
    hash-checked),
    and Gopher-style repetition signals (duplicate-line fraction,
    top-bigram fraction), plus the Gopher rule-based gate (Rae et al.
    2021): mean word length, alphabetic-word fraction, and the fused
    pass/fail boolean over word-count / word-shape / symbol-ratio /
    bullet / ellipsis / stopword rules. Merges the former
    doc_quality_scores / doc_fingerprints / lang_guess_docs queries so
    the driver sweep covers every registry entry; each column remains
    individually oracle-checked. The text-signal tier is one narrow
    projection (native expressions over the row); the multimodal tier
    below adds three mapInPandas decode stages joined back on doc_id —
    deliberately separate pipelines so the decode kernels run exactly
    as a real media table would drive them.

    The ``img_*`` columns drive the REAL multimodal decode path through
    the hash gate: each doc is deterministically rendered as a P5 PGM
    payload (header + md5-hex-derived pixel bytes, doc-dependent
    dimensions), decoded by `operators.multimodal.image_stats`'s
    Arrow-batched mapInPandas (header parse + numpy frombuffer — the
    same kernel the binary-file tier uses), and the decoded dimensions,
    mean intensity, and exact pixel sum are checked against the oracle
    computing them straight from the construction. A mis-parse of the
    header, offset, or buffer shape breaks the hash. The pixel sum is
    integer-exact; the mean divides an exact integer sum, so both
    engines see the identical double. ``img_resized_sum`` goes further:
    decode -> REAL nearest-neighbor resize to 4x3 -> P5 re-encode
    (`operators.multimodal.resize_images`) -> decode AGAIN -> exact
    pixel sum, with the oracle replaying the index sampling on the
    constructed pixels — the full image roundtrip behind one integer.

    The ``emb0``/``emb_sum`` columns drive the REAL batched-inference
    path (`operators.inference.embed_texts` -> `batch_infer`:
    mapInPandas, model constructed once per partition) through the
    hash gate: the deterministic stub encoder chains VARCHAR md5
    draws (hex-digest counter mode), so the oracle replays the whole
    draw -> l2-normalize pipeline in SQL and the first component and
    component sum of every document's embedding must match
    BIT-FOR-BIT (every operation is the same IEEE sequence in both
    engines; ROUND(.,6) is belt-and-braces, not tolerance).

    The ``aud_*`` columns do the same for audio: each doc becomes a
    PCM16 mono WAV (constant 44-byte header + 32 md5-hex-derived
    little-endian samples, assembled with to_binary(.., 'hex')),
    decoded by `operators.multimodal.audio_features`' real stdlib-wave
    kernel; the sample rate read from the header, the RMS, and the
    zero-crossing rate are hash-checked against the oracle re-deriving
    the samples from the hex. Every RMS term is a dyadic rational
    (k^2 / 2^30) and the sums stay under 2^53, so the doubles are
    bit-identical across engines — no tolerance needed."""
    from data_pipelines_spark.functions.text import (
        alpha_word_fraction,
        duplicate_line_fraction,
        email_count,
        lang_guess,
        mean_word_length,
        passes_gopher_rules,
        phone_count,
        redact_pii,
        top_ngram_fraction,
    )
    from data_pipelines_spark.operators.inference import embed_texts
    from data_pipelines_spark.operators.multimodal import (
        audio_features,
        image_stats,
        resize_images,
    )

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    w = (F.lit(8) + F.col("doc_id") % 5).cast("int")
    h = (F.lit(6) + F.col("doc_id") % 4).cast("int")
    pix = F.repeat(F.md5(F.encode(F.col("text"), "UTF-8")), 4).substr(
        F.lit(1), w * h
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.concat(
                F.lit("P5\n"),
                w.cast("string"),
                F.lit(" "),
                h.cast("string"),
                F.lit("\n255\n"),
                pix,
            ),
            "UTF-8",
        ).alias("content"),
    )
    img = image_stats(media).select(
        F.col("media_id").alias("doc_id"),
        F.col("width").cast("long").alias("img_width"),
        F.col("height").cast("long").alias("img_height"),
        F.round("mean_intensity", 6).alias("img_mean"),
        F.round(
            F.col("mean_intensity")
            * F.col("width")
            * F.col("height")
            * F.col("channels")
        )
        .cast("long")
        .alias("img_px_sum"),
    )
    img2 = image_stats(resize_images(media, 4, 3)).select(
        F.col("media_id").alias("doc_id"),
        F.round(F.col("mean_intensity") * 12)
        .cast("long")
        .alias("img_resized_sum"),
    )
    # PCM16 mono 8 kHz WAV, 32 samples: constant header, md5-derived
    # little-endian sample bytes (128 hex chars = 64 bytes = 32 samples).
    wav_header = (
        "52494646" "64000000" "57415645" "666d7420" "10000000"
        "0100" "0100" "401f0000" "803e0000" "0200" "1000"
        "64617461" "40000000"
    )
    wav_media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.to_binary(
            F.concat(
                F.lit(wav_header),
                F.repeat(F.md5(F.encode(F.col("text"), "UTF-8")), 4),
            ),
            F.lit("hex"),
        ).alias("content"),
    )
    aud = audio_features(wav_media).select(
        F.col("media_id").alias("doc_id"),
        F.col("sample_rate").cast("long").alias("aud_rate"),
        F.round("rms", 6).alias("aud_rms"),
        F.round("zero_crossing_rate", 6).alias("aud_zcr"),
    )
    emb = embed_texts(docs, dim=64).select(
        "doc_id",
        F.round(F.col("embedding").getItem(0), 6).alias("emb0"),
        F.round(
            F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("emb_sum"),
    )
    # vid_* tier: each doc becomes a real single-track MP4 whose
    # samples are the ASCII md5 hex of (text || '-' || k), chunked 2
    # per stco entry so the parse genuinely walks the stsc/stco/stsz
    # mapping. video_metadata drives the container parse; the demuxed
    # frame payloads are re-concatenated in sample order and digested,
    # so a wrong offset, size, or ordering breaks the hash. duration
    # and fps are exact in both engines ((n*40)/1000 and 1000/40.0 are
    # the same IEEE divisions the oracle performs).
    import hashlib as _hashlib

    import pandas as _pd

    from data_pipelines_spark.operators.mp4 import (
        encode_mp4,
        sample_frames_mp4,
        video_metadata,
    )

    def _build_mp4(batches):
        for pdf in batches:
            out = {"media_id": [], "content": []}
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                n = int(3 + did % 4)
                samples = [
                    _hashlib.md5(f"{text}-{k}".encode()).hexdigest().encode()
                    for k in range(n)
                ]
                out["media_id"].append(did)
                out["content"].append(
                    encode_mp4(
                        samples,
                        width=int(8 + did % 5),
                        height=6,
                        samples_per_chunk=2,
                    )
                )
            yield _pd.DataFrame(out)

    mp4_media = docs.select("doc_id", "text").mapInPandas(
        _build_mp4, "media_id long, content binary"
    )
    vmeta = video_metadata(mp4_media).select(
        F.col("media_id").alias("doc_id"),
        F.col("n_samples").cast("long").alias("vid_n_samples"),
        F.col("duration_s").alias("vid_duration_s"),
        F.col("fps").alias("vid_fps"),
        F.col("width").cast("long").alias("vid_w"),
    )
    vframes = sample_frames_mp4(mp4_media, num_frames=6).select(
        F.col("media_id").alias("doc_id"),
        "frame_no",
        F.decode("frame", "UTF-8").alias("ftxt"),
    )
    vdigest = vframes.groupBy("doc_id").agg(
        F.md5(
            F.encode(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("frame_no", "ftxt"))
                        ),
                        lambda s: s.getField("ftxt"),
                    ),
                    "",
                ),
                "UTF-8",
            )
        ).alias("vid_frames_md5")
    )
    vid = vmeta.join(vdigest, "doc_id")
    profile = docs.select(
        "doc_id",
        quality_score(F.col("text")).alias("quality"),
        rolling_fingerprint(F.col("text")).alias("fingerprint"),
        F.col("lang").alias("labeled_lang"),
        lang_guess(F.col("text")).alias("guessed_lang"),
        email_count(F.col("text")).alias("n_emails"),
        phone_count(F.col("text")).alias("n_phones"),
        F.round(duplicate_line_fraction(F.col("text")), 6).alias("dup_line_frac"),
        F.round(top_ngram_fraction(F.col("text"), 2), 6).alias("top_bigram_frac"),
        F.round(mean_word_length(F.col("text")), 6).alias("mean_word_len"),
        F.round(alpha_word_fraction(F.col("text")), 6).alias("alpha_word_frac"),
        passes_gopher_rules(F.col("text")).alias("passes_gopher"),
        F.md5(F.encode(redact_pii(F.col("text")), "UTF-8"))
        .alias("redacted_md5"),
        F.md5(F.encode(ccnet_normalize(F.col("text")), "UTF-8"))
        .alias("ccnet_md5"),
    )
    return (
        profile.join(img, "doc_id")
        .join(img2, "doc_id")
        .join(aud, "doc_id")
        .join(emb, "doc_id")
        .join(vid, "doc_id")
    )


@register(
    "embedding_cosine_topk",
    """
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
        SELECT e.vec_id,
               list_dot_product(e.embedding::DOUBLE[], q.qvec)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qvec, q.qvec))) AS cosine_raw
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, ROUND(cosine_raw, 6) AS cosine
    FROM scored
    ORDER BY cosine_raw DESC, vec_id ASC
    LIMIT 10
    """,
)
def embedding_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k against vec_id=0 — the exact ANN
    baseline (native zip_with/aggregate arithmetic, broadcast query)."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    return brute_force_topk(emb.where(F.col("vec_id") != 0), query, k=10)


def _planes_sql(num_planes: int = 4, dim: int = 64, seed: int = 42) -> str:
    """SQL expression computing the hyperplane-LSH bucket id for a
    DOUBLE[] column named ``v`` — the plane coefficients are the SAME
    deterministic numpy draw the Spark operator uses, embedded as list
    literals, so bucket assignment matches bit-for-bit."""
    from data_pipelines_spark.operators.similarity import random_hyperplanes

    planes = random_hyperplanes(dim, num_planes, seed)
    bits = [
        f"(CASE WHEN list_dot_product(v, "
        f"[{', '.join(repr(float(x)) for x in plane)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    ]
    return " + ".join(bits)


_NEAR_DUP_SQL = f"""
    WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               {_planes_sql()} AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, c.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE list_dot_product(a.v, c.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(c.v, c.v))) >= 0.3
"""


_NGRAM_SQL = """
    WITH sh AS (
        SELECT doc_id, source,
               list_distinct(list_transform(
                   range(1, greatest(length(text) - 2, 1) + 1),
                   i -> substr(lower(text), i, 3))) AS shingles
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(
               CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))),
               6) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))) >= 0.5
"""


@register(
    "near_dup_pair_suite",
    f"""
    SELECT 'ngram3' AS method, doc_a AS id_a, doc_b AS id_b,
           jaccard AS score
    FROM ({_NGRAM_SQL})
    UNION ALL
    SELECT 'cos_lsh', vec_a, vec_b, cosine FROM ({_NEAR_DUP_SQL})
    """,
)
def near_dup_pair_suite(spark, sf_dir):
    """Two near-duplicate pair tiers fused at the common (method, id_a,
    id_b, score) grain — fusing frees a driver-sweep slot for the
    incremental-dedup entry while keeping each tier's own hash check
    (the method tag keeps their rows distinguishable in the hash):

    - ``ngram3``: exact character-3-gram Jaccard over candidate pairs
      blocked by `source` — the verification stage of the dedup stack,
      with the blocking key standing in for LSH buckets.
    - ``cos_lsh``: embedding-cosine near-duplicate pairs within seeded
      random-hyperplane LSH buckets; the oracle embeds the SAME planes
      as SQL list literals, so bucketing, pairing, and cosine all
      reproduce exactly."""
    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ngram = ngram_jaccard_pairs(
        docs, shingle_k=3, threshold=0.5, bucket_col="source"
    ).select(
        F.lit("ngram3").alias("method"),
        F.col("doc_a").cast("long").alias("id_a"),
        F.col("doc_b").cast("long").alias("id_b"),
        F.col("jaccard").alias("score"),
    )
    cos = embedding_near_duplicates(
        emb, dim=64, threshold=0.3, num_planes=4
    ).select(
        F.lit("cos_lsh").alias("method"),
        F.col("vec_a").cast("long").alias("id_a"),
        F.col("vec_b").cast("long").alias("id_b"),
        F.col("cosine").alias("score"),
    )
    return ngram.unionByName(cos)


_KNN_SEED_MIN = 20  # vec_id >= this plays the labeled seed set
_KNN_K = 5

_LSH_TOPK_SQL = f"""
    WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               {_planes_sql()} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < 5),
    c AS (SELECT vec_id AS rid, v AS rv, bucket FROM b WHERE vec_id >= 5),
    scored AS (
        SELECT q.qid, c.rid,
               list_dot_product(q.qv, c.rv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.rv, c.rv))) AS cosine_raw
        FROM q JOIN c USING (bucket)
    ),
    ranked AS (
        SELECT qid, rid, cosine_raw,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine_raw DESC, rid) AS rank
        FROM scored
    ),
    knn AS (
        SELECT qv.vec_id AS qid, lv.label,
               list_dot_product(qv.embedding::DOUBLE[], lv.embedding::DOUBLE[])
               / (sqrt(list_dot_product(qv.embedding::DOUBLE[], qv.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(lv.embedding::DOUBLE[], lv.embedding::DOUBLE[])))
                   AS cos_raw,
               row_number() OVER (
                   PARTITION BY qv.vec_id
                   ORDER BY list_dot_product(qv.embedding::DOUBLE[], lv.embedding::DOUBLE[])
                            / (sqrt(list_dot_product(qv.embedding::DOUBLE[], qv.embedding::DOUBLE[]))
                               * sqrt(list_dot_product(lv.embedding::DOUBLE[], lv.embedding::DOUBLE[])))
                            DESC, lv.vec_id ASC
               ) AS rk
        FROM embeddings qv JOIN embeddings lv
          ON qv.vec_id < {_KNN_SEED_MIN} AND lv.vec_id >= {_KNN_SEED_MIN}
        WHERE list_dot_product(qv.embedding::DOUBLE[], qv.embedding::DOUBLE[]) > 0
          AND list_dot_product(lv.embedding::DOUBLE[], lv.embedding::DOUBLE[]) > 0
    ),
    votes AS (
        SELECT qid, label,
               count(*) AS n_votes,
               sum(CAST(round(cos_raw, 6) AS DECIMAL(18,6))) AS wt
        FROM knn WHERE rk <= {_KNN_K}
        GROUP BY qid, label
    ),
    pred AS (
        SELECT qid, label, n_votes, wt,
               row_number() OVER (
                   PARTITION BY qid
                   ORDER BY n_votes DESC, wt DESC, label ASC
               ) AS rk
        FROM votes
    ),
    exact_knn AS (
        SELECT qv.vec_id AS qid, cv.vec_id AS rid,
               row_number() OVER (
                   PARTITION BY qv.vec_id
                   ORDER BY list_dot_product(qv.embedding::DOUBLE[], cv.embedding::DOUBLE[])
                            / (sqrt(list_dot_product(qv.embedding::DOUBLE[], qv.embedding::DOUBLE[]))
                               * sqrt(list_dot_product(cv.embedding::DOUBLE[], cv.embedding::DOUBLE[])))
                            DESC, cv.vec_id ASC
               ) AS rk
        FROM embeddings qv JOIN embeddings cv
          ON qv.vec_id < 5 AND cv.vec_id >= 5
        WHERE list_dot_product(qv.embedding::DOUBLE[], qv.embedding::DOUBLE[]) > 0
          AND list_dot_product(cv.embedding::DOUBLE[], cv.embedding::DOUBLE[]) > 0
    ),
    recall AS (
        SELECT e.qid,
               count(*) AS n_exact,
               sum(CASE WHEN a.rid IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        FROM (SELECT qid, rid FROM exact_knn WHERE rk <= 10) e
        LEFT JOIN (SELECT qid, rid FROM ranked WHERE rank <= 10) a
          ON e.qid = a.qid AND e.rid = a.rid
        GROUP BY e.qid
    )
    SELECT 'lsh_topk' AS method, left_vec_id AS qid, right_vec_id AS aux,
           cosine AS score, rank AS n
    FROM (
        SELECT qid AS left_vec_id, rid AS right_vec_id,
               ROUND(cosine_raw, 6) AS cosine, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 10
    )
    UNION ALL
    SELECT 'knn_pred' AS method, qid, CAST(label AS BIGINT) AS aux,
           CAST(wt AS DOUBLE) AS score, CAST(n_votes AS BIGINT) AS n
    FROM pred WHERE rk = 1
    UNION ALL
    SELECT 'recall' AS method, qid, CAST(n_hit AS BIGINT) AS aux,
           ROUND(CAST(n_hit AS DOUBLE) / n_exact, 6) AS score,
           CAST(n_exact AS BIGINT) AS n
    FROM recall
    UNION ALL
    -- reciprocal rank fusion of the LSH and exact top-10 lists:
    -- score = sum over lists of 1/(60+rank), contributions summed as
    -- DECIMAL(38,18) of the IEEE division (associative, engine-exact),
    -- fused top-5 per query, ties by neighbor id
    SELECT 'rrf' AS method, qid, CAST(rid AS BIGINT) AS aux,
           ROUND(CAST(s AS DOUBLE), 9) AS score, CAST(frk AS BIGINT) AS n
    FROM (
        SELECT qid, rid, s,
               row_number() OVER (
                   PARTITION BY qid ORDER BY s DESC, rid ASC
               ) AS frk
        FROM (
            SELECT qid, rid,
                   SUM(CAST(CAST(1.0 AS DOUBLE) / (60 + r)
                            AS DECIMAL(38,18))) AS s
            FROM (
                SELECT qid, rid, rank AS r FROM ranked WHERE rank <= 10
                UNION ALL
                SELECT qid, rid, rk FROM exact_knn WHERE rk <= 10
            )
            GROUP BY 1, 2
        )
    )
    WHERE frk <= 5
"""


@register("embedding_lsh_topk", _LSH_TOPK_SQL)
def embedding_lsh_topk(spark, sf_dir):
    """Embedding-retrieval suite, method-tagged at the common
    (method, qid, aux, score, n) grain:

    - ``lsh_topk`` — approximate k-NN JOIN via random-hyperplane
      buckets, the 100 TB batch-retrieval path
      (`operators/similarity.py:knn_join`): the first five vectors each
      retrieve their top-10 among bucket-sharing candidates in ONE plan
      (bucket equi join + per-query row_number over bucket-sized
      candidate sets — never all-pairs; the former single-query
      `lsh_bucketed_topk` grain is the qid=0 slice). The oracle embeds
      the SAME seeded planes as SQL list literals, so bucketing,
      candidate sets, cosines, and ranks reproduce exactly. ``aux`` is
      the neighbor id, ``n`` the rank.
    - ``knn_pred`` — k-NN label propagation
      (`operators.similarity.knn_classify`, method='exact'): every
      query vector (vec_id < 20) inherits the majority label of its 5
      nearest labeled seeds (vec_id >= 20) — the embedding-space
      quality-classifier step (label a curated seed set, the corpus
      inherits labels from geometry). ``aux`` is the predicted label,
      ``score`` the winner's DECIMAL-summed cosine weight, ``n`` its
      vote count; the oracle replays the exact neighbor ranking, the
      vote, and the (n_votes, weight, label) tie-break. The exact path
      broadcasts the seed and takes per-query top-k as a map-side
      collect_list/array_sort aggregation — shuffle volume is one
      k-sized row per query, never the query x seed pair stream.
    - ``recall`` — the ANN QA metric (`operators.similarity.
      recall_at_k`): per-query recall of the ``lsh_topk`` result
      against the exact top-10 baseline (`exact_knn_join` over the
      same query/candidate split). ``aux`` is the hit count, ``n`` the
      exact-neighbor count, ``score`` the recall; the oracle recomputes
      the exact ranking all-pairs and replays the hit join, so both the
      diagnostic arithmetic AND the exact-baseline operator are
      hash-checked.
    - ``rrf`` — hybrid-retrieval fusion (`operators.ranking.
      reciprocal_rank_fusion`, Cormack/Clarke/Buettcher SIGIR 2009):
      the LSH and exact top-10 lists fused per query by
      Σ 1/(60+rank), contributions DECIMAL-summed for engine-exact
      associativity, fused top-5 kept. ``aux`` is the neighbor id,
      ``score`` the rounded RRF score, ``n`` the fused rank; the
      oracle replays the union, the decimal sum, and the tie-break.
    """
    from data_pipelines_spark.operators.similarity import (
        exact_knn_join,
        knn_classify,
        knn_join,
        recall_at_k,
    )

    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    topk = knn_join(
        emb.where(F.col("vec_id") < 5),
        emb.where(F.col("vec_id") >= 5),
        k=10,
        dim=64,
        num_planes=4,
    )
    pred = knn_classify(
        emb.where(F.col("vec_id") < _KNN_SEED_MIN),
        emb.where(F.col("vec_id") >= _KNN_SEED_MIN),
        k=_KNN_K,
    )
    exact = exact_knn_join(
        emb.where(F.col("vec_id") < 5),
        emb.where(F.col("vec_id") >= 5),
        k=10,
    )
    rec = recall_at_k(topk, exact).select(
        F.lit("recall").alias("method"),
        F.col("left_vec_id").alias("qid"),
        F.col("n_hit").alias("aux"),
        F.col("recall").alias("score"),
        F.col("n_exact").alias("n"),
    )
    from data_pipelines_spark.operators.ranking import reciprocal_rank_fusion

    rrf = reciprocal_rank_fusion(
        [topk, exact],
        query_cols=["left_vec_id"],
        id_cols=["right_vec_id"],
        rank_col="rank",
        k=60,
        top_n=5,
    ).select(
        F.lit("rrf").alias("method"),
        F.col("left_vec_id").alias("qid"),
        F.col("right_vec_id").cast("long").alias("aux"),
        F.round(F.col("rrf_score"), 9).alias("score"),
        F.col("rank").cast("long").alias("n"),
    )
    return topk.select(
        F.lit("lsh_topk").alias("method"),
        F.col("left_vec_id").alias("qid"),
        F.col("right_vec_id").cast("long").alias("aux"),
        F.col("cosine").alias("score"),
        F.col("rank").alias("n"),
    ).unionByName(
        pred.select(
            F.lit("knn_pred").alias("method"),
            F.col("vec_id").alias("qid"),
            F.col("pred_label").cast("long").alias("aux"),
            F.col("vote_weight").alias("score"),
            F.col("n_votes").alias("n"),
        )
    ).unionByName(rec).unionByName(rrf)


def _minhash_oracle_sql(num_hashes: int = 64, num_bands: int = 16, k: int = 5,
                        threshold: float = 0.5) -> str:
    """Build the exact SQL twin of the portable MinHash pipeline: char
    shingles → md5-derived 32-bit hashes → universal-hash minima → band
    keys → candidate pairs → signature-estimated Jaccard."""
    from data_pipelines_spark.operators.dedup import _hash_params

    r = num_hashes // num_bands
    hash_exprs = ",\n               ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % 2147483647))"
        for a, b in _hash_params(num_hashes)
    )
    band_key = " || ',' || ".join(
        f"CAST(sig[band * {r} + {j + 1}] AS VARCHAR)" for j in range(r)
    )
    return f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(length(text) - {k - 1}, 1) + 1),
                   i -> substr(lower(text), i, {k}))) AS s
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               list_transform(s, sg -> list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(substr(md5(sg), 1, 8), ''),
                                      c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))),
                   (a, x) -> a * 16 + x)) AS hs
        FROM sh
    ),
    sigs AS (
        SELECT doc_id,
               [{hash_exprs}] AS sig
        FROM hashed
    ),
    buckets AS (
        SELECT doc_id, band, {band_key} AS key
        FROM sigs, range(0, {num_bands}) t(band)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM buckets a
        JOIN buckets b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT doc_a, doc_b,
               CAST(len(list_filter(range(1, {num_hashes + 1}),
                                    i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
               / {num_hashes} AS est
        FROM cand
        JOIN sigs sa ON sa.doc_id = cand.doc_a
        JOIN sigs sb ON sb.doc_id = cand.doc_b
    )
    SELECT doc_a, doc_b, ROUND(est, 6) AS est_jaccard
    FROM pairs WHERE est >= {threshold}
    """


# The portable-minhash pipeline is the `minhash_est` tier of
# `portable_hash_suite` (below, after the simhash oracle helper) —
# fused with the portable simhash to free a driver-sweep slot for
# `raster_roundtrip`.


def _pagerank_oracle_sql(iterations: int = 2, damping: float = 0.85) -> str:
    """Unrolled-iteration DuckDB twin of `operators.graph.pagerank`
    portable mode over the customer→nation link graph: per-edge
    contributions round(·,12)→DECIMAL(38,12) (order-free integer
    sums), dangling mass as the same decimal sum cast to DOUBLE (the
    operator's driver-side `float(...)`), new rank re-rounded to 12 —
    expression for expression, so every value matches bit-for-bit."""
    prev = "r0"
    iters = []
    for i in range(1, iterations + 1):
        iters.append(f"""
    c{i} AS (
        SELECT e.dst AS node,
               SUM(CAST(round(r.rank / d.out_deg, 12)
                        AS DECIMAL(38,12))) AS contrib
        FROM {prev} r
        JOIN e0 e ON r.node = e.src
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    ),
    d{i} AS (
        SELECT CAST(COALESCE(SUM(CAST(round(rank, 12) AS DECIMAL(38,12))),
                             0) AS DOUBLE) AS mass
        FROM {prev} WHERE node NOT IN (SELECT src FROM deg)
    ),
    r{i} AS (
        SELECT n.node,
               round((1.0 - {damping}) / p.n
                     + {damping} * (COALESCE(CAST(c.contrib AS DOUBLE), 0.0)
                                    + d{i}.mass / p.n), 12) AS rank
        FROM nodes n
        LEFT JOIN c{i} c ON n.node = c.node, params p, d{i}
    )""")
        prev = f"r{i}"
    return f"""
    e0 AS (
        SELECT DISTINCT c_custkey AS src,
               CAST(2000000 + c_nationkey AS BIGINT) AS dst
        FROM customer
    ),
    nodes AS (
        -- set-op wrapped in a subquery: this rides inside the cluster
        -- tier's WITH RECURSIVE, where a top-level UNION CTE would get
        -- recursive anchor/step semantics (observed in DuckDB: 300
        -- rows instead of 175)
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0
        )
    ),
    deg AS (SELECT src, COUNT(*) AS out_deg FROM e0 GROUP BY src),
    params AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / p.n AS rank FROM nodes, params p),
    {",".join(iters)}
    """


_CLUSTERS_SQL = f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle_sql()}),
    sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
    ),
    {_pagerank_oracle_sql()}
    SELECT 'cluster' AS method, a AS node, CAST(min(b) AS DOUBLE) AS value
    FROM reach GROUP BY a
    UNION ALL
    SELECT 'pagerank' AS method, node, rank AS value FROM r2
"""


@register("dedup_clusters", _CLUSTERS_SQL)
def dedup_clusters(spark, sf_dir):
    """The iterative-graph family end-to-end, both algorithms checked
    against exact SQL:

    - ``cluster`` tier: portable minhash pairs → connected components
      (min-label propagation, `operators.dedup.duplicate_clusters`) →
      cluster assignment per doc; oracle = the same pairs through a
      recursive CTE computing each node's minimum reachable id.
    - ``pagerank`` tier (r9): `operators.graph.pagerank` portable mode,
      2 iterations, over the customer→nation link graph (natural hub
      concentration; nation nodes are dangling, exercising the
      dangling-mass redistribution every round). Oracle = the
      iterations unrolled in SQL with the identical round(·,12) /
      DECIMAL(38,12) arithmetic, so ranks match bit-for-bit.

    Common grain ``(method, node, value)``; cluster ids are exact in
    DOUBLE (< 2^53)."""
    from data_pipelines_spark.operators.dedup import duplicate_clusters
    from data_pipelines_spark.operators.graph import pagerank

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5, portable=True)
    clusters = duplicate_clusters(docs, pairs).select(
        F.lit("cluster").alias("method"),
        F.col("doc_id").alias("node"),
        F.col("cluster_id").cast("double").alias("value"),
    )

    cust = load_table(spark, sf_dir, "customer")
    edges = cust.select(
        F.col("c_custkey").alias("src"),
        (F.lit(2000000) + F.col("c_nationkey")).cast("long").alias("dst"),
    )
    if edges.isEmpty():
        # pagerank() raises loudly on an empty graph (right for real
        # callers); the suite contract is that empty tables yield empty
        # tiers — mirror the oracle, which emits zero rows from r2.
        pr = spark.createDataFrame(
            [], "method string, node long, value double"
        )
    else:
        pr = pagerank(edges, iterations=2, portable=True).select(
            F.lit("pagerank").alias("method"),
            F.col("node"),
            F.col("rank").alias("value"),
        )
    return clusters.unionByName(pr)


def _minhash_verified_sql(shingle_k: int = 5, threshold: float = 0.5) -> str:
    """Oracle for the fast-path pair set: derive candidate pairs
    through the md5-portable pipeline, recompute each pair's exact
    k-gram Jaccard, and apply the decision threshold on the EXACT
    value. The final filter is what makes the entry sketch-independent:
    both deterministic sketches (xxhash64-OPH on the Spark side,
    md5-universal here) recall every true >=threshold pair —
    brute-forced ground truth on the driver corpora puts every true
    pair at exact Jaccard >= 0.83 (sf0.1; >= 0.928 at sf0.01), where
    16x4 banding misses with probability <= ~3e-5 per sketch, and the
    nearest NON-pair sits at 0.375, a clean gap below the 0.5
    threshold — and each sketch's borderline FALSE positives (est >=
    0.5 on docs whose exact overlap is < 0.3; observed from OPH at
    sf0.1) die on the exact filter instead of making the output hash
    estimator-dependent. Equality of the two pipelines' VERIFIED sets
    is asserted across SFs in tests/test_dedup.py."""
    return f"""
    WITH sh5 AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(length(text) - {shingle_k - 1}, 1) + 1),
                   i -> substr(lower(text), i, {shingle_k}))) AS s
        FROM documents
    )
    SELECT * FROM (
        SELECT p.doc_a, p.doc_b,
               ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))),
                     6) AS exact_jaccard
        FROM ({_minhash_oracle_sql()}) p
        JOIN sh5 a ON a.doc_id = p.doc_a
        JOIN sh5 b ON b.doc_id = p.doc_b
    ) WHERE exact_jaccard >= {threshold}
    """


@register("minhash_near_dup_pairs", _minhash_verified_sql())
def minhash_near_dup_pairs(spark, sf_dir):
    """MinHash+LSH near-duplicate pairs via the FAST path (xxhash64
    one-permutation hashing), exact-verified AND exact-thresholded:
    each discovered pair is confirmed with true 5-gram Jaccard and kept
    only at exact >= 0.5 — the full sketch-then-verify dedup contract.
    The final exact filter makes the emitted set independent of which
    sketch found the candidates (see _minhash_verified_sql), so the
    pair set and values hash-match the oracle's portable-hash pipeline
    at ANY corpus size, not just the driver's sf. The OPH estimator's
    internals are unit-tested on planted near-duplicates in
    tests/test_dedup.py."""
    from data_pipelines_spark.operators.dedup import verify_pairs_exact

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    # single_scan: pairs are distinct and doc_ids unique, so the verify
    # stage reads the corpus once instead of once per pair side.
    return verify_pairs_exact(
        docs, pairs, broadcast_pairs=True, min_jaccard=0.5, single_scan=True
    )


@register(
    "incremental_near_dup",
    f"""
    WITH verified AS ({_minhash_verified_sql()})
    SELECT CASE WHEN doc_a % 7 = 3 THEN doc_a ELSE doc_b END AS doc_a,
           CASE WHEN doc_a % 7 = 3 THEN doc_b ELSE doc_a END AS doc_b,
           exact_jaccard
    FROM verified
    WHERE doc_a % 7 = 3 OR doc_b % 7 = 3
    """,
)
def incremental_near_dup(spark, sf_dir):
    """Batch-vs-corpus incremental dedup (the production ingest shape:
    the corpus is history whose signatures are already stored; the
    batch is one day): docs with ``doc_id % 7 == 3`` are the new batch,
    the rest the stored corpus. The batch's pairs — against the corpus
    AND against itself, with corpus-corpus pairs excluded by
    construction — are exact-verified and exact-thresholded at 0.5,
    which makes the output sketch-independent (same argument as
    ``minhash_near_dup_pairs``). The oracle replays the restriction
    declaratively: the FULL verified near-dup pair set filtered to
    pairs touching a batch doc, reoriented so doc_a is the batch doc
    (both-batch pairs keep doc_a < doc_b), which is exactly the
    incremental contract — equality proven against a full run in
    tests/test_dedup.py."""
    from data_pipelines_spark.operators.dedup import (
        incremental_near_duplicates,
        minhash_signatures,
        verify_pairs_exact,
    )

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 7 == 3
    batch = docs.where(is_batch)
    corpus_sigs = minhash_signatures(docs.where(~is_batch))
    # Every branch of the pair plan derives the batch signatures; this
    # persisted twin of that subtree serves them all (see
    # incremental_near_duplicates).
    minhash_signatures(batch).persist()
    pairs, _sigs = incremental_near_duplicates(
        batch, corpus_sigs, jaccard_threshold=0.5
    )
    return verify_pairs_exact(
        docs, pairs.select("doc_a", "doc_b"),
        broadcast_pairs=True, min_jaccard=0.5, single_scan=True,
    )


def _simhash_oracle_sql(bits: int = 60) -> str:
    """SQL twin of the portable SimHash: md5-derived 60-bit token
    hashes, per-bit +1/-1 sums, sign bits packed into a BIGINT."""
    bit_sums = ",\n               ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    packed = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END)" for i in range(bits)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(substr(md5(tok), 1, 15), ''),
                                      c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))),
                   (a, x) -> a * 16 + x) AS h
        FROM toks
    ),
    sums AS (
        SELECT doc_id,
               {bit_sums}
        FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, {packed} AS simhash
    FROM sums
    """


_PHASH_H60 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform("
    "string_split(substr(md5(CAST(doc_id AS VARCHAR) || ':phash'), 1, 15), ''), "
    "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))), "
    "(a, x) -> a * 16 + x)"
)

_PHASH_MASK = (
    "((CAST(1 AS BIGINT) << CAST(doc_id * 7 % 60 AS INT))"
    " | (CAST(1 AS BIGINT) << CAST(doc_id * 13 % 60 AS INT))"
    " | (CAST(1 AS BIGINT) << CAST(doc_id * 29 % 60 AS INT)))"
)

_PHASH_ALL_CTE = f"""
    ph_all AS (
        SELECT doc_id AS id, {_PHASH_H60} AS h FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS id, xor({_PHASH_H60}, {_PHASH_MASK}) AS h
        FROM documents WHERE doc_id % 10 = 0
    )
"""

# Brute-force popcount over ALL pairs — deliberately independent of the
# operator's band/bucket machinery, so the oracle certifies exact
# recall of the LSH path, not a restatement of it.
_PHASH_PAIRS_SELECT = """
    SELECT 'phash_pairs' AS method, a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.h, b.h)) AS DOUBLE) AS score,
           CAST(NULL AS BIGINT) AS bits
    FROM ph_all a JOIN ph_all b ON a.id < b.id
    WHERE bit_count(xor(a.h, b.h)) <= 6
"""

# afp (r10): synthetic per-frame 16-bit Haitsma-Kalker sub-fingerprints
# (md5-derived), 4-6 frames per clip; every 10th doc gets a 1-bit-noisy
# copy (must pair: BER = 1/(16n) <= 0.15) and every 20th a 4-bits-per-
# frame degraded copy (must NOT pair: BER = 4(n-1)/(16n) > 0.15 at
# n >= 4, though frame 1 still matches exactly so it FORMS a candidate
# and must die at verify). The oracle is brute-force over all aligned
# same-length pairs, replaying the operator's contract (>= 1 exact
# frame, round-6 BER <= 0.15) — so the hash certifies the exact-frame
# candidate join + zip_with popcount verify end-to-end.
_AFP_H16 = (
    "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform("
    "string_split(substr(md5(CAST(doc_id AS VARCHAR) || ':' || "
    "CAST(pos AS VARCHAR) || ':afp'), 1, 4), ''), "
    "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))), "
    "(a, x) -> a * 16 + x) AS INT)"
)

_AFP_CTES = f"""
    afp_h AS (
        SELECT doc_id, n, pos, {_AFP_H16} AS h
        FROM (
            SELECT doc_id, n, unnest(range(1, n + 1)) AS pos
            FROM (SELECT doc_id, CAST(4 + doc_id % 3 AS INT) AS n
                  FROM documents)
        )
    ),
    afp_frames AS (
        SELECT doc_id AS id, n, pos, h FROM afp_h
        UNION ALL
        SELECT doc_id + 1000000, n, pos,
               CASE WHEN pos = 1 THEN CAST(xor(h,
                   CAST(1 AS BIGINT) << CAST(doc_id % 16 AS INT)) AS INT)
                    ELSE h END
        FROM afp_h WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000, n, pos,
               CASE WHEN pos = 1 THEN h
                    ELSE CAST(xor(h,
                        CAST(15 AS BIGINT) << CAST(doc_id % 12 AS INT))
                        AS INT) END
        FROM afp_h WHERE doc_id % 20 = 0
    ),
    afp_agg AS (
        SELECT a.id AS id_a, b.id AS id_b,
               round(CAST(sum(bit_count(xor(a.h, b.h))) AS DOUBLE)
                     / (CAST(a.n AS DOUBLE) * 16.0), 6) AS ber,
               sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS hits
        FROM afp_frames a JOIN afp_frames b
          ON a.pos = b.pos AND a.n = b.n AND a.id < b.id
        GROUP BY a.id, b.id, a.n
    )
"""

# phash_inc (r10): the incremental batch-vs-store contract over the
# same ph_all population — ids with id % 7 == 3 are the new batch, the
# rest the ingested store. The oracle is the full brute-force pair set
# restricted to pairs touching a batch id, reoriented so id_a is the
# batch id (both-batch pairs keep id_a < id_b) — the same declarative
# replay as `incremental_near_dup`; store-store pairs never appear.
_PHASH_INC_SELECT = """
    SELECT 'phash_inc' AS method,
           CASE WHEN a.id % 7 = 3 THEN a.id ELSE b.id END AS id_a,
           CASE WHEN a.id % 7 = 3 THEN b.id ELSE a.id END AS id_b,
           CAST(bit_count(xor(a.h, b.h)) AS DOUBLE) AS score,
           CAST(NULL AS BIGINT) AS bits
    FROM ph_all a JOIN ph_all b ON a.id < b.id
    WHERE bit_count(xor(a.h, b.h)) <= 6
      AND (a.id % 7 = 3 OR b.id % 7 = 3)
"""

_AFP_SELECT = """
    SELECT 'afp_pairs' AS method, id_a, id_b, ber AS score,
           CAST(NULL AS BIGINT) AS bits
    FROM afp_agg WHERE hits >= 1 AND ber <= 0.15
"""

# vsig (r10): synthetic 60-bit per-frame video signatures, 4 frames per
# clip; every 10th doc gets a <=3-bits-per-frame transcode copy (must
# pair: every aligned frame within 6) and every 20th a copy with one
# 8-bit-damaged frame (must NOT pair: the ALL-frames rule fails even
# though the other 3 frames band-match and form a candidate). The
# oracle is brute-force over all aligned pairs with max/mean hamming —
# independent of the (pos, band)-keyed join.
_VSIG_H60 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform("
    "string_split(substr(md5(CAST(doc_id AS VARCHAR) || ':' || "
    "CAST(pos AS VARCHAR) || ':vsig'), 1, 15), ''), "
    "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))), "
    "(a, x) -> a * 16 + x)"
)

_VSIG_MASK3 = (
    "((CAST(1 AS BIGINT) << CAST((doc_id * 7 + pos) % 60 AS INT))"
    " | (CAST(1 AS BIGINT) << CAST((doc_id * 13 + pos) % 60 AS INT))"
    " | (CAST(1 AS BIGINT) << CAST((doc_id * 29 + pos) % 60 AS INT)))"
)

_VSIG_CTES = f"""
    vsig_h AS (
        SELECT doc_id, pos, {_VSIG_H60} AS h
        FROM (SELECT doc_id, unnest(range(1, 5)) AS pos FROM documents)
    ),
    vsig_frames AS (
        SELECT doc_id AS id, pos, h FROM vsig_h
        UNION ALL
        SELECT doc_id + 1000000, pos, xor(h, {_VSIG_MASK3})
        FROM vsig_h WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000, pos,
               CASE WHEN pos = 1 THEN xor(h,
                   CAST(255 AS BIGINT) << CAST(doc_id % 52 AS INT))
                    ELSE h END
        FROM vsig_h WHERE doc_id % 20 = 0
    ),
    vsig_agg AS (
        SELECT a.id AS id_a, b.id AS id_b,
               max(bit_count(xor(a.h, b.h))) AS maxd,
               round(CAST(sum(bit_count(xor(a.h, b.h))) AS DOUBLE)
                     / 4.0, 4) AS meand
        FROM vsig_frames a JOIN vsig_frames b
          ON a.pos = b.pos AND a.id < b.id
        GROUP BY a.id, b.id
    )
"""

_VSIG_SELECT = """
    SELECT 'vsig_pairs' AS method, id_a, id_b, meand AS score,
           CAST(maxd AS BIGINT) AS bits
    FROM vsig_agg WHERE maxd <= 6
"""


@register(
    "portable_hash_suite",
    f"""
    WITH mh AS ({_minhash_oracle_sql()}),
    sh AS ({_simhash_oracle_sql()}),
    {_PHASH_ALL_CTE.strip()},
    {_AFP_CTES.strip()},
    {_VSIG_CTES.strip()}
    SELECT 'minhash_est' AS method, doc_a AS id_a, doc_b AS id_b,
           est_jaccard AS score, CAST(NULL AS BIGINT) AS bits
    FROM mh
    UNION ALL
    SELECT 'simhash' AS method, doc_id AS id_a, CAST(NULL AS BIGINT) AS id_b,
           CAST(NULL AS DOUBLE) AS score, simhash AS bits
    FROM sh
    UNION ALL
    {_PHASH_PAIRS_SELECT.strip()}
    UNION ALL
    {_PHASH_INC_SELECT.strip()}
    UNION ALL
    {_AFP_SELECT.strip()}
    UNION ALL
    {_VSIG_SELECT.strip()}
    """,
)
def portable_hash_suite(spark, sf_dir):
    """The portable-hash tiers, method-tagged into one entry (fused to
    free a driver-sweep slot; each tier keeps its own exact hash check
    because the method tag keeps its rows distinct):

    - ``minhash_est``: the full MinHash+LSH pipeline in portable-hash
      mode (md5-derived shingle hashes, raw band keys) — EXACTLY
      reproduced by the DuckDB oracle, including bucket membership and
      the estimated Jaccard (count-of-equal-components / 64, a dyadic
      rational, so the doubles are bit-identical).
    - ``simhash``: portable 60-bit SimHash signatures (md5-derived
      token hashes, per-bit vote sums, sign packing). The packed
      signature exceeds double precision (2^60 > 2^53) so it rides in
      its own BIGINT ``bits`` column rather than being cast into the
      shared double ``score``.
    - ``phash_pairs`` (r9): the perceptual-hash near-dup join
      (`operators.phash.phash_near_duplicates` — banded equi-join +
      popcount verify, exact recall at bands = max_hamming+1) over
      synthetic md5-derived 60-bit hashes with planted 1-3 bit flips
      on every 10th doc. The oracle is a BRUTE-FORCE all-pairs
      popcount — independent of the banding — so the hash certifies
      the LSH path finds exactly the pairs exhaustive search finds.
      (The decode→DCT kernel that produces real pHashes is not SQL;
      it is golden-pinned in tests/test_phash.py, the BPE precedent.)
    - ``phash_inc`` (r10): the incremental batch-vs-store image dedup
      (`operators.phash.incremental_phash_near_duplicates`) over the
      same population split at id % 7 == 3 — the oracle restates the
      contract declaratively (full pair set restricted to pairs
      touching a batch id, batch id first), so a store-store pair
      forming, a dropped batch-batch pair, or a wrong orientation all
      break the hash. Same replay pattern as `incremental_near_dup`.
    - ``afp_pairs`` (r10): the acoustic-fingerprint near-dup join
      (`operators.afingerprint.audio_near_duplicates` — exact-frame
      candidate equi-join + zip_with popcount BER verify) over
      synthetic md5-derived 16-bit sub-fingerprints, 4-6 frames per
      clip, with a planted 1-bit-noisy copy (must pair) and a planted
      4-bits-per-frame degraded copy (forms a candidate, must die at
      the 0.15 BER verify) per tenth/twentieth doc. Brute-force
      oracle. (The FFT filterbank that produces real fingerprints is
      numpy, golden-pinned in tests/test_afingerprint.py.)
    - ``vsig_pairs`` (r10): the video near-dup join
      (`operators.vdedup.video_near_duplicates` — (pos, band)-keyed
      candidates, EVERY-frame-within-6 verify) over synthetic 60-bit
      frame signatures with a <=3-bit-per-frame transcode copy (must
      pair) and a one-frame-8-bit-damaged copy (candidate that must
      fail the all-frames rule). Brute-force oracle with max/mean
      hamming.
    """
    from data_pipelines_spark.operators.afingerprint import (
        audio_near_duplicates,
    )
    from data_pipelines_spark.operators.phash import phash_near_duplicates
    from data_pipelines_spark.operators.vdedup import video_near_duplicates

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    mh = minhash_near_duplicates(docs, jaccard_threshold=0.5, portable=True)
    sh = simhash_signatures(docs, portable=True)

    h60 = F.conv(
        F.substring(
            F.md5(F.encode(
                F.concat(F.col("doc_id").cast("string"), F.lit(":phash")),
                "UTF-8",
            )),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    flip_mask = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(doc_id * 7 % 60 AS INT))"
        " | shiftleft(CAST(1 AS BIGINT), CAST(doc_id * 13 % 60 AS INT))"
        " | shiftleft(CAST(1 AS BIGINT), CAST(doc_id * 29 % 60 AS INT))"
    )
    ph_base = docs.select(
        F.col("doc_id").alias("media_id"), h60.alias("phash")
    )
    ph_planted = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("media_id"),
        h60.bitwiseXOR(flip_mask).alias("phash"),
    )
    # Each near-dup operator references its input several times (band
    # explode, bucket-size guard, candidate self-join, verify join) and
    # the batch/store split below reads it twice more; without a
    # persist every reference re-scans documents and re-derives the
    # md5 hashes (measured: 138 parquet scans in this suite's plan,
    # ~4.4 s warm at sf0.01 — the most expensive sweep entry). The
    # persisted frames are id+hash proxies (a few longs per doc), the
    # guide-§8 "decide over lightweight metadata" shape — never
    # corpus-sized text. Applies to all three persists here (ph_all,
    # afp, vsig).
    ph_all = ph_base.unionByName(ph_planted).persist()
    ph = phash_near_duplicates(ph_all, max_hamming=6).select(
        F.lit("phash_pairs").alias("method"),
        F.col("id_a"),
        F.col("id_b"),
        F.col("hamming").cast("double").alias("score"),
        F.lit(None).cast("long").alias("bits"),
    )

    # phash_inc: the same population split batch-vs-store; the
    # incremental operator must reproduce the restriction of the full
    # pair set to pairs touching a batch id (store-store never forms)
    from data_pipelines_spark.operators.phash import (
        incremental_phash_near_duplicates,
    )

    is_batch = F.col("media_id") % 7 == 3
    inc_pairs, _nb = incremental_phash_near_duplicates(
        ph_all.where(is_batch), ph_all.where(~is_batch), max_hamming=6
    )
    ph_inc = inc_pairs.select(
        F.lit("phash_inc").alias("method"),
        F.col("id_a"),
        F.col("id_b"),
        F.col("hamming").cast("double").alias("score"),
        F.lit(None).cast("long").alias("bits"),
    )

    # afp_pairs: synthetic 16-bit sub-fingerprints, 4-6 frames/clip
    def _md5head(expr, nhex):
        return F.conv(
            F.substring(F.md5(F.encode(expr, "UTF-8")), 1, nhex), 16, 10
        )

    doc_id = F.col("doc_id")

    def _afp_h(pos):
        return _md5head(
            F.concat(
                doc_id.cast("string"), F.lit(":"),
                pos.cast("string"), F.lit(":afp"),
            ),
            4,
        ).cast("int")

    afp_seq = F.sequence(F.lit(1), (F.lit(4) + doc_id % 3).cast("int"))
    flip1 = F.call_function(
        "shiftleft", F.lit(1), (doc_id % 16).cast("int")
    ).cast("int")
    flip4 = F.call_function(
        "shiftleft", F.lit(15), (doc_id % 12).cast("int")
    ).cast("int")
    afp = (
        docs.select(
            doc_id.alias("media_id"),
            F.transform(afp_seq, _afp_h).alias("fp"),
        )
        .unionByName(
            docs.where(doc_id % 10 == 0).select(
                (doc_id + 1000000).alias("media_id"),
                F.transform(
                    afp_seq,
                    lambda p: F.when(
                        p == 1, _afp_h(p).bitwiseXOR(flip1)
                    ).otherwise(_afp_h(p)),
                ).alias("fp"),
            )
        )
        .unionByName(
            docs.where(doc_id % 20 == 0).select(
                (doc_id + 2000000).alias("media_id"),
                F.transform(
                    afp_seq,
                    lambda p: F.when(p == 1, _afp_h(p)).otherwise(
                        _afp_h(p).bitwiseXOR(flip4)
                    ),
                ).alias("fp"),
            )
        )
    ).persist()
    afp_tier = audio_near_duplicates(afp, max_bit_error_rate=0.15).select(
        F.lit("afp_pairs").alias("method"),
        F.col("id_a"),
        F.col("id_b"),
        F.col("bit_error_rate").alias("score"),
        F.lit(None).cast("long").alias("bits"),
    )

    # vsig_pairs: synthetic 60-bit frame signatures, 4 frames/clip
    def _vsig_h(pos):
        return _md5head(
            F.concat(
                doc_id.cast("string"), F.lit(":"),
                pos.cast("string"), F.lit(":vsig"),
            ),
            15,
        ).cast("long")

    one = F.lit(1).cast("long")

    def _mask3(pos):
        # call_function: the shiftleft Python wrapper insists on a
        # literal shift; the SQL registry form takes a column
        return F.call_function(
            "shiftleft", one, ((doc_id * 7 + pos) % 60).cast("int")
        ).bitwiseOR(
            F.call_function(
                "shiftleft", one, ((doc_id * 13 + pos) % 60).cast("int")
            )
        ).bitwiseOR(
            F.call_function(
                "shiftleft", one, ((doc_id * 29 + pos) % 60).cast("int")
            )
        )

    mask8 = F.call_function(
        "shiftleft", F.lit(255).cast("long"), (doc_id % 52).cast("int")
    )
    vsig_seq = F.sequence(F.lit(1), F.lit(4))
    vsig = (
        docs.select(
            doc_id.alias("media_id"),
            F.transform(vsig_seq, _vsig_h).alias("sig"),
        )
        .unionByName(
            docs.where(doc_id % 10 == 0).select(
                (doc_id + 1000000).alias("media_id"),
                F.transform(
                    vsig_seq, lambda p: _vsig_h(p).bitwiseXOR(_mask3(p))
                ).alias("sig"),
            )
        )
        .unionByName(
            docs.where(doc_id % 20 == 0).select(
                (doc_id + 2000000).alias("media_id"),
                F.transform(
                    vsig_seq,
                    lambda p: F.when(
                        p == 1, _vsig_h(p).bitwiseXOR(mask8)
                    ).otherwise(_vsig_h(p)),
                ).alias("sig"),
            )
        )
    ).persist()
    vsig_tier = video_near_duplicates(vsig, max_frame_hamming=6).select(
        F.lit("vsig_pairs").alias("method"),
        F.col("id_a"),
        F.col("id_b"),
        F.col("mean_hamming").alias("score"),
        F.col("max_hamming").cast("long").alias("bits"),
    )

    return (
        mh.select(
            F.lit("minhash_est").alias("method"),
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").cast("long").alias("id_b"),
            F.col("est_jaccard").alias("score"),
            F.lit(None).cast("long").alias("bits"),
        )
        .unionByName(
            sh.select(
                F.lit("simhash").alias("method"),
                F.col("doc_id").alias("id_a"),
                F.lit(None).cast("long").alias("id_b"),
                F.lit(None).cast("double").alias("score"),
                F.col("simhash").alias("bits"),
            )
        )
        .unionByName(ph)
        .unionByName(ph_inc)
        .unionByName(afp_tier)
        .unionByName(vsig_tier)
    )


# `ngram_jaccard_same_source` and `embedding_near_dup_pairs` are now
# the two tiers of `near_dup_pair_suite` (above) — fused to free a
# driver-sweep slot for `incremental_near_dup`.


# The IVF coarse-quantizer model: kmeans_centroids(embeddings@sf0.01,
# k=8, max_iterations=5) — deterministic (min-id init, no RNG, means
# quantized to 1e-6 so the fit is partitioning/environment independent;
# verified identical under a 7-way repartition refit). Pinned here the
# same way the LSH hyperplanes are pinned: the oracle restates the
# trained model as SQL literals, and tests/test_similarity.py asserts a
# live refit reproduces these exact values, so the driver's refit at
# sf0.01 meets the oracle bit-for-bit.
_IVF_CENTROIDS_SF001: list[list[float]] = [
    [0.018901, 0.009433, 0.035763, -0.089083, -0.011347, -0.011581, -0.018881, 0.019569, 0.067889, -0.022862, -0.02484, 0.009219, -0.025203, -0.009037, -0.018556, -0.010245, 0.064676, 0.023322, 0.024355, 0.035859, -0.059115, 0.014846, -0.006883, -0.012103, 0.011459, 0.069467, 0.082324, -0.002673, -0.015389, 0.067759, -0.03323, 0.059134, 0.006843, -0.04253, 0.001033, -0.046704, -0.019628, 0.021944, 0.018041, 0.002726, 0.00543, 0.008517, 0.007215, 0.007177, 0.018388, 0.029285, 0.02994, -0.035856, -0.007563, -0.051919, -0.006645, 0.033995, 0.011308, -0.047804, 0.020736, 0.02385, -8e-06, 0.00509, -0.081238, -0.020735, -0.01747, 0.044864, 0.047155, -0.030242],
    [-0.026878, -0.013741, 0.021404, 0.011777, 0.026378, 0.033417, -0.098101, -0.025169, -0.011093, 0.00484, -0.052614, 0.052049, 0.054364, -0.087088, 0.027444, 0.009783, -0.008116, -0.013423, 0.028958, -0.041447, 0.032694, 0.026241, -0.010538, -0.026257, 0.021979, 0.069267, -0.004281, -0.0128, 0.015391, -0.006373, -0.03218, -0.00261, -0.008108, 0.013, 0.003873, -0.002887, -0.039609, 0.028037, 0.027918, -0.07347, -0.003838, -0.054459, 0.023645, 0.013084, 0.015022, 0.026301, -0.033525, -0.011812, -0.050262, -0.087969, -0.015377, 0.015053, -0.036444, 0.013401, -0.013063, 0.033574, 0.056505, 0.001927, 0.031367, 0.007149, -0.017904, -0.010894, -0.043155, 0.000225],
    [0.003317, 0.015943, -0.033029, 0.037673, 0.048081, -0.000846, -0.017295, -0.0015, -0.007311, -0.06322, -0.011238, -0.033251, -0.048099, 0.074324, -0.016158, 0.020007, -0.025756, 0.058653, -0.001626, -0.011291, -0.010065, 0.009829, 0.068458, -0.039165, -0.007829, -0.063789, 0.020164, -0.023156, 0.002738, 0.013713, -0.012876, -0.108713, 0.004813, 0.00626, 0.013445, -0.012327, 0.013956, 0.062358, 0.033044, 0.047442, -0.005308, -0.01574, 0.016234, 0.030301, 0.00344, 0.000377, -0.013161, -0.010558, 0.047434, 0.03207, 0.046917, -0.063586, -0.021309, -0.034064, 0.042172, -0.002838, 0.01516, -0.009339, 0.018543, 0.066532, 0.042103, -0.004775, 0.017049, -0.017062],
    [-0.023518, 0.011736, -0.026742, -0.029649, -0.03177, 0.022493, 0.0354, 0.000294, -0.021604, -0.015593, 0.006483, 0.047415, 0.025318, 0.071483, 0.030626, -0.016802, -0.039192, -0.052447, 0.02155, 0.02192, 0.024718, -0.008486, -0.014445, 0.018864, -0.004371, 0.031912, -0.028189, -0.016499, -0.060085, -0.023552, -0.007617, 0.001725, 0.080346, -0.017489, 0.0203, -0.021302, 0.005543, -0.049494, -0.032299, -0.037143, -0.002185, -0.031827, -0.075289, -0.036633, 0.011301, 0.001258, -0.024124, -0.045671, 0.049407, -0.051151, 0.015709, -0.017605, 0.019179, 0.015632, -0.043969, -0.027729, -0.015065, -0.013366, 0.036968, -0.039897, 0.033819, 0.025289, -0.010096, -0.044383],
    [0.017234, -0.009468, 0.06835, -0.017441, -0.03859, -0.07479, 0.056484, -0.005604, -0.01384, 0.042922, 0.027395, -0.063277, 0.022695, -0.041609, 0.018241, -0.019805, 0.051645, 0.031182, 0.006141, 0.030238, -0.009998, 0.026998, -0.015995, 0.013584, -0.019012, 0.000962, 0.022446, 0.008229, 0.033776, -0.029892, 0.033878, -0.022863, 0.020433, 0.025387, 0.031645, -0.042827, 0.023541, -0.076564, -0.036871, 0.012213, 0.026789, -0.001615, -0.01127, 0.016961, -0.027507, -0.013848, -0.029575, 0.056461, -0.026786, 0.001622, -0.005473, 0.014344, 0.027382, 0.011161, 0.089076, -0.021578, -0.002465, -0.015389, 0.033602, 1e-05, -0.062186, -0.031333, 0.017428, -0.017111],
    [-0.022943, -0.008591, 0.017613, 0.008113, 0.065195, -0.007067, -0.050975, 0.080153, -0.016067, 0.009399, 0.016389, -0.010306, 0.009493, 0.017111, -0.019173, 0.01261, -0.008591, -0.051466, -0.025327, 0.023306, 0.006585, -0.027745, 0.021908, -0.00807, 0.015496, 0.046644, -0.038473, 0.006349, -0.003509, 0.00675, 0.01512, -0.018422, -0.006815, -0.001294, -0.01682, 0.041389, 0.003786, 0.065655, -0.015357, 0.023388, -0.040401, 0.039894, 0.005578, 0.024675, -0.091247, -0.049233, 0.013588, -0.028524, -0.013623, 0.029687, 0.043717, 0.025376, 0.006313, 0.027527, -0.039844, -0.07885, 0.044275, -0.042668, -0.002233, -0.013498, -0.005851, 0.029881, -0.028888, 0.020298],
    [-0.012632, -0.045208, -0.010702, -0.013704, 0.043405, 0.057828, -0.036285, -0.044119, 0.01636, 0.035969, 0.055316, 0.019815, -0.007357, 0.050856, -0.006768, 0.036507, 0.025525, 0.054177, -0.054619, -0.042579, -0.011388, -0.00291, -0.001828, -0.054944, -0.037493, -0.006568, -0.006518, 0.047953, 0.020047, -0.042374, 0.012045, 0.011253, -0.014634, -0.058376, -0.015471, 0.045861, 0.017942, -0.023697, -0.008829, -0.000439, 0.02712, -0.021195, 0.004535, -0.025607, 0.00332, 0.006923, 0.023669, 0.053077, 0.022467, 0.021976, -0.032901, -0.010476, 0.058761, -0.008334, 0.027837, 0.041476, -0.063572, 0.048155, -0.008303, -0.039478, 0.016791, 0.003889, -0.005233, 0.028414],
    [0.077377, 0.015917, -0.035027, 0.04636, -0.041154, 0.025276, -0.001794, 0.046698, -0.025771, -0.011901, 0.018559, -0.005594, -0.062146, -0.072381, -0.016669, 0.005915, -0.025074, 0.010852, 0.015727, 0.003373, -0.015026, -0.008699, -0.005124, 0.050452, 0.008297, -0.051256, -0.035267, 0.067059, -0.002778, 0.034298, 0.06251, 0.030064, -0.011092, 0.030394, 0.013606, 0.020801, -0.053174, -0.044278, 0.015914, 0.019895, -0.016957, -0.022639, 0.034887, -0.027756, -0.008265, 0.041844, 0.022773, 0.066334, -0.053381, 0.010949, 0.031474, -0.012661, -0.014532, -0.023596, -0.026696, 0.012985, 0.009555, 0.003537, -0.075128, -0.014608, 0.002463, -0.020805, 0.01372, -0.063846],
]


def _ivf_topk_sql(nprobe: int = 2, k: int = 10, top_terms: int = 5) -> str:
    """DuckDB twin of the IVF search + c-TF-IDF topics: assign every
    vector to its nearest pinned centroid (squared-L2 argmin, ties ->
    lowest cluster id — `list_distance` is the monotone sqrt of
    Spark's squared fold); ``ivf`` tier probes the query's ``nprobe``
    nearest lists and takes the exact-cosine top-k; ``topic`` tier
    joins the documents table on the shared id space and replays the
    BERTopic c-TF-IDF scoring (tf·ln(1 + A/f)) and per-cluster
    ranking."""
    cent_rows = ",\n        ".join(
        f"({i}, [{', '.join(repr(v) for v in c)}]::DOUBLE[])"
        for i, c in enumerate(_IVF_CENTROIDS_SF001)
    )
    toks = (
        "CASE WHEN length(trim(lower(d.text))) = 0 THEN [] "
        "ELSE string_split_regex(trim(lower(d.text)), '\\s+') END"
    )
    return f"""
    WITH cents(cid, c) AS (VALUES
        {cent_rows}
    ),
    emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qvec FROM emb WHERE vec_id = 0),
    assigned_all AS (
        SELECT vec_id, v, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY list_distance(v, c), cid) AS rn
        FROM emb, cents
    ),
    probe AS (
        SELECT cid FROM q, cents
        ORDER BY list_distance(qvec, c), cid
        LIMIT {nprobe}
    ),
    scored AS (
        SELECT a.vec_id,
               list_dot_product(a.v, q.qvec)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(q.qvec, q.qvec))) AS cosine_raw
        FROM assigned_all a JOIN probe p ON a.cid = p.cid, q
        WHERE a.rn = 1 AND a.vec_id <> 0
    ),
    ivf_hits AS (
        SELECT vec_id, ROUND(cosine_raw, 6) AS cosine
        FROM scored ORDER BY cosine_raw DESC, vec_id ASC LIMIT {k}
    ),
    topic_toks AS (
        SELECT a.cid, unnest({toks}) AS term
        FROM documents d
        JOIN assigned_all a ON d.doc_id = a.vec_id AND a.rn = 1
    ),
    tf AS (
        SELECT cid, term, count(*) AS c_tc FROM topic_toks GROUP BY 1, 2
    ),
    ft AS (
        SELECT term, CAST(sum(c_tc) AS BIGINT) AS f_t FROM tf GROUP BY 1
    ),
    tstats AS (
        SELECT CAST(sum(c_tc) AS DOUBLE) / count(DISTINCT cid) AS a
        FROM tf
    ),
    tscored AS (
        SELECT cid, term,
               round(c_tc * ln(1 + a / f_t), 6) AS score
        FROM tf JOIN ft USING (term), tstats
    ),
    tranked AS (
        SELECT cid, term, score,
               row_number() OVER (PARTITION BY cid
                                  ORDER BY score DESC, term) AS rk
        FROM tscored
    )
    SELECT 'ivf' AS method, CAST(vec_id AS BIGINT) AS id,
           CAST(NULL AS VARCHAR) AS term, cosine AS score,
           CAST(row_number() OVER (ORDER BY cosine DESC, vec_id)
                AS BIGINT) AS rank
    FROM ivf_hits
    UNION ALL
    SELECT 'topic', CAST(cid AS BIGINT), term, score, CAST(rk AS BIGINT)
    FROM tranked WHERE rk <= {top_terms}
    """


def _semantic_dedup_sql(threshold: float = 0.3) -> str:
    """DuckDB twin of SemDeDup over the SAME pinned centroid model as
    the IVF oracle: nearest-centroid assignment (list_distance is the
    monotone sqrt of Spark's squared-L2 fold, ties -> lowest cluster),
    then min-id representative per semantic near-dup group."""
    cent_rows = ",\n        ".join(
        f"({i}, [{', '.join(repr(v) for v in c)}]::DOUBLE[])"
        for i, c in enumerate(_IVF_CENTROIDS_SF001)
    )
    return f"""
    WITH cents(cid, c) AS (VALUES
        {cent_rows}
    ),
    emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ranked AS (
        SELECT vec_id, v, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY list_distance(v, c), cid) AS rn
        FROM emb, cents
    ),
    asg AS (SELECT vec_id, v, cid FROM ranked WHERE rn = 1),
    dups AS (
        SELECT a.vec_id, min(b.vec_id) AS dup_of
        FROM asg a JOIN asg b ON a.cid = b.cid AND b.vec_id < a.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))) >= {threshold}
        GROUP BY a.vec_id
    )
    SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster,
           d.dup_of, d.dup_of IS NULL AS keep
    FROM asg a LEFT JOIN dups d ON a.vec_id = d.vec_id
    """


@register("semantic_dedup", _semantic_dedup_sql())
def semantic_dedup_query(spark, sf_dir):
    """SemDeDup: k-means-cluster the embedding space, keep one
    representative (smallest id) per semantic near-dup group within each
    cluster — the embedding-space dedup tier above MinHash/SimHash. The
    k-means fit runs live and its quantized determinism makes it equal
    to the pinned oracle model (same fit as embedding_ivf_topk)."""
    from data_pipelines_spark.operators.similarity import (
        kmeans_centroids,
        semantic_dedup,
    )

    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, k=8, max_iterations=5)
    return semantic_dedup(emb, cents, threshold=0.3)


@register("embedding_ivf_topk", _ivf_topk_sql())
def embedding_ivf_topk(spark, sf_dir):
    """IVF ANN + cluster topic labeling, method-tagged:

    - ``ivf``: deterministic k-means coarse quantizer → probe the
      query's nearest inverted lists → exact cosine within them. The
      second approximate-search tier next to hyperplane LSH. The
      k-means fit runs live (training stays in the graded path); its
      quantized determinism makes it equal to the pinned oracle model.
    - ``topic``: the SAME cluster assignment joined to the documents
      table (shared id space) and labeled with BERTopic c-TF-IDF top
      terms (`operators.corpus.cluster_top_terms` — tf·ln(1 + A/f),
      per-cluster rank with rounded-score/term tie-break). The oracle
      replays assignment, counts, the scoring tree, and the ranking.
    """
    from pyspark.sql import Window

    from data_pipelines_spark.operators.corpus import cluster_top_terms
    from data_pipelines_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        kmeans_centroids,
    )

    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    cents = kmeans_centroids(emb, k=8, max_iterations=5)
    indexed = ivf_assign(emb.where(F.col("vec_id") != 0), cents)
    query = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    hits = ivf_topk(indexed, query, cents, k=10, nprobe=2)
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    ivf_tier = hits.select(
        F.lit("ivf").alias("method"),
        F.col("vec_id").cast("long").alias("id"),
        F.lit(None).cast("string").alias("term"),
        F.col("cosine").cast("double").alias("score"),
        F.row_number().over(w).cast("long").alias("rank"),
    )
    clusters = ivf_assign(emb, cents).select(
        F.col("vec_id").alias("doc_id"), F.col("cluster")
    )
    topics = cluster_top_terms(docs, clusters, top_n=5)
    topic_tier = topics.select(
        F.lit("topic").alias("method"),
        F.col("cluster").cast("long").alias("id"),
        "term",
        F.col("ctfidf").cast("double").alias("score"),
        F.col("rank"),
    )
    return ivf_tier.unionByName(topic_tier)
