"""Deduplication operators for document corpora at scale.

Four tiers, all shuffle-safe and collect-free:

- :func:`exact_duplicates` — content-hash groupBy (cheapest; catches
  byte-identical docs).
- :func:`minhash_near_duplicates` — shingle → MinHash signature → LSH
  banding → candidate bucket join → Jaccard verification. The classic
  near-dup pipeline (Broder 1997; used by most LLM-corpus dedup stacks).
- :func:`simhash_signatures` — 64-bit SimHash (Charikar 2002) for
  Hamming-distance near-dup on token profiles.
- embedding-cosine near-dup lives in ``operators/similarity.py``.

Incremental dedup (new batch vs an already-ingested corpus too large
to broadcast): anti-join the new docs' content hashes against the
historical hash store with ``plans.bloom.bloom_filter_join(new_hashes,
seen_hashes, "content_md5", how="left_anti")`` — definite-new docs skip
the exact join entirely and the result is exactly the plain anti join.

Everything is built from native expressions (`xxhash64`, `transform`,
`aggregate`, `explode`) — no Python in the hot path. At 100 TB the only
wide operations are the LSH band groupBy (keys are (band, hash) — well
distributed by construction) and the candidate self-join (bounded by
bucket sizes; skew-safe under AQE because giant buckets mean giant
near-dup clusters, which are themselves salted by band).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Large prime for universal hashing; coefficients stay small enough that
# a*h32 + b < 2^63 (no overflow under ANSI arithmetic).
_MERSENNE = 2_147_483_647  # 2^31 - 1


from data_pipelines_spark.functions.text import let
from data_pipelines_spark.plans.parallelism import spread as _spread


def _hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficient pairs for the MinHash family."""
    rnd_a, rnd_b = 1_103_515_245, 12_345  # LCG constants — reproducible
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * rnd_a + rnd_b) % _MERSENNE
        a = state % 1_000_003 + 1
        state = (state * rnd_a + rnd_b) % _MERSENNE
        b = state % 1_000_033
        params.append((a, b))
    return params


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct k-character shingles of lowercased text (array<string>).

    Built with sequence+transform — no explode, no UDF. The lowercased
    text is bound once via :func:`~data_pipelines_spark.functions.text.
    let`; referencing the `lower()` tree directly from the per-position
    lambda would re-lowercase the whole document per shingle (O(len^2)).
    """
    from data_pipelines_spark.functions.text import let

    def over(t: Column) -> Column:
        n = F.length(t)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        return F.array_distinct(
            F.when(
                n >= k, F.transform(idx, lambda i: t.substr(i, F.lit(k)))
            ).otherwise(F.array(t))
        )

    return let(F.lower(text), over)


def exact_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """Exact dedup: group by content hash; keep the smallest id as the
    canonical representative. Output: (text_md5, keeper_id, dup_cnt).

    ``quality_col`` switches the keeper policy to highest-quality-wins
    (a numeric score — keep the best COPY of the content, e.g. the one
    with richer metadata or from the preferred source, not merely the
    first crawled). Ties still break to the smallest id, so the choice
    stays deterministic and partition-invariant. Exact duplicates
    usually share text but not provenance; which copy survives decides
    which (source, url, license) row the corpus keeps. Same plan either
    way: one map-side-combined hash groupBy (min_by partials compose),
    nothing quality-related shuffles beyond the one aggregate."""
    cols = [
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("text_md5"),
        F.col(id_col),
    ]
    if quality_col is None:
        keeper = F.min(id_col)
    else:
        # min over (-quality, id): maximize quality, then minimize id.
        # NULL scores coalesce to +inf so a scored copy always beats an
        # unscored one (bare NULL sorts FIRST inside struct ordering
        # and would win every group it appears in).
        cols.append(
            F.coalesce(
                -F.col(quality_col).cast("double"), F.lit(float("inf"))
            ).alias("__nq")
        )
        keeper = F.min_by(
            F.col(id_col), F.struct(F.col("__nq"), F.col(id_col))
        )
    return docs.select(*cols).groupBy("text_md5").agg(
        keeper.alias("keeper_id"), F.count(F.lit(1)).alias("dup_cnt")
    )


def exact_duplicates_policies(
    docs: DataFrame,
    quality_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Both keeper policies from ONE grouped pass: (text_md5, dup_cnt,
    keeper_min_id, keeper_best_id).

    Production dedup reviews usually want both answers — the canonical
    minimum id AND the highest-quality copy — to diff the policies
    before committing to one. Computing them per group in a single
    map-side-combined aggregate costs one scan and one shuffle instead
    of two of each (``min`` and ``min_by`` partials both compose), and
    the keeper semantics are bitwise identical to the corresponding
    :func:`exact_duplicates` calls (asserted in tests/test_dedup.py).
    """
    nq = F.coalesce(
        -F.col(quality_col).cast("double"), F.lit(float("inf"))
    ).alias("__nq")
    hashed = docs.select(
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("text_md5"),
        F.col(id_col),
        nq,
    )
    # min_by's struct ordering demotes this aggregate to SortAggregate
    # (no mutable buffer). Measured and deliberately KEPT (r14): an
    # array_min(collect_list(struct)) rewrite that stays hash-based was
    # tried and benched SLOWER — on mostly-singleton content-hash
    # groups, one ArrayList buffer per group costs more than sorting
    # the narrow (md5, id, nq) rows, the same ordering the argmax A/B
    # measured (max_by 0.63 s vs collect 1.10 s at 600k rows).
    return hashed.groupBy("text_md5").agg(
        F.count(F.lit(1)).alias("dup_cnt"),
        F.min(id_col).alias("keeper_min_id"),
        F.min_by(F.col(id_col), F.struct(F.col("__nq"), F.col(id_col)))
        .alias("keeper_best_id"),
    )


def _shingle_hash32(s):
    """Portable 32-bit shingle hash: first 8 hex chars of md5 —
    reproducible in any engine (the DuckDB oracle recomputes it). The
    fast path doesn't use this; it takes raw xxhash64 inside
    :func:`minhash_signatures`'s one-permutation formulation."""
    return F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 8), 16, 10).cast(
        "long"
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 5,
    portable: bool = False,
) -> DataFrame:
    """MinHash signatures as array<long> of length ``num_hashes``.

    Fast path — **one-permutation hashing** (Li, Owen & Zhang 2012):
    each shingle is hashed ONCE (xxhash64); the low bits pick one of
    ``num_hashes`` buckets and the remaining bits are the rank value;
    the signature element i is the min rank in bucket i. Per exploded
    row this is ~3 codegen ops instead of ``num_hashes`` multiply-mods
    (the round-1 formulation evaluated 64 universal hashes per shingle
    — 800M expression evals at sf0.1; OPH cut the signature stage ~4x
    with the same banding power). Empty buckets (rare: P = (1-1/k)^n
    per bucket, ~e^-39 for a 2500-shingle doc with k=64) are densified
    with a deterministic rehash of the doc's global minimum, so equal
    shingle sets still produce equal signatures and band keys.

    Portable path — the round-1 formulation is kept bit-for-bit:
    h_i(s) = (a_i * x + b_i) mod p over md5-derived 32-bit shingle
    hashes, min per doc, because the DuckDB oracle reproduces exactly
    that arithmetic (suite/llmdata.py `_minhash_oracle_sql`).

    The fast path is **row-local** (r14): a document's shingles are
    already an array column, so the per-bucket minima are derived with
    higher-order functions inside ONE projection — no explode, no
    aggregate, no exchange (beyond the `spread` of a narrow scan).
    The signature stage vanishes from the shuffle plan entirely, and
    the very wide 64-column aggregate codegen (the largest generated
    class in the engine — the dominant cold-start JIT cost measured in
    r14) is gone with it. Input docs must be unique per ``id_col``
    (the explode+groupBy form merged duplicate ids; every caller feeds
    uniquely-keyed docs).

    The portable path still collapses to ``num_hashes`` longs per doc
    before its one shuffle (hash-aggregate partials), so shuffle volume
    at 100 TB is signature-sized, never shingle-sized.
    """
    docs = _spread(docs)
    if portable:
        # Explode distinct shingles to rows and take the 64 minima with
        # plain aggregate expressions — the same arithmetic the oracle
        # restates, inside whole-stage codegen.
        ex = docs.select(
            F.col(id_col),
            F.explode(char_shingles(F.col(text_col), shingle_k)).alias("__sh"),
        )
        hashed = ex.select(
            F.col(id_col), _shingle_hash32(F.col("__sh")).alias("x")
        )
        mins = hashed.groupBy(id_col).agg(
            *[
                F.min(F.pmod(F.col("x") * a + b, F.lit(_MERSENNE))).alias(f"__m{i}")
                for i, (a, b) in enumerate(_hash_params(num_hashes))
            ]
        )
        sig = F.array(*[F.col(f"__m{i}") for i in range(num_hashes)])
        return mins.select(F.col(id_col), sig.alias("minhash"))

    if num_hashes < 2 or num_hashes & (num_hashes - 1):
        # Bucket (low bits) and rank (high bits) are only disjoint bit
        # ranges when num_hashes is a power of two; otherwise pmod and
        # the shift share bits and per-bucket minima correlate. One
        # bucket would need a zero-bit shift the rotate-sort below
        # cannot express.
        raise ValueError(
            f"num_hashes must be a power of two >= 2, got {num_hashes}"
        )
    from data_pipelines_spark.functions.text import let

    shift = num_hashes.bit_length() - 1

    # Row-local assembly (guide §2.4 — remove shuffles outright): every
    # shingle is hashed ONCE into an array bound by `let`; signature
    # element i is the min of the rank bits over the shingles whose low
    # bits select bucket i. The per-element arithmetic is byte-for-byte
    # the explode+groupBy formulation's (same xxhash64, same pmod/shift
    # split), so the minima — and every band key downstream — are
    # identical; only WHERE and HOW they are computed moves.
    #
    # ONE-PASS extraction (r15): the first formulation ran num_hashes
    # interpreted filter+min passes over the hash array —
    # O(num_hashes·shingles) lambda evaluations, and the signature
    # stage was ~65% of the whole minhash headline query. Instead,
    # rotate each hash right by `shift` bits so (bucket, rank) becomes
    # ONE natively-sortable long — the bucket in the top bits, the rank
    # in the low bits — `array_sort` it (native long comparisons), and
    # keep the first key of each bucket run: within a bucket the top
    # bits are equal, so signed key order IS unsigned rank order, and
    # the run head carries exactly `min(rank)` of the old per-bucket
    # pass. O(shingles · log shingles) native comparisons + O(shingles)
    # lambda evaluations, identical output bit-for-bit (pinned against
    # the per-bucket formulation in tests/test_dedup.py).
    rot = 64 - shift
    mask = (1 << rot) - 1

    def build(hs: Column) -> Column:
        keys = F.array_sort(
            F.transform(
                hs,
                lambda h: F.shiftleft(h, rot).bitwiseOR(
                    F.shiftrightunsigned(h, shift)
                ),
            )
        )

        def run_heads(ks: Column) -> Column:
            # prev[i] = ks[i-1]; a key whose bucket differs from its
            # predecessor's starts a new run and is that bucket's min.
            prev = F.concat(
                F.array(F.lit(None).cast("long")),
                F.slice(ks, 1, F.greatest(F.size(ks) - 1, F.lit(0))),
            )
            marked = F.zip_with(
                ks,
                prev,
                lambda cur, prv: F.when(
                    prv.isNull()
                    | (
                        F.shiftrightunsigned(cur, rot)
                        != F.shiftrightunsigned(prv, rot)
                    ),
                    cur,
                ),
            )
            return F.filter(marked, lambda x: x.isNotNull())

        def assemble(fs: Column) -> Column:
            # fs holds <= num_hashes keys sorted by bucket; per-bucket
            # lookup scans that tiny array, not the shingle array.
            def bucket_rank(i: int) -> Column:
                return F.get(
                    F.filter(
                        fs, lambda k: F.shiftrightunsigned(k, rot) == i
                    ),
                    0,
                ).bitwiseAND(F.lit(mask))

            raw = F.array(*[bucket_rank(i) for i in range(num_hashes)])

            def densify(arr: Column) -> Column:
                # array_min skips NULL entries, so this is the min over
                # the non-empty buckets — the same global minimum as
                # before.
                gmin = F.array_min(arr)
                return F.transform(
                    arr,
                    # Knuth multiplicative rehash of (global min,
                    # position) fills the rare empty bucket
                    # deterministically from the doc's content.
                    lambda x, i: F.coalesce(
                        x,
                        F.pmod(
                            gmin + (i + 1).cast("long") * 2654435761,
                            F.lit(1 << 61),
                        ),
                    ),
                )

            return let(raw, densify)

        return let(keys, lambda ks: let(run_heads(ks), assemble))

    hashes = F.transform(
        char_shingles(F.col(text_col), shingle_k), lambda s: F.xxhash64(s)
    )
    return docs.select(F.col(id_col), let(hashes, build).alias("minhash"))


def minhash_band_buckets(
    signatures: DataFrame,
    num_hashes: int = 64,
    num_bands: int = 16,
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """LSH banding: split each signature into ``num_bands`` bands of
    ``num_hashes // num_bands`` rows and hash each band →
    (band, band_hash, doc_id) rows. Docs sharing any (band, band_hash)
    are near-dup candidates."""
    exploded = F.posexplode(
        _band_key_array(F.col("minhash"), num_hashes, num_bands, portable)
    )
    return signatures.select(F.col(id_col), exploded.alias("band", "band_hash"))


def _band_key_array(sig, num_hashes: int, num_bands: int, portable: bool):
    """Array of the ``num_bands`` band keys of one signature — the SAME
    per-band expression :func:`minhash_band_buckets` posexplodes into
    bucket rows, packaged as an array so the est stage can resolve
    first-band-wins row-locally on the exact join keys.

    Fast path hashes each band to an 8-byte LONG shuffle key — narrower
    than the ~20-char decimal string it used to carry (guide §2.3: the
    bucket table is corpus×bands rows, and band equality on
    xxhash64-as-long is the same relation as on its string rendering,
    so every downstream join/agg is unchanged); portable mode keeps the
    raw string so external engines group identically."""
    rows_per_band = num_hashes // num_bands

    def band_key(band: int):
        joined = F.concat_ws(
            ",",
            *[
                sig[band * rows_per_band + j].cast("string")
                for j in range(rows_per_band)
            ],
        )
        return joined if portable else F.xxhash64(joined)

    return F.array(*[band_key(b) for b in range(num_bands)])


def _guard_band_buckets(
    buckets: DataFrame,
    max_bucket: int,
    id_col: str,
    op_name: str,
) -> DataFrame:
    """Bucket-size guard BEFORE a band self-join (the
    `phash.phash_near_duplicates` pattern): `raise_error` fires
    row-wise the moment an oversized bucket is touched — the job dies
    before the B²/2 candidate explosion materializes. The guard is
    folded INTO the id column (a side-channel column would be pruned
    away as unused). Found by the r10 10× corpus probe: universal
    boilerplate shingles can pin many docs' band minima to the same
    values, and 50k docs then produced 79M candidates without this
    guard.

    Shape (r14): bucket sizes come from a map-side-combined
    groupBy(band, band_hash) count filtered to OVERSIZED buckets only —
    an almost-always-empty frame broadcast back onto the bucket rows as
    a left join. The earlier window-count formulation shuffled AND
    sorted the entire bucket table on (band, band_hash) just to carry a
    size every row already implied; the oversized-only aggregate ships
    bytes proportional to the number of *violating* buckets (normally
    zero) and leaves the bucket rows' distribution untouched (guide
    §2.3/§2.4 — measured ~0.4 s off the minhash headline at sf0.1,
    and at cluster scale it removes a full bucket-table sort)."""
    oversized = (
        buckets.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .where(F.col("__bsz") > max_bucket)
    )
    id_type = buckets.schema[id_col].dataType
    return buckets.join(
        F.broadcast(oversized), ["band", "band_hash"], "left"
    ).select(
        F.when(
            F.col("__bsz").isNotNull(),
            F.raise_error(
                F.concat(
                    F.lit(f"{op_name}: band bucket of "),
                    F.col("__bsz").cast("string"),
                    F.lit(
                        f" docs exceeds max_bucket={max_bucket}; "
                        "exact-dedup first (exact_duplicates, ideally "
                        "over a ccnet_normalize key to collapse "
                        "boilerplate families) or raise max_bucket"
                    ),
                )
            ).cast(id_type),
        )
        .otherwise(F.col(id_col))
        .alias(id_col),
        "band",
        "band_hash",
    )


def _first_equal_band(keys_a, keys_b):
    """0-based index of the FIRST band whose band keys are equal
    between the two docs (arrays from :func:`_band_key_array`).

    First-band-wins dedup of LSH candidate pairs (guide §2.4 — remove
    shuffles outright): a pair joins once per band whose keys are
    equal, so keeping only the row whose join band IS the pair's first
    key-equal band yields exactly one row per pair with NO distinct
    exchange. Key equality is EXACTLY the relation the candidate join
    matched on (same band-key expression on both sides), so the kept
    pair set is identical to the old `.distinct()`'s in both fast and
    portable modes — no collision caveat.

    Cost model: one zip_with over the two ``num_bands``-element key
    arrays plus an array_position — a handful of long comparisons per
    candidate row. (The first formulation of this filter compared
    ``num_bands`` SLICED signature segments per row — interpreted
    array slicing over the full 64-element signatures — and benched
    minhash_near_dup_pairs at 5.3 s vs 2.0 s; predicate placement in
    one conjunctive Filter gives no ordering guarantee after Catalyst
    splits it, so the dedup predicate must be cheap enough to run on
    EVERY candidate row.)"""
    # array_position is 1-based (0 = not found); a candidate row always
    # has at least its own join band equal, so the result is >= 0.
    return (
        F.array_position(
            F.zip_with(keys_a, keys_b, lambda x, y: x == y), F.lit(True)
        )
        - 1
    )


def minhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    portable: bool = False,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """End-to-end near-dup detection.

    Output: (doc_a, doc_b, est_jaccard) pairs with doc_a < doc_b whose
    *signature-estimated* Jaccard >= threshold, discovered via LSH
    bucketing (so only candidate pairs are ever compared).
    ``portable=True`` switches every hash to md5-derived values so the
    whole pipeline is reproducible by the DuckDB oracle.

    ``max_bucket`` (r10) guards degenerate band buckets: corpus-wide
    boilerplate (every page sharing a footer) can pin many documents'
    band minima to identical values, and one bucket of B docs costs
    B²/2 candidate pairs — one 10k bucket is already 50M pairs. The
    job raises loudly BEFORE the join instead of exploding; the cure
    is exact-dedup / boilerplate removal upstream, not a bigger join.
    """
    # The signature frame feeds three consumers (bucketing + both sides
    # of the verification join); persist so it is computed once. The
    # band-key ARRAY is materialized into the persisted frame so the
    # wide 16×xxhash64(concat_ws) expression is planned, compiled and
    # evaluated ONCE — bucketing posexplodes the stored array and both
    # est sides reuse it (three separate compilations of that expression
    # measurably inflated the cold first-pass: minhash cold 9.0 s vs
    # ~5 s with the shared column).
    # The returned frame reads these blocks lazily, so the harness that
    # runs it owns them (the rule in `session.persisted`).
    sigs = (
        minhash_signatures(docs, text_col, id_col, num_hashes, shingle_k, portable)
        .withColumn(
            "band_keys",
            _band_key_array(F.col("minhash"), num_hashes, num_bands, portable),
        )
        .persist()
    )
    buckets = sigs.select(
        F.col(id_col), F.posexplode("band_keys").alias("band", "band_hash")
    )
    guarded = buckets
    if max_bucket is not None:
        # Guard ONE side only: every bucket reaches the join through the
        # left side, so one guarded occurrence is enough to fire, and
        # the agg+join-back subtree isn't paid twice.
        guarded = _guard_band_buckets(
            buckets, max_bucket, id_col, "minhash_near_duplicates"
        )

    left = guarded.select(
        F.col("band"), F.col("band_hash"), F.col(id_col).alias("doc_a")
    )
    right = buckets.select(
        F.col("band"), F.col("band_hash"), F.col(id_col).alias("doc_b")
    )
    # Candidate rows flow to the est join WITHOUT an early distinct:
    # a pair appears once per shared band, and the measured duplication
    # is ~1.03x (most candidates share exactly one band), so a full
    # exchange+aggregate of the candidate table bought a 3% row
    # reduction (r14 measurement). r15 removes the remaining
    # est-survivor `.distinct()` exchange too: the join band is carried
    # through the est stage and FIRST-BAND-WINS keeps exactly one row
    # per pair row-locally (see `_first_equal_band`) — the candidate
    # chain is now exchange-free past the band join.
    cand = (
        left.join(right, ["band", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("band", "doc_a", "doc_b")
    )

    # Both est sides carry the doc's stored band-key ARRAY (num_bands
    # longs — read from the persisted frame, duplicated onto candidate
    # rows by the join) so first-band-wins is a cheap row-local zip
    # over the exact join keys.
    sa = sigs.select(
        F.col(id_col).alias("doc_a"),
        F.col("minhash").alias("sig_a"),
        F.col("band_keys").alias("keys_a"),
    )
    sb = sigs.select(
        F.col(id_col).alias("doc_b"),
        F.col("minhash").alias("sig_b"),
        F.col("band_keys").alias("keys_b"),
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                    lambda eq: eq,
                )
            ).cast("double")
            / F.size("sig_a"),
        )
        .where(
            (F.col("est_jaccard") >= jaccard_threshold)
            & (F.col("band") == _first_equal_band(F.col("keys_a"), F.col("keys_b")))
        )
        .select("doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )
    return est


def incremental_near_duplicates(
    new_docs: DataFrame,
    corpus_signatures: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    corpus_buckets: DataFrame | None = None,
    max_bucket: int | None = 10_000,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup detection of a NEW batch against an already-ingested
    corpus, without re-hashing the corpus: the production ingest shape,
    where the corpus is 100 TB of history and the batch is one day.

    ``corpus_signatures`` is the stored (id, minhash) table written by
    a previous :func:`minhash_signatures` run with the SAME
    ``num_hashes``/``shingle_k`` (signatures are only comparable within
    one hash family — keep the parameters with the store). Returns
    ``(pairs, new_signatures)``:

    - ``pairs`` — (doc_a, doc_b, est_jaccard) where doc_a is always
      from the new batch and doc_b is either a corpus doc or a later
      new doc (new-new pairs ordered doc_a < doc_b, so the batch is
      also deduped against itself); signature-estimated Jaccard >=
      ``jaccard_threshold``, LSH-bucketed so only candidates compare.
    - ``new_signatures`` — the batch's (id, minhash) rows; append the
      surviving docs' rows to the store to ingest the batch.

    Corpus docs never pair with each other here (their mutual dups were
    handled at their own ingest), which is what makes the join
    incremental: only buckets CONTAINING A NEW DOC produce work, so
    cost scales with |batch| x bucket occupancy, not |corpus|.

    ``corpus_buckets`` is the stored band-bucket table — (band,
    band_hash, id) rows from a previous :func:`minhash_band_buckets`
    run with the same parameters. Pass it to skip re-deriving band
    hashes from the signature store every batch, and write it bucketed
    by (band, band_hash) (`sources.bucketed.write_bucketed`) so the
    candidate join reshuffles ONLY the batch side — the corpus side
    reads its layout (the batch-vs-corpus and batch-vs-batch joins are
    deliberately separate; a tagged union of the two right sides would
    discard the store's distribution and reshuffle the 100 TB side
    every day; Exchange counts pinned in tests/test_bucketed.py). Ids
    must be globally unique across corpus and batches (the store's
    contract).

    Nothing is cached here: the returned frames are lazy, so this
    function could never release a cache they read. The batch's
    signatures are a subtree of every branch of both plans, so the code
    that runs them should cache ``minhash_signatures(new_docs, text_col,
    id_col, num_hashes, shingle_k)`` around its actions (with
    :func:`~data_pipelines_spark.session.persisted`); Spark's
    plan-matching cache then serves each branch from that one entry.
    Uncached, every action re-derives the signatures per branch, about
    ten times slower on a 5-document batch.
    """
    sigs_new = minhash_signatures(
        new_docs, text_col, id_col, num_hashes, shingle_k
    ).withColumn(
        "band_keys",
        _band_key_array(F.col("minhash"), num_hashes, num_bands, False),
    )
    buckets_new = sigs_new.select(
        F.col(id_col), F.posexplode("band_keys").alias("band", "band_hash")
    )
    if max_bucket is not None:
        # Guard the BATCH side only: batch-batch pairs are the only
        # quadratic term here (store-store pairs never form, and
        # batch-store work is linear in matched store occupancy — a
        # scan-shaped cost, not a B² explosion). Store buckets were
        # themselves guarded when their batches were ingested; counting
        # them again per batch would re-scan the 100 TB side.
        buckets_new = _guard_band_buckets(
            buckets_new, max_bucket, id_col, "incremental_near_duplicates"
        )
    if corpus_buckets is None:
        corpus_buckets = minhash_band_buckets(
            corpus_signatures, num_hashes, num_bands, id_col
        )

    left = buckets_new.select(
        "band", "band_hash", F.col(id_col).alias("doc_a")
    )
    # New-corpus pairs regardless of id order (corpus ids may be
    # smaller or larger than batch ids)...
    cand_corpus = (
        left.join(
            corpus_buckets.select(
                "band", "band_hash", F.col(id_col).alias("doc_b")
            ),
            ["band", "band_hash"],
        )
        .where(F.col("doc_a") != F.col("doc_b"))
    )
    # ...new-new pairs once (a < b), so the batch self-dedups.
    cand_new = (
        left.join(
            buckets_new.select(
                "band", "band_hash", F.col(id_col).alias("doc_b")
            ),
            ["band", "band_hash"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
    )
    # Same first-band-wins shape as minhash_near_duplicates: band
    # duplicates (~3% of candidate rows) are resolved row-locally at
    # the est stage by keeping only the pair's first segment-equal
    # band (`_first_equal_band`) — no candidate distinct, no
    # est-survivor distinct. The corpus/new legs are disjoint by
    # construction — doc_b is a corpus id in one and a batch id in the
    # other — so the union itself introduces no duplicates.
    cand = cand_corpus.select("band", "doc_a", "doc_b").unionByName(
        cand_new.select("band", "doc_a", "doc_b")
    )

    # Band-key arrays on both est sides, as in minhash_near_duplicates
    # (fast-mode keys — this operator has no portable mode). The batch
    # side reuses the persisted column; the corpus side derives its
    # keys row-locally from the stored minhash.
    all_sigs = sigs_new.select(id_col, "minhash", "band_keys").unionByName(
        corpus_signatures.select(id_col, "minhash").withColumn(
            "band_keys",
            _band_key_array(F.col("minhash"), num_hashes, num_bands, False),
        )
    )
    sa = sigs_new.select(
        F.col(id_col).alias("doc_a"),
        F.col("minhash").alias("sig_a"),
        F.col("band_keys").alias("keys_a"),
    )
    sb = all_sigs.select(
        F.col(id_col).alias("doc_b"),
        F.col("minhash").alias("sig_b"),
        F.col("band_keys").alias("keys_b"),
    )
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                    lambda eq: eq,
                )
            ).cast("double")
            / F.size("sig_a"),
        )
        .where(
            (F.col("est_jaccard") >= jaccard_threshold)
            & (F.col("band") == _first_equal_band(F.col("keys_a"), F.col("keys_b")))
        )
        .select("doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )
    # The store contract for new_signatures is (id, minhash) — the
    # internal band_keys column stays private to this function.
    return pairs, sigs_new.select(id_col, "minhash")


def verify_pairs_exact(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    broadcast_pairs: bool = False,
    min_jaccard: float | None = None,
    single_scan: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs — the confirm
    stage after any sketch tier (minhash/simhash/embedding).

    Joins each (doc_a, doc_b) pair back to the shingle sets of exactly
    those two documents and computes true k-gram Jaccard. Pair lists
    are tiny next to the corpus (that's the point of LSH);
    ``broadcast_pairs=True`` pins both joins to broadcast-hash with the
    docs scan streaming through (zero doc shuffles, both joins fused
    into one stage) — use it when the pair list is known-bounded. The
    default leaves the choice to AQE, which falls back to id-keyed
    shuffle joins for a huge pair list — never all-pairs. Output:
    (doc_a, doc_b, exact_jaccard).

    ``min_jaccard`` applies the final decision threshold on the EXACT
    value — the full sketch-then-verify contract. With it, the output
    depends on the sketch only through recall: any LSH tier whose
    bands recall the true >=threshold pairs yields the IDENTICAL pair
    set, and sketch false positives (inflated estimates on unrelated
    docs — observed from OPH at larger corpus sizes) are dropped
    instead of shipped.

    ``single_scan=True`` (r14, guide §2.4): the two per-side joins
    stream the corpus TWICE — one full scan per side. The single-scan
    shape explodes each pair into (pair, side, doc_id) rows, joins the
    corpus ONCE, and regroups per pair (a pairs-sized exchange), so a
    100 TB corpus is read once instead of twice. Preconditions, both
    guaranteed by every caller: ``pairs`` distinct on (doc_a, doc_b)
    and ``docs`` unique per ``id_col`` (the join-per-side form would
    multiply rows for duplicates; this form collapses them). Presence
    semantics match the inner joins exactly: a pair whose doc is
    absent from ``docs`` is dropped, NULL text propagates to a NULL
    jaccard.
    """
    # Join raw texts first and shingle AFTER the join: the shingle
    # expression then runs only on the matched pair rows, not over the
    # whole corpus twice (measured 2x on the minhash headline query —
    # a projection below a join is evaluated for every input row).
    from data_pipelines_spark.functions.text import let

    a = docs.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("__ta"))
    b = docs.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("__tb"))

    # let-bind shingle arrays and the intersection size so each is
    # computed once per pair row (the naive expression tree evaluates
    # the shingling 2x and the intersect 2x per row).
    def jac(sa: Column, sb: Column) -> Column:
        return let(
            F.size(F.array_intersect(sa, sb)).cast("double"),
            lambda inter: F.round(
                inter / (F.size(sa) + F.size(sb) - inter), 6
            ),
        )

    exact = let(
        char_shingles(F.col("__ta"), shingle_k),
        lambda sa: let(
            char_shingles(F.col("__tb"), shingle_k), lambda sb: jac(sa, sb)
        ),
    )
    if single_scan:
        sides = pairs.select("doc_a", "doc_b").select(
            "doc_a",
            "doc_b",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(True).alias("__is_a"),
                        F.col("doc_a").alias(id_col),
                    ),
                    F.struct(
                        F.lit(False).alias("__is_a"),
                        F.col("doc_b").alias(id_col),
                    ),
                )
            ).alias("__s"),
        ).select(
            "doc_a", "doc_b", F.col("__s.__is_a").alias("__is_a"),
            F.col(f"__s.{id_col}").alias(id_col),
        )
        if broadcast_pairs:
            sides = F.broadcast(sides)
        joined = sides.join(docs.select(id_col, text_col), id_col)
        is_a = F.col("__is_a")
        both = (
            joined.groupBy("doc_a", "doc_b")
            .agg(
                F.max(F.when(is_a, F.col(text_col))).alias("__ta"),
                F.max(F.when(~is_a, F.col(text_col))).alias("__tb"),
                # presence flags, independent of text nullity: the
                # per-side inner joins dropped a pair iff a side had no
                # docs row, NOT when its text was NULL.
                F.count(F.when(is_a, F.lit(1))).alias("__ca"),
                F.count(F.when(~is_a, F.lit(1))).alias("__cb"),
            )
            .where((F.col("__ca") > 0) & (F.col("__cb") > 0))
        )
        out = both.select("doc_a", "doc_b", exact.alias("exact_jaccard"))
        if min_jaccard is not None:
            out = out.where(F.col("exact_jaccard") >= float(min_jaccard))
        return out

    p = pairs.select("doc_a", "doc_b")
    if broadcast_pairs:
        # Hint BOTH pair-sized sides (the raw pairs and the pairs+text_a
        # intermediate) so each join is broadcast-hash over the streamed
        # docs scan.
        p = F.broadcast(p)
    first = p.join(a, "doc_a")
    if broadcast_pairs:
        first = F.broadcast(first)
    out = (
        first
        .join(b, "doc_b")
        .select("doc_a", "doc_b", exact.alias("exact_jaccard"))
    )
    if min_jaccard is not None:
        out = out.where(F.col("exact_jaccard") >= float(min_jaccard))
    return out


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    bucket_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Pairs are restricted to the same ``bucket_col`` value when given
    (at scale you never do the unrestricted cross join; LSH or a
    blocking key bounds candidates). Output: (doc_a, doc_b, jaccard).
    """
    sh = docs.select(
        F.col(id_col),
        *( [F.col(bucket_col)] if bucket_col else [] ),
        char_shingles(F.col(text_col), shingle_k).alias("sh"),
    )
    join_keys = [bucket_col] if bucket_col else []
    a = sh.select(
        *join_keys, F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a")
    )
    b = sh.select(
        *join_keys, F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b")
    )
    pairs = (
        (a.join(b, join_keys) if join_keys else a.crossJoin(b))
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("double"))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return pairs


def simhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash over whitespace tokens.

    For each bit position, sum +1/-1 over token hashes and take the
    sign. Computed with explode + groupBy (one shuffle on doc id, which
    partial aggregation collapses to ``bits`` longs per doc).

    ``portable=True`` derives a 60-bit token hash from md5 (first 15
    hex chars) and caps ``bits`` at 60 so the DuckDB oracle reproduces
    the signature exactly; the fast path uses xxhash64's full 64 bits.
    """
    if portable:
        bits = min(bits, 60)
        token_hash = F.conv(
            F.substring(F.md5(F.encode(F.col("tok"), "UTF-8")), 1, 15), 16, 10
        ).cast("long")
    else:
        token_hash = F.xxhash64("tok")
    toks = _spread(docs).select(
        F.col(id_col), F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok")
    ).withColumn("h", token_hash)
    bit_sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    from functools import reduce

    bit_exprs = [
        F.when(
            F.col(f"b{i}") > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(bits)
    ]
    sig = bit_sums.select(
        F.col(id_col),
        reduce(lambda x, y: x.bitwiseOR(y), bit_exprs).alias("simhash"),
    )
    return sig


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    on_max_iterations: str = "raise",
) -> DataFrame:
    """Connected components over near-duplicate pairs → cluster ids.

    The last stage of a corpus-dedup pipeline: pairwise matches
    (from minhash/simhash/embedding tiers) are transitive in intent —
    (a~b, b~c) means {a,b,c} is one duplicate cluster with a single
    keeper. Computed by iterative min-label propagation: every doc
    starts labeled with its own id; each round every node takes the
    minimum label in its neighborhood; fixpoint in O(diameter) rounds
    (near-dup clusters are tiny, so 3-4 rounds in practice).

    Output: (id_col, cluster_id) for EVERY doc (singletons keep their
    own id); cluster_id = min doc id in the component — the canonical
    keeper, so ``where(col(id_col) != col("cluster_id"))`` is the
    drop-list.

    Scale notes: each round is one join + one groupBy on the doc id.
    Lineage is cut every round with localCheckpoint (iterative Spark
    plans otherwise grow exponentially); convergence is detected with a
    1-row aggregate, not a collect of the data.

    ``max_iterations`` bounds the rounds; min-label propagation needs
    O(component diameter) of them, so a pathological chain cluster
    longer than the bound would come back SPLIT into several clusters —
    silently wrong labels. ``on_max_iterations`` controls what happens
    when the bound is hit with labels still changing: ``"raise"``
    (default — nonconvergence is an error, the caller picks a bigger
    bound or pre-splits the graph) or ``"return"`` (return the partial
    labels; only safe when the caller treats clusters as advisory).
    """
    if on_max_iterations not in ("raise", "return"):
        raise ValueError(
            f"on_max_iterations must be 'raise' or 'return', "
            f"got {on_max_iterations!r}"
        )
    if max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = docs.select(F.col(id_col), F.col(id_col).alias("cluster_id"))

    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col(id_col).alias("dst"), F.col("cluster_id").alias("nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nmin"))
        )
        updated = (
            labels.join(
                neighbor_min, labels[id_col] == neighbor_min["src"], "left"
            )
            .select(
                F.col(id_col),
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.coalesce(F.col("nmin"), F.col("cluster_id")) < F.col("cluster_id"))
                .cast("long")
                .alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = updated.agg(F.sum("changed")).first()[0] or 0
        labels = updated.drop("changed")
        if n_changed == 0:
            break
    else:
        # for/else: only reached when the loop exhausted max_iterations
        # without the `break` — the final round still changed labels,
        # so some component's diameter exceeds the bound and its labels
        # are a SPLIT of the true cluster.
        if on_max_iterations == "raise":
            raise RuntimeError(
                f"duplicate_clusters did not converge in "
                f"{max_iterations} iterations ({n_changed} labels still "
                f"changing) — a component's diameter exceeds the bound; "
                f"raise max_iterations or pass on_max_iterations='return' "
                f"to accept partial (split) clusters"
            )
    return labels


def dedup_survivors(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Filter docs to one representative (the min-id keeper) per
    duplicate cluster."""
    keepers = clusters.where(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return docs.join(keepers, id_col, "left_semi")


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures stored as longs."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x)


# Multiplier packing (doc_id, pos) into one long for the canonical
# first-occurrence min: min over the packed key equals min over the
# lexicographic (doc, pos) struct whenever pos < _POS_PACK (and ids are
# non-negative), and it keeps the gram aggregate a HashAggregate — a
# struct-valued min has no mutable primitive buffer, so Catalyst
# demotes the whole gram aggregation to SortAggregate, paying a full
# sort of the exploded gram stream on both sides of the exchange
# (measured in the r14 plans). 1e6 is the same packing the DuckDB
# oracle uses for this tie-break; the guard raises loudly on docs long
# enough to break the equivalence instead of silently reordering.
_POS_PACK = 1_000_000


def _packed_first(id_col: str) -> Column:
    pos = F.col("pos")
    return F.when(
        pos < _POS_PACK, F.col(id_col) * F.lit(_POS_PACK) + pos
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "duplicate span dedup: token position "
                ),
                pos.cast("string"),
                F.lit(
                    f" exceeds the packing cap {_POS_PACK}; split "
                    "documents over 1M tokens before span dedup"
                ),
            )
        ).cast("long")
    )


def _gram_key_frame(
    toked: DataFrame, n: int, id_col: str, hash_grams: bool, out_id: str
) -> DataFrame:
    """(out_id, pos, __k) exploded n-gram key rows from a
    (id, __toks) frame — the shared front of every span operator.

    ``hash_grams=True`` (the scale mode) hashes the n token fields
    DIRECTLY with one multi-argument xxhash64 per position: no
    ~n·8-byte gram string is ever built, and the groupBy/probe keys
    are 8-byte longs instead of gram strings (guide §2.3 — narrower
    types, project before the exchange). The explode generates a bare
    POSITION sequence and the hash is computed after it, in
    whole-stage codegen — hashing inside a `transform` lambda runs
    interpreted, measured ~20% slower on the same chain with
    byte-identical keys. Key equality matches gram-string equality
    modulo 64-bit collisions (~N²/2⁶⁴): tokens are whitespace-free,
    so the space-joined string was injective, and multi-arg xxhash64
    chains per-field seeds. The default keeps raw gram strings so
    external engines reproduce the grouping exactly."""
    from data_pipelines_spark.operators.corpus import _word_ngrams_from_tokens

    if hash_grams:
        cnt = F.size("__toks")
        return (
            toked.where(cnt >= n)
            .select(
                F.col(id_col).alias(out_id),
                "__toks",
                F.explode(F.sequence(F.lit(0), cnt - n)).alias("pos"),
            )
            .select(
                out_id,
                "pos",
                F.xxhash64(
                    *[
                        F.element_at(F.col("__toks"), F.col("pos") + 1 + j)
                        for j in range(n)
                    ]
                ).alias("__k"),
            )
        )
    return toked.select(
        F.col(id_col).alias(out_id),
        F.posexplode(_word_ngrams_from_tokens(F.col("__toks"), n)).alias(
            "pos", "gram"
        ),
    ).select(out_id, "pos", F.col("gram").alias("__k"))


def _span_gaps(positions: Column) -> Column:
    """Consecutive-position gaps of a sorted int array: [p1-p0, p2-p1, …].

    Empty/singleton arrays yield an empty gap array."""
    ln = F.greatest(F.size(positions) - 1, F.lit(0))
    return F.zip_with(
        F.slice(positions, 2, ln),
        F.slice(positions, 1, ln),
        lambda a, b: a - b,
    )


def _span_stat_struct(positions: Column, n: int) -> Column:
    """struct<n_dup_grams, n_dup_spans, dup_tokens> (all long) from a
    SORTED array of duplicated positions — the array-arithmetic
    equivalent of the old lag-window island pass, row-local instead of
    a shuffle+sort:

    - islands split where a gap exceeds ``n``  → spans = 1 + #big gaps;
    - each island [p_a..p_b] covers p_b - p_a + n tokens, and summing
      ``min(gap, n)`` over ALL consecutive gaps counts within-island
      gaps exactly and each island boundary as the ``n``-token tail of
      the finished island → covered = Σ min(gap, n) + n (the final
      island's tail). Equality with the window formulation is pinned in
      tests/test_dedup.py.
    """

    def stats(p: Column) -> Column:
        def from_gaps(gaps: Column) -> Column:
            spans = F.when(
                F.size(p) > 0,
                F.size(F.filter(gaps, lambda g: g > n)) + 1,
            ).otherwise(F.lit(0))
            covered = F.when(
                F.size(p) > 0,
                F.aggregate(
                    gaps, F.lit(0), lambda acc, g: acc + F.least(g, F.lit(n))
                )
                + n,
            ).otherwise(F.lit(0))
            return F.struct(
                F.size(p).cast("long").alias("n_dup_grams"),
                spans.cast("long").alias("n_dup_spans"),
                covered.cast("long").alias("dup_tokens"),
            )

        return let(_span_gaps(p), from_gaps)

    return let(positions, stats)


def _cut_ranges_expr(positions: Column, n: int) -> Column:
    """Merged cut ranges array<struct<start:int,end:int>> from a SORTED
    array of cut positions: islands merge at gap <= ``n`` and each
    island [p_a..p_b] cuts tokens [p_a, p_b + n - 1] — identical to the
    old window+groupBy range derivation, computed row-locally. All
    element_at indexing is guarded by lazy CASE WHEN branches (ANSI
    mode raises on out-of-bounds access)."""

    def over(q: Column) -> Column:
        # 1-based indices where a new island starts.
        bidx = F.filter(
            F.sequence(F.lit(1), F.size(q)),
            lambda i: F.when(i == 1, F.lit(True)).otherwise(
                F.element_at(q, i) - F.element_at(q, i - 1) > n
            ),
        )

        def ranges(b: Column) -> Column:
            last = F.size(b)
            return F.transform(
                F.sequence(F.lit(1), last),
                lambda j: F.struct(
                    F.element_at(q, F.element_at(b, j)).alias("start"),
                    (
                        F.element_at(
                            q,
                            F.when(
                                j < last, F.element_at(b, j + 1) - 1
                            ).otherwise(F.size(q)),
                        )
                        + F.lit(n - 1)
                    ).alias("end"),
                ),
            )

        return F.when(F.size(q) > 0, let(bidx, ranges)).otherwise(
            F.array().cast("array<struct<start:int,end:int>>")
        )

    return let(positions, over)


def _kept_tokens(toks: Column, ranges: Column) -> Column:
    """Tokens surviving the cut ranges (0-based index containment)."""
    return F.filter(
        toks,
        lambda t, i: ~F.exists(
            ranges,
            lambda r: (i >= r.getField("start")) & (i <= r.getField("end")),
        ),
    )


def duplicate_span_stats(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = False,
) -> DataFrame:
    """Sub-document exact-substring duplication profile (the span-level
    dedup of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", re-expressed relationally): for every doc,
    how much of it is covered by word n-grams that occur at >=
    ``min_count`` positions anywhere in the corpus.

    Output, one row per input doc (zeros when nothing is duplicated or
    the doc is shorter than ``n`` tokens):

    - ``n_dup_grams``  — duplicated n-gram positions in this doc;
    - ``n_dup_spans``  — maximal merged spans of duplicated grams (two
      duplicated positions belong to one span when their token ranges
      ``[p, p+n-1]`` touch or overlap, i.e. position gap <= n);
    - ``dup_tokens``   — tokens covered by the union of those spans
      (spans are disjoint by construction, so a plain sum is exact);
    - ``dup_token_frac`` — dup_tokens / token count, rounded to 6.

    Plan shape, and why it holds at 100 TB: positioned grams are one
    narrow posexplode (~tokens-per-doc rows per doc); duplication is a
    map-side-combined groupBy(gram) count, and the positions frame is
    LEFT SEMI joined against the duplicated-gram set — never an
    all-pairs comparison. Each doc's duplicated positions then collapse
    to ONE sorted array row (bounded by document length — the same
    bound the old per-doc window partition had) and the island/span
    arithmetic runs row-locally over that array, so the whole span
    derivation costs one groupBy instead of a window shuffle+sort plus
    two grouping passes (r14; equality with the window formulation is
    unit-pinned). ``hash_grams=True`` shrinks both shuffles by grouping
    on ``xxhash64(gram)`` instead of the gram string — the scale mode;
    a 64-bit collision can only mark a unique gram as duplicated, with
    probability ~N^2/2^64. The default keeps raw gram strings so
    external engines (the DuckDB oracle) reproduce the result exactly.
    """
    from data_pipelines_spark.functions.text import tokens

    # Bind the token array ONE projection below the generator and feed
    # the n-gram transform straight into posexplode — materializing the
    # gram array as its own column and exploding it in a later select
    # collapses into a plan that re-evaluates the tokenizer per lambda
    # reference per position (measured 40x slower on the driver corpus;
    # same hazard _word_ngrams_from_tokens documents).
    toked = docs.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    grams = _gram_key_frame(toked, n, id_col, hash_grams, id_col)

    dup_keys = (
        grams.groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .where(F.col("__cnt") >= min_count)
        .select("__k")
    )
    marked = grams.join(dup_keys, "__k", "left_semi").select(id_col, "pos")

    per_doc = marked.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("__P")
    )
    st = _span_stat_struct(
        F.coalesce(F.col("__P"), F.array().cast("array<int>")), n
    )
    return (
        toked.select(id_col, F.size("__toks").alias("__n_tok"))
        .join(per_doc, id_col, "left")
        .select(F.col(id_col), F.col("__n_tok"), st.alias("__st"))
        .select(
            id_col,
            F.col("__st.n_dup_grams").alias("n_dup_grams"),
            F.col("__st.n_dup_spans").alias("n_dup_spans"),
            F.col("__st.dup_tokens").alias("dup_tokens"),
            F.round(
                F.col("__st.dup_tokens")
                / F.greatest(F.col("__n_tok"), F.lit(1)).cast("double"),
                6,
            ).alias("dup_token_frac"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    keep_first: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = False,
) -> DataFrame:
    """Cut corpus-duplicated spans out of the documents — the removal
    step of Lee et al. 2022, at word-n-gram granularity: a position is
    cut when its n-gram occurs at >= ``min_count`` positions corpus-wide
    and (with ``keep_first=True``) it is not the gram's canonical first
    occurrence (global min (doc, pos) — exactly one copy of each
    duplicated passage survives; ``keep_first=False`` cuts every
    occurrence). Cut positions merge into maximal spans (gap <= n, as
    :func:`duplicate_span_stats`) and the tokens they cover are removed.

    Output: one row per doc — (id, clean_text, n_tokens, n_removed
    _tokens). ``clean_text`` is the surviving tokens rejoined with
    single spaces (whitespace normalizes, same contract as
    ``remove_boilerplate_lines``'s line reassembly).

    Plan shape: the gram-duplication aggregate additionally carries
    ``min(struct(doc, pos))`` — same single shuffle as the stats
    operator; each doc's cut positions collapse to ONE sorted array row
    (bounded by document length) whose merged ranges are derived
    row-locally (r14 — no window shuffle+sort, no per-span grouping
    pass), and the removal itself is one row-local higher-order filter
    over the token array (no UDF).
    """
    from data_pipelines_spark.functions.text import tokens

    toked = docs.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    grams = _gram_key_frame(toked, n, id_col, hash_grams, "__id")

    dup = (
        grams.groupBy("__k")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(_packed_first("__id")).alias("__first"),
        )
        .where(F.col("__cnt") >= min_count)
        .select("__k", "__first")
    )
    marked = grams.join(dup, "__k")
    if keep_first:
        marked = marked.where(_packed_first("__id") != F.col("__first"))
    marked = marked.select(F.col("__id").alias(id_col), "pos")

    per_doc = marked.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("__Q")
    )
    ranges = _cut_ranges_expr(
        F.coalesce(F.col("__Q"), F.array().cast("array<int>")), n
    )
    kept = let(ranges, lambda r: _kept_tokens(F.col("__toks"), r))
    zero = F.lit(0).cast("long")
    return (
        toked.join(per_doc, id_col, "left")
        .select(F.col(id_col), F.col("__toks"), kept.alias("__kept"))
        .select(
            id_col,
            F.concat_ws(" ", F.col("__kept")).alias("clean_text"),
            F.coalesce(F.size("__toks").cast("long"), zero).alias("n_tokens"),
            F.coalesce(
                (F.size("__toks") - F.size("__kept")).cast("long"), zero
            ).alias("n_removed_tokens"),
        )
    )


def _span_positions(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = False,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-doc SORTED duplicated-position list: (id, __pl) where __pl is
    array<struct<pos:int, __cut:boolean>> — every position whose n-gram
    occurs >= min_count times corpus-wide, ``__cut`` marking the
    non-canonical occurrences (everything but the global-first copy).
    The shared heart of the span operators and the fused text_stats
    suite entry: one gram explode+aggregate, one probe join, one
    groupBy(doc).

    ``tokens_col``: the caller already holds the lowered token array
    (the exact value of ``tokens(lower(text_col))``) — use it instead
    of re-tokenizing. The gram frame feeds BOTH sides of the probe join
    (the dup aggregate and the per-position mark), so an un-persisted
    text input pays the regex tokenizer twice; a caller that persists
    its tokenized frame pays it zero times here."""
    from data_pipelines_spark.functions.text import tokens

    if tokens_col is None:
        toked = docs.select(
            F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__toks")
        )
    else:
        toked = docs.select(F.col(id_col), F.col(tokens_col).alias("__toks"))
    grams = _gram_key_frame(toked, n, id_col, hash_grams, "__id")

    dup = (
        grams.groupBy("__k")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(_packed_first("__id")).alias("__first"),
        )
        .where(F.col("__cnt") >= min_count)
        .select("__k", "__first")
    )
    marked = grams.join(dup, "__k").select(
        F.col("__id").alias(id_col),
        "pos",
        (_packed_first("__id") != F.col("__first")).alias("__cut"),
    )
    # sort_array on (pos, cut) structs orders by pos (positions are
    # unique within a doc), so both derived arrays are sorted.
    return marked.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("pos"), F.col("__cut")))
        ).alias("__pl")
    )


def duplicate_span_report(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = False,
) -> DataFrame:
    """:func:`duplicate_span_stats` + keep-first
    :func:`remove_duplicate_spans` in ONE shared gram pipeline — one
    explode, one gram aggregate (count + canonical-first together), one
    probe join, and ONE groupBy(doc) collecting each doc's duplicated
    positions as a sorted (pos, is_cut) array. Both profiles — span
    stats over ALL positions, cut ranges over the non-canonical ones —
    are then derived row-locally from that array in the final
    projection (r14): no persist barrier, no per-branch window
    shuffle+sort, no duplicated subtree. Compared to composing the two
    standalone operators this halves the gram explode+aggregate work
    AND drops the two window passes, so it is now the faster form at
    every scale tried as well as the lower-shuffle one at 100 TB.
    Equality with the standalone pair is unit-asserted.

    Output: (id, n_dup_grams, n_dup_spans, dup_tokens, dup_token_frac,
    clean_text, n_tokens, n_removed_tokens) — column-for-column equal
    to the two standalone operators (unit-asserted).
    """
    from data_pipelines_spark.functions.text import tokens

    toked = docs.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    per_doc = _span_positions(docs, n, min_count, text_col, id_col, hash_grams)

    pl = F.coalesce(
        F.col("__pl"), F.array().cast("array<struct<pos:int,__cut:boolean>>")
    )

    def derive(pl_b: Column) -> Column:
        st = _span_stat_struct(
            F.transform(pl_b, lambda x: x.getField("pos")), n
        )
        ranges = _cut_ranges_expr(
            F.transform(
                F.filter(pl_b, lambda x: x.getField("__cut")),
                lambda x: x.getField("pos"),
            ),
            n,
        )
        kept = let(ranges, lambda r: _kept_tokens(F.col("__toks"), r))
        return F.struct(st.alias("st"), kept.alias("kept"))

    zero = F.lit(0).cast("long")
    n_tok = F.coalesce(F.size("__toks").cast("long"), zero)
    return (
        toked.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("__toks"),
            let(pl, derive).alias("__d"),
        )
        .select(
            id_col,
            F.col("__d.st.n_dup_grams").alias("n_dup_grams"),
            F.col("__d.st.n_dup_spans").alias("n_dup_spans"),
            F.col("__d.st.dup_tokens").alias("dup_tokens"),
            F.round(
                F.col("__d.st.dup_tokens")
                / F.greatest(n_tok, F.lit(1)).cast("double"),
                6,
            ).alias("dup_token_frac"),
            F.concat_ws(" ", F.col("__d.kept")).alias("clean_text"),
            n_tok.alias("n_tokens"),
            F.coalesce(
                (F.size("__toks") - F.size("__d.kept")).cast("long"), zero
            ).alias("n_removed_tokens"),
        )
    )
