"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Shuffle discipline at 100 TB:
- exact dedup is one hash-partitioned groupBy on the key (or on a
  64-bit fingerprint of it, so the shuffle carries 8 bytes not the
  document);
- Jaccard/MinHash candidate generation never cross-joins the corpus:
  candidates come from an equi-join on shingle / band-bucket keys, so
  the shuffle is proportional to the postings lists, not N²;
- ultra-common shingles (stop-shingles) are the skew hazard — cap them
  with ``max_df``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_data_pipeline_spark.llm.text import tokens


def _spread(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition up to default parallelism IF the scan under-splits.

    Narrow shingling/hashing stages inherit the scan's partitioning; a
    corpus landing in few input splits (small files, one big row group)
    would serialize the heavy map-side work. The under-split check reads
    ``inputFiles()`` — driver-side file-listing metadata, no RDD
    conversion and no Spark job, so plan construction stays action-free.
    At cluster scale the scan has ≥parallelism files and this is a
    no-op; non-file sources (in-memory test frames) repartition, which
    is the safe default for their size.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files < parallelism:
        return df.repartition(parallelism, key_col)
    return df


def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one representative (min id) per distinct key.
    Deterministic, unlike ``dropDuplicates`` (which keeps an arbitrary
    row). The groupBy is a single hash shuffle on the key."""
    return df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))


def ngrams_from_tokens(toks, n: int = 2):
    """Word n-grams from an ALREADY-MATERIALIZED token-array column.

    ``toks`` must be a bound column (a real projection output), not the
    ``tokens(text)`` expression itself: Spark's higher-order functions
    run interpreted with no common-subexpression elimination, so a
    split/filter expression referenced inside the per-element lambda is
    re-evaluated for EVERY gram — O(tokens²) per document. Materializing
    the token array first (it is referenced twice, so CollapseProject
    keeps the projection) makes each gram an O(n) slice; measured 7× on
    the sf0.1 documents 5-gram explode.
    """
    if n == 1:
        return toks
    # guard the short-document case EXPLICITLY: sequence(1, 0) is the
    # DESCENDING array [1, 0] in Spark (not empty), and slice(toks, 0, n)
    # then throws INVALID_PARAMETER_VALUE.START — so a single < n-token
    # document would abort the whole job. DuckDB's generate_series(1, 0)
    # is empty, which is also the correct semantics: zero n-grams.
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(text_col, n: int = 2):
    """Word n-gram shingles as an array column (positions i..i+n-1).

    Convenience form over an unmaterialized text column — fine for
    one-shot expressions, but inside explode/HOF pipelines prefer
    projecting ``tokens(text)`` to a column and calling
    ``ngrams_from_tokens`` (see its docstring for why)."""
    return ngrams_from_tokens(tokens(text_col), n)


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Project (id, __tk) with the token array materialized once."""
    return df.select(F.col(id_col), tokens(text_col).alias("__tk"))


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) distinct pairs — the postings list."""
    return (
        _tokenized(_spread(df, id_col), id_col, text_col)
        .select(F.col(id_col), F.explode(ngrams_from_tokens(F.col("__tk"), n)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs:
    ``|shingles(a) ∩ shingles(b)| / |shingles(a) ∪ shingles(b)| ≥ threshold``.

    Candidate pairs come from a self-equi-join on shingle (documents
    sharing no shingle never meet — no cross join). ``max_df`` drops
    shingles appearing in more than that many docs: a skew guard AND a
    recall/precision knob (stop-shingles carry no signal).

    Returns (id_a, id_b, jaccard) with id_a < id_b; intersection/union
    counts are exact integers, so the ratio is bit-reproducible.
    """
    shingles = _doc_shingles(df, id_col, text_col, n)
    if max_df is not None:
        keep = (
            shingles.groupBy("shingle")
            .agg(F.count("*").alias("df_"))
            .filter(F.col("df_") <= max_df)
            .select("shingle")
        )
        shingles = shingles.join(F.broadcast(keep), "shingle")
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("sz"))

    a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.8,
    order: str = "df",
) -> DataFrame:
    """Exact n-gram Jaccard pairs via AllPairs **prefix filtering** — the
    lossless scale path (same result set as :func:`ngram_jaccard_pairs`,
    provably: two sets with Jaccard ≥ t must share at least one element
    among each one's (|S| − ⌈t·|S|⌉ + 1) first-in-canonical-order
    elements, for ANY global total order on shingles).

    ``order`` picks the canonical order:
    - ``"df"`` (default): global document frequency, rarest first —
      costs a dfreq aggregation + join + per-doc rebuild, but prefixes
      are maximally rare so the candidate join stays smallest.
      Measured fastest (2.6s vs 4.9s at sf0.1, hashed shingles) and the
      robust choice under stop-shingle skew.
    - ``"hash"``: xxhash64(shingle) order — per-row computation with no
      global aggregation. Looks cheaper on paper, but the narrow plan
      has no exchange Catalyst can reuse, so the tokenize+sort pass
      re-runs for every consumer (alias-renamed partitioning defeats
      ReusedExchange). Kept as the option for one-consumer pipelines or
      when the postings aggregation itself is the bottleneck.

    Every stage downstream of shingling runs on 64-bit ``xxhash64``
    shingle hashes, never the strings: the distinct, the dfreq
    aggregation, the canonical sort, the prefix equi-join, and the
    ``array_intersect`` verification all shuffle and compare 8-byte
    longs. Intersection/union counts over the hashed sets equal the
    string-set counts unless two distinct shingles of the same corpus
    collide in 64 bits (P ≈ n²/2⁶⁵ — negligible and detectable), so the
    Jaccard values are still exact integers over doubles.
    """
    df = _tokenized(_spread(df, id_col), id_col, text_col)
    if order == "hash":
        docs = (
            df.select(
                F.col(id_col),
                F.array_sort(
                    F.array_distinct(
                        F.transform(
                            ngrams_from_tokens(F.col("__tk"), n), lambda s: F.xxhash64(s)
                        )
                    )
                ).alias("shingle_arr"),
            )
            .withColumn("sz", F.size("shingle_arr"))
            .filter(F.col("sz") > 0)
            .withColumn(
                "prefix",
                F.slice(
                    "shingle_arr",
                    1,
                    (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int"),
                ),
            )
            .select(id_col, "shingle_arr", "sz", "prefix")
            # docs feeds three consumers (prefix explode + both verify
            # sides); without a shuffle boundary Catalyst recomputes the
            # tokenize+hash+sort per consumer. One explicit exchange
            # becomes a ReusedExchange for the other two.
            .repartition(id_col)
        )
    elif order == "df":
        shingles = df.select(
            F.col(id_col),
            F.explode(
                F.transform(ngrams_from_tokens(F.col("__tk"), n), lambda s: F.xxhash64(s))
            ).alias("shingle"),
        ).distinct()
        dfreq = shingles.groupBy("shingle").agg(F.count("*").alias("df_"))
        ranked = shingles.join(dfreq, "shingle")
        docs = (
            ranked.groupBy(id_col)
            .agg(F.array_sort(F.collect_list(F.struct("df_", "shingle"))).alias("__sorted"))
            .withColumn("shingle_arr", F.transform("__sorted", lambda s: s["shingle"]))
            .withColumn("sz", F.size("shingle_arr"))
            .withColumn(
                "prefix",
                F.slice(
                    "shingle_arr",
                    1,
                    (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int"),
                ),
            )
            .select(id_col, "shingle_arr", "sz", "prefix")
            # NOTE (r09, measured): docs feeds three consumers and the
            # plan below is narrow (dfreq broadcasts, the groupBy rides
            # _spread's id partitioning), so the whole subtree IS
            # duplicated per consumer — but materializing it behind an
            # explicit exchange (repartition by id, by (id, shingle) at
            # the postings level, or localCheckpoint) measured 1.4-2×
            # WORSE CPU and wall interleaved on the same JVM: the
            # duplicated branches are fully pipelined scan-side work
            # with zero exchange cost, while a materialization pays
            # shuffle serialization on every posting and defeats
            # scan-side pruning. Keep the narrow shape deliberately.
        )
    else:
        raise ValueError(f"order must be 'hash' or 'df', got {order!r}")
    pre = docs.select(id_col, "sz", F.explode("prefix").alias("shingle"))
    a = pre.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "shingle")
    b = pre.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "shingle")
    cands = (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # size filter: Jaccard ≥ t needs t·|A| ≤ |B| ≤ |A|/t
            & (F.col("sz_b") >= F.ceil(F.lit(threshold) * F.col("sz_a")))
            & (F.col("sz_a") >= F.ceil(F.lit(threshold) * F.col("sz_b")))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    da = docs.select(
        F.col(id_col).alias("id_a"), F.col("shingle_arr").alias("arr_a"), F.col("sz").alias("sz_a")
    )
    db = docs.select(
        F.col(id_col).alias("id_b"), F.col("shingle_arr").alias("arr_b"), F.col("sz").alias("sz_b")
    )
    return (
        cands.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("inter", F.size(F.array_intersect("arr_a", "arr_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


_MERSENNE_31 = (1 << 31) - 1


def _perm_constants(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic 31-bit (multiplier, offset) pairs for the universal
    hash family h_i(x) = (a_i·x + b_i) mod (2^31−1). Derived by
    splitmix64-style index mixing — no RNG state to broadcast. 31-bit
    operands keep every product ≤ 2^62 (overflow-free under Spark's
    default ANSI arithmetic) while the modulus stays far below the
    product range, so the map wraps many times and genuinely permutes —
    a modulus near the product range would be near-monotonic in x and
    correlate all the permutations."""
    consts = []
    mask31 = (1 << 31) - 1
    for i in range(num_perm):
        z = (i + 1) * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF
        z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
        z = (z ^ (z >> 27)) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
        a = ((z >> 33) & mask31) | 1  # odd, 31-bit
        b = (z >> 2) & mask31
        consts.append((a, b))
    return consts


def _portable_shingle_hash(shingle: F.Column) -> F.Column:
    """Polynomial rolling hash of the shingle (base 31 mod 1e9+7) —
    engine-portable (same fold any ANSI-SQL engine can run), used when
    MinHash results must be verifiable against an independent engine.
    xxhash64 is the faster production default.

    Folds FOUR chars per step instead of one: a short closed-form seed
    covers ``len mod 4`` leading chars (no HOF), then each aggregate
    step consumes a 4-char chunk as
    ``acc·31⁴ + ((c₀·31+c₁)·31+c₂)·31+c₃``, deferring the mod to once
    per chunk. Values stay exact — acc < 1e9+7 so acc·31⁴ < 2⁵⁰, chunk
    < 2²³ — and char-by-char-with-mod ≡ chunk-wise-with-deferred-mod,
    so the hash is bit-identical to the per-char fold (asserted in
    tests/test_llm.py) and every committed generated oracle is
    unchanged. ~4× fewer interpreted HOF lambda dispatches per
    shingle, which dominated the verification twin's CPU (q54)."""
    p = F.lit(1_000_000_007).cast("long")

    def code(pos: F.Column) -> F.Column:
        return F.ascii(shingle.substr(pos, F.lit(1))).cast("long")

    ln = F.length(shingle)
    r = ln % F.lit(4)
    c1, c2, c3 = code(F.lit(1)), code(F.lit(2)), code(F.lit(3))
    # The closed-form seed is reduced mod p: Spark's ascii() returns
    # full codepoints (≤ 1114111), so an astral-plane char can push the
    # 3-char seed past p, and with no 4-char chunk to fold (len < 4) the
    # aggregate would return it UNREDUCED — breaking bit-identity with
    # the composed path (r09 ADVICE). A no-op for BMP chars (max seed
    # 65535·993 < p) and for len ≥ 4 (the first fold step reduces), so
    # every committed oracle is unchanged.
    seed = (
        F.when(r == 0, F.lit(0).cast("long"))
        .when(r == 1, c1)
        .when(r == 2, c1 * 31 + c2)
        .otherwise((c1 * 31 + c2) * 31 + c3)
    ) % p
    nfull = ((ln - r) / F.lit(4)).cast("long")
    chunks = F.when(
        nfull >= 1,
        F.transform(
            F.sequence(F.lit(1).cast("long"), nfull),
            lambda j: (
                (code(r + (j - 1) * 4 + 1) * 31 + code(r + (j - 1) * 4 + 2)) * 31
                + code(r + (j - 1) * 4 + 3)
            )
            * 31
            + code(r + (j - 1) * 4 + 4),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return F.aggregate(
        chunks, seed, lambda acc, v: (acc * F.lit(923521) + v) % p
    )


def _token_hp(tok: F.Column) -> F.Column:
    """``struct(h, pw)`` for one token: ``h`` = the portable polynomial
    hash of the token's chars (identical fold to
    :func:`_portable_shingle_hash`), ``pw`` = ``31^len(tok) mod p`` —
    the power the composition law needs. Both ride the same chunked
    fold, so ``pw`` costs one extra mult-mod per 4-char chunk."""
    p = F.lit(1_000_000_007).cast("long")

    def code(pos: F.Column) -> F.Column:
        return F.ascii(tok.substr(pos, F.lit(1))).cast("long")

    ln = F.length(tok)
    r = ln % F.lit(4)
    c1, c2, c3 = code(F.lit(1)), code(F.lit(2)), code(F.lit(3))
    # seed % p: same astral-plane corner as _portable_shingle_hash —
    # keeps the two paths bit-identical for 1-char tokens past the BMP.
    seed = (
        F.when(r == 0, F.lit(0).cast("long"))
        .when(r == 1, c1)
        .when(r == 2, c1 * 31 + c2)
        .otherwise((c1 * 31 + c2) * 31 + c3)
    ) % p
    pw0 = (
        F.when(r == 0, F.lit(1).cast("long"))
        .when(r == 1, F.lit(31).cast("long"))
        .when(r == 2, F.lit(961).cast("long"))
        .otherwise(F.lit(29791).cast("long"))
    )
    nfull = ((ln - r) / F.lit(4)).cast("long")
    chunks = F.when(
        nfull >= 1,
        F.transform(
            F.sequence(F.lit(1).cast("long"), nfull),
            lambda j: (
                (code(r + (j - 1) * 4 + 1) * 31 + code(r + (j - 1) * 4 + 2)) * 31
                + code(r + (j - 1) * 4 + 3)
            )
            * 31
            + code(r + (j - 1) * 4 + 4),
        ),
    ).otherwise(F.array().cast("array<long>"))
    init = F.struct(seed.alias("h"), pw0.alias("pw"))
    return F.aggregate(
        chunks,
        init,
        lambda acc, v: F.struct(
            ((acc["h"] * F.lit(923521) + v) % p).alias("h"),
            ((acc["pw"] * F.lit(923521)) % p).alias("pw"),
        ),
    )


def portable_ngram_hashes(
    df: DataFrame, id_col: str, tk_col: str, n: int
) -> DataFrame:
    """``(id, h)`` rows: the portable polynomial hash of every
    space-joined word ``n``-gram of the bound token-array column
    ``tk_col`` — bit-identical to exploding
    ``array_join(slice(tk, i, n), ' ')`` strings through
    :func:`_portable_shingle_hash` (asserted in tests/test_llm.py), but
    WITHOUT ever building the n-gram strings: each token is hashed once
    per document and the n-gram hashes are composed by the polynomial
    identity ``H(a ∘ ' ' ∘ b) = ((H(a)·31 + 32) · 31^len(b) + H(b)) mod
    p`` (32 = the space's code). Char-level work drops from n× per
    token (each token re-hashed inside every window containing it) to
    1×, and the string alloc/copy per gram disappears — measured
    2.5-3× CPU on the sf0.1 8-gram screen (r09).

    The per-token ``(h, pw)`` structs are materialized as a REAL
    projection column before the window transform references them —
    higher-order functions run interpreted with no CSE, so an unbound
    expression would re-hash the whole document once per element_at
    (measured 70× WORSE than the string path; the
    :func:`ngrams_from_tokens` binding rule, which this helper owns so
    call sites can't get it wrong).

    Documents with fewer than ``n`` tokens emit zero grams (the
    explicit when-guard below — ``sequence(1, 0)`` is the DESCENDING
    array in Spark, the :func:`ngrams_from_tokens` trap)."""
    p = F.lit(1_000_000_007).cast("long")
    hp_bound = df.select(F.col(id_col), F.transform(F.col(tk_col), _token_hp).alias("__hp"))

    def gram(i: F.Column) -> F.Column:
        acc = F.element_at(F.col("__hp"), i.cast("int"))["h"]
        for j in range(1, n):
            e = F.element_at(F.col("__hp"), (i + j).cast("int"))
            acc = ((acc * 31 + 32) % p * e["pw"] + e["h"]) % p
        return acc

    grams = F.when(
        F.size(F.col("__hp")) >= n,
        F.transform(F.sequence(F.lit(1), F.size(F.col("__hp")) - (n - 1)), gram),
    )
    return hp_bound.select(F.col(id_col), F.explode(grams).alias("h"))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 2, num_perm: int = 64,
    portable_hash: bool = False,
) -> DataFrame:
    """MinHash signature per document. Each shingle is hashed ONCE
    (xxhash64 → 31 bits via unsigned shift), then the ``num_perm``
    permutations are cheap multiply-add-mod integer ops over that hash
    (the standard one-hash MinHash construction with a universal
    family). That turns 64 string hashes per posting into 1 string hash
    + 64 integer mults: the explode+agg stays one shuffle carrying
    (id, hash), and the per-row CPU drops ~an order of magnitude.

    ``portable_hash`` swaps xxhash64 for the polynomial rolling hash so
    every intermediate value is reproducible in ANSI SQL — enabling a
    full value oracle for the LSH pipeline at some CPU cost.

    Shuffle math (why explode + groupBy, and why NO distinct): MIN is
    duplicate-insensitive, so the shingle postings never need a
    dedup — and the dedup is what used to cost a full (id, string)
    exchange. With it gone, hash-partial aggregation collapses each
    map partition to ≤64 longs per document BEFORE the exchange, so
    the one remaining shuffle carries docs × 64 × 8 B regardless of
    corpus size — at 100 TB that is megabytes, not the corpus. The
    per-posting work (1 string hash + 64 multiply-add-mods into a
    mutable agg buffer) stays in whole-stage codegen with zero array
    allocations; a row-local array_min formulation was measured ~40%
    slower from per-row intermediate-array churn.
    """
    tokenized = _tokenized(_spread(df, id_col), id_col, text_col)
    if portable_hash:
        # composed per-token hashing (r09): bit-identical postings to
        # exploding the shingle strings through _portable_shingle_hash
        # (pinned in tests/test_llm.py), but each token's chars are
        # hashed once per document instead of once per window, and the
        # shingle strings are never allocated — measured ~30% less CPU
        # on the sf0.1 signature stage, interleaved A/B
        postings = portable_ngram_hashes(tokenized, id_col, "__tk", n)
    else:
        # xxhash64 is a native (non-HOF) expression, safe to apply
        # inside the array transform — no shingle strings ever reach
        # the exploded rows
        hfn = lambda s: F.shiftrightunsigned(F.xxhash64(s), 33)  # noqa: E731  31-bit, non-negative
        postings = tokenized.select(
            F.col(id_col),
            F.explode(F.transform(ngrams_from_tokens(F.col("__tk"), n), hfn)).alias("h"),
        )
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_31))).alias(f"h{s}")
        for s, (a, b) in enumerate(_perm_constants(num_perm))
    ]
    sig = postings.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[F.col(f"h{s}") for s in range(num_perm)]).alias("signature")
    )


def _banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_perm: int,
    bands: int,
    portable_hash: bool,
) -> DataFrame:
    """(id, band_idx, band_hash) rows, one per document per band,
    repartitioned on the band key. Shared by the all-pairs and
    bucket-star candidate shapes so both see the identical banding.

    The banding feeds self-referential consumers (a self-join, or a
    window over the bucket). Those consumers' sides are alias-renamed
    projections whose implicit exchanges would differ and defeat
    ReusedExchange (each side re-running the signature computation) —
    one explicit repartition on the band keys BELOW the aliasing
    materializes the banding once and pre-positions every consumer, so
    the join/window adds no further shuffle."""
    assert num_perm % bands == 0, "num_perm must divide evenly into bands"
    r = num_perm // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_perm, portable_hash)
    if portable_hash:
        band_val = lambda b: F.aggregate(  # noqa: E731
            F.slice(F.col("signature"), b * r + 1, r),
            F.lit(0).cast("long"),
            lambda acc, v: (acc * 31 + v) % 1_000_000_007,
        )
    else:
        band_val = lambda b: F.hash(F.slice(F.col("signature"), b * r + 1, r))  # noqa: E731
    band_structs = [
        F.struct(F.lit(b).alias("band_idx"), band_val(b).alias("band_hash"))
        for b in range(bands)
    ]
    return (
        sig.select(F.col(id_col), F.explode(F.array(*band_structs)).alias("band"))
        .select(id_col, "band.band_idx", "band.band_hash")
        .repartition("band_idx", "band_hash")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_perm: int = 64,
    bands: int = 16,
    portable_hash: bool = False,
) -> DataFrame:
    """MinHash+LSH candidate pairs: split the signature into ``bands``
    rows of ``num_perm/bands`` hashes; documents colliding on any whole
    band are candidates. Probability a pair with Jaccard j collides:
    1 − (1 − j^r)^b with r = num_perm/bands.

    The band join is an equi-join on (band_idx, band_hash) — shuffle
    size ∝ docs × bands, never N². Verify candidates with
    :func:`ngram_jaccard_pairs` semantics downstream if exact scores
    are needed.

    ``portable_hash`` makes every intermediate (shingle hash, signature,
    band value) exactly reproducible in ANSI SQL: the band value becomes
    an integer fold instead of Spark's murmur ``hash``, so an
    independent engine can verify the full candidate set value-by-value.
    """
    banded = _banded(df, id_col, text_col, n, num_perm, bands, portable_hash)
    left = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    right = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_star_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_perm: int = 64,
    bands: int = 16,
    portable_hash: bool = False,
) -> DataFrame:
    """MinHash+LSH candidates as BUCKET-STAR edges: within each
    (band_idx, band_hash) bucket every member pairs with the bucket's
    MIN id — |bucket|−1 edges where :func:`minhash_lsh_pairs` emits
    C(|bucket|, 2). Equivalently: collapse the doc–bucket bipartite
    graph instead of expanding each bucket into a clique.

    Why it exists (SCALE.md §17): the all-pairs candidate set is the
    faithful LSH semantics, but it is QUADRATIC in the hottest bucket —
    the skewed-fixture byte curve measured q26/q54 at beta ≈ 1.35 when
    a hot sentence lands in every 3rd document, and no plan can fix
    that because the bytes follow the data. The star shape bounds
    candidates at docs × bands under ANY key distribution (beta = 1 by
    construction) while preserving exactly what corpus dedup consumes:
    each bucket's star spans the same vertices as its clique, so the
    CONNECTED COMPONENTS of the candidate graph — the dup clusters —
    are identical (pinned against the all-pairs shape in
    tests/test_llm.py). What it gives up is the per-pair candidate
    list itself: two non-min members of a hot bucket are no longer
    emitted as a direct pair, so downstream per-pair exact
    verification sees the star edges only — fine for cluster-level
    dedup (verify-then-CC commutes to CC-then-verify only at the
    cluster level), not a drop-in for q54's verified pair list.

    One window over the banding's existing partitioning (no self-join
    at all): the explicit band-key repartition in :func:`_banded`
    satisfies the window's required distribution, so the whole
    candidate generation costs the signature aggregate shuffle + one
    band exchange + the output distinct.
    """
    banded = _banded(df, id_col, text_col, n, num_perm, bands, portable_hash)
    from pyspark.sql.window import Window

    w = Window.partitionBy("band_idx", "band_hash")
    return (
        banded.withColumn("__min", F.min(F.col(id_col)).over(w))
        .filter(F.col(id_col) != F.col("__min"))
        .select(F.col("__min").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


def _cc_round(bidir: DataFrame, labels: DataFrame) -> DataFrame:
    """One connected-components round: neighbor min-label propagation
    followed by pointer jumping (l(v) ← min(l(v), l(l(v)))).

    Plain propagation needs O(diameter) rounds on a chain; the pointer
    jump doubles how far a label has travelled every round, so the
    combination converges in O(log diameter) — the same effect as the
    large-star/small-star alternation, expressed as two equi-joins +
    two min-aggregates, all hash-partitioned on the vertex id.
    """
    neighbor = (
        bidir.join(labels.withColumnRenamed("vertex", "u"), "u")
        .select(F.col("v").alias("vertex"), "lbl")
    )
    once = (
        labels.unionByName(neighbor)
        .groupBy("vertex")
        .agg(F.min("lbl").alias("lbl"))
    )
    jump = (
        once.join(
            once.select(F.col("vertex").alias("lbl"), F.col("lbl").alias("lbl2")),
            "lbl",
        ).select("vertex", F.col("lbl2").alias("lbl"))
    )
    return (
        once.unionByName(jump).groupBy("vertex").agg(F.min("lbl").alias("lbl"))
    )


def _bidir(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of each edge — as a row-local explode of a
    two-struct array, NOT a self-union: a union's two branches each
    re-evaluate the whole ``edges`` subtree (for near-dup clustering
    that is the full shingle/prefix/verify pipeline — measured as a
    doubled 2×parallelism task stage dominating q66), while the explode
    duplicates each row in place for zero extra passes and zero extra
    exchanges. Same multiset as the old select-union (UNION ALL)."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
            )
        ).alias("__e")
    ).select("__e.u", "__e.v")


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected pair graph (near-dup
    clusters). Returns (vertex, cluster_id), cluster_id = component min.

    Scale design: each round is :func:`_cc_round` (propagate + pointer
    jump → O(log diameter) rounds, not O(diameter)); between rounds the
    labels are checkpointed to DISK (``checkpoint()``, truncating
    lineage without pinning the working set in executor memory the way
    ``localCheckpoint`` would — at 100 TB the label table is too big to
    hold as memory-resident blocks whose loss would kill the job). The
    per-round convergence test is an ``observe()`` metric collected on
    the checkpoint's own materialization job (labels are monotone
    non-increasing, so a stalled exact label-sum ⟺ converged) — ONE
    job per round, O(log d) rounds total. For an action-free fully
    lazy plan on bounded-diameter graphs use
    :func:`connected_components_fixed`.

    ``checkpoint_dir``: set once on the SparkContext if given (or if no
    checkpoint dir is configured, a local tmpdir — single-node default;
    on a cluster pass a DFS path).
    """
    from pyspark.sql import Observation

    spark = edges.sparkSession
    sc = spark.sparkContext
    if checkpoint_dir is not None:
        sc.setCheckpointDir(checkpoint_dir)
    elif sc._jsc.sc().getCheckpointDir().isEmpty():  # no dir configured yet
        import tempfile

        sc.setCheckpointDir(tempfile.mkdtemp(prefix="spark-cc-ckpt-"))
    # Checkpoint the edge list ONCE: every round's neighbor join scans
    # it, and without the barrier each round would re-run the full
    # upstream edge-generation plan (for near-dup clustering that is the
    # whole shingle/prefix-filter pipeline — the dominant cost). The
    # repartition on the join key matters twice: AQE sizes the shuffle
    # to the data (a small dup graph collapses to few partitions, so
    # every per-round job stops paying one task per upstream partition),
    # and the checkpointed layout is already co-partitioned with the
    # labels the rounds join against.
    bidir = _bidir(edges, src, dst).repartition("u").checkpoint(eager=True)
    # The initial labels are NOT checkpointed (r10): they are one cheap
    # distinct over the just-checkpointed bidir, so round 1 re-derives
    # them in-plan and round 1's own checkpoint truncates the lineage —
    # one fewer serial job + disk write on a chain that is wall-bound,
    # not CPU-bound (the loop serializes O(log d) tiny jobs).
    labels = (
        bidir.select(F.col("u").alias("vertex")).distinct().withColumn("lbl", F.col("vertex"))
    )
    # Convergence rides the checkpoint action itself (r10): labels are
    # pointwise monotone non-increasing (_cc_round outputs a MIN over a
    # set containing the old label), so Σ lbl — exact as decimal(38,0),
    # no overflow for any realistic vertex count — is strictly
    # decreasing while anything changes and stalls exactly at
    # convergence. observe() collects the sum ON the eager checkpoint's
    # own job (verified: Dataset.checkpoint runs under withAction, so
    # CollectMetrics fires), replacing the old per-round join-the-two-
    # checkpoints changed-count job: one job per round instead of two.
    # Equality of consecutive sums ⟺ no label changed ⟺ the old
    # changed == 0 test. The same observation carries Σ vertex and the
    # row count, at no extra job:
    # - every round outputs one row per vertex, so Σ vertex is the sum
    #   of the INITIAL labels (lbl = vertex) and round 1 compares against
    #   it — an input already at its fixpoint (all singletons, e.g.
    #   self-loop-only edges) converges in round 1, so max_iter=1 works;
    # - zero rows (empty graph) converges at once: empty in, empty out;
    # - a null sum WITH rows (a decimal overflow under non-ANSI mode)
    #   raises: read as "converged", it would return unconverged labels.
    prev_sum = None
    converged = False
    for i in range(max_iter):
        obs = Observation(f"cc_conv_{i}")
        new_labels = (
            _cc_round(bidir, labels)
            .observe(
                obs,
                F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s"),
                F.sum(F.col("vertex").cast("decimal(38,0)")).alias("s0"),
                F.count(F.lit(1)).alias("n"),
            )
            .checkpoint(eager=True)
        )
        m = obs.get
        labels = new_labels
        if m["n"] == 0:
            converged = True
            break
        if m["s"] is None or m["s0"] is None:
            raise RuntimeError(
                f"connected_components: null label sum over {m['n']} vertices in "
                f"round {i + 1} (decimal overflow?); convergence cannot be decided"
            )
        if prev_sum is None:
            prev_sum = m["s0"]
        if m["s"] == prev_sum:
            converged = True
            break
        prev_sum = m["s"]
    if not converged:
        # NEVER return silently-wrong labels: an unconverged run split
        # components (found the hard way — the sf0.1 proximity graph
        # needs 28 rounds; the old max_iter=25 returned a 15000-vertex
        # component cut into 13182+1818 with no error). max_iter is a
        # runaway bound, not an accuracy knob.
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds; "
            "the graph's label-propagation depth exceeds the safety bound — "
            "raise max_iter (labels would be WRONG, not approximate)"
        )
    return labels.select(F.col("vertex"), F.col("lbl").alias("cluster_id"))


def connected_components_fixed(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", rounds: int = 4
) -> DataFrame:
    """Fully lazy connected components: ``rounds`` unrolled
    :func:`_cc_round` stages, no checkpoints, no convergence action —
    building the result is pure plan construction (zero Spark jobs).
    Pointer jumping gives label reach 2^rounds (default 4 → diameter
    ≤ 16, beyond typical near-dup cliques/chains).

    CAVEAT — plan growth: each unrolled round references its input in
    several branches, so the logical tree (and Catalyst analysis cost)
    grows ~4^rounds copies of the ``edges`` subtree. Use only for small
    ``rounds`` over cheap/materialized inputs; for anything else use
    :func:`connected_components` — the checkpoint barrier is exactly
    what keeps iterative algorithms' plans bounded, which is why the
    to-convergence loop is the production path.
    """
    bidir = _bidir(edges, src, dst)
    labels = (
        bidir.select(F.col("u").alias("vertex")).distinct().withColumn("lbl", F.col("vertex"))
    )
    for _ in range(rounds):
        labels = _cc_round(bidir, labels)
    return labels.select(F.col("vertex"), F.col("lbl").alias("cluster_id"))


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64,
    portable_hash: bool = False,
) -> DataFrame:
    """SimHash fingerprint: hash each token to 64 bits; fingerprint bit i
    is the sign of Σ_tokens (±1 for bit i of the token hash). Near-dups
    have small Hamming distance between fingerprints.

    Single explode + groupBy with 64 conditional-sum aggregates — one
    shuffle carrying (id, token-hash).

    ``portable_hash``: token hash = the polynomial rolling hash and bit
    i's vote = parity of the i-th universal-family map
    ``(a_i·h + b_i) mod 2³¹−1`` (same constants as MinHash) — every
    vote, bit sum, and fingerprint is then reproducible in ANSI SQL,
    enabling a full value oracle. xxhash64 bit-slicing stays the faster
    production default.
    """
    tok = _spread(df, id_col).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    )
    if portable_hash:
        tok = tok.withColumn("th", _portable_shingle_hash(F.col("tok")))
        consts = _perm_constants(bits)
        vote = lambda i: F.pmod(  # noqa: E731
            F.col("th") * F.lit(consts[i][0]) + F.lit(consts[i][1]), F.lit(_MERSENNE_31)
        ).bitwiseAND(F.lit(1)) == 1
    else:
        tok = tok.withColumn("th", F.xxhash64("tok"))
        vote = lambda i: F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1  # noqa: E731
    bit_aggs = [
        F.sum(F.when(vote(i), 1).otherwise(-1)).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*bit_aggs)
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, blocks: int = 4,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash with block-permutation candidate
    generation (pigeonhole: two fingerprints within ``max_hamming`` of
    each other agree exactly on at least one of ``blocks`` 16-bit blocks
    when blocks > max_hamming). Equi-join on (block_idx, block_value),
    then exact Hamming filter via bit_count(xor). ``portable_hash``
    makes the whole pipeline value-verifiable in ANSI SQL (see
    :func:`simhash`)."""
    width = 64 // blocks
    fps = simhash(df, id_col, text_col, portable_hash=portable_hash)
    # shiftright needs a Python-int bit count → build the block structs
    # with a driver-side loop, not F.transform
    block_structs = [
        F.struct(
            F.lit(b).alias("block_idx"),
            F.shiftright(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("block_val"),
        )
        for b in range(blocks)
    ]
    blocked = fps.select(
        id_col, "simhash", F.explode(F.array(*block_structs)).alias("blk")
    ).select(id_col, "simhash", "blk.block_idx", "blk.block_val")
    left = blocked.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "block_idx", "block_val")
    right = blocked.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "block_idx", "block_val")
    return (
        left.join(right, ["block_idx", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
