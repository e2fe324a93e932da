"""Document/embedding clustering — fixed-round Lloyd k-means.

Reference scope: the reference pipeline has no clustering; this is part
of the training-data extension set (corpus organization / diversity
sampling before mixture construction), built the way iterative ML fits
Spark: each Lloyd round is a broadcast-join assignment plus one
posexplode aggregation, all declarative, no driver-side data movement.

Determinism & verifiability: embeddings are quantized to integers
(``floor(x · 2^quant_bits)`` — exact: float32→double is exact and the
multiplier is a power of two), so per-cluster per-dimension sums are
exact int64 arithmetic (order-independent), centroid means are ONE
double division of identical operands, and distance² folds run
left-to-right from a 0.0 seed — every round reproduces bit-identically
in any ANSI-SQL engine (see q80's generated oracle).

Scale design: centroids are k rows — always broadcast; the assignment
is a broadcast nested-loop over k (no shuffle of the corpus); the
recompute shuffles (cluster, dim, int64) triples with map-side partial
aggregation. Rounds are unrolled lazily (no actions, no checkpoints —
``rounds`` is small by design; for to-convergence clustering reuse the
``connected_components`` checkpoint pattern)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stock_data_pipeline_spark.llm.fanout import fanout_partitions
from stock_data_pipeline_spark.llm.similarity import _fold_sum


def _quantize(vec, bits: int):
    scale = float(1 << bits)
    return F.transform(vec, lambda x: F.floor(x.cast("double") * scale).cast("long"))


def _sq_dist(qv, cv):
    """Σ (q_i − c_i)² as a left fold (0.0 seed, ascending index) —
    bit-reproducible given identical operands."""
    return _fold_sum(
        F.zip_with(
            qv,
            cv,
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        )
    )


def _sq_dist_unrolled(qv, cv, dim: int):
    """:func:`_sq_dist` with the fold statically unrolled for a
    plan-time-known dimension: ``0.0 + t_1 + t_2 + …`` is the exact
    left-to-right association the zip_with/aggregate fold (and the SQL
    oracle's list_reduce) computes, so results are bit-identical — but
    the expression is plain column arithmetic (element_at + mul + add),
    an order of magnitude cheaper to evaluate than nested
    higher-order-function lambdas when it sits INSIDE another HOF
    lambda, where codegen cannot reach (the hot path of the PQ
    assignment: N·m·k evaluations)."""
    acc = F.lit(0.0)
    for i in range(1, dim + 1):
        d = F.element_at(qv, i).cast("double") - F.element_at(cv, i)
        acc = acc + d * d
    return acc


def _assign(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per point; ties broken by centroid id. The
    centroid table is k rows — broadcast, so the corpus never shuffles
    during assignment."""
    scored = pts.crossJoin(F.broadcast(cents)).withColumn(
        "dist2", _sq_dist(F.col("qv"), F.col("cv"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dist2").asc(), F.col("cid").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("vec_id", "qv", "cid", "dist2")
    )


def _recompute(assigned: DataFrame) -> DataFrame:
    """New centroids: exact int64 per-dimension sums (posexplode →
    map-side-combined hash aggregate), then one double division per
    dimension. Empty clusters drop out (same as the SQL oracle)."""
    ex = assigned.select("cid", F.posexplode("qv").alias("dim", "x"))
    sums = ex.groupBy("cid", "dim").agg(F.sum("x").alias("s"))
    cnt = assigned.groupBy("cid").agg(F.count("*").alias("n"))
    return (
        sums.groupBy("cid")
        .agg(F.sort_array(F.collect_list(F.struct("dim", "s"))).alias("ds"))
        .join(F.broadcast(cnt), "cid")  # k rows — never sort-merge this
        .select(
            "cid",
            F.transform("ds", lambda t: t["s"].cast("double") / F.col("n")).alias("cv"),
        )
    )


def kmeans_fixed(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    rounds: int = 2,
    quant_bits: int = 10,
) -> DataFrame:
    """``rounds`` unrolled Lloyd iterations over quantized embeddings;
    init = the ``k`` lowest-id vectors (deterministic, no RNG state).
    Returns (vec_id, cluster_id, dist2) — the final assignment and its
    squared distance to the pre-update centroid."""
    pts = df.select(
        F.col(id_col).alias("vec_id"), _quantize(F.col(vec_col), quant_bits).alias("qv")
    )
    # init: k lowest-id vectors via orderBy().limit() (per-partition
    # heaps — NOT a global single-partition window over the corpus);
    # the ranking window then runs over only k rows
    w = Window.orderBy("vec_id")
    cents = (
        pts.orderBy("vec_id")
        .limit(k)
        .withColumn("__rn", F.row_number().over(w))
        .select(
            (F.col("__rn") - 1).cast("int").alias("cid"),
            F.transform("qv", lambda x: x.cast("double")).alias("cv"),
        )
    )
    assigned = None
    for _ in range(rounds):
        assigned = _assign(pts, cents)
        cents = _recompute(assigned)
    return assigned.select(
        "vec_id", F.col("cid").cast("int").alias("cluster_id"), "dist2"
    )


def _lloyd_rounds(
    pts: DataFrame, k: int, rounds: int, train: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """``rounds`` unrolled Lloyd iterations over (vec_id, qv) points;
    init = the k lowest-id vectors. Returns ``(assigned, cents_used)``
    where ``cents_used`` is the centroid table the FINAL assignment
    scored against (what ADC distance tables must use). Same lazy
    unrolled-plan shape as :func:`kmeans_fixed`.

    ``train``: optional training subset (e.g. a cached deterministic
    sample). When given, the init and the ``rounds - 1`` centroid
    updates iterate over it ONLY — the full ``pts`` is touched exactly
    once, by the final assignment. This is how codebooks are trained at
    scale: Lloyd never needs the whole corpus, and re-reading 100 TB
    per round to refine k·m centroids is pure waste. With
    ``train=None`` the plan is identical to the historical full-data
    unroll."""
    t = train if train is not None else pts
    w = Window.orderBy("vec_id")
    cents = (
        t.orderBy("vec_id")
        .limit(k)
        .withColumn("__rn", F.row_number().over(w))
        .select(
            (F.col("__rn") - 1).cast("int").alias("cid"),
            F.transform("qv", lambda x: x.cast("double")).alias("cv"),
        )
    )
    for _ in range(rounds - 1):
        cents = _recompute(_assign(t, cents))
    # the final codebook is k rows (parameter-sized) with >=2 consumers
    # in every caller (the final assignment + the query-side distance
    # tables/probes) — cache it so the Lloyd chain executes once, not
    # once per consumer (same keyed-by-plan discipline and bound
    # rationale as _train_sample)
    cents = cents.cache()
    return _assign(pts, cents), cents


def _train_sample(pts: DataFrame, train_mod: int | None) -> DataFrame | None:
    """Deterministic 1-in-``train_mod`` systematic training sample
    (``vec_id % train_mod == 0`` — portable to the SQL oracle, unlike an
    engine-specific hash), CACHED: the unrolled Lloyd rounds reference
    their input once per round, and caching the small sample turns those
    re-reads into in-memory scans instead of repeated source scans. At
    corpus scale this is the difference between one 100 TB pass (the
    final assignment) and ``rounds + 1`` of them. The cache entry is
    keyed by canonicalized plan, so repeated invocations reuse it
    rather than stacking duplicates; entries live until the session
    ends (the returned plan stays lazy, so there is no safe unpersist
    point inside the operator) — bounded at |table|/train_mod ×
    (sub_dim + 1) int64s per distinct (table, subspace) — ~40 KB per
    entry at sf0.1."""
    if train_mod is None:
        return None
    return pts.filter(F.col("vec_id") % train_mod == 0).cache()


# ---------------------------------------------------------------------------
# Subspace-keyed PQ core (r09). The r08 shape ran ONE Lloyd plan chain
# PER subspace — fine at m=4/k=16, but the r09 budget re-size (q194 to
# m=16/k=256, the smallest config whose recall carries signal on the
# uniform-random fixture — RECALL_r08) made two costs structural:
#   - 16 independent plan chains = 16× the jobs/stages (launch overhead
#     locally; 16× scheduler round-trips on a cluster);
#   - assignment ranked the corpus×k scored rows through a per-vec_id
#     WINDOW, shuffling N·k rows per subspace — traffic that grows with
#     the codebook size k.
# The core below keys everything by the subspace id instead: one
# (vec_id, s, qv) table, one broadcast (s, cid, cv) codebook of m·k
# rows (parameter-sized — broadcastable at ANY corpus scale), and the
# nearest-centroid pick is a min(struct(d2, cid)) HASH AGGREGATE — the
# map side collapses each (s, vec_id) group to one row before the
# exchange, so assignment shuffles N·m rows regardless of k. Same
# arithmetic, same init, same tie-breaks; every consumer is value-
# oracled (q193/q194/q198), which is what makes a rewrite like this
# cheap to trust.
# ---------------------------------------------------------------------------


def _subspace_long(
    df: DataFrame, id_col: str, vec_col: str, m: int, sub_dim: int, quant_bits: int
) -> DataFrame:
    """(vec_id, s, qv): one row per (vector, subspace), built in ONE
    scan — qv is the quantized slice of dims [s·sub_dim, (s+1)·sub_dim)
    (1-based F.slice), identical to the historical per-subspace tables.

    The input is ``_spread`` first (scan-split granularity, same
    rationale as the LSH bucketer): the downstream assignment is a PURE
    MAP with no exchange of its own, so an under-split local scan (one
    parquet file) would serialize all N·m·k distance evaluations on a
    couple of cores — measured 225 s for the sf2 fixture before the
    spread vs ~30 s after. At cluster scale the scan has ≥parallelism
    splits and the spread is a no-op."""
    from stock_data_pipeline_spark.llm.dedup import _spread

    df = _spread(df, id_col)
    scale = float(1 << quant_bits)
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.struct(
            s.cast("int").alias("s"),
            F.transform(
                F.slice(F.col(vec_col), s * F.lit(sub_dim) + 1, sub_dim),
                lambda x: F.floor(x.cast("double") * F.lit(scale)).cast("long"),
            ).alias("qv"),
        ),
    )
    return (
        df.select(F.col(id_col).alias("vec_id"), F.explode(subs).alias("sv"))
        .select("vec_id", F.col("sv.s").alias("s"), F.col("sv.qv").alias("qv"))
    )


def _train_long(pts: DataFrame, train_mod: int | None) -> DataFrame | None:
    """Deterministic 1-in-``train_mod`` systematic training sample of
    the long table (same discipline + cache rationale as
    :func:`_train_sample`, one cached table instead of m)."""
    if train_mod is None:
        return None
    return pts.filter(F.col("vec_id") % train_mod == 0).cache()


def _assign_long(pts: DataFrame, cents: DataFrame, dim: int, m: int) -> DataFrame:
    """Nearest centroid per (vec_id, s); ties break on centroid id.

    r10 shape — a salted COGROUP into vectorized numpy (guide §4.2).
    History, because each predecessor's failure mode still matters:

    - the first cut joined point rows against the m·k-row codebook
      (N·m·k scored rows) and reduced with min(struct(...)) — a
      struct-typed MIN compiles to a SORT-based aggregate; 11.5 GB of
      spill for 25 MB of input at the sf2 fixture;
    - the r09 pure-map shape folded the argmin inside the row with
      `array_min(transform(cbook, struct(d2, cid)))` over a broadcast
      per-subspace codebook — zero exchanges, but higher-order
      functions are CodegenFallback: the N·m·k distance evals run as
      INTERPRETED expression-tree walks (~300 ns/eval — measured as
      ~12 of q194's ~20 CPU-s at sf0.1, the dominant stage);
    - this shape ships each (s, salt) slice of the corpus AND that
      subspace's k-row codebook to one Arrow batch and scores it with
      numpy: the same N·m·k FLOPs vectorize at memory bandwidth
      (interleaved A/B: q194 CPU −46%, median 12.1 vs 22.3 CPU-s).

    Bit-identity with both JVM predecessors (oracle-pinned): numpy
    float64 +,−,* are the same IEEE binary64 ops the JVM runs; the
    accumulation is an explicit sequential loop over dims — exactly
    the 0.0-seeded left fold — and argmin returns the FIRST minimal
    position, which on a cid-sorted codebook IS the (d2 ASC, cid ASC)
    struct-min tie-break. Verified exceptAll 0/0 both directions on
    q193/q194/q198/q396 at sf0.001+sf0.01.

    Scale guards: the salt (deterministic pmod(xxhash64(vec_id)) —
    guide §2.5, never rand()) sizes groups to ~2·defaultParallelism
    total so no subspace lands in one task; scoring chunks the rows so
    the (chunk, k) distance matrix stays ~16 MB regardless of group
    size; the codebook crosses the boundary once per GROUP (k rows),
    never per corpus row. The exchange this adds over the pure-map
    shape is N·m narrow rows — orders of magnitude below the
    interpreted-eval CPU it removes at any scale.

    The output schema reuses the input column types (vec_id, s, qv
    from ``pts``; cid from ``cents``), so an id column that is not a
    long keeps its type."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = pts.sparkSession
    par = max(1, spark.sparkContext.defaultParallelism)
    n_salt = max(1, -(-2 * par // max(1, m)))

    salted_pts = pts.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_salt)).cast("int")
    )
    # cents derives from pts (the init join), so the cogroup is a
    # self-join by lineage: rename the cents-side key so the analyzer's
    # ambiguity check stays happy (cogroup pairs keys positionally).
    salted_cents = cents.select(F.col("s").alias("cs"), "cid", "cv").withColumn(
        "__salt2", F.explode(F.array(*[F.lit(i).cast("int") for i in range(n_salt)]))
    )

    in_fields = [pts.schema["vec_id"], pts.schema["s"], pts.schema["qv"], cents.schema["cid"]]
    out_schema = StructType(
        [StructField(f.name, f.dataType) for f in in_fields] + [StructField("d2", DoubleType())]
    )

    def score(pts_pdf, cents_pdf):
        import numpy as np
        import pandas as pd

        if len(pts_pdf) == 0 or len(cents_pdf) == 0:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "s": pd.Series(dtype="int32"),
                    "qv": pd.Series(dtype="object"),
                    "cid": pd.Series(dtype="int32"),
                    "d2": pd.Series(dtype="float64"),
                }
            )
        cents_pdf = cents_pdf.sort_values("cid")
        cmat = np.stack(cents_pdf["cv"].to_numpy())  # (k, dim) float64
        cids = cents_pdf["cid"].to_numpy()
        qmat = np.stack(pts_pdf["qv"].to_numpy()).astype(np.float64)  # (n, dim)
        n, k = qmat.shape[0], cmat.shape[0]
        # chunk so the (chunk, k) matrix stays ~16 MB at k=256 — group
        # size is salt-bounded but NOT constant-bounded
        chunk = max(1, (2 << 20) // max(1, k))
        cid_out = np.empty(n, dtype=np.int64)
        d2_out = np.empty(n, dtype=np.float64)
        for lo in range(0, n, chunk):
            q = qmat[lo : lo + chunk]
            acc = np.zeros((q.shape[0], k))
            for i in range(q.shape[1]):  # sequential over dims = the
                d = q[:, i, None] - cmat[None, :, i]  # 0.0-seeded left fold
                acc += d * d
            idx = np.argmin(acc, axis=1)  # first min = lowest cid
            cid_out[lo : lo + chunk] = cids[idx]
            d2_out[lo : lo + chunk] = acc[np.arange(len(idx)), idx]
        return pd.DataFrame(
            {
                "vec_id": pts_pdf["vec_id"].to_numpy(),
                "s": pts_pdf["s"].to_numpy(),
                "qv": pts_pdf["qv"],
                "cid": cid_out,
                "d2": d2_out,
            }
        )

    return (
        salted_pts.groupBy("s", "__salt")
        .cogroup(salted_cents.groupBy("cs", "__salt2"))
        .applyInPandas(score, out_schema)
    )


def _recompute_long(assigned: DataFrame) -> DataFrame:
    """New (s, cid, cv) codebook: exact int64 per-dimension sums, one
    double division per dimension — :func:`_recompute` keyed by
    subspace. Empty clusters drop out (same as the SQL oracle)."""
    ex = assigned.select("s", "cid", F.posexplode("qv").alias("dim", "x"))
    sums = ex.groupBy("s", "cid", "dim").agg(F.sum("x").alias("sm"))
    cnt = assigned.groupBy("s", "cid").agg(F.count("*").alias("n"))
    return (
        sums.groupBy("s", "cid")
        .agg(F.sort_array(F.collect_list(F.struct("dim", "sm"))).alias("ds"))
        .join(F.broadcast(cnt), ["s", "cid"])  # m·k rows — never sort-merge
        .select(
            "s",
            "cid",
            F.transform("ds", lambda t: t["sm"].cast("double") / F.col("n")).alias("cv"),
        )
    )


def _lloyd_rounds_long(
    pts: DataFrame,
    k: int,
    rounds: int,
    dim: int,
    m: int,
    train: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``rounds`` unrolled Lloyd iterations over the subspace-long
    table, all m codebooks in one plan. Init = the k lowest vec_ids of
    the training set (the SAME id set in every subspace — exactly the
    per-subspace init, since every subspace holds the same vec_ids);
    the id rank runs over k rows after a distributed orderBy/limit.
    Returns ``(assigned, cents_used)`` like :func:`_lloyd_rounds`."""
    t = train if train is not None else pts
    w = Window.orderBy("vec_id")
    ids = (
        t.select("vec_id").distinct().orderBy("vec_id").limit(k)
        .withColumn("cid", (F.row_number().over(w) - 1).cast("int"))
    )
    cents = t.join(F.broadcast(ids), "vec_id").select(
        "s", "cid", F.transform("qv", lambda x: x.cast("double")).alias("cv")
    )
    for _ in range(rounds - 1):
        cents = _recompute_long(_assign_long(t, cents, dim, m))
    # m·k rows — parameter-sized; cached so the unrolled Lloyd chain
    # runs once even though both the final assignment and the query
    # LUT consume it (see _lloyd_rounds / _train_sample for the cache
    # discipline; ~m·k·sub_dim doubles resident per distinct config)
    cents = cents.cache()
    return _assign_long(pts, cents, dim, m), cents


def _codes_wide(assigned: DataFrame, query_mod: int | None = None) -> DataFrame:
    """(vec_id, codes) — the m per-subspace code words as ONE array in
    subspace order (sort_array of (s, cid) structs: s is unique per
    vec_id, so the sort is exactly 'order by s'). One vec_id-keyed
    aggregate replaces the historical m−1 equi-joins."""
    base = assigned if query_mod is None else assigned.filter(
        F.col("vec_id") % query_mod != 0
    )
    return (
        base.groupBy("vec_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "cid"))).alias("sc"))
        .select("vec_id", F.transform("sc", lambda t: t["cid"]).alias("codes"))
    )


def _query_lut(pts: DataFrame, cents: DataFrame, query_mod: int, k: int) -> DataFrame:
    """(query_id, lut): each query's m×k ADC distance table as ONE
    dense double ARRAY ordered by slot = s·k + cid, built from one
    broadcast codebook join. Parameter-sized per row (m·k doubles), so
    scoring a candidate is m POSITIONAL array reads — the LUT layout
    every production ADC implementation uses, and the column shape that
    lets the corpus-scale bucketed twin ship the table through a
    shuffle join instead of a broadcast.

    An ARRAY, not a map, deliberately: Spark's ``element_at`` on a map
    is a LINEAR SCAN of the entries (ArrayBasedMapData has no hash
    index), so a map LUT turns the |Q|·N scoring fan-out into
    |Q|·N·m·(m·k/2) comparisons — measured as the dominant cost of the
    first cut of this core at the sf2 fixture (≈0.5 trillion key
    comparisons). Array reads are O(1). When fewer than k codewords
    exist (tiny corpora: init ids < k), each subspace contributes the
    same k' < k entries and the sorted slots stay contiguous per
    subspace, so position s·k' + cid still addresses exactly slot
    s·k + cid's value — :func:`_adc_from_lut` derives k' from the
    array length."""
    q = pts.filter(F.col("vec_id") % query_mod == 0)
    d = q.join(F.broadcast(cents), "s").select(
        F.col("vec_id").alias("query_id"),
        (F.col("s") * k + F.col("cid")).cast("int").alias("slot"),
        _sq_dist(F.col("qv"), F.col("cv")).alias("d2"),
    )
    return d.groupBy("query_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("slot", "d2"))), lambda t: t["d2"]
        ).alias("lut")
    )


def _adc_from_lut(m: int, k: int):
    """ADC(q, x) = Σ_s lut[s·k' + code_s] (k' = |lut|/m — see
    :func:`_query_lut`) — plain left-to-right addition from a 0.0 seed
    in subspace order (bit-identical to the historical per-column sum
    and to the oracle's ORDER BY sub fold), m O(1) array reads per
    candidate."""
    kprime = (F.size(F.col("lut")) / F.lit(m)).cast("int")
    adc = F.lit(0.0)
    for s in range(m):
        adc = adc + F.element_at(
            F.col("lut"), (F.lit(s) * kprime + F.col("codes")[s] + 1).cast("int")
        )
    return adc


def _adc_topk(expanded: DataFrame, m: int, k: int, topk: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        expanded.withColumn("adc_dist", _adc_from_lut(m, k))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id", "vec_id", "adc_dist", F.col("rank").cast("long").alias("rank")
        )
    )


def pq_codes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    sub_dim: int = 16,
    k: int = 4,
    rounds: int = 2,
    quant_bits: int = 10,
    train_mod: int | None = None,
) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each vector into
    ``m`` contiguous subvectors, Lloyd-cluster each subspace
    independently (k codewords, ``rounds`` unrolled iterations,
    quantized exact-integer arithmetic — the q80 discipline), and emit
    each vector's code word per subspace plus the total quantization
    error Σ_s ‖x_s − c_{s,code_s}‖².

    Scale design: every subspace's codebook is k rows (broadcast); the
    corpus is scanned once per subspace with NO shuffle during
    assignment, and the only exchanges are the k·m-row centroid
    recomputes. The join of the m per-subspace assignments is on vec_id
    — co-partitioned after the first exchange. The m·k·sub_dim-float
    codebook replaces the full vector for downstream search: 64 dims of
    float32 compress to m=4 bytes per vector, the standard memory
    layout for billion-scale ANN.

    Determinism: identical to q80 — per-subspace init is the k
    lowest-id vectors, quantized int sums, one double division, fixed
    fold order for distances; the total error adds the m subspace terms
    in explicit subspace order (sort_array + left fold)."""
    pts = _subspace_long(df, id_col, vec_col, m, sub_dim, quant_bits)
    assigned, _ = _lloyd_rounds_long(
        pts, k, rounds, sub_dim, m, train=_train_long(pts, train_mod)
    )
    a = assigned.groupBy("vec_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "cid", "d2"))).alias("a")
    )
    return a.select(
        "vec_id",
        *[F.col("a")[s]["cid"].cast("int").alias(f"code_{s}") for s in range(m)],
        F.aggregate(
            "a", F.lit(0.0), lambda acc, t: acc + t["d2"]
        ).alias("total_err"),
    )


def pq_adc_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 97,
    m: int = 4,
    sub_dim: int = 16,
    k: int = 4,
    rounds: int = 2,
    quant_bits: int = 10,
    topk: int = 10,
    train_mod: int | None = None,
    num_partitions: int | None = None,
    force_broadcast: bool = False,
) -> DataFrame:
    """Asymmetric-distance-computation top-k over PQ codes: queries
    (``id % query_mod == 0``) keep their raw (quantized) subvectors;
    the corpus is represented ONLY by its per-subspace code words.
    ADC(q, x) = Σ_s ‖q_s − c_{s,code_s(x)}‖² — each query computes an
    m×k distance table against the broadcast codebooks once, and
    scoring a corpus vector is m table lookups instead of a
    full-dimension dot product.

    Plan shape (r09 restructure — see the subspace-keyed core above):
    ONE broadcast codebook join builds all m distance tables; each
    query's table is aggregated into a single m·k-slot LUT row
    (:func:`_query_lut`), the corpus is ONE (vec_id, codes) row per
    vector (:func:`_codes_wide`), and the |Q|·N expansion is a single
    broadcast nested-loop join corpus × LUT table. The ADC sum is m
    map lookups added left-to-right from a 0.0 seed in subspace order —
    bit-identical to the historical per-column sum. Top-k is a
    (dist, vec_id) window per query.

    Fan-out guard: the code table is explicitly repartitioned to
    ``fanout_partitions`` before the multiplying join. AQE sizes
    post-shuffle partitions by SHUFFLE BYTES and cannot see that the
    next join multiplies every row |Q|-fold — left alone it coalesces
    the small code exchange and the entire |Q|·N expansion plus the
    top-k window's map side runs in few tasks (measured r07: one 21 s
    task holding >half the query's wall at the 10× fixture). The guard
    key is COMPOSITE (vec_id, codes): the code aggregate's output is
    already hashpartitioning(vec_id, N), so a bare same-key repartition
    would be elided as redundant, leaving only AQE-coalescible
    ENSURE_REQUIREMENTS exchanges; a different expression survives as
    REPARTITION_BY_NUM, the one shuffle origin AQE never coalesces
    (pinned by tests/test_fanout_guard.py).

    This is the memory-bound scale path that pairs with q28's exact
    scan and q53's IVF: IVF prunes the candidate set, PQ-ADC makes
    scoring each candidate O(m) lookups on byte codes.

    Contract (same as :func:`~stock_data_pipeline_spark.llm.similarity.
    ivf_flat_topk`): the QUERY side must be broadcastable — the LUT
    table is |Q| rows of m·k doubles and the scoring join pins
    ``F.broadcast`` on it deliberately. ``query_mod`` makes |Q|
    corpus-PROPORTIONAL (≈N/query_mod), so at billion-vector scale the
    broadcast outgrows any driver limit; a corpus-scale query batch
    needs :func:`ivf_pq_topk_bucketed` (salted probe join + LUT shuffle
    join, broadcast nothing). Note an |Q|≈N *full* ADC scan is |Q|·N
    work by definition — at that regime the IVF front is not optional.

    Size gate (r09): unless ``force_broadcast`` is set, the operator
    checks Catalyst's static size estimate of the input (the query
    side is a fixed fraction of it) and RAISES when it is not provably
    under the broadcast budget — a full-corpus ADC scan with a
    data-sized query batch is |Q|·N work by definition, so there is no
    bucketed full-scan twin to switch to; the scale path is the IVF
    front (:func:`ivf_pq_topk_bucketed`).

    ``num_partitions`` overrides the fan-out guard's partition count
    (default 2×defaultParallelism via :func:`..fanout.fanout_partitions`;
    results are partition-count-invariant)."""
    from stock_data_pipeline_spark.llm.fanout import broadcastable_query_side

    if not force_broadcast and not broadcastable_query_side(df):
        raise ValueError(
            "pq_adc_topk pins F.broadcast on a corpus-proportional query "
            "side (|Q| ≈ N/query_mod) and the input's static size estimate "
            "is past the broadcast budget — at this scale a full ADC scan "
            "is the wrong operator: use ivf_pq_topk_bucketed (IVF-pruned, "
            "broadcast-free), or pass force_broadcast=True if you know "
            "the estimate is pessimistic."
        )
    pts = _subspace_long(df, id_col, vec_col, m, sub_dim, quant_bits)
    assigned, cents = _lloyd_rounds_long(
        pts, k, rounds, sub_dim, m, train=_train_long(pts, train_mod)
    )
    codes = _codes_wide(assigned, query_mod)
    lut = _query_lut(pts, cents, query_mod, k)
    par = fanout_partitions(df, num_partitions)
    expanded = codes.repartition(par, "vec_id", "codes").crossJoin(F.broadcast(lut))
    return _adc_topk(expanded, m, k, topk)


def ivf_pq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 97,
    n_lists: int = 8,
    nprobe: int = 2,
    m: int = 4,
    sub_dim: int = 16,
    k: int = 16,
    rounds: int = 2,
    quant_bits: int = 10,
    topk: int = 10,
    train_mod: int | None = None,
    num_partitions: int | None = None,
    force_broadcast: bool = False,
) -> DataFrame:
    """The billion-scale ANN production composition: IVF coarse pruning
    + PQ asymmetric-distance scoring (IVF-PQ, Jégou et al. 2011 §V).

    1. A coarse quantizer (Lloyd over the FULL vector, ``n_lists``
       centroids) partitions the corpus into inverted lists — the same
       broadcast-assignment shape as q53's IVF.
    2. Each query probes its ``nprobe`` nearest coarse lists only; the
       candidate set is an equi-join on list id, so scoring work drops
       by ~n_lists/nprobe before any distance math happens.
    3. Candidates are scored by PQ-ADC (q194): per-query m×k distance
       tables against broadcast sub-codebooks, corpus side represented
       only by its byte codes.

    Scale shape: the corpus is scanned once for coarse assignment and
    once per subspace for codes (all broadcast joins, no shuffle of the
    corpus); the only |candidates|-proportional work is the final
    list-id equi-join + code lookups. At 10⁹ vectors with n_lists=2¹⁶
    and nprobe=32, ADC touches ~0.05% of the corpus per query.

    Determinism: both quantizers use the exact-integer Lloyd rounds
    (q80 discipline); the ADC fold adds subspace terms in sorted order;
    coarse-probe and final top-k ties break on (distance, id).

    Contract (r07 ADVICE): the QUERY side must be broadcastable — the
    probe table (|Q|·nprobe rows) and the LUT table (|Q| rows of m·k
    doubles) both pin ``F.broadcast``, and ``query_mod`` makes |Q| grow
    linearly with the corpus (≈N/query_mod). At the docstring's
    billion-vector scale those broadcasts exceed the driver/broadcast
    limit; a corpus-scale query batch needs the bucketed twin
    :func:`ivf_pq_topk_bucketed` (r09): salt the list id, shuffle-join
    both sides, broadcast nothing. Unless ``force_broadcast`` is set
    this is ENFORCED — when Catalyst's static estimate of the input is
    not provably under the broadcast budget the operator AUTO-SWITCHES
    to the row-identical bucketed twin (same gate semantics as
    :func:`~stock_data_pipeline_spark.llm.similarity.ivf_flat_topk`).
    ``num_partitions`` overrides the fan-out guard count (default
    2×defaultParallelism; results are partition-count-invariant).
    """
    from stock_data_pipeline_spark.llm.fanout import broadcastable_query_side

    if not force_broadcast and not broadcastable_query_side(df):
        return ivf_pq_topk_bucketed(
            df, id_col, vec_col, query_mod=query_mod, n_lists=n_lists,
            nprobe=nprobe, m=m, sub_dim=sub_dim, k=k, rounds=rounds,
            quant_bits=quant_bits, topk=topk, train_mod=train_mod,
            num_partitions=num_partitions,
        )
    corpus_side, probed, lut, cents = _ivf_pq_stages(
        df, id_col, vec_col, query_mod, n_lists, nprobe,
        m, sub_dim, k, rounds, quant_bits, train_mod,
    )
    # Composite guard key (see pq_adc_topk): a bare vec_id repartition
    # is elided against the upstream vec_id partitioning and the
    # remaining ENSURE_REQUIREMENTS exchange gets AQE-coalesced;
    # (vec_id, list_id) survives as non-coalescible REPARTITION_BY_NUM.
    par = fanout_partitions(df, num_partitions)
    expanded = (
        corpus_side.repartition(par, "vec_id", "list_id")
        .join(F.broadcast(probed), "list_id")
        .join(F.broadcast(lut), "query_id")
    )
    return _adc_topk(expanded, m, k, topk)


def _ivf_pq_stages(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_mod: int,
    n_lists: int,
    nprobe: int,
    m: int,
    sub_dim: int,
    k: int,
    rounds: int,
    quant_bits: int,
    train_mod: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared IVF-PQ stages: ``(corpus_side, probed, lut, cents)``.
    Factored out (the ivf_flat/_bucketed discipline —
    similarity.py:285) so the broadcast and bucketed twins provably
    share coarse assignment, code assignment, probe selection, and LUT
    arithmetic — they differ ONLY in the join shapes downstream.

    - ``corpus_side``: (vec_id, list_id, codes) — one row per corpus
      vector; coarse list + all m code words (vec_id-keyed aggregate).
    - ``probed``: (query_id, list_id) — each query's nprobe nearest
      coarse lists (ties on (distance, cid)).
    - ``lut``: (query_id, lut) — the per-query m×k ADC distance map.
    """
    pts_full = df.select(
        F.col(id_col).alias("vec_id"), _quantize(F.col(vec_col), quant_bits).alias("qv")
    )
    coarse_assigned, coarse_cents = _lloyd_rounds(
        pts_full, n_lists, rounds, train=_train_sample(pts_full, train_mod)
    )
    corpus_lists = coarse_assigned.filter(F.col("vec_id") % query_mod != 0).select(
        "vec_id", F.col("cid").alias("list_id")
    )
    queries_full = pts_full.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), "qv"
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("cd2").asc(), F.col("cid").asc())
    probed = (
        queries_full.crossJoin(F.broadcast(coarse_cents))
        .withColumn("cd2", _sq_dist(F.col("qv"), F.col("cv")))
        .withColumn("__pn", F.row_number().over(wp))
        .filter(F.col("__pn") <= nprobe)
        .select("query_id", F.col("cid").alias("list_id"))
    )
    pts = _subspace_long(df, id_col, vec_col, m, sub_dim, quant_bits)
    assigned, cents = _lloyd_rounds_long(
        pts, k, rounds, sub_dim, m, train=_train_long(pts, train_mod)
    )
    corpus_side = corpus_lists.join(_codes_wide(assigned, query_mod), "vec_id")
    lut = _query_lut(pts, cents, query_mod, k)
    return corpus_side, probed, lut, cents


def ivf_pq_topk_bucketed(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 97,
    n_lists: int = 8,
    nprobe: int = 2,
    m: int = 4,
    sub_dim: int = 16,
    k: int = 16,
    rounds: int = 2,
    quant_bits: int = 10,
    topk: int = 10,
    train_mod: int | None = None,
    n_salt: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """IVF-PQ for CORPUS-SCALE query batches (r08 VERDICT item 3):
    row-identical to :func:`ivf_pq_topk` (shared stages — same coarse
    assignment, codes, probe set, LUT arithmetic, tie-breaks) but the
    probe path broadcasts NOTHING corpus-proportional. The only
    broadcasts left are the parameter-sized tables (n_lists coarse
    centroids, m·k codebook, k-row inits) — broadcastable at ANY
    corpus scale by construction.

    Two corpus-proportional tables must move without a broadcast, and
    BOTH move on the probe side of one salted shuffle join:

    - the PROBE table (|Q|·nprobe rows): same salting discipline as
      :func:`~stock_data_pipeline_spark.llm.similarity.
      ivf_flat_topk_bucketed` — a bare ``list_id`` shuffle join would
      hand all rerank work to ≤n_lists reducers (built-in straggler),
      so corpus rows get one deterministic ``__salt =
      pmod(xxhash64(vec_id), n_salt)`` sub-key (no replication of the
      big side), probe rows explode ×``n_salt``, and BOTH sides
      repartition to an explicit count on the composite
      ``(list_id, __salt)`` — REPARTITION_BY_NUM on both inputs, so
      the join reuses the exchanges and AQE can neither coalesce ahead
      of the ADC fan-out nor needs its skew splitter.
    - the LUT table (|Q| rows × m·k doubles) attaches to the probe
      rows BEFORE the salted fan-out (an SMJ of two |Q|-sized tables
      on query_id), so each probe row carries its query's whole
      distance table through the exchange — |Q|·nprobe·n_salt·m·k
      doubles, LINEAR in the corpus. The first cut instead shuffled
      the |Q|·N·nprobe/n_lists candidate rows to meet the LUT after
      the fan-out — a measured beta≈1.5 quadratic exchange
      (SHUFFLE probe, r09) that would saturate the fabric exactly when
      the operator is needed. Post-fan-out, the ADC projection and the
      top-k window's partial group-limit run WITHIN the join's
      partitions, so the only exchange the |Q|·N-ish candidate set
      ever feeds is the window's final merge of ≤topk rows per query
      per partition.

    Every (query, corpus) pair sharing a probed list meets exactly once
    (at the corpus row's salt), so the candidate set — and, since ADC
    reads the same LUT slots in the same fold order, every distance
    and rank — is exactly ``ivf_pq_topk``'s at equal params, for any
    ``n_salt``/partition count (pinned by tests)."""
    corpus_side, probed, lut, _ = _ivf_pq_stages(
        df, id_col, vec_col, query_mod, n_lists, nprobe,
        m, sub_dim, k, rounds, quant_bits, train_mod,
    )
    par = fanout_partitions(df, num_partitions)
    if n_salt is None:
        n_salt = max(1, -(-par // n_lists))
    salted_c = corpus_side.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_salt)).cast("int")
    )
    salted_q = probed.join(lut, "query_id").withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(s).cast("int") for s in range(n_salt)])),
    )
    expanded = (
        salted_c.repartition(par, "list_id", "__salt")
        .join(salted_q.repartition(par, "list_id", "__salt"), ["list_id", "__salt"])
        .select("query_id", "vec_id", "codes", "lut")
    )
    return _adc_topk(expanded, m, k, topk)
