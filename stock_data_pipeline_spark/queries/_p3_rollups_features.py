"""Queries: scaling, rollup and feature-engineering queries (q164-q217).

Mechanically split from the former single-module queries.py (round-6
refactor, r05 verdict item 8); content is unchanged, cross-part helper
imports are explicit, and the registry is assembled in __init__.py.
"""
from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stock_data_pipeline_spark.operators import ranks

from ._p1_parity_corpus import (
    _dec,
    _kmeans_oracle,
    dedup,
    load_events,
    load_table,
    register,
    text,
)




@register(
    "q164_minmax_scaling",
    oracle="""
    WITH c AS (
        SELECT p_partkey, p_type,
               CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM part
    ), ext AS (
        SELECT p_partkey, p_type, cents,
               MIN(cents) OVER (PARTITION BY p_type) AS lo,
               MAX(cents) OVER (PARTITION BY p_type) AS hi
        FROM c
    )
    SELECT p_partkey, p_type,
           CASE WHEN hi = lo THEN CAST(0.5 AS DOUBLE)
                ELSE CAST(cents - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE)
           END AS scaled
    FROM ext
    """,
    survey_ref="G/W extension: per-group min-max feature scaling — "
    "(x − min)/(max − min) with a pinned degenerate-range convention; "
    "the normalization step before distance-based ML, exact integer "
    "extrema so boundary rows scale identically cross-engine",
)
def q164_minmax_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retail price min-max scaled to [0, 1] within each part type
    (constant groups pin to 0.5 by convention).

    The group extrema come from unframed windows over the same
    partition — one shuffle, no aggregate-and-rejoin — and the scale
    is one division of exact integer cents: the 0.0 and 1.0 endpoints
    land exactly, no almost-1.0 float fuzz on the extreme rows.
    """
    p = load_table(spark, sf_dir, "part")
    cents = (_dec("p_retailprice") * 100).cast("long")
    w = Window.partitionBy("p_type")
    ext = p.select(
        "p_partkey",
        "p_type",
        cents.alias("cents"),
        F.min(cents).over(w).alias("lo"),
        F.max(cents).over(w).alias("hi"),
    )
    scaled = F.when(F.col("hi") == F.col("lo"), F.lit(0.5)).otherwise(
        (F.col("cents") - F.col("lo")).cast("double")
        / (F.col("hi") - F.col("lo")).cast("double")
    )
    return ext.select("p_partkey", "p_type", scaled.alias("scaled"))


@register(
    "q165_acf",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
        FROM orders GROUP BY 1
    ), pairs AS (
        SELECT k.k, a.x AS x, b.x AS y
        FROM daily a
        CROSS JOIN (VALUES (1), (2), (3), (4), (5)) AS k(k)
        JOIN daily b ON b.d = a.d + CAST(k.k AS INTEGER)
    ), s AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM pairs GROUP BY 1
    )
    SELECT CAST(k AS BIGINT) AS lag_days, n AS n_pairs,
           (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)))
             AS acf
    FROM s
    """,
    survey_ref="W/G extension: autocorrelation FUNCTION (lags 1-5 in "
    "one plan) — q108 generalized by joining the series to itself "
    "through a broadcast lag list instead of one window per lag; "
    "calendar-gap honest (pairs exist only where both days exist)",
)
def q165_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-revenue autocorrelation at lags 1 through 5 days —
    the full ACF head in one plan.

    One lag-list cross join (5 broadcast rows) turns N window passes
    into a single self-join on ``d + k``: every lag shares one scan
    of the day-grain series and one moment aggregate, and missing
    calendar days simply produce no pair (no silent zero-fill). The
    q57 exact-integer moment technique keeps all five correlations
    hash-exact.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum((_dec("o_totalprice") * 100).cast("long")).cast("decimal(18,0)").alias("x")
    )
    ks = o.sparkSession.createDataFrame([(1,), (2,), (3,), (4,), (5,)], "k int")
    a = daily.alias("a")
    b = daily.select(F.col("d").alias("bd"), F.col("x").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(ks))
        .join(b, F.expr("bd = date_add(d, k)"))
        .select("k", F.col("x"), F.col("y"))
    )
    s = pairs.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = F.sqrt(d("n") * d("sxx") - d("sx") * d("sx")) * F.sqrt(
        d("n") * d("syy") - d("sy") * d("sy")
    )
    return s.select(
        F.col("k").cast("long").alias("lag_days"),
        F.col("n").cast("long").alias("n_pairs"),
        (num / den).alias("acf"),
    )


@register(
    "q166_basket_size_distribution",
    oracle="""
    WITH sizes AS (
        SELECT l_orderkey, COUNT(DISTINCT l_partkey) AS k
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(k AS BIGINT) AS basket_size,
           COUNT(*) AS n_orders,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS frac
    FROM sizes GROUP BY 1
    """,
    survey_ref="G breadth: basket-size distribution — orders by "
    "distinct-item count with population fractions (the degree "
    "distribution of the order–part bipartite graph q154 projects; "
    "sizes the k² blow-up of every basket self-join)",
)
def q166_basket_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many orders contain k distinct parts, with fractions — the
    input-statistics readout that bounds q154/q155's per-basket work.

    One distinct-count per order (single shuffle on the order key),
    one tiny distribution aggregate, and an exact integer fraction.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_partkey").alias("k")
    )
    dist = sizes.groupBy(F.col("k").cast("long").alias("basket_size")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return dist.select(
        "basket_size",
        "n_orders",
        (
            F.col("n_orders").cast("double")
            / F.sum("n_orders").over(Window.partitionBy()).cast("double")
        ).alias("frac"),
    )


@register(
    "q167_interarrival_buckets",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 - epoch_us(ts) AS gap_us
        FROM events
    )
    SELECT CASE WHEN gap_us < 1000000 THEN '0_lt_1s'
                WHEN gap_us < 60000000 THEN '1_lt_1m'
                WHEN gap_us < 600000000 THEN '2_lt_10m'
                WHEN gap_us < 3600000000 THEN '3_lt_1h'
                ELSE '4_ge_1h' END AS bucket,
           COUNT(*) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_us
    FROM seq WHERE gap_us IS NOT NULL
    GROUP BY 1
    """,
    survey_ref="W/G extension: inter-arrival time distribution — "
    "per-user event gap histogram on exact integer µs boundaries "
    "(the traffic-model input for q23's session gap and streaming "
    "watermark sizing)",
)
def q167_interarrival_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of time gaps between a user's consecutive events,
    bucketed at 1s / 1m / 10m / 1h boundaries with per-bucket extrema.

    One lead() per user (the q61 gap pass), then a five-bucket CASE —
    all boundaries are exact integer microsecond comparisons, so
    bucket membership can't drift between engines. This histogram is
    what justifies a session gap (q23) or a stream watermark: pick
    the knee.
    """
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", (F.lead(us).over(w) - us).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    bucket = (
        F.when(F.col("gap_us") < 1000000, "0_lt_1s")
        .when(F.col("gap_us") < 60000000, "1_lt_1m")
        .when(F.col("gap_us") < 600000000, "2_lt_10m")
        .when(F.col("gap_us") < 3600000000, "3_lt_1h")
        .otherwise("4_ge_1h")
    )
    return seq.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_us").cast("long").alias("min_us"),
        F.max("gap_us").cast("long").alias("max_us"),
    )


@register(
    "q168_peak_concurrency",
    oracle="""
    WITH marks AS (
        SELECT epoch_us(ts) AS t, 1 AS delta FROM events
        UNION ALL
        SELECT epoch_us(ts) + 1800000000 AS t, -1 AS delta FROM events
    ), swept AS (
        SELECT t, delta,
               SUM(delta) OVER (ORDER BY t, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
        FROM marks
    )
    SELECT CAST(MAX(live) AS BIGINT) AS peak_concurrent,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_sessions
    FROM swept
    """,
    survey_ref="W extension: sweep-line peak concurrency — maximum "
    "simultaneously-open 30-minute activity envelopes via ±1 boundary "
    "marks and a running sum (capacity planning over q157's interval "
    "family); end-before-start tie order makes half-open intervals "
    "exact",
)
def q168_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maximum number of concurrently-open 30-minute activity
    envelopes across the whole event stream (and the session count).

    The sweep line: every interval contributes a +1 mark at its start
    and a −1 at its end; sorting marks by (time, delta) puts ends
    before starts at the same instant (half-open semantics — touching
    intervals don't double-count), and the running sum's MAX is the
    peak. The running sum is the two-phase bucketed prefix
    (operators/ranks.py): per-day-of-marks local sweeps in parallel
    plus a tiny per-day offset table — no single-task global sort.
    """
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    starts = ev.select(us.alias("t"), F.lit(1).alias("delta"))
    ends = ev.select((us + F.lit(1800000000)).alias("t"), F.lit(-1).alias("delta"))
    marks = starts.unionByName(ends)
    day = F.col("t") - F.pmod(F.col("t"), F.lit(86_400_000_000))
    swept = ranks.bucketed_running_sum(
        marks, day, [F.col("t"), F.col("delta")], F.col("delta"), out="live"
    )
    return swept.agg(
        F.max("live").cast("long").alias("peak_concurrent"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_sessions"),
    )


@register(
    "q169_rfm_segments",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_d,
               COUNT(*) AS freq,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ), scored AS (
        SELECT o_custkey,
               ntile(3) OVER (ORDER BY last_d DESC, o_custkey) AS r,
               ntile(3) OVER (ORDER BY freq DESC, o_custkey) AS f,
               ntile(3) OVER (ORDER BY cents DESC, o_custkey) AS m
        FROM rfm
    )
    SELECT r, f, m,
           COUNT(*) AS n_customers
    FROM scored GROUP BY 1, 2, 3
    """,
    survey_ref="G/W extension: RFM segmentation — recency/frequency/"
    "monetary terciles (ntile over deterministic total orders) and "
    "the 27-cell segment census; the classic customer-value "
    "stratification built from three window passes over one aggregate",
)
def q169_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM census: every customer scored into recency, frequency, and
    monetary terciles (1 = best), counted per (r, f, m) cell.

    One aggregate builds the per-customer RFM triple (exact integer
    cents and counts); three ntile windows over deterministic total
    orders (metric + key tie-break) assign the terciles. The windows
    are global sorts of the already-aggregated customer table — at
    100 TB swap ntile for q87's rank arithmetic, identical contract.
    """
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_d"),
        F.count(F.lit(1)).alias("freq"),
        F.sum((_dec("o_totalprice") * 100).cast("long")).alias("cents"),
    )
    tercile = lambda col: F.ntile(3).over(  # noqa: E731
        Window.orderBy(F.col(col).desc(), "o_custkey")
    )
    scored = rfm.select(
        tercile("last_d").alias("r"),
        tercile("freq").alias("f"),
        tercile("cents").alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "q170_rapid_repeat_orders",
    oracle="""
    WITH c AS (
        SELECT o_orderkey, o_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               CAST(o_orderdate AS DATE) AS d
        FROM orders
    )
    SELECT a.o_custkey,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           CAST(abs(datediff('day', a.d, b.d)) AS BIGINT) AS days_apart,
           CAST(abs(a.cents - b.cents) AS DOUBLE) / 100.0 AS amount_delta
    FROM c a JOIN c b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND abs(datediff('day', a.d, b.d)) <= 30
    """,
    survey_ref="E extension: rapid-repeat detection — order pairs from "
    "the same customer within 30 days (double-charge/abuse triage); "
    "the self-join blocks on the customer key so the temporal "
    "residual never becomes a range explosion, q112's blocked-fuzzy "
    "shape on a temporal axis",
)
def q170_rapid_repeat_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order pairs from the same customer placed within 30 days of
    each other, with the day gap and amount delta — the triage feed
    for double-charge and abuse review.

    The join blocks on the customer key — per-customer order counts
    bound the quadratic pair space (see q166's distribution argument)
    — and the 30-day proximity is a residual comparison on integer
    day ordinals. Amount deltas are exact cents until display.
    """
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderkey",
        "o_custkey",
        (_dec("o_totalprice") * 100).cast("long").alias("cents"),
        F.to_date("o_orderdate").alias("d"),
    )
    a = c.alias("a")
    b = c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.abs(F.datediff(F.col("a.d"), F.col("b.d"))) <= 30),
        )
        .select(
            F.col("a.o_custkey").alias("o_custkey"),
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.abs(F.datediff(F.col("a.d"), F.col("b.d"))).cast("long").alias("days_apart"),
            (
                F.abs(F.col("a.cents") - F.col("b.cents")).cast("double") / F.lit(100.0)
            ).alias("amount_delta"),
        )
    )


@register(
    "q171_duppair_provenance",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
                                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
            FROM toks
        )
    ), sz AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
    ), pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
            FROM sh a JOIN sh b USING (sh)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) i
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
    )
    SELECT da.source = db.source AS same_source,
           da.lang = db.lang AS same_lang,
           COUNT(*) AS n_pairs
    FROM pairs p
    JOIN documents da ON p.id_a = da.doc_id
    JOIN documents db ON p.id_b = db.doc_id
    GROUP BY 1, 2
    """,
    survey_ref="extension: dup-pair provenance diagnostics — near-dup "
    "pairs (q25) broken down by whether both sides share a source/"
    "language; the mirror-vs-within-crawl signal that decides WHERE "
    "dedup effort goes in a corpus pipeline",
)
def q171_duppair_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs classified by provenance: same source? same
    language? — the diagnostic that tells a corpus team whether
    duplication is intra-crawl boilerplate or cross-source mirroring.

    The pair set is q25's prefix-filtered plan; the provenance join
    adds two broadcast lookups of the tiny metadata projection and a
    4-cell aggregate. Composing diagnostics onto the existing operator
    costs no new shuffle on the corpus side.
    """
    doc = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs_prefix(doc, "doc_id", "text", n=3, threshold=0.8)
    meta = doc.select("doc_id", "source", "lang")
    da = meta.select(
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("src_a"),
        F.col("lang").alias("lang_a"),
    )
    db = meta.select(
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("src_b"),
        F.col("lang").alias("lang_b"),
    )
    return (
        pairs.select("id_a", "id_b")
        .join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .groupBy(
            (F.col("src_a") == F.col("src_b")).alias("same_source"),
            (F.col("lang_a") == F.col("lang_b")).alias("same_lang"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "q172_distinctive_terms",
    oracle="""
    WITH tok AS (
        SELECT lang,
               unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS t
        FROM documents
    ), per_lang AS (
        SELECT lang, t, COUNT(*) AS c FROM tok GROUP BY 1, 2
    ), lang_tot AS (
        SELECT lang, SUM(c) AS nl FROM per_lang GROUP BY 1
    ), term_tot AS (
        SELECT t, SUM(c) AS ct FROM per_lang GROUP BY 1
    ), tot AS (
        SELECT SUM(c) AS n FROM per_lang
    ), scored AS (
        SELECT p.lang, p.t,
               (CAST(p.c AS DOUBLE) * CAST(g.n AS DOUBLE))
                 / (CAST(l.nl AS DOUBLE) * CAST(tt.ct AS DOUBLE)) AS distinctiveness,
               ROW_NUMBER() OVER (PARTITION BY p.lang
                   ORDER BY (CAST(p.c AS DOUBLE) * CAST(g.n AS DOUBLE))
                            / (CAST(l.nl AS DOUBLE) * CAST(tt.ct AS DOUBLE)) DESC,
                            p.t) AS rn
        FROM per_lang p
        JOIN lang_tot l ON p.lang = l.lang
        JOIN term_tot tt ON p.t = tt.t
        CROSS JOIN tot g
    )
    SELECT lang, t AS term, distinctiveness, CAST(rn AS INTEGER) AS rnk
    FROM scored WHERE rn <= 3
    """,
    survey_ref="extension: distinctive terms per class — pointwise "
    "lift (share-in-class over share-overall) with top-3 per "
    "language; the keyword-drift / class-signature diagnostic, all "
    "counts exact and the lift one pinned double expression",
)
def q172_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3 most over-represented tokens per language: lift =
    P(term|lang) / P(term) computed from exact counts.

    One (lang, term) count feeds all three marginals (two re-
    aggregations plus a 1-row total that broadcasts); the lift is a
    single pinned-order double expression, so ranking ties can only
    occur at exactly equal lifts — broken by term text. No per-class
    scan, no UDFs, and the top-3 window sorts only the scored term
    table.
    """
    doc = load_table(spark, sf_dir, "documents")
    per_lang = (
        doc.select("lang", F.explode(text.tokens("text")).alias("t"))
        .groupBy("lang", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lang_tot = per_lang.groupBy("lang").agg(F.sum("c").alias("nl"))
    term_tot = per_lang.groupBy("t").agg(F.sum("c").alias("ct"))
    glob = per_lang.agg(F.sum("c").alias("n"))
    lift = (F.col("c").cast("double") * F.col("n").cast("double")) / (
        F.col("nl").cast("double") * F.col("ct").cast("double")
    )
    scored = (
        per_lang.join(F.broadcast(lang_tot), "lang")
        .join(term_tot, "t")
        .crossJoin(F.broadcast(glob))
        .select("lang", "t", lift.alias("distinctiveness"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("distinctiveness").desc(), "t")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "lang",
            F.col("t").alias("term"),
            "distinctiveness",
            F.col("rn").cast("int").alias("rnk"),
        )
    )


@register(
    "q173_quantile_normalize",
    oracle="""
    WITH src AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rs,
               COUNT(*) OVER (PARTITION BY source) AS ns
        FROM documents
    ), pooled AS (
        SELECT n_chars AS pooled_chars,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rp
        FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM documents)
    SELECT s.doc_id, s.source, s.n_chars, p.pooled_chars AS normalized_chars
    FROM src s CROSS JOIN tot t
    JOIN pooled p ON p.rp = (s.rs * t.n + s.ns - 1) // s.ns
    """,
    survey_ref="G/W extension: quantile normalization across sources — "
    "each source's length distribution mapped onto the pooled "
    "distribution by exact integer rank arithmetic (ceil(rs·N/ns) via "
    "integer ceil-division); the cross-source calibration step that "
    "makes per-source thresholds comparable",
)
def q173_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize document lengths across sources: a document
    at within-source rank quantile q gets the pooled distribution's
    value at the same quantile.

    Everything is exact integer rank arithmetic — the target pooled
    rank is ceil(rs·N/ns) computed as (rs·N + ns − 1) div ns, so no
    float quantile position ever exists and both engines select the
    identical pooled row. Two rank windows (the per-source one
    partitioned by source, the pooled one the two-phase bucketed
    row_number of operators/ranks.py over a 256-char length grain —
    parallel, no single-task sort) and one equi-join on the computed
    rank.
    """
    doc = load_table(spark, sf_dir, "documents")
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    src = doc.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).alias("rs"),
        F.count(F.lit(1)).over(wn).alias("ns"),
    )
    grain = F.col("n_chars") - F.pmod(F.col("n_chars"), F.lit(256))
    pooled = ranks.bucketed_row_number(
        doc.select("n_chars", "doc_id"),
        grain,
        [F.col("n_chars"), F.col("doc_id")],
        out="rp",
    ).select(F.col("n_chars").alias("pooled_chars"), "rp")
    tot = doc.agg(F.count(F.lit(1)).alias("n"))
    target = F.expr("(rs * n + ns - 1) div ns")
    return (
        src.crossJoin(F.broadcast(tot))
        .withColumn("__target", target)
        .join(pooled, F.col("__target") == F.col("rp"))
        .select("doc_id", "source", "n_chars", F.col("pooled_chars").alias("normalized_chars"))
    )


@register(
    "q174_gini",
    oracle="""
    WITH c AS (
        SELECT o_custkey,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
        FROM c
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(cents AS HUGEINT)) AS sx,
               SUM(CAST(i AS HUGEINT) * cents) AS six
        FROM ranked
    )
    SELECT n AS n_customers,
           CAST(CAST(sx AS VARCHAR) AS DOUBLE) / 100.0 AS total_revenue,
           (2.0 * CAST(CAST(six AS VARCHAR) AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
    FROM s
    """,
    survey_ref="G extension: Gini coefficient of customer revenue "
    "concentration — the rank-sum closed form 2·Σ(i·xᵢ)/(n·Σx) − "
    "(n+1)/n on exact integer cents and ranks (inequality metric for "
    "revenue/corpus-contribution concentration); big-int moments "
    "reach doubles via the correctly-rounded VARCHAR path",
)
def q174_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated revenue is across customers: the Gini
    coefficient (0 = equal, →1 = one customer is everything), plus
    population and total.

    The rank-sum closed form needs one sort-rank window over the
    per-customer aggregate and two exact integer moments (Σx, Σi·x);
    the final expression is pinned-order double arithmetic on exact
    operands. Rank ties (equal totals) are broken by key, and the
    formula is tie-insensitive anyway: swapping equal x's leaves
    Σi·x unchanged.
    """
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum((_dec("o_totalprice") * 100).cast("long")).cast("decimal(18,0)").alias("cents")
    )
    w = Window.orderBy("cents", "o_custkey")
    ranked = c.select(
        "cents", F.row_number().over(w).cast("decimal(18,0)").alias("i")
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(F.col("i") * F.col("cents")).alias("six"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    gini = (F.lit(2.0) * d("six")) / (d("n") * d("sx")) - (
        d("n") + F.lit(1.0)
    ) / d("n")
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        (d("sx") / F.lit(100.0)).alias("total_revenue"),
        gini.alias("gini"),
    )


@register(
    "q175_priority_escalation",
    oracle="""
    WITH seq AS (
        SELECT o_custkey,
               first_value(o_orderpriority) OVER w AS first_p,
               last_value(o_orderpriority) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_p,
               ROW_NUMBER() OVER w AS rn
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT first_p, last_p, COUNT(*) AS n_customers
    FROM seq WHERE rn = 1 AND last_p < first_p
    GROUP BY 1, 2
    """,
    survey_ref="W breadth: first-vs-last trajectory comparison — "
    "customers whose latest order priority escalated vs their first "
    "(priorities order lexically by their numeric prefix); "
    "first_value + full-frame last_value in one window partition",
)
def q175_priority_escalation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose most recent order is MORE urgent than their
    first ever (priority strings order lexically: '1-URGENT' < …
    < '5-LOW'), censused by the (first, last) transition.

    first_value and the full-frame last_value share one window
    partition and sort; taking the rn=1 row collapses per-customer
    duplicates without a second aggregate pass over the raw rows.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    seq = o.select(
        "o_custkey",
        F.first("o_orderpriority").over(w).alias("first_p"),
        F.last("o_orderpriority").over(full).alias("last_p"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        seq.filter((F.col("rn") == 1) & (F.col("last_p") < F.col("first_p")))
        .groupBy("first_p", "last_p")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q176_single_supplier_risk",
    oracle="""
    WITH per AS (
        SELECT l_partkey, l_suppkey, COUNT(*) AS c
        FROM lineitem GROUP BY 1, 2
    ), conc AS (
        SELECT l_partkey, SUM(c) AS n_lines, MAX(c) AS max_c,
               COUNT(*) AS n_suppliers
        FROM per GROUP BY 1
    )
    SELECT p.p_brand,
           COUNT(*) AS n_parts_at_risk,
           CAST(SUM(s.n_lines) AS BIGINT) AS lines_exposed
    FROM conc s JOIN part p ON s.l_partkey = p.p_partkey
    WHERE s.max_c * s.n_suppliers > 2 * s.n_lines
    GROUP BY 1
    """,
    survey_ref="G/E breadth: over-weighted supplier concentration — "
    "parts where one supplier carries more than TWICE its fair share "
    "of the order history, with brand exposure; the gate is exact "
    "integer cross-multiplication (max·ns > 2·total), a broadcast dim "
    "rollup on top (the supply-chain twin of a data pipeline's "
    "single-source dependency audit)",
)
def q176_single_supplier_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain concentration: per brand, how many parts have a
    supplier carrying more than twice its fair share (max share >
    2/n_suppliers) of their lineitems, and the exposed line volume.

    Two stacked aggregates on the same part key prefix (one shuffle),
    the fair-share gate as exact integer cross-multiplication (no
    float share ever materializes), and a broadcast part join for the
    brand rollup. The same shape audits any 1:N dependency (datasets
    per source, shards per tenant).
    """
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey", "l_suppkey").agg(F.count(F.lit(1)).alias("c"))
    conc = per.groupBy("l_partkey").agg(
        F.sum("c").alias("n_lines"),
        F.max("c").alias("max_c"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        conc.filter(F.col("max_c") * F.col("n_suppliers") > 2 * F.col("n_lines"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts_at_risk"),
            F.sum("n_lines").cast("long").alias("lines_exposed"),
        )
    )


@register(
    "q177_dedup_impact",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
                                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
            FROM toks
        )
    ), sz AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
    ), pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
            FROM sh a JOIN sh b USING (sh)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) i
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
    ), kept AS (
        SELECT d.doc_id, d.n_chars FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.id_b = d.doc_id)
    )
    SELECT 'before' AS stage, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    UNION ALL
    SELECT 'after', COUNT(*), CAST(SUM(n_chars) AS BIGINT) FROM kept
    """,
    survey_ref="extension: dedup impact audit — corpus size before vs "
    "after q49's near-dup removal in ONE plan (the acceptance report "
    "every dedup run ships with); the kept-side branch reuses the "
    "pair subtree, the before-side is a fresh metadata-only scan",
)
def q177_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup acceptance report: document count and character mass
    before and after near-duplicate removal, as two rows of one
    result.

    The 'after' branch is q49's anti-join; the 'before' branch scans
    only (doc_id, n_chars) — no text. Composing both into one output
    keeps the comparison atomic: the numbers can't come from
    different corpus states, the failure mode of separate audits.
    """
    doc = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs_prefix(doc, "doc_id", "text", n=3, threshold=0.8)
    dupes = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    kept = doc.join(dupes, "doc_id", "left_anti")

    def stat(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        ).select("stage", "n_docs", "total_chars")

    return stat(doc, "before").unionByName(stat(kept, "after"))


_CLUSTER_QUALITY_FINAL = """, sized AS (
        SELECT cid, COUNT(*) AS n,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(dist2 ORDER BY vec_id)), (a, b) -> a + b) AS sum_d2,
               MAX(dist2) AS max_d2
        FROM a2 GROUP BY 1
    )
    SELECT cid AS cluster_id, CAST(n AS BIGINT) AS n_members,
           sum_d2 / CAST(n AS DOUBLE) AS mean_dist2,
           max_d2 AS max_dist2
    FROM sized"""


@register(
    "q178_cluster_quality",
    oracle=_kmeans_oracle(
        k=8, rounds=2, dim=64, bits=10, final_select=_CLUSTER_QUALITY_FINAL
    ),
    survey_ref="extension: clustering quality diagnostics — per-cluster "
    "size, mean and max assignment distance² over q80's k-means "
    "(inertia decomposition, the elbow-method input); distances are "
    "the unrolled plan's exact doubles so even mean/max hash-match",
)
def q178_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster fit diagnostics for the q80 k-means: member count,
    mean squared assignment distance (the cluster's inertia share),
    and the worst-fit member's distance².

    Pure composition: the unrolled assignment plan already carries
    exact distances, so the diagnostics are one extra aggregate on the
    cluster id. Double SUMMATION is order-sensitive, so the inertia
    sum folds left-to-right in member order (pinned, like q110's
    contribution folds); max is order-free, and the mean is one
    division of the pinned sum.
    """
    from stock_data_pipeline_spark.llm.clustering import kmeans_fixed

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_fixed(emb, "vec_id", "embedding", k=8, rounds=2, quant_bits=10)
    pinned_sum = F.aggregate(
        F.array_sort(F.collect_list(F.struct("vec_id", "dist2"))),
        F.lit(0.0),
        lambda acc, x: acc + x["dist2"],
    )
    return assigned.groupBy(F.col("cluster_id").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        (pinned_sum / F.count(F.lit(1)).cast("double")).alias("mean_dist2"),
        F.max("dist2").alias("max_dist2"),
    )


@register(
    "q179_hourly_profile",
    oracle="""
    WITH h AS (
        SELECT event_type, EXTRACT(hour FROM ts) AS hr, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ), peaks AS (
        SELECT event_type, MAX(n) AS peak_n FROM h GROUP BY 1
    )
    SELECT h.event_type, CAST(h.hr AS BIGINT) AS hr, h.n,
           h.n = p.peak_n AS is_peak_hour,
           CAST(h.n AS DOUBLE) / CAST(SUM(h.n) OVER (PARTITION BY h.event_type) AS DOUBLE)
             AS share
    FROM h JOIN peaks p ON h.event_type = p.event_type
    """,
    survey_ref="G/W breadth: hour-of-day load profile — per-type "
    "hourly volume with share-of-day and peak-hour flags (argmax via "
    "group-max join, ties kept); the capacity-planning twin of q168's "
    "concurrency sweep",
)
def q179_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic shape by hour of day per event type: volume, share of
    the type's total, and a peak-hour flag (ties all flagged).

    One 24×types aggregate; the peak flag joins the tiny group-max
    frame back (q106's argmax-by-join, keyed), and the share is one
    exact integer division via a window over the same partition.
    """
    ev = load_events(spark, sf_dir)
    h = ev.groupBy("event_type", F.hour("ts").cast("long").alias("hr")).agg(
        F.count(F.lit(1)).alias("n")
    )
    peaks = h.groupBy("event_type").agg(F.max("n").alias("peak_n"))
    w = Window.partitionBy("event_type")
    return (
        h.join(F.broadcast(peaks), "event_type")
        .select(
            "event_type",
            "hr",
            "n",
            (F.col("n") == F.col("peak_n")).alias("is_peak_hour"),
            (F.col("n").cast("double") / F.sum("n").over(w).cast("double")).alias("share"),
        )
    )


@register(
    "q180_revenue_waterfall",
    oracle="""
    WITH yr AS (
        SELECT o_orderpriority,
               EXTRACT(year FROM o_orderdate) AS y,
               COUNT(*) AS q,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) IN (1999, 2000)
        GROUP BY 1, 2
    ), wide AS (
        SELECT o_orderpriority,
               MAX(CASE WHEN y = 1999 THEN q END) AS q0,
               MAX(CASE WHEN y = 1999 THEN cents END) AS c0,
               MAX(CASE WHEN y = 2000 THEN q END) AS q1,
               MAX(CASE WHEN y = 2000 THEN cents END) AS c1
        FROM yr GROUP BY 1
    )
    SELECT o_orderpriority,
           CAST(c1 - c0 AS DOUBLE) / 100.0 AS total_delta,
           CAST((q1 - q0) * c0 AS DOUBLE) / CAST(q0 AS DOUBLE) / 100.0 AS volume_effect,
           CAST(c1 - c0 AS DOUBLE) / 100.0
             - CAST((q1 - q0) * c0 AS DOUBLE) / CAST(q0 AS DOUBLE) / 100.0 AS price_mix_effect
    FROM wide
    """,
    survey_ref="G extension: revenue waterfall (volume vs price/mix "
    "decomposition) — YoY delta split as Δq·p̄₀ + residual, the "
    "finance bridge chart's data; exact integer counts/cents into a "
    "pinned-order double expression, residual defined as total minus "
    "volume so the bridge always sums exactly",
)
def q180_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YoY revenue bridge per priority: total change split into the
    volume effect (order-count change at last year's average value)
    and the price/mix residual. The two effects sum to the total BY
    CONSTRUCTION (residual = total − volume), so the waterfall can't
    leak.

    One two-year aggregate (filters pushed to the scan), a 5-row
    pivot, and pinned-order arithmetic on exact integers: counts,
    cents, and the single division by q0 that defines the baseline
    average.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1999, 2000)
    )
    yr = o.groupBy("o_orderpriority", F.year("o_orderdate").alias("y")).agg(
        F.count(F.lit(1)).alias("q"),
        F.sum((_dec("o_totalprice") * 100).cast("long")).alias("cents"),
    )
    pick = lambda yv, c: F.max(F.when(F.col("y") == yv, F.col(c)))  # noqa: E731
    wide = yr.groupBy("o_orderpriority").agg(
        pick(1999, "q").alias("q0"),
        pick(1999, "cents").alias("c0"),
        pick(2000, "q").alias("q1"),
        pick(2000, "cents").alias("c1"),
    )
    total = (F.col("c1") - F.col("c0")).cast("double") / F.lit(100.0)
    volume = (
        ((F.col("q1") - F.col("q0")) * F.col("c0")).cast("double")
        / F.col("q0").cast("double")
        / F.lit(100.0)
    )
    return wide.select(
        "o_orderpriority",
        total.alias("total_delta"),
        volume.alias("volume_effect"),
        (total - volume).alias("price_mix_effect"),
    )


@register(
    "q181_order_cadence",
    oracle="""
    WITH gaps AS (
        SELECT c.c_mktsegment,
               datediff('day', CAST(o.o_orderdate AS DATE),
                        CAST(lead(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                             ORDER BY o.o_orderdate, o.o_orderkey) AS DATE)) AS gap_d
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), ranked AS (
        SELECT c_mktsegment, gap_d,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY gap_d) AS rn,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM gaps WHERE gap_d IS NOT NULL
    )
    SELECT c_mktsegment,
           MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN gap_d END) AS median_gap_days,
           COUNT(*) AS n_gaps
    FROM ranked GROUP BY 1
    """,
    survey_ref="W/G extension: purchase cadence — median days between "
    "a customer's consecutive orders, segmented (the repeat-rate "
    "metric behind q170's repeat triage); per-customer lead + q87's "
    "discrete median on integer day gaps",
)
def q181_order_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median inter-order gap (days) per market segment — how often
    each segment's customers come back.

    The gap build is one lead() per customer (broadcast-enriched with
    the segment before the window so the shuffle carries the label);
    the median is q87's exact integer rank pick per segment. Day gaps
    are integer date arithmetic — no timestamp-boundary ambiguity.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = j.select(
        "c_mktsegment",
        F.datediff(
            F.lead(F.to_date("o_orderdate")).over(w), F.to_date("o_orderdate")
        ).alias("gap_d"),
    ).filter(F.col("gap_d").isNotNull())
    ws = Window.partitionBy("c_mktsegment").orderBy("gap_d")
    wn = Window.partitionBy("c_mktsegment")
    ranked = gaps.select(
        "c_mktsegment",
        "gap_d",
        F.row_number().over(ws).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.groupBy("c_mktsegment").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")).cast("long"),
                F.col("gap_d"),
            )
        ).alias("median_gap_days"),
        F.count(F.lit(1)).alias("n_gaps"),
    )


@register(
    "q182_freshness_audit",
    oracle="""
    SELECT 'orders' AS tbl, COUNT(*) AS n_rows,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
    FROM orders
    UNION ALL
    SELECT 'lineitem', COUNT(*), strftime(MAX(l_shipdate), '%Y-%m-%d') FROM lineitem
    UNION ALL
    SELECT 'events', COUNT(*), strftime(MAX(ts), '%Y-%m-%d') FROM events
    """,
    survey_ref="B/D extension: cross-table freshness audit — row count "
    "+ max event time for every dated table in ONE result (the "
    "pipeline-health dashboard query; q98's expectations audit scoped "
    "to ingestion lag); each branch is a metadata-narrow aggregate",
)
def q182_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row-per-table ingestion health: row counts and the newest
    date in each dated table, unioned into a single result so the
    snapshot is atomic.

    Each branch scans only its date column (count + max — both
    map-side-combining aggregates); the union is three 1-row frames.
    This is the query a scheduler polls to decide whether yesterday's
    load landed everywhere.
    """
    o = load_table(spark, sf_dir, "orders").agg(
        F.lit("orders").alias("tbl"),
        F.count(F.lit(1)).alias("n_rows"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
    )
    li = load_table(spark, sf_dir, "lineitem").agg(
        F.lit("lineitem").alias("tbl"),
        F.count(F.lit(1)).alias("n_rows"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_date"),
    )
    ev = load_events(spark, sf_dir).agg(
        F.lit("events").alias("tbl"),
        F.count(F.lit(1)).alias("n_rows"),
        F.date_format(F.max("ts"), "yyyy-MM-dd").alias("max_date"),
    )
    return o.select("tbl", "n_rows", "max_date").unionByName(
        li.select("tbl", "n_rows", "max_date")
    ).unionByName(ev.select("tbl", "n_rows", "max_date"))


@register(
    "q183_ytd_totals",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority,
               EXTRACT(year FROM o_orderdate) AS y,
               CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2, 3
    )
    SELECT o_orderpriority, CAST(y AS BIGINT) AS y,
           strftime(d, '%Y-%m-%d') AS date,
           CAST(SUM(cents) OVER (PARTITION BY o_orderpriority, y ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
             AS ytd_revenue
    FROM daily
    """,
    survey_ref="W breadth: year-to-date running totals — the calendar "
    "reset expressed by PUTTING THE RESET KEY IN THE PARTITION (year "
    "joins the window key) rather than a conditional state machine; "
    "contrast with q146 where the reset condition is data-dependent",
)
def q183_ytd_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily year-to-date revenue per priority — the running total
    that restarts every January 1st.

    Calendar-boundary resets don't need q146's conditional-cumsum
    machinery: the year IS part of the window partition, so each
    year's accumulation is an independent frame and the reset is free.
    Day grain is pre-aggregated before the window (exact cents), so
    the cumulative frame sorts days, never raw orders.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority",
        F.year("o_orderdate").cast("long").alias("y"),
        F.to_date("o_orderdate").alias("d"),
    ).agg(F.sum((_dec("o_totalprice") * 100).cast("long")).alias("cents"))
    w = (
        Window.partitionBy("o_orderpriority", "y")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "o_orderpriority",
        "y",
        F.date_format("d", "yyyy-MM-dd").alias("date"),
        (F.sum("cents").over(w).cast("double") / F.lit(100.0)).alias("ytd_revenue"),
    )


@register(
    "q184_holdings_replay",
    oracle="""
    WITH workbook AS (
        SELECT CASE
                 WHEN s_suppkey % 7 = 0 THEN '-'
                 WHEN s_suppkey % 11 = 0 THEN NULL
                 WHEN s_suppkey % 5 = 0 THEN 'T' || CAST(s_suppkey AS VARCHAR) || '.A'
                 ELSE 'T' || CAST(s_suppkey AS VARCHAR)
               END AS ticker,
               CAST(s_acctbal AS DOUBLE) AS weight,
               CAST(s_suppkey * 10 + 3 AS DOUBLE) AS shares_held
        FROM supplier
    )
    SELECT '2024-06-28' AS date,
           lower(replace(ticker, '.', '_')) AS ticker,
           weight / 100.0 AS weight,
           shares_held
    FROM workbook
    WHERE ticker <> '-' AND ticker IS NOT NULL AND ticker NOT LIKE '%6%'
    """,
    survey_ref="A5 holdings workbook replay (sector.py:155-168): the "
    "create_sector_shares_dataframe pipeline — skiprows projection, "
    "'-'/NULL/contains-'6' drops, X1 ticker normalization, percent → "
    "fraction, as-of stamp — as io.clean_holdings over workbook-shaped "
    "rows; the terminal wide pivot is the presentation step (B6)",
)
def q184_holdings_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — the xlsx→holdings cleaning pipeline, oracle-checked.

    Workbook-SHAPED rows — placeholder '-' rows, NULL tickers, tickers
    containing '6', dotted share classes — are synthesized
    deterministically from ``supplier`` and pushed through the same
    ``io.clean_holdings`` engine pipeline the CSV/xlsx edge readers
    feed. The BINARY xlsx path itself is real since r04: the
    pure-stdlib ``io.parse_xlsx_rows`` (zipfile + XML, shared/inline
    strings, sparse A1 refs) is round-tripped in tests/test_xlsx.py;
    this query oracle-checks the transformation semantics on data the
    oracle can also see.
    """
    from stock_data_pipeline_spark.io import clean_holdings

    s = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    ticker = (
        F.when(k % 7 == 0, F.lit("-"))
        .when(k % 11 == 0, F.lit(None).cast("string"))
        .when(k % 5 == 0, F.concat(F.lit("T"), k.cast("string"), F.lit(".A")))
        .otherwise(F.concat(F.lit("T"), k.cast("string")))
    )
    workbook = s.select(
        ticker.alias("ticker"),
        F.col("s_acctbal").cast("double").alias("weight"),
        (k * 10 + 3).cast("double").alias("shares_held"),
    )
    return clean_holdings(workbook, "2024-06-28")


@register(
    "q185_image_header_decode",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN 'png' ELSE 'bmp' END AS format,
           CAST(doc_id % 13 + 1 AS INTEGER) AS width,
           CAST(doc_id % 7 + 1 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 8 ELSE 24 END AS INTEGER) AS bit_depth
    FROM documents
    """,
    survey_ref="multimodal tier-2 REAL binary decode: spec-valid "
    "PNG/BMP files synthesized per doc (zlib IDAT, correct CRCs), then "
    "parsed back by a pure-Python header decoder over mapInPandas; the "
    "oracle recomputes the expected metadata from the id formulas, so "
    "a MATCH proves the encode→parse round trip through real binary "
    "formats, not just byte math",
)
def q185_image_header_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-image-format round trip: every document gets an actual
    PNG (odd ids) or BMP (even ids) payload with id-derived dimensions,
    and the tier-2 decoder must recover format/width/height/bit-depth
    from the bytes alone. Corrupt payloads would classify as 'unknown'
    and hash-mismatch — the oracle genuinely gates the binary path."""
    from stock_data_pipeline_spark.llm.multimodal import (
        decode_image_headers,
        synthesize_images,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_image_headers(synthesize_images(docs, "doc_id"))


@register(
    "q186_kmv_distinct",
    headline=True,
    oracle="""
    WITH mink AS (
        SELECT DISTINCT (((o_custkey * 48271 + 11213) % 2147483647)
                         * 69621 + 28411) % 2147483647 AS h
        FROM orders ORDER BY h LIMIT 256
    ), s AS (
        SELECT COUNT(*) AS n_kept, MAX(h) AS threshold FROM mink
    ), t AS (
        SELECT COUNT(DISTINCT o_custkey) AS true_distinct FROM orders
    ), e AS (
        SELECT 256 AS k, n_kept, threshold,
               CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
                    ELSE CAST(255 AS DOUBLE) * 2147483647 / CAST(threshold AS DOUBLE)
               END AS estimate,
               true_distinct
        FROM s, t
    )
    SELECT k, n_kept, threshold, estimate, true_distinct,
           ABS(estimate - CAST(true_distinct AS DOUBLE))
             / CAST(true_distinct AS DOUBLE) AS rel_error
    FROM e
    """,
    survey_ref="sketch family: KMV/bottom-k distinct-count estimation "
    "with a PORTABLE universal hash — the cross-engine-verifiable "
    "alternative to HyperLogLog (operators/sketches.py); shuffle "
    "carries per-partition distinct hash sets, never rows, and the "
    "k-minimum merge is TakeOrdered O(k)",
)
def q186_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate |distinct o_custkey| from the 256 smallest portable
    hash values, next to the exact count and realized relative error.
    Every intermediate (hash, threshold) is exact integer arithmetic,
    so even the final double estimate hash-matches DuckDB bit-for-bit
    — a sketch with a full value oracle, which HLL can't offer."""
    from stock_data_pipeline_spark.operators.sketches import kmv_distinct_estimate

    o = load_table(spark, sf_dir, "orders")
    est = kmv_distinct_estimate(o, "o_custkey", k=256)
    truth = o.agg(F.countDistinct("o_custkey").alias("true_distinct"))
    one = est.crossJoin(F.broadcast(truth))
    rel = F.abs(
        F.col("estimate") - F.col("true_distinct").cast("double")
    ) / F.col("true_distinct").cast("double")
    return one.select(
        "k", "n_kept", "threshold", "estimate", "true_distinct", rel.alias("rel_error")
    )


@register(
    "q187_url_corpus_curation",
    oracle="""
    WITH parsed AS (
        SELECT doc_id,
               CASE doc_id % 5
                 WHEN 0 THEN 'news.example.com'  WHEN 1 THEN 'blog.example.org'
                 WHEN 2 THEN 'docs.example.io'   WHEN 3 THEN 'cdn.example.net'
                 ELSE 'shop.example.co' END AS host,
               '/a/' || CAST(doc_id AS VARCHAR) || '/page' AS path,
               CAST(doc_id AS VARCHAR) AS qid
        FROM documents
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) AS rn
        FROM parsed
    )
    SELECT doc_id, host, path, qid FROM ranked WHERE rn <= 50
    """,
    survey_ref="web-corpus curation: URL parsing (real parse_url over "
    "messy scheme/port/query variants) + per-host document caps — the "
    "host-level politeness/diversity control every crawl-derived "
    "training corpus applies; one window shuffle on host",
)
def q187_url_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build messy-but-valid URLs per document (scheme varies, some
    carry an explicit port, all carry a query string), parse them with
    Spark's REAL url parser, then cap each host at 50 documents
    (deterministic keep-order). The oracle recomputes the expected
    host/path/query from the id formulas, so a MATCH proves parse_url
    stripped schemes and ports correctly — parsing is exercised, not
    replicated, in SQL."""
    hosts = F.array(
        F.lit("news.example.com"), F.lit("blog.example.org"),
        F.lit("docs.example.io"), F.lit("cdn.example.net"), F.lit("shop.example.co"),
    )
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.element_at(hosts, (F.col("doc_id") % 5 + 1).cast("int")),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":8443")).otherwise(F.lit("")),
        F.lit("/a/"), F.col("doc_id").cast("string"), F.lit("/page"),
        F.lit("?utm=x&id="), F.col("doc_id").cast("string"),
    )
    parsed = d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("id")).alias("qid"),
    )
    w = Window.partitionBy("host").orderBy("doc_id")
    return (
        parsed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .drop("rn")
    )


@register(
    "q188_truncation_dups",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE n_chars >= 20
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               substr(text, 1, CAST(floor(n_chars * 2 / 5) AS BIGINT)) AS text
        FROM documents WHERE n_chars >= 20 AND doc_id % 10 = 0
    )
    SELECT a.doc_id AS short_doc, b.doc_id AS long_doc,
           length(a.text) AS short_len, length(b.text) AS long_len
    FROM corpus a JOIN corpus b
      ON substr(a.text, 1, 20) = substr(b.text, 1, 20)
     AND a.doc_id <> b.doc_id
    WHERE length(a.text) < length(b.text)
      AND starts_with(b.text, a.text)
    """,
    survey_ref="near-dup family: truncation-duplicate detection (a doc "
    "that is a strict PREFIX of another — the crawl-artifact shape "
    "shingle Jaccard under-scores); candidates via 20-char-prefix "
    "equi-join, refined by starts_with — shuffle ∝ corpus, never N²",
)
def q188_truncation_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find documents that are strict prefixes of longer documents —
    truncated re-crawls, pagination cuts, interrupted fetches. A
    tenth of the corpus is re-injected at 40% length so the detector
    has known positives; candidate pairs come from an equi-join on
    the first 20 chars (any true prefix pair of ≥20-char docs shares
    that key), then exact ``startswith`` refinement. The 20-char
    bucketing is the skew knob: boilerplate-heavy corpora would widen
    the key or add a length bucket, same as max_df in the shingle
    pipeline."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 20)
    truncated = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.substring(F.col("text"), 1, F.floor(F.col("n_chars") * 2 / 5).cast("int")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(truncated)
    a = corpus.select(
        F.col("doc_id").alias("short_doc"),
        F.col("text").alias("ta"),
        F.substring("text", 1, 20).alias("k"),
    )
    b = corpus.select(
        F.col("doc_id").alias("long_doc"),
        F.col("text").alias("tb"),
        F.substring("text", 1, 20).alias("k"),
    )
    return (
        a.join(b, "k")
        .filter(
            (F.col("short_doc") != F.col("long_doc"))
            & (F.length("ta") < F.length("tb"))
            & F.col("tb").startswith(F.col("ta"))
        )
        .select(
            "short_doc",
            "long_doc",
            F.length("ta").cast("long").alias("short_len"),
            F.length("tb").cast("long").alias("long_len"),
        )
    )


@register(
    "q189_inverted_index",
    oracle="""
    WITH tokens AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), grouped AS (
        SELECT token,
               COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(*) AS total_tf,
               array_to_string(list_sort(list(DISTINCT doc_id))[1:10], ',') AS top_postings
        FROM tokens WHERE token <> '' GROUP BY token
    )
    SELECT token, n_docs, total_tf, top_postings
    FROM grouped WHERE n_docs >= 5
    """,
    survey_ref="retrieval-side corpus op: inverted-index postings "
    "construction (token -> doc list + df + tf) — the artifact search "
    "and contamination tooling consume; one explode + one grouped "
    "shuffle, postings capped at 10 ids per token for bounded rows",
)
def q189_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize an inverted index over the corpus: per token, the
    document frequency, total term frequency, and the 10 smallest doc
    ids as the postings sample (comma-joined so the value oracle
    compares strings, not engine-specific array renderings). Postings
    lists are the backbone of exact-match contamination checks (q77)
    and the shingle pipelines — this query materializes them as a
    first-class artifact."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    grouped = tk.groupBy("token").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("total_tf"),
        F.array_join(
            F.transform(
                F.slice(F.array_sort(F.collect_set("doc_id")), 1, 10),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("top_postings"),
    )
    return grouped.filter(F.col("n_docs") >= 5)


_GOPHER_STOPS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "with"]


@register(
    "q190_gopher_rules",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
        FROM documents
    ), ex AS (
        SELECT doc_id, unnest(tk) AS w FROM toks
    ), wc AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM ex GROUP BY 1, 2
    ), stats AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               SUM(CAST(length(w) AS BIGINT) * c) AS sum_len,
               MAX(c) AS max_c,
               COUNT(DISTINCT CASE WHEN w IN ({", ".join(f"'{s}'" for s in _GOPHER_STOPS)})
                     THEN w END) AS n_stop
        FROM wc GROUP BY 1
    )
    SELECT doc_id,
           n_words,
           CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
           CAST(max_c AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac,
           CAST(n_stop AS BIGINT) AS n_stop_distinct,
           CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                      AND CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) BETWEEN 3.0 AND 10.0
                      AND CAST(max_c AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.2
                      AND n_stop >= 1
                THEN 1 ELSE 0 END AS BIGINT) AS passes_gopher
    FROM stats
    """,
    survey_ref="extension: Gopher-style document quality rules — word-count "
    "bounds, mean word length, top-word repetition fraction, stopword "
    "presence, composed into one pass/fail gate per document",
)
def q190_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate (Rae et al. 2021 §A1.1 heuristics,
    re-expressed as declarative aggregates): per document, word count,
    mean word length, the most-repeated word's frequency fraction, and
    distinct-stopword presence, composed into a single pass flag.

    Scale shape: explode → two hash aggregates (word counts, then doc
    stats), both map-side combinable; shuffle volume is the token
    multiset, never doc × vocab. The repetition metric deliberately goes
    through the (doc_id, word) aggregate instead of a per-row
    ``transform(array_distinct(...))`` scan, which would be O(len²) per
    document on long documents."""
    doc = load_table(spark, sf_dir, "documents")
    ex = doc.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("w"))
    wc = ex.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    stats = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.sum(F.length("w").cast("long") * F.col("c")).alias("sum_len"),
        F.max("c").alias("max_c"),
        F.countDistinct(
            F.when(F.col("w").isin(_GOPHER_STOPS), F.col("w"))
        ).alias("n_stop_distinct"),
    )
    mean_len = F.col("sum_len").cast("double") / F.col("n_words").cast("double")
    top_frac = F.col("max_c").cast("double") / F.col("n_words").cast("double")
    passes = (
        F.col("n_words").between(50, 100000)
        & mean_len.between(3.0, 10.0)
        & (top_frac <= 0.2)
        & (F.col("n_stop_distinct") >= 1)
    )
    return stats.select(
        "doc_id",
        "n_words",
        mean_len.alias("mean_word_len"),
        top_frac.alias("top_word_frac"),
        F.col("n_stop_distinct").cast("long").alias("n_stop_distinct"),
        passes.cast("long").alias("passes_gopher"),
    )


@register(
    "q191_temperature_mixing",
    oracle="""
    WITH toks AS (
        SELECT lang, CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_tok
        FROM documents
    ), per_lang AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM toks GROUP BY 1
    ), tot AS (
        SELECT SUM(n_tokens) AS total_tokens, SUM(n_docs) AS total_docs FROM per_lang
    ), raw AS (
        SELECT lang, n_docs, n_tokens,
               CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS p,
               sqrt(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS w_raw,
               total_docs
        FROM per_lang CROSS JOIN tot
    ), norm AS (
        SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(w_raw ORDER BY lang)),
                           (a, b) -> a + b) AS z
        FROM raw
    )
    SELECT lang, n_docs, n_tokens, p,
           w_raw / z AS weight,
           w_raw / z * CAST(total_docs AS DOUBLE) AS expected_epoch_docs
    FROM raw CROSS JOIN norm
    """,
    survey_ref="extension: temperature-based corpus mixing — per-language "
    "token shares smoothed with alpha=0.5 (sqrt) and renormalized into "
    "sampling weights, the standard multilingual rebalancing step",
)
def q191_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed sampling weights per language (alpha = 0.5,
    i.e. w ∝ p^0.5): flattens the language distribution the way
    multilingual training mixtures upsample low-resource languages.

    Determinism: token counts and totals are exact int64; p is one
    double division of identical operands; sqrt is correctly rounded
    IEEE in both engines; and the normalizer folds the per-language
    w_raw values in lang order (sorted collect_list fold / DuckDB
    ordered-list reduce) so the 5-double sum is order-pinned.

    Scale shape: one hash aggregate over the corpus (map-side
    combinable), then all remaining work happens on one row per
    language — the normalizer and totals broadcast."""
    doc = load_table(spark, sf_dir, "documents")
    per_lang = doc.select(
        "lang", F.size(text.tokens(F.col("text"))).cast("long").alias("n_tok")
    ).groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    tot = per_lang.agg(
        F.sum("n_tokens").alias("total_tokens"), F.sum("n_docs").alias("total_docs")
    )
    raw = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double")).alias("p"),
        F.sqrt(
            F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double")
        ).alias("w_raw"),
        "total_docs",
    )
    norm = raw.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("lang", "w_raw"))),
            F.lit(0.0),
            lambda a, x: a + x["w_raw"],
        ).alias("z")
    )
    return raw.crossJoin(F.broadcast(norm)).select(
        "lang",
        "n_docs",
        "n_tokens",
        "p",
        (F.col("w_raw") / F.col("z")).alias("weight"),
        (F.col("w_raw") / F.col("z") * F.col("total_docs").cast("double")).alias(
            "expected_epoch_docs"
        ),
    )


@register(
    "q192_bloom_contamination",
    headline=True,
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
        FROM documents
    ), sh AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 7),
                       i -> array_to_string(tk[i:i+7], ' '))) AS s
        FROM toks WHERE len(tk) >= 8
    ), hashed AS (
        SELECT DISTINCT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(s)),
                                  i -> CAST(ord(substr(s, i, 1)) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % 1000000007) AS h
        FROM sh
    ), probes AS (
        SELECT doc_id, h, j,
               (h + j * ((h * 2654435761) % 1000000007)) % 65536 AS pos
        FROM hashed CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
    ), bloom AS (
        SELECT pos // 62 AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 62 AS INTEGER)) AS bits
        FROM (SELECT DISTINCT pos FROM probes WHERE doc_id % 50 = 0)
        GROUP BY 1
    ), corpus_probe AS (
        SELECT p.doc_id, p.h,
               CASE WHEN b.bits IS NOT NULL
                         AND (b.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 62 AS INTEGER))) <> 0
                    THEN 1 ELSE 0 END AS bit_set
        FROM probes p LEFT JOIN bloom b ON p.pos // 62 = b.word_idx
        WHERE p.doc_id % 50 <> 0
    ), gram_hits AS (
        SELECT doc_id, h, MIN(bit_set) AS hit FROM corpus_probe GROUP BY 1, 2
    ), per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(hit) AS BIGINT) AS n_bloom_hits
        FROM gram_hits GROUP BY 1
    )
    SELECT doc_id, n_grams, n_bloom_hits,
           CAST(n_bloom_hits AS DOUBLE) / CAST(n_grams AS DOUBLE) AS hit_frac,
           CAST(CASE WHEN CAST(n_bloom_hits AS DOUBLE) / CAST(n_grams AS DOUBLE) >= 0.5
                THEN 1 ELSE 0 END AS BIGINT) AS flagged
    FROM per_doc
    WHERE n_bloom_hits > 0
    """,
    survey_ref="extension: Bloom-filter benchmark screening — the benchmark "
    "set's 8-gram bits become a ~1 K-row broadcast bitset, so the corpus "
    "contamination probe is a broadcast join instead of the q77 shuffle "
    "equi-join (the 100 TB-scale first-pass filter in front of q77)",
)
def q192_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter contamination screen: fold the benchmark slice's
    distinct word-8-grams into a 65,536-bit Bloom filter (k = 3 probes
    per gram, double hashing pos_j = (h + j·h2) mod m), stored as ~1 K
    62-bit words, then probe every corpus gram against the broadcast
    bitset and score each document by its fraction of grams fully
    present.

    Why it matters at scale: q77's exact contamination check shuffles
    corpus-side shingle postings into an equi-join against the benchmark.
    Here the benchmark side COLLAPSES to a fixed-size bitset that
    broadcasts to every executor — the corpus is scanned once with no
    shuffle on the probe side (the only exchanges are the per-doc
    aggregates), which is the right first-pass shape when the corpus is
    100 TB and the benchmark is megabytes. False positives (expected for
    a Bloom filter) are then confirmed by the exact q77 join over the
    ~0.1% of docs that survive this screen.

    Determinism: the portable polynomial hash (q77's) and pure integer
    bit arithmetic reproduce exactly in any engine — 62-bit words keep
    every mask positive in int64, so no sign-extension edge cases.
    """
    from stock_data_pipeline_spark.llm.dedup import portable_ngram_hashes, _spread

    doc = load_table(spark, sf_dir, "documents")
    tk = (
        _spread(doc, "doc_id")
        .select("doc_id", text.tokens(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 8)
    )
    # composed per-token hashing (r09): bit-identical to exploding the
    # space-joined 8-gram strings through _portable_shingle_hash, but
    # each token's chars are hashed once per doc, not once per gram —
    # see portable_ngram_hashes
    hashed = portable_ngram_hashes(tk, "doc_id", "tk", 8).distinct()
    h2 = (F.col("h") * F.lit(2654435761).cast("long")) % F.lit(1_000_000_007)
    probes = hashed.select(
        "doc_id",
        "h",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
    ).select(
        "doc_id",
        "h",
        ((F.col("h") + F.col("j") * h2) % F.lit(65536)).alias("pos"),
    )
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 62 AS INT))")
    bloom = (
        probes.filter(F.col("doc_id") % 50 == 0)
        .select("pos")
        .distinct()
        .select((F.col("pos") / 62).cast("long").alias("word_idx"), mask.alias("m"))
        .groupBy("word_idx")
        .agg(F.bit_or("m").alias("bits"))
    )
    corpus_probe = (
        probes.filter(F.col("doc_id") % 50 != 0)
        .withColumn("word_idx", (F.col("pos") / 62).cast("long"))
        .withColumn("m", mask)
        .join(F.broadcast(bloom), "word_idx", "left")
        .select(
            "doc_id",
            "h",
            F.when(
                F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(F.col("m")) != 0),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("bit_set"),
        )
    )
    gram_hits = corpus_probe.groupBy("doc_id", "h").agg(F.min("bit_set").alias("hit"))
    per_doc = gram_hits.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum("hit").cast("long").alias("n_bloom_hits"),
    )
    frac = F.col("n_bloom_hits").cast("double") / F.col("n_grams").cast("double")
    return (
        per_doc.filter(F.col("n_bloom_hits") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_bloom_hits",
            frac.alias("hit_frac"),
            (frac >= 0.5).cast("long").alias("flagged"),
        )
    )


def _pq_subspace_blocks(
    s: int,
    sub_dim: int,
    k: int,
    rounds: int,
    bits: int,
    tag: str | None = None,
    train_mod: int | None = None,
) -> list[str]:
    """Unrolled-Lloyd CTE chain for PQ subspace ``s`` (prefix ``s{s}``,
    or ``tag`` when given — the coarse IVF quantizer reuses this with
    tag='cg' over the full vector) — the q80 generated-oracle pattern
    applied to a contiguous slice of the embedding. Mirrors
    clustering._lloyd_rounds_long exactly: same init (k lowest vec_ids),
    same quantization, same fold order. With ``train_mod``, the init
    and the centroid updates run over the deterministic 1-in-mod
    systematic sample only (mirroring clustering._train_long); the
    full corpus is assigned once, against the final centroids."""
    scale = 1 << bits
    a, b = s * sub_dim + 1, (s + 1) * sub_dim
    if tag is None:
        tag = f"s{s}"

    def dist(qv: str, cv: str) -> str:
        return f"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, {sub_dim}),
                   i -> (CAST({qv}[i] AS DOUBLE) - {cv}[i]) * (CAST({qv}[i] AS DOUBLE) - {cv}[i]))),
               (x, y) -> x + y)"""

    def assign_block(name: str, src: str, prev: str) -> str:
        return f"""{name} AS (
        SELECT vec_id, qv, cid, dist2 FROM (
            SELECT q.vec_id, q.qv, {prev}.cid,
                   {dist("q.qv", f"{prev}.cv")} AS dist2,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {dist("q.qv", f"{prev}.cv")} ASC, {prev}.cid ASC) AS rn
            FROM {src} q CROSS JOIN {prev}
        ) WHERE rn = 1
    )"""

    parts = [
        f"""{tag}q AS (
        SELECT vec_id,
               list_transform(embedding[{a}:{b}], x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
        FROM embeddings
    )"""
    ]
    train_src = f"{tag}q"
    if train_mod is not None:
        train_src = f"{tag}t"
        parts.append(
            f"""{tag}t AS (
        SELECT vec_id, qv FROM {tag}q WHERE vec_id % {train_mod} = 0
    )"""
        )
    parts.append(
        f"""{tag}c0 AS (
        SELECT CAST(rn - 1 AS INTEGER) AS cid, list_transform(qv, x -> CAST(x AS DOUBLE)) AS cv
        FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn, qv FROM {train_src}) t
        WHERE rn <= {k}
    )"""
    )
    for r in range(rounds - 1):
        parts.append(assign_block(f"{tag}ta{r + 1}", train_src, f"{tag}c{r}"))
        parts.append(f"""{tag}sums{r + 1} AS (
        SELECT cid, i, SUM(qv[i]) AS sm FROM {tag}ta{r + 1}, generate_series(1, {sub_dim}) AS g(i)
        GROUP BY 1, 2
    ), {tag}cnt{r + 1} AS (
        SELECT cid, COUNT(*) AS n FROM {tag}ta{r + 1} GROUP BY 1
    ), {tag}c{r + 1} AS (
        SELECT cid, list_transform(list(sm ORDER BY i), v -> CAST(v AS DOUBLE) / n) AS cv
        FROM {tag}sums{r + 1} JOIN {tag}cnt{r + 1} USING (cid)
        GROUP BY cid, n
    )""")
    parts.append(assign_block(f"{tag}a{rounds}", f"{tag}q", f"{tag}c{rounds - 1}"))
    return parts


def _pq_codes_oracle(
    m: int, sub_dim: int, k: int, rounds: int, bits: int,
    train_mod: int | None = None,
) -> str:
    parts: list[str] = []
    for s in range(m):
        parts.extend(
            _pq_subspace_blocks(s, sub_dim, k, rounds, bits, train_mod=train_mod)
        )
    joins = f"s0a{rounds} a0 " + " ".join(
        f"JOIN s{s}a{rounds} a{s} USING (vec_id)" for s in range(1, m)
    )
    codes = ", ".join(f"a{s}.cid AS code_{s}" for s in range(m))
    err = " + ".join(f"a{s}.dist2" for s in range(m))
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT a0.vec_id, {codes}, {err} AS total_err FROM {joins}\n    "
    )


def _pq_adc_oracle(
    m: int, sub_dim: int, k: int, rounds: int, bits: int, query_mod: int, topk: int,
    train_mod: int | None = None,
) -> str:
    parts: list[str] = []
    for s in range(m):
        parts.extend(
            _pq_subspace_blocks(s, sub_dim, k, rounds, bits, train_mod=train_mod)
        )
        cents = f"s{s}c{rounds - 1}"

        def dist(qv: str, cv: str) -> str:
            return f"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, {sub_dim}),
                   i -> (CAST({qv}[i] AS DOUBLE) - {cv}[i]) * (CAST({qv}[i] AS DOUBLE) - {cv}[i]))),
               (x, y) -> x + y)"""

        parts.append(f"""s{s}sc AS (
        SELECT dt.query_id, cc.vec_id, {s} AS sub, dt.d2
        FROM (SELECT vec_id, cid AS code FROM s{s}a{rounds} WHERE vec_id % {query_mod} <> 0) cc
        JOIN (SELECT q.vec_id AS query_id, c.cid AS code, {dist("q.qv", "c.cv")} AS d2
              FROM s{s}q q CROSS JOIN {cents} c
              WHERE q.vec_id % {query_mod} = 0) dt USING (code)
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM s{s}sc" for s in range(m))
    parts.append(f"""allsc AS ({union}),
    summed AS (
        SELECT query_id, vec_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(d2 ORDER BY sub)),
                           (x, y) -> x + y) AS adc_dist
        FROM allsc GROUP BY 1, 2
    )""")
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT query_id, vec_id, adc_dist, CAST(rnk AS BIGINT) AS rank FROM (
        SELECT query_id, vec_id, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC) AS rnk
        FROM summed
    ) WHERE rnk <= {topk}
    """
    )


@register(
    "q193_pq_codes",
    oracle=_pq_codes_oracle(m=4, sub_dim=16, k=16, rounds=2, bits=10, train_mod=16),
    survey_ref="extension: product quantization — per-subspace Lloyd "
    "codebooks (trained on a deterministic 1/16 sample, the one-scan "
    "discipline real PQ training uses) compress 64 float dims to 4 "
    "byte-codes per vector, with a FULL generated value oracle "
    "(unrolled rounds, q80 discipline, sample mirrored in SQL)",
)
def q193_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stock_data_pipeline_spark.llm.clustering import pq_codes

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_codes(
        emb, "vec_id", "embedding",
        m=4, sub_dim=16, k=16, rounds=2, quant_bits=10, train_mod=16,
    )


@register(
    "q194_pq_adc_topk",
    headline=True,
    oracle=_pq_adc_oracle(
        m=16, sub_dim=4, k=256, rounds=2, bits=10, query_mod=97, topk=10,
        train_mod=16,
    ),
    survey_ref="extension: asymmetric-distance top-k over PQ codes — "
    "codebooks trained on a cached deterministic 1/16 sample (one "
    "source scan per subspace instead of one per Lloyd round), "
    "per-query m-by-k distance tables against broadcast codebooks, "
    "corpus scored by code lookup; pairs with q53 IVF pruning for "
    "billion-vector search. Registered at the 128-bit budget (m=16, "
    "k=256): RECALL_r08's curve showed the old 16-bit demo config "
    "retains ~2% recall at sf1 on the uniform-random fixture while "
    "128 bits carries real signal — a copied recipe should start "
    "from a budget that works",
)
def q194_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stock_data_pipeline_spark.llm.clustering import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb, "vec_id", "embedding", query_mod=97,
        m=16, sub_dim=4, k=256, rounds=2, quant_bits=10, topk=10, train_mod=16,
    )


_MORTON_SQL = """list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(generate_series(0, 15),
            i -> (((zx >> i) & 1) << (2 * i)) + (((zy >> i) & 1) << (2 * i + 1)))),
        (a, b) -> a + b)"""

_ZORDER_BASE_SQL = """rng AS (
        SELECT MIN(o_custkey) AS cmin, MAX(o_custkey) AS cmax,
               MIN(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS dmin,
               MAX(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS dmax
        FROM orders
    ), pts AS (
        SELECT o_orderkey, o_custkey AS ck,
               datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dd,
               cmin, cmax, dmin, dmax
        FROM orders CROSS JOIN rng
    ), nrm AS (
        SELECT o_orderkey, ck, dd, cmin, cmax, dmin, dmax,
               ((ck - cmin) * 65535) // greatest(cmax - cmin, 1) AS zx,
               ((dd - dmin) * 65535) // greatest(dmax - dmin, 1) AS zy
        FROM pts
    ), zed AS (
        SELECT o_orderkey, ck, dd, cmin, cmax, dmin, dmax, zx, zy,
               {morton} AS zval
        FROM nrm
    )""".format(morton=_MORTON_SQL)


@register(
    "q195_zorder_zonemaps",
    oracle=f"""
    WITH {_ZORDER_BASE_SQL}
    SELECT zval >> 26 AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(ck) AS ck_lo, MAX(ck) AS ck_hi,
           MIN(dd) AS dd_lo, MAX(dd) AS dd_hi
    FROM zed
    GROUP BY 1
    """,
    survey_ref="extension: Z-order (Morton) clustering + zone maps — "
    "interleave customer and order-day bits so every file gets a tight "
    "min/max range in BOTH dimensions; the skipping index a lakehouse "
    "writer persists per file",
)
def q195_zorder_zonemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order the orders table on (o_custkey, order day) into 64
    curve-contiguous files and emit each file's zone map (row count +
    min/max of both dimensions).

    At 100 TB this IS the layout decision: a single-column sort prunes
    scans only on its leading column, while Morton interleaving bounds
    every file in both dimensions, so 2-D predicates skip most files
    (measured by q196). One broadcast range aggregate, one narrow
    projection for the 32-bit z-value (statically unrolled integer
    bit-fold, whole-stage codegen), one map-side-combinable aggregate
    for the maps — the curve assignment itself never shuffles the fact
    table."""
    from stock_data_pipeline_spark.operators.layout import zone_maps, zorder_assignment

    o = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    pts = o.select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch).cast("long").alias("dd"),
    )
    assigned = zorder_assignment(pts, "ck", "dd", n_files=64)
    return zone_maps(assigned, "file_id", ["ck", "dd"]).select(
        "file_id",
        "n_rows",
        "ck_lo",
        "ck_hi",
        "dd_lo",
        "dd_hi",
    )


@register(
    "q196_layout_pruning",
    headline=True,
    oracle=f"""
    WITH {_ZORDER_BASE_SQL},
    banded AS (
        SELECT *,
               cmin + ((cmax - cmin) * 45) // 100 AS clo,
               cmin + ((cmax - cmin) * 55) // 100 AS chi,
               dmin + ((dmax - dmin) * 45) // 100 AS dlo,
               dmin + ((dmax - dmin) * 55) // 100 AS dhi,
               zval >> 26 AS z_file,
               zy >> 10 AS d_file
        FROM zed
    ), match_cnt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS rows_matching
        FROM banded WHERE ck BETWEEN clo AND chi AND dd BETWEEN dlo AND dhi
    ), zmaps AS (
        SELECT 'zorder' AS layout, z_file AS file_id, COUNT(*) AS n_rows,
               MIN(ck) AS ck_lo, MAX(ck) AS ck_hi, MIN(dd) AS dd_lo, MAX(dd) AS dd_hi,
               MIN(clo) AS clo, MIN(chi) AS chi, MIN(dlo) AS dlo, MIN(dhi) AS dhi
        FROM banded GROUP BY 2
        UNION ALL
        SELECT 'date_sorted', d_file, COUNT(*),
               MIN(ck), MAX(ck), MIN(dd), MAX(dd),
               MIN(clo), MIN(chi), MIN(dlo), MIN(dhi)
        FROM banded GROUP BY 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN ck_hi >= clo AND ck_lo <= chi
                          AND dd_hi >= dlo AND dd_lo <= dhi THEN 1 ELSE 0 END) AS BIGINT)
               AS files_scanned,
           CAST(SUM(CASE WHEN ck_hi >= clo AND ck_lo <= chi
                          AND dd_hi >= dlo AND dd_lo <= dhi THEN n_rows ELSE 0 END) AS BIGINT)
               AS rows_scanned,
           (SELECT rows_matching FROM match_cnt) AS rows_matching
    FROM zmaps
    GROUP BY 1
    """,
    survey_ref="extension: zone-map pruning comparison — the same 2-D "
    "band predicate evaluated against per-file min/max stats under a "
    "date-sorted layout vs a Z-ordered layout; quantifies why Z-order "
    "wins multi-dimensional scans at scale",
)
def q196_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many files would a 2-D predicate (a 10% customer band × a
    10% date band) actually scan under (a) a date-sorted layout vs
    (b) a Z-ordered layout, given per-file zone maps?

    Emits one row per layout: file count, files surviving min/max
    pruning, rows inside surviving files, and the true matching row
    count (layout-independent). The date-sorted layout prunes hard on
    the date band but must scan ~every file for the customer band; the
    Z-order layout bounds both dimensions per file. Everything is
    exact integer arithmetic off one broadcast range row."""
    from stock_data_pipeline_spark.operators.layout import (
        norm16 as _layout_norm16,
        zorder_assignment,
    )

    o = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    pts = o.select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch).cast("long").alias("dd"),
    )
    rng = pts.agg(
        F.min("ck").alias("cmin"),
        F.max("ck").alias("cmax"),
        F.min("dd").alias("dmin"),
        F.max("dd").alias("dmax"),
    )

    def idiv(a: F.Column, b) -> F.Column:
        b = F.lit(b).cast("long") if isinstance(b, int) else b
        return ((a - F.pmod(a, b)) / b).cast("long")

    assigned = (
        zorder_assignment(pts, "ck", "dd", n_files=64)
        .withColumnRenamed("file_id", "z_file")
        .crossJoin(F.broadcast(rng))
        .withColumn("clo", F.col("cmin") + idiv((F.col("cmax") - F.col("cmin")) * 45, 100))
        .withColumn("chi", F.col("cmin") + idiv((F.col("cmax") - F.col("cmin")) * 55, 100))
        .withColumn("dlo", F.col("dmin") + idiv((F.col("dmax") - F.col("dmin")) * 45, 100))
        .withColumn("dhi", F.col("dmin") + idiv((F.col("dmax") - F.col("dmin")) * 55, 100))
        .withColumn(
            "d_file",
            F.shiftright(
                _layout_norm16(F.col("dd"), F.col("dmin"), F.col("dmax")), 10
            ).cast("long"),
        )
    )
    in_band = (
        F.col("ck").between(F.col("clo"), F.col("chi"))
        & F.col("dd").between(F.col("dlo"), F.col("dhi"))
    )
    match_cnt = assigned.filter(in_band).agg(
        F.count("*").cast("long").alias("rows_matching")
    )
    maps = None
    for layout, fcol in (("zorder", "z_file"), ("date_sorted", "d_file")):
        zm = assigned.groupBy(F.col(fcol).alias("file_id")).agg(
            F.count("*").alias("n_rows"),
            F.min("ck").alias("ck_lo"),
            F.max("ck").alias("ck_hi"),
            F.min("dd").alias("dd_lo"),
            F.max("dd").alias("dd_hi"),
            F.min("clo").alias("clo"),
            F.min("chi").alias("chi"),
            F.min("dlo").alias("dlo"),
            F.min("dhi").alias("dhi"),
        ).withColumn("layout", F.lit(layout))
        maps = zm if maps is None else maps.unionByName(zm)
    survives = (
        (F.col("ck_hi") >= F.col("clo"))
        & (F.col("ck_lo") <= F.col("chi"))
        & (F.col("dd_hi") >= F.col("dlo"))
        & (F.col("dd_lo") <= F.col("dhi"))
    )
    return (
        maps.groupBy("layout")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum(F.when(survives, 1).otherwise(0)).cast("long").alias("files_scanned"),
            F.sum(F.when(survives, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
        )
        .crossJoin(F.broadcast(match_cnt))
        .select("layout", "n_files", "files_scanned", "rows_scanned", "rows_matching")
    )


@register(
    "q199_kmv_set_ops",
    oracle="""
    WITH a AS (
        SELECT (((o_custkey * 48271 + 11213) % 2147483647) * 69621 + 28411) % 2147483647 AS h,
               1 AS in_a, 0 AS in_b
        FROM orders WHERE o_orderpriority = '1-URGENT'
    ), b AS (
        SELECT (((o_custkey * 48271 + 11213) % 2147483647) * 69621 + 28411) % 2147483647 AS h,
               0 AS in_a, 1 AS in_b
        FROM orders WHERE o_orderpriority = '5-LOW'
    ), merged AS (
        SELECT h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
        FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
        GROUP BY h ORDER BY h LIMIT 256
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(h) AS threshold,
               CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
        FROM merged
    ), t AS (
        SELECT
            (SELECT COUNT(DISTINCT o_custkey) FROM orders
              WHERE o_orderpriority IN ('1-URGENT', '5-LOW')) AS true_union,
            (SELECT COUNT(*) FROM
                ((SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
                 INTERSECT
                 (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'))
            ) AS true_intersect
    ), e AS (
        SELECT 256 AS k, n_kept, threshold, n_both,
               CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
                    ELSE CAST(255 AS DOUBLE) * 2147483647 / CAST(threshold AS DOUBLE)
               END AS union_est,
               CAST(n_both AS DOUBLE) / CAST(n_kept AS DOUBLE) AS sketch_jaccard,
               true_union, true_intersect
        FROM s, t
    )
    SELECT k, n_kept, threshold, n_both, union_est, sketch_jaccard,
           sketch_jaccard * union_est AS intersect_est,
           CAST(true_union AS BIGINT) AS true_union,
           CAST(true_intersect AS BIGINT) AS true_intersect,
           ABS(sketch_jaccard * union_est - CAST(true_intersect AS DOUBLE))
               / CAST(true_intersect AS DOUBLE) AS intersect_rel_error
    FROM e
    """,
    survey_ref="sketch family: KMV set algebra — union cardinality from "
    "the merged k-minimum threshold, intersection via sketch Jaccard; "
    "mergeable O(k) set operations over arbitrarily many sketches "
    "(operators/sketches.kmv_set_ops), fully value-oracled",
)
def q199_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate |urgent-buyers ∪ low-buyers| and the intersection from
    two mergeable KMV sketches, next to the exact counts and realized
    intersection error. The set algebra is the point: at 100 TB you
    keep one O(k) sketch per segment and answer overlap questions
    between ANY pair without re-scanning — here every intermediate
    (thresholds, membership flags, the estimates themselves) is exact
    portable arithmetic, so the whole sketch pipeline value-matches an
    independent engine."""
    from stock_data_pipeline_spark.operators.sketches import kmv_set_ops

    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    low = o.filter(F.col("o_orderpriority") == "5-LOW")
    est = kmv_set_ops(urgent, "o_custkey", low, "o_custkey", k=256)
    tu = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .agg(F.countDistinct("o_custkey").alias("true_union"))
    )
    ti = (
        urgent.select("o_custkey")
        .intersect(low.select("o_custkey"))
        .agg(F.count("*").cast("long").alias("true_intersect"))
    )
    out = est.crossJoin(F.broadcast(tu)).crossJoin(F.broadcast(ti))
    rel = F.abs(
        F.col("intersect_est") - F.col("true_intersect").cast("double")
    ) / F.col("true_intersect").cast("double")
    return out.select(
        "k",
        "n_kept",
        "threshold",
        "n_both",
        "union_est",
        "sketch_jaccard",
        "intersect_est",
        "true_union",
        "true_intersect",
        rel.alias("intersect_rel_error"),
    )


_CMS_ROWS = [(48271, 11213), (69621, 28411), (40692, 52711)]
_CMS_W = 1024


@register(
    "q200_count_min_sketch",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS token
        FROM documents
    ), counts AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM tok GROUP BY 1
    ), hashed AS (
        SELECT token, true_cnt,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(token)),
                                  i -> CAST(ord(substr(token, i, 1)) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % 1000000007) AS h
        FROM counts
    ), cells AS (
        {" UNION ALL ".join(
            f"SELECT {j} AS r, ((h * {a} + {b}) % 2147483647) % {_CMS_W} AS pos, true_cnt FROM hashed"
            for j, (a, b) in enumerate(_CMS_ROWS)
        )}
    ), counters AS (
        SELECT r, pos, CAST(SUM(true_cnt) AS BIGINT) AS counter FROM cells GROUP BY 1, 2
    ), top AS (
        SELECT token, true_cnt, h FROM hashed ORDER BY true_cnt DESC, token LIMIT 20
    ), probes AS (
        {" UNION ALL ".join(
            f"SELECT token, true_cnt, {j} AS r, ((h * {a} + {b}) % 2147483647) % {_CMS_W} AS pos FROM top"
            for j, (a, b) in enumerate(_CMS_ROWS)
        )}
    )
    SELECT p.token, MAX(p.true_cnt) AS true_cnt,
           MIN(c.counter) AS cms_estimate,
           MIN(c.counter) - MAX(p.true_cnt) AS overestimate
    FROM probes p JOIN counters c ON c.r = p.r AND c.pos = p.pos
    GROUP BY 1
    """,
    survey_ref="sketch family: count-min sketch — d=3 x w=1024 portable-"
    "hash counter array built by one map-side-combinable aggregate; "
    "point queries for the top-20 tokens show the one-sided "
    "overestimate guarantee, fully value-oracled",
)
def q200_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of corpus token frequencies (Cormode &
    Muthukrishnan 2005): 3 portable-hash rows × 1024 counters, built in
    one aggregate whose shuffle carries at most d·w cells per map task
    — the fixed-memory mergeable frequency summary for streams and
    100 TB scans alike. Probes the true top-20 tokens and reports the
    sketch estimate next to the exact count: CMS never underestimates
    (one-sided error), which the output columns make visible. Every
    hash and counter is exact integer arithmetic — a frequency sketch
    with a full cross-engine value oracle."""
    from stock_data_pipeline_spark.llm.dedup import _portable_shingle_hash

    doc = load_table(spark, sf_dir, "documents")
    tok = doc.select(F.explode(text.tokens(F.col("text"))).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").cast("long").alias("true_cnt"))
    hashed = counts.withColumn("h", _portable_shingle_hash(F.col("token")))
    p = F.lit(2147483647).cast("long")
    cells = None
    for j, (a, b) in enumerate(_CMS_ROWS):
        pos = F.pmod(F.pmod(F.col("h") * a + b, p), F.lit(_CMS_W).cast("long"))
        part = hashed.select(
            F.lit(j).alias("r"), pos.alias("pos"), F.col("true_cnt")
        )
        cells = part if cells is None else cells.unionByName(part)
    counters = cells.groupBy("r", "pos").agg(
        F.sum("true_cnt").cast("long").alias("counter")
    )
    top = hashed.orderBy(F.col("true_cnt").desc(), F.col("token")).limit(20)
    probes = None
    for j, (a, b) in enumerate(_CMS_ROWS):
        pos = F.pmod(F.pmod(F.col("h") * a + b, p), F.lit(_CMS_W).cast("long"))
        part = top.select("token", "true_cnt", F.lit(j).alias("r"), pos.alias("pos"))
        probes = part if probes is None else probes.unionByName(part)
    return (
        probes.join(F.broadcast(counters), ["r", "pos"])
        .groupBy("token")
        .agg(
            F.max("true_cnt").alias("true_cnt"),
            F.min("counter").alias("cms_estimate"),
            (F.min("counter") - F.max("true_cnt")).alias("overestimate"),
        )
    )


@register(
    "q201_table_checksum",
    oracle="""
    WITH rows_h AS (
        SELECT ((((l_orderkey * 48271 + l_linenumber) % 2147483647) * 69621
                 + (CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 2147483647))
                % 2147483647 * 40692
                + datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)))
               % 2147483647 AS h
        FROM lineitem
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h) AS BIGINT) AS hash_sum,
           bit_xor(h) AS hash_xor,
           MIN(h) AS hash_min,
           MAX(h) AS hash_max
    FROM rows_h
    """,
    survey_ref="extension: order-independent table fingerprint — per-row "
    "portable hash over the business key + measures, folded by SUM/XOR "
    "(commutative, so any partitioning/ordering gives the identical "
    "checksum); the migration-validation primitive for comparing a "
    "100 TB table across engines without sorting either side",
)
def q201_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row, order-independent fingerprint of lineitem: each row's
    (orderkey, linenumber, price-cents, shipdate-days) fold into a
    portable 31-bit hash, and the table reduces by SUM and XOR — both
    commutative+associative, so the checksum is identical under ANY
    partitioning, row order, or engine. This is how you validate a
    cross-engine migration (exactly this repo's situation) without a
    full sort-merge diff: one scan, map-side partial aggregation, a
    single row over the wire. A mismatched SUM localizes nothing, so
    pair with per-partition checksums (groupBy any column) to bisect;
    the XOR catches duplicate-pair insertions SUM-mod alone can miss.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = F.lit(2147483647).cast("long")
    epoch = F.lit("1970-01-01").cast("date")
    cents = (_dec("l_extendedprice") * 100).cast("long")
    h = F.pmod(
        F.pmod(
            F.pmod(F.col("l_orderkey") * 48271 + F.col("l_linenumber"), p) * 69621
            + F.pmod(cents, p),
            p,
        )
        * 40692
        + F.datediff(F.col("l_shipdate").cast("date"), epoch),
        p,
    )
    return li.select(h.alias("h")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("h").cast("long").alias("hash_sum"),
        F.bit_xor("h").alias("hash_xor"),
        F.min("h").alias("hash_min"),
        F.max("h").alias("hash_max"),
    )


@register(
    "q202_groupwise_ols",
    oracle="""
    WITH pts AS (
        SELECT o_orderpriority,
               CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        FROM orders
    ), moms AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
        FROM pts GROUP BY 1
    ), fit AS (
        -- DECIMAL/HUGEINT -> DOUBLE goes through VARCHAR (correctly
        -- rounded strtod) per the q165 cross-engine determinism note
        SELECT o_orderpriority, n,
               (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                   AS num,
               (CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                   AS den_x,
               (CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                   AS den_y,
               sx, sy
        FROM moms
    )
    SELECT o_orderpriority, n,
           num / den_x AS slope_cents_per_day,
           (CAST(CAST(sy AS VARCHAR) AS DOUBLE) - num / den_x * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
               / CAST(n AS DOUBLE) AS intercept_cents,
           num * num / (den_x * den_y) AS r2
    FROM fit
    """,
    survey_ref="extension: group-wise OLS trend fit — slope/intercept/R² "
    "from five exact moment sums (decimal accumulators, one shuffle, "
    "map-side combinable), the closed-form regression every metrics "
    "pipeline runs per segment",
)
def q202_groupwise_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend of order value (cents) over order day, per
    priority class: slope, intercept, R² from the five moment sums
    (n, Σx, Σy, Σxy, Σx², Σy²).

    The moments accumulate EXACTLY — x·y products land in DECIMAL(38,0)
    (cents × epoch-days ≈ 10¹² per row; int64 sums would overflow near
    10⁷ rows per group) and reassociate freely, so ONE map-side-
    combinable shuffle produces them at any parallelism. Only the final
    closed form runs in doubles, over identical operands in both
    engines — the whole regression value-matches bit-for-bit. This is
    the decomposable-aggregate pattern (q81's) applied to model
    fitting: no per-group iteration, no collect, scale-free."""
    o = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    pts = o.select(
        "o_orderpriority",
        F.datediff(F.col("o_orderdate").cast("date"), epoch).cast("long").alias("x"),
        (_dec("o_totalprice") * 100).cast("long").alias("y"),
    )
    moms = pts.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).cast("decimal(38,0)").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).cast("decimal(38,0)").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).cast("decimal(38,0)").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den_x = d("n") * d("sxx") - d("sx") * d("sx")
    den_y = d("n") * d("syy") - d("sy") * d("sy")
    slope = num / den_x
    return moms.select(
        "o_orderpriority",
        "n",
        slope.alias("slope_cents_per_day"),
        ((d("sy") - slope * d("sx")) / d("n")).alias("intercept_cents"),
        (num * num / (den_x * den_y)).alias("r2"),
    )


@register(
    "q203_file_bloom_pruning",
    oracle="""
    WITH pts AS (
        SELECT o_custkey AS ck,
               datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dd
        FROM orders
    ), rng AS (
        SELECT MIN(dd) AS dmin, MAX(dd) AS dmax FROM pts
    ), filed AS (
        SELECT ck,
               (((dd - dmin) * 65535) // greatest(dmax - dmin, 1)) >> 10 AS file_id
        FROM pts CROSS JOIN rng
    ), hashed AS (
        SELECT DISTINCT file_id, ck,
               (((ck * 48271 + 11213) % 2147483647) * 69621 + 28411) % 2147483647 AS h
        FROM filed
    ), cells AS (
        SELECT file_id,
               (h + j * ((h * 2654435761) % 2147483647)) % 4096 AS pos
        FROM hashed CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
    ), blooms AS (
        SELECT file_id, pos // 62 AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 62 AS INTEGER)) AS bits
        FROM (SELECT DISTINCT file_id, pos FROM cells) GROUP BY 1, 2
    ), zmaps AS (
        SELECT file_id, MIN(ck) AS ck_lo, MAX(ck) AS ck_hi FROM filed GROUP BY 1
    ), probes AS (
        SELECT c_custkey AS probe_ck,
               (((c_custkey * 48271 + 11213) % 2147483647) * 69621 + 28411) % 2147483647 AS h
        FROM customer WHERE c_custkey % 47 = 0
    ), probe_cells AS (
        SELECT p.probe_ck, f.file_id, p.h,
               (p.h + j.j * ((p.h * 2654435761) % 2147483647)) % 4096 AS pos
        FROM probes p
        CROSS JOIN (SELECT DISTINCT file_id FROM filed) f
        CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j
    ), probe_hits AS (
        SELECT pc.probe_ck, pc.file_id,
               MIN(CASE WHEN b.bits IS NOT NULL
                         AND (b.bits & (CAST(1 AS BIGINT) << CAST(pc.pos % 62 AS INTEGER))) <> 0
                    THEN 1 ELSE 0 END) AS bloom_hit
        FROM probe_cells pc
        LEFT JOIN blooms b ON b.file_id = pc.file_id AND b.word_idx = pc.pos // 62
        GROUP BY 1, 2
    ), truth AS (
        SELECT p.probe_ck, COUNT(DISTINCT f.file_id) AS true_files
        FROM probes p LEFT JOIN filed f ON f.ck = p.probe_ck
        GROUP BY 1
    ), zone_scan AS (
        SELECT p.probe_ck, CAST(COUNT(*) AS BIGINT) AS files_zone_scanned
        FROM probes p JOIN zmaps z ON p.probe_ck BETWEEN z.ck_lo AND z.ck_hi
        GROUP BY 1
    )
    SELECT h.probe_ck,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           COALESCE(MAX(z.files_zone_scanned), 0) AS files_zone_scanned,
           CAST(SUM(h.bloom_hit) AS BIGINT) AS files_bloom_scanned,
           CAST(MAX(t.true_files) AS BIGINT) AS true_files
    FROM probe_hits h
    JOIN truth t ON t.probe_ck = h.probe_ck
    LEFT JOIN zone_scan z ON z.probe_ck = h.probe_ck
    GROUP BY 1
    """,
    survey_ref="extension: per-file Bloom indexes — point-lookup file "
    "pruning on a column UNCORRELATED with the sort order, where zone "
    "maps are useless (every file's custkey range covers every key); "
    "the lakehouse bloom-filter-index pattern, fully value-oracled",
)
def q203_file_bloom_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup pruning where zone maps fail: orders land in 64
    date-sorted files, so every file's o_custkey [min,max] spans nearly
    the whole key domain and min/max pruning scans everything. A
    4096-bit per-file Bloom over the custkeys actually present (k = 3
    double-hash probes, 62-bit words) prunes to ~the files that truly
    contain the key.

    Per probed customer: total files, files surviving zone-map pruning
    (≈ all of them — the negative result that motivates the index),
    files surviving the Bloom (≥ true_files, one-sided), and the true
    file count. Scale shape: the Bloom table is ≤ files·67 words —
    kilobytes per thousand files — built in one map-side-combinable
    bit_or aggregate and broadcast to probes; this is exactly the
    pattern lakehouse bloom-filter indexes (Delta/Iceberg) persist per
    data file."""
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    epoch = F.lit("1970-01-01").cast("date")
    p = F.lit(2147483647).cast("long")
    pts = o.select(
        F.col("o_custkey").alias("ck"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch).cast("long").alias("dd"),
    )
    rng = pts.agg(F.min("dd").alias("dmin"), F.max("dd").alias("dmax"))
    from stock_data_pipeline_spark.operators.layout import norm16
    from stock_data_pipeline_spark.operators.sketches import kmv_hash

    filed = pts.crossJoin(F.broadcast(rng)).select(
        "ck",
        F.shiftright(norm16(F.col("dd"), F.col("dmin"), F.col("dmax")), 10)
        .cast("long")
        .alias("file_id"),
    )
    hashed = filed.distinct().withColumn("h", kmv_hash(F.col("ck")))
    h2 = F.pmod(F.col("h") * F.lit(2654435761).cast("long"), p)
    cells = (
        hashed.select(
            "file_id",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
            "h",
        )
        .select("file_id", F.pmod(F.col("h") + F.col("j") * h2, F.lit(4096)).alias("pos"))
        .distinct()
    )
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 62 AS INT))")
    blooms = (
        cells.select("file_id", (F.col("pos") / 62).cast("long").alias("word_idx"), mask.alias("m"))
        .groupBy("file_id", "word_idx")
        .agg(F.bit_or("m").alias("bits"))
    )
    zmaps = filed.groupBy("file_id").agg(
        F.min("ck").alias("ck_lo"), F.max("ck").alias("ck_hi")
    )
    probes = cust.filter(F.col("c_custkey") % 47 == 0).select(
        F.col("c_custkey").alias("probe_ck")
    ).withColumn("h", kmv_hash(F.col("probe_ck")))
    files = filed.select("file_id").distinct()
    probe_cells = (
        probes.crossJoin(F.broadcast(files))
        .select(
            "probe_ck",
            "file_id",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
            "h",
        )
        .select(
            "probe_ck",
            "file_id",
            F.pmod(F.col("h") + F.col("j") * h2, F.lit(4096)).alias("pos"),
        )
        .withColumn("word_idx", (F.col("pos") / 62).cast("long"))
        .withColumn("m", mask)
    )
    probe_hits = (
        probe_cells.join(F.broadcast(blooms), ["file_id", "word_idx"], "left")
        .select(
            "probe_ck",
            "file_id",
            F.when(
                F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(F.col("m")) != 0),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("bit_set"),
        )
        .groupBy("probe_ck", "file_id")
        .agg(F.min("bit_set").alias("bloom_hit"))
    )
    truth = (
        probes.select("probe_ck")
        .join(filed, filed["ck"] == F.col("probe_ck"), "left")
        .groupBy("probe_ck")
        .agg(F.countDistinct("file_id").cast("long").alias("true_files"))
    )
    zone_scan = (
        probes.select("probe_ck")
        .join(
            F.broadcast(zmaps),
            F.col("probe_ck").between(F.col("ck_lo"), F.col("ck_hi")),
        )
        .groupBy("probe_ck")
        .agg(F.count("*").cast("long").alias("files_zone_scanned"))
    )
    return (
        probe_hits.groupBy("probe_ck")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("bloom_hit").cast("long").alias("files_bloom_scanned"),
        )
        .join(truth, "probe_ck")
        .join(zone_scan, "probe_ck", "left")
        .select(
            "probe_ck",
            "n_files",
            F.coalesce(F.col("files_zone_scanned"), F.lit(0).cast("long")).alias(
                "files_zone_scanned"
            ),
            "files_bloom_scanned",
            "true_files",
        )
    )


@register(
    "q204_clustering_health",
    oracle="""
    WITH pts AS (
        SELECT o_custkey AS ck, o_orderkey AS ok,
               datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dd
        FROM orders
    ), rng AS (
        SELECT MIN(ck) AS cmin, MAX(ck) AS cmax, MIN(dd) AS dmin, MAX(dd) AS dmax,
               MIN(ok) AS omin, MAX(ok) AS omax
        FROM pts
    ), nrm AS (
        SELECT ck, dd,
               ((ck - cmin) * 65535) // greatest(cmax - cmin, 1) AS zx,
               ((dd - dmin) * 65535) // greatest(dmax - dmin, 1) AS zy,
               (((ok - omin) * 65535) // greatest(omax - omin, 1)) >> 10 AS ok_file
        FROM pts CROSS JOIN rng
    ), zed AS (
        SELECT ck, dd,
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(0, 15),
                       i -> (((zx >> i) & 1) << (2 * i)) + (((zy >> i) & 1) << (2 * i + 1)))),
                   (a, b) -> a + b)) >> 26 AS z_file,
               zy >> 10 AS d_file,
               ok_file
        FROM nrm
    ), zm AS (
        SELECT 'zorder' AS layout, z_file AS file_id,
               MIN(ck) AS ck_lo, MAX(ck) AS ck_hi, MIN(dd) AS dd_lo, MAX(dd) AS dd_hi
        FROM zed GROUP BY 2
        UNION ALL
        SELECT 'date_sorted', d_file, MIN(ck), MAX(ck), MIN(dd), MAX(dd)
        FROM zed GROUP BY 2
        UNION ALL
        SELECT 'insertion_order', ok_file, MIN(ck), MAX(ck), MIN(dd), MAX(dd)
        FROM zed GROUP BY 2
    ), ovl AS (
        SELECT a.layout, a.file_id, CAST(COUNT(*) AS BIGINT) AS n_overlapping
        FROM zm a JOIN zm b
          ON a.layout = b.layout
         AND a.ck_hi >= b.ck_lo AND a.ck_lo <= b.ck_hi
         AND a.dd_hi >= b.dd_lo AND a.dd_lo <= b.dd_hi
        GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_overlapping) AS BIGINT) AS total_overlaps,
           CAST(SUM(n_overlapping) AS DOUBLE) / COUNT(*) AS avg_read_amplification,
           CAST(MAX(n_overlapping) AS BIGINT) AS worst_file_overlaps
    FROM ovl
    GROUP BY 1
    """,
    survey_ref="extension: clustering-health / read-amplification audit — "
    "zone-map rectangle-overlap self-join measures how many files a "
    "point query must consider per layout; the metric an OPTIMIZE/"
    "re-cluster job watches to decide when to rewrite",
)
def q204_clustering_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout health metric: for each file, how many files' zone-map
    rectangles overlap it (including itself)? That count IS the read
    amplification of a point query landing in the file's range —
    when it degrades (new appends widening rectangles), an OPTIMIZE
    job should re-cluster. Compared across three layouts of the same
    data: Z-ordered and date-sorted (disjoint rectangles, amplification
    1.0) vs insertion-order (files by arrival/orderkey, random w.r.t.
    both dimensions — every file overlaps every file, amplification
    n_files), which is exactly what unmaintained appends look like.

    The overlap self-join runs on the ZONE MAPS (n_files rows), never
    the data — at 100 TB that is a few thousand rows joined against
    themselves, a broadcast, while the data is only scanned once to
    build the maps."""
    from stock_data_pipeline_spark.operators.layout import norm16, zorder_assignment

    o = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    pts = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("ok"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch).cast("long").alias("dd"),
    )
    rng = pts.agg(
        F.min("dd").alias("dmin"),
        F.max("dd").alias("dmax"),
        F.min("ok").alias("omin"),
        F.max("ok").alias("omax"),
    )
    z = zorder_assignment(pts, "ck", "dd", n_files=64).withColumnRenamed(
        "file_id", "z_file"
    )
    assigned = (
        z.crossJoin(F.broadcast(rng))
        .withColumn(
            "d_file",
            F.shiftright(norm16(F.col("dd"), F.col("dmin"), F.col("dmax")), 10).cast(
                "long"
            ),
        )
        .withColumn(
            "ok_file",
            F.shiftright(norm16(F.col("ok"), F.col("omin"), F.col("omax")), 10).cast(
                "long"
            ),
        )
    )
    zm = None
    for layout, fcol in (
        ("zorder", "z_file"),
        ("date_sorted", "d_file"),
        ("insertion_order", "ok_file"),
    ):
        part = assigned.groupBy(F.col(fcol).alias("file_id")).agg(
            F.min("ck").alias("ck_lo"),
            F.max("ck").alias("ck_hi"),
            F.min("dd").alias("dd_lo"),
            F.max("dd").alias("dd_hi"),
        ).withColumn("layout", F.lit(layout))
        zm = part if zm is None else zm.unionByName(part)
    a, b = zm.alias("a"), zm.alias("b")
    ovl = (
        a.join(
            F.broadcast(b),
            (F.col("a.layout") == F.col("b.layout"))
            & (F.col("a.ck_hi") >= F.col("b.ck_lo"))
            & (F.col("a.ck_lo") <= F.col("b.ck_hi"))
            & (F.col("a.dd_hi") >= F.col("b.dd_lo"))
            & (F.col("a.dd_lo") <= F.col("b.dd_hi")),
        )
        .groupBy(F.col("a.layout").alias("layout"), F.col("a.file_id"))
        .agg(F.count("*").cast("long").alias("n_overlapping"))
    )
    return ovl.groupBy("layout").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("n_overlapping").cast("long").alias("total_overlaps"),
        (F.sum("n_overlapping").cast("double") / F.count("*")).alias(
            "avg_read_amplification"
        ),
        F.max("n_overlapping").cast("long").alias("worst_file_overlaps"),
    )


@register(
    "q205_chi2_drift",
    oracle="""
    WITH dated AS (
        SELECT o_totalprice AS v,
               datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dd
        FROM orders
    ), rng AS (
        SELECT MIN(dd) AS dmin, MAX(dd) AS dmax FROM dated
    ), split AS (
        SELECT v, CASE WHEN dd * 2 <= dmin + dmax THEN 0 ELSE 1 END AS period
        FROM dated CROSS JOIN rng
    ), ranked AS (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn, COUNT(*) OVER () AS n
        FROM split WHERE period = 0
    ), bounds AS (
        SELECT MAX(CASE WHEN rn = (d * n + 9) // 10 THEN v END) AS cut, d
        FROM ranked CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS d)
        WHERE rn = (d * n + 9) // 10
        GROUP BY d
    ), binned AS (
        SELECT period,
               (SELECT COALESCE(CAST(SUM(CASE WHEN b.cut < s.v THEN 1 ELSE 0 END) AS BIGINT), 0)
                  FROM bounds b) AS bin
        FROM split s
    ), cnts AS (
        SELECT bin,
               CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
               CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        FROM binned GROUP BY 1
    ), tots AS (
        SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM cnts
    )
    SELECT bin, n_ref, n_cur,
           CAST(n_ref AS DOUBLE) / t_ref AS p_ref,
           CAST(n_cur AS DOUBLE) / t_cur AS p_cur,
           (CAST(n_cur AS DOUBLE) / t_cur - CAST(n_ref AS DOUBLE) / t_ref)
             * (CAST(n_cur AS DOUBLE) / t_cur - CAST(n_ref AS DOUBLE) / t_ref)
             / (CAST(n_ref AS DOUBLE) / t_ref) AS chi2_term
    FROM cnts CROSS JOIN tots
    """,
    survey_ref="extension: distribution-drift monitor — reference-period "
    "decile boundaries (exact discrete quantiles), current-period "
    "re-binning, per-bin chi-square divergence terms; the PSI-style "
    "drift check a production pipeline runs between batches, with only "
    "rational arithmetic so it value-matches cross-engine",
)
def q205_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Has the order-value distribution drifted between the first and
    second half of the date range? Fit exact decile boundaries on the
    REFERENCE period (q87's discrete-quantile trick), re-bin both
    periods against those fixed cuts, and emit per-bin counts, shares,
    and chi-square divergence terms ((p_cur − p_ref)²/p_ref — rational
    ops only, unlike PSI's logarithm, so every value reproduces
    bit-identically cross-engine).

    Scale: binning against 9 broadcast cut points is a narrow map; the
    only data-sized exchanges are the reference-period rank (the
    two-phase bucketed row_number of operators/ranks.py on a $10k
    price grain — parallel, no single-task sort) and the final
    (bin, period) counts."""
    o = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    dated = o.select(
        F.col("o_totalprice").alias("v"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch).cast("long").alias("dd"),
    )
    rng = dated.agg(F.min("dd").alias("dmin"), F.max("dd").alias("dmax"))
    split = dated.crossJoin(F.broadcast(rng)).select(
        "v",
        F.when(F.col("dd") * 2 <= F.col("dmin") + F.col("dmax"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("period"),
    )
    ref = split.filter(F.col("period") == 0)
    nref = ref.agg(F.count(F.lit(1)).alias("n"))
    ranked = ranks.bucketed_row_number(
        ref, F.floor(F.col("v") / 10000).cast("long"), [F.col("v")], out="rn"
    ).crossJoin(F.broadcast(nref))
    num = F.col("d") * F.col("n") + 9
    target = ((num - F.pmod(num, F.lit(10))) / 10).cast("long")
    bounds = (
        ranked.crossJoin(
            F.broadcast(
                spark.range(1, 10).select(F.col("id").cast("long").alias("d"))
            )
        )
        .filter(F.col("rn") == target)
        .groupBy("d")
        .agg(F.max("v").alias("cut"))
    )
    cuts = bounds.agg(
        F.sort_array(F.collect_list("cut")).alias("cuts")
    )
    binned = split.crossJoin(F.broadcast(cuts)).select(
        "period",
        F.size(F.filter(F.col("cuts"), lambda c: c < F.col("v"))).cast("long").alias("bin"),
    )
    cnts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).cast("long").alias("n_ref"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).cast("long").alias("n_cur"),
    )
    tots = cnts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_ref = F.col("n_ref").cast("double") / F.col("t_ref")
    p_cur = F.col("n_cur").cast("double") / F.col("t_cur")
    return (
        cnts.crossJoin(F.broadcast(tots))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            p_ref.alias("p_ref"),
            p_cur.alias("p_cur"),
            ((p_cur - p_ref) * (p_cur - p_ref) / p_ref).alias("chi2_term"),
        )
    )


#: Benford first-digit probabilities log10(1 + 1/d), precomputed once in
#: Python so BOTH engines consume the identical double literals — no
#: cross-engine log() reproducibility question at all.
_BENFORD_P = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


@register(
    "q206_benford_audit",
    oracle=f"""
    WITH digits AS (
        SELECT substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS dch
        FROM orders
        WHERE o_totalprice > 0
    ), cnts AS (
        SELECT CAST(dch AS BIGINT) AS digit, CAST(COUNT(*) AS BIGINT) AS n
        FROM digits GROUP BY 1
    ), tot AS (
        SELECT SUM(n) AS t FROM cnts
    ), expected AS (
        SELECT digit, CAST(p_expected AS DOUBLE) AS p_expected
        FROM (VALUES {", ".join(f"({d}, {_BENFORD_P[d]!r})" for d in range(1, 10))})
            t(digit, p_expected)
    )
    SELECT e.digit,
           COALESCE(c.n, 0) AS n,
           CAST(COALESCE(c.n, 0) AS DOUBLE) / t AS p_observed,
           e.p_expected,
           (CAST(COALESCE(c.n, 0) AS DOUBLE) / t - e.p_expected)
             * (CAST(COALESCE(c.n, 0) AS DOUBLE) / t - e.p_expected)
             / e.p_expected AS chi2_term
    FROM expected e LEFT JOIN cnts c ON c.digit = e.digit CROSS JOIN tot
    """,
    survey_ref="extension: Benford first-digit audit — fraud/anomaly "
    "screen over order values: observed leading-digit shares vs the "
    "Benford expectation (log10 literals precomputed host-side so both "
    "engines consume identical doubles), per-digit chi-square terms",
)
def q206_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: the leading significant
    digit of naturally occurring monetary amounts should follow
    P(d) = log10(1 + 1/d); fabricated or systematically generated
    values deviate. Emits per-digit observed share, expected share,
    and the chi-square term — the screening statistic auditors and
    data-quality monitors threshold.

    One narrow map (leading digit via exact integer-cents
    stringification — no float formatting differences), one 9-bucket
    aggregate, a broadcast of the 9 expected rows. The log10
    expectations are PRECOMPUTED host-side and injected as identical
    literals into both engines, sidestepping libm reproducibility
    entirely."""
    o = load_table(spark, sf_dir, "orders")
    cents = (_dec("o_totalprice") * 100).cast("long")
    digits = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(cents.cast("string"), 1, 1).cast("long").alias("digit")
    )
    cnts = digits.groupBy("digit").agg(F.count("*").cast("long").alias("n"))
    tot = cnts.agg(F.sum("n").alias("t"))
    expected = spark.createDataFrame(
        [(d, _BENFORD_P[d]) for d in range(1, 10)], "digit long, p_expected double"
    )
    p_obs = F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("t")
    return (
        expected.join(cnts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
            p_obs.alias("p_observed"),
            "p_expected",
            (
                (p_obs - F.col("p_expected"))
                * (p_obs - F.col("p_expected"))
                / F.col("p_expected")
            ).alias("chi2_term"),
        )
    )


@register(
    "q207_join_size_estimate",
    oracle="""
    WITH ka AS (
        SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt FROM orders GROUP BY 1
    ), kb AS (
        SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1
    ), sa AS (
        SELECT k, cnt FROM ka
        WHERE (((k * 48271 + 11213) % 2147483647) * 69621 + 28411) % 2147483647 < 2147483647 // 64
    ), sb AS (
        SELECT k, cnt FROM kb
        WHERE (((k * 48271 + 11213) % 2147483647) * 69621 + 28411) % 2147483647 < 2147483647 // 64
    ), est AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS sampled_keys,
               CAST(SUM(sa.cnt * sb.cnt) AS BIGINT) AS sampled_pairs
        FROM sa JOIN sb USING (k)
    ), truth AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS true_join_rows
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT sampled_keys, sampled_pairs,
           sampled_pairs * 64 AS est_join_rows,
           true_join_rows,
           ABS(CAST(sampled_pairs * 64 AS DOUBLE) - true_join_rows) / true_join_rows
               AS rel_error
    FROM est CROSS JOIN truth
    """,
    survey_ref="extension: sketch-based join-cardinality estimation — "
    "coordinated bottom-hash key sampling (same portable hash both "
    "sides, rate 1/64) scales the sampled per-key count products into a "
    "|A join B| estimate; the statistic a cost-based optimizer needs "
    "before committing to a join strategy",
)
def q207_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate |orders ⋈ lineitem| without running the join at full
    size: both sides sample the SAME 1/64 hash slice of the key domain
    (coordinated sampling — the same keys survive on both sides, so
    per-key count products are observed, not guessed), and the sampled
    pair mass scales by 64. Emits the estimate next to the true join
    cardinality and realized relative error.

    This is how an optimizer prices a join before choosing
    broadcast/shuffle/sort strategies at 100 TB: the sample join
    touches ~1.5% of the distinct keys, the scale-up is unbiased
    (Horvitz-Thompson under hash sampling), and the portable hash
    makes the whole estimate value-reproducible. The true-count column
    exists only for the audit; a production caller computes just the
    sample side."""
    from stock_data_pipeline_spark.operators.sketches import MERSENNE_31, kmv_hash

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    thresh = MERSENNE_31 // 64
    ka = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    kb = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    sa = ka.filter(kmv_hash(F.col("k")) < thresh)
    sb = kb.filter(kmv_hash(F.col("k")) < thresh)
    est = sa.join(sb, "k").agg(
        F.count("*").cast("long").alias("sampled_keys"),
        F.sum(sa["cnt"] * sb["cnt"]).cast("long").alias("sampled_pairs"),
    )
    truth = o.join(li, F.col("o_orderkey") == F.col("l_orderkey")).agg(
        F.count("*").cast("long").alias("true_join_rows")
    )
    out = est.crossJoin(F.broadcast(truth))
    est_rows = F.col("sampled_pairs") * 64
    return out.select(
        "sampled_keys",
        "sampled_pairs",
        est_rows.alias("est_join_rows"),
        "true_join_rows",
        (
            F.abs(est_rows.cast("double") - F.col("true_join_rows"))
            / F.col("true_join_rows")
        ).alias("rel_error"),
    )


@register(
    "q208_histogram_selectivity",
    oracle="""
    WITH rng AS (
        SELECT MIN(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS vmin,
               MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS vmax
        FROM orders
    ), pts AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, vmin, vmax
        FROM orders CROSS JOIN rng
    ), hist AS (
        SELECT least(((v - vmin) * 64) // greatest(vmax - vmin + 1, 1), 63) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(vmin) AS vmin, MIN(vmax) AS vmax
        FROM pts GROUP BY 1
    ), pred AS (
        SELECT vmin + ((vmax - vmin) * 30) // 100 AS plo,
               vmin + ((vmax - vmin) * 70) // 100 AS phi,
               vmin, vmax
        FROM rng
    ), est AS (
        SELECT CAST(SUM(CASE
            WHEN (h.vmin + ((h.bucket + 1) * (h.vmax - h.vmin + 1)) // 64 - 1) < p.plo
              OR (h.vmin + (h.bucket * (h.vmax - h.vmin + 1)) // 64) > p.phi THEN 0
            ELSE h.n END) AS BIGINT) AS est_rows
        FROM hist h CROSS JOIN pred p
    ), truth AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS true_rows
        FROM pts CROSS JOIN pred p
        WHERE v BETWEEN p.plo AND p.phi
    )
    SELECT est_rows, true_rows,
           CAST(est_rows AS DOUBLE) / true_rows AS overcount_factor
    FROM est CROSS JOIN truth
    """,
    survey_ref="extension: histogram selectivity estimation — 64-bucket "
    "equi-width histogram prices a range predicate by whole-bucket "
    "inclusion (the upper-bound estimate an optimizer uses), audited "
    "against the true selectivity",
)
def q208_histogram_selectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price a range predicate from a 64-bucket equi-width histogram of
    order values: every bucket whose range intersects [p30, p70] of the
    domain counts fully (the safe upper-bound rule optimizers use when
    they refuse to interpolate inside a bucket). Emits the estimate,
    the true row count, and the overcount factor — the accuracy the
    optimizer is trading for a 64-row statistic.

    Exact integer arithmetic throughout (cents, floor-division bucket
    boundaries), so even the audit columns value-match cross-engine;
    one scan for the histogram, everything after runs on 64 rows."""
    o = load_table(spark, sf_dir, "orders")
    cents = (_dec("o_totalprice") * 100).cast("long")
    rng = o.agg(
        F.min(cents).alias("vmin"), F.max(cents).alias("vmax")
    )
    pts = o.select(cents.alias("v")).crossJoin(F.broadcast(rng))

    def idiv(a: F.Column, b: F.Column) -> F.Column:
        return ((a - F.pmod(a, b)) / b).cast("long")

    span = F.greatest(F.col("vmax") - F.col("vmin") + 1, F.lit(1).cast("long"))
    bucket = F.least(idiv((F.col("v") - F.col("vmin")) * 64, span), F.lit(63).cast("long"))
    hist = (
        pts.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("vmin").alias("vmin"),
            F.min("vmax").alias("vmax"),
        )
    )
    pred = rng.select(
        (F.col("vmin") + idiv((F.col("vmax") - F.col("vmin")) * 30, F.lit(100).cast("long"))).alias("plo"),
        (F.col("vmin") + idiv((F.col("vmax") - F.col("vmin")) * 70, F.lit(100).cast("long"))).alias("phi"),
    )
    hspan = F.col("vmax") - F.col("vmin") + 1
    b_lo = F.col("vmin") + idiv(F.col("bucket") * hspan, F.lit(64).cast("long"))
    b_hi = F.col("vmin") + idiv((F.col("bucket") + 1) * hspan, F.lit(64).cast("long")) - 1
    est = (
        hist.crossJoin(F.broadcast(pred))
        .select(
            F.when((b_hi < F.col("plo")) | (b_lo > F.col("phi")), F.lit(0))
            .otherwise(F.col("n"))
            .alias("contrib")
        )
        .agg(F.sum("contrib").cast("long").alias("est_rows"))
    )
    truth = (
        pts.crossJoin(F.broadcast(pred))
        .filter(F.col("v").between(F.col("plo"), F.col("phi")))
        .agg(F.count("*").cast("long").alias("true_rows"))
    )
    return (
        est.crossJoin(F.broadcast(truth))
        .select(
            "est_rows",
            "true_rows",
            (F.col("est_rows").cast("double") / F.col("true_rows")).alias(
                "overcount_factor"
            ),
        )
    )


@register(
    "q209_interpolated_asof",
    oracle="""
    WITH purch AS (
        SELECT user_id, event_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase'
    ), vw AS (
        SELECT user_id, event_id, epoch_us(ts) AS t, value FROM events WHERE event_type = 'view'
    )
    SELECT l.user_id, l.event_id, l.t AS t_us,
           p.t0, p.v0, n.t1, n.v1,
           CASE WHEN p.t0 IS NULL THEN n.v1
                WHEN n.t1 IS NULL THEN p.v0
                WHEN n.t1 > p.t0
                    THEN p.v0 + (n.v1 - p.v0)
                         * (CAST(l.t - p.t0 AS DOUBLE) / CAST(n.t1 - p.t0 AS DOUBLE))
                ELSE p.v0
           END AS v_interp
    FROM purch l
    LEFT JOIN LATERAL (
        SELECT r.t AS t0, r.value AS v0 FROM vw r
        WHERE r.user_id = l.user_id AND r.t <= l.t
        ORDER BY r.t DESC, r.event_id DESC LIMIT 1
    ) p ON true
    LEFT JOIN LATERAL (
        SELECT r.t AS t1, r.value AS v1 FROM vw r
        WHERE r.user_id = l.user_id AND r.t >= l.t
        ORDER BY r.t ASC, r.event_id ASC LIMIT 1
    ) n ON true
    """,
    survey_ref="J family extension: time-interpolated as-of join — "
    "bracketing carry in BOTH directions on one (key, time) exchange "
    "(no range join, no per-row subquery), linear interpolation with "
    "exact-microsecond fractions and deterministic (time, id) bracket "
    "ties; the sensor-fusion/market-data alignment primitive",
)
def q209_interpolated_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the linearly interpolated 'view value' at
    purchase time: the previous and next view events bracket the
    purchase and the value interpolates on the exact-microsecond
    fraction, clamping to the surviving side at series edges (first/
    last view) and to the backward value when the bracket collapses.

    The oracle prices each left row with two correlated LATERAL argmin
    subqueries — quadratic shape, fine for an oracle; the Spark plan is
    the scalable one: union both streams, ONE exchange on (user_id),
    and two ordered carry passes (forward for prev, backward for next).
    """
    from stock_data_pipeline_spark.operators.asof import asof_join_interpolated

    ev = load_events(spark, sf_dir)
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", t_us.alias("t_us")
    )
    vw = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", t_us.alias("t_us"), "value"
    )
    return asof_join_interpolated(
        purch, vw, ["user_id"], "t_us", "t_us", "value", "event_id"
    )


@register(
    "q210_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev_cents
        FROM orders GROUP BY 1
    ), rng AS (
        SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily
    ), marked AS (
        SELECT day, rev_cents,
               CASE WHEN datediff('day', d0, day) * 2 <= datediff('day', d0, d1)
                    THEN 0 ELSE 1 END AS period
        FROM daily CROSS JOIN rng
    ), ref AS (
        SELECT SUM(rev_cents) AS s0, CAST(COUNT(*) AS BIGINT) AS n0
        FROM marked WHERE period = 0
    ), walked AS (
        SELECT day, rev_cents, s0, n0,
               ROW_NUMBER() OVER (ORDER BY day) AS t,
               SUM(rev_cents) OVER (ORDER BY day) AS prefix_cents,
               n0 * rev_cents - s0 AS dev_num
        FROM marked CROSS JOIN ref
    ), numbered AS (
        SELECT day, rev_cents, n0,
               n0 * prefix_cents - t * s0 AS cusum_num,
               dev_num
        FROM walked
    ), scale AS (
        SELECT MAX(ABS(dev_num)) AS dev_max_num FROM numbered
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(CAST(cusum_num AS VARCHAR) AS DOUBLE) / n0 AS cusum,
           CAST(CASE WHEN ABS(cusum_num) > 5 * dev_max_num THEN 1 ELSE 0 END AS BIGINT)
               AS flagged
    FROM numbered CROSS JOIN scale
    """,
    survey_ref="extension: CUSUM change-point detection — cumulative "
    "deviation from the reference-period mean kept EXACT as the integer "
    "numerator n0*prefix - t*S0 (the flag compares integers, immune to "
    "both engines\' running-sum association orders); one window prefix "
    "sum over the day grain",
)
def q210_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM control chart over daily revenue: fix the mean mu = S0/n0 on
    the first half of the date range and walk the cumulative deviation
    Sum(x_t - mu). The walk is kept as the EXACT integer numerator
    n0*prefix_t - t*S0 (decimal accumulators), so the threshold flag
    |CUSUM| > 5*max|x - mu| compares integers — no running double sum
    to reconcile across engines (DuckDB computes window sums with a
    segment tree whose association order differs from a left fold; a
    double CUSUM diverges in the last ulps, an integer one cannot).
    The reported cusum column divides the exact numerator by n0 once.

    Scale: the day grain collapses any raw volume to a few thousand
    rows before the single cumulative window runs."""
    o = load_table(spark, sf_dir, "orders")
    cents = (_dec("o_totalprice") * 100).cast("long")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents).cast("long").alias("rev_cents")
    )
    rng = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    marked = daily.crossJoin(F.broadcast(rng)).select(
        "day",
        "rev_cents",
        F.when(
            F.datediff(F.col("day"), F.col("d0")) * 2
            <= F.datediff(F.col("d1"), F.col("d0")),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("period"),
    )
    ref = marked.filter(F.col("period") == 0).agg(
        F.sum("rev_cents").cast("decimal(38,0)").alias("s0"),
        F.count("*").cast("long").alias("n0"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.orderBy("day")
    walked = (
        marked.crossJoin(F.broadcast(ref))
        .withColumn("t", F.row_number().over(wt).cast("long"))
        .withColumn("prefix_cents", F.sum("rev_cents").over(w).cast("decimal(38,0)"))
    )
    cusum_num = (
        F.col("n0") * F.col("prefix_cents") - F.col("t") * F.col("s0")
    ).cast("decimal(38,0)")
    dev_num = (
        F.col("n0") * F.col("rev_cents").cast("decimal(38,0)") - F.col("s0")
    ).cast("decimal(38,0)")
    numbered = walked.select(
        "day", "rev_cents", "n0",
        cusum_num.alias("cusum_num"),
        dev_num.alias("dev_num"),
    )
    scale = numbered.agg(F.max(F.abs(F.col("dev_num"))).alias("dev_max_num"))
    return (
        numbered.crossJoin(F.broadcast(scale))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "rev_cents",
            (F.col("cusum_num").cast("double") / F.col("n0")).alias("cusum"),
            (F.abs(F.col("cusum_num")) > 5 * F.col("dev_max_num"))
            .cast("long")
            .alias("flagged"),
        )
    )


@register(
    "q211_bitmap_index",
    oracle="""
    WITH ordinals AS (
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN o_totalprice >= 150000 THEN 'big' ELSE 'small' END AS size_class,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS pos
        FROM orders
    ), bm_a AS (
        SELECT o_orderpriority AS val, pos // 62 AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 62 AS INTEGER)) AS bits
        FROM ordinals GROUP BY 1, 2
    ), bm_b AS (
        SELECT size_class AS val, pos // 62 AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 62 AS INTEGER)) AS bits
        FROM ordinals GROUP BY 1, 2
    ), pairs AS (
        SELECT a.val AS priority, b.val AS size_class,
               CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS bitmap_count
        FROM bm_a a JOIN bm_b b USING (word_idx)
        GROUP BY 1, 2
    ), truth AS (
        SELECT o_orderpriority AS priority,
               CASE WHEN o_totalprice >= 150000 THEN 'big' ELSE 'small' END AS size_class,
               CAST(COUNT(*) AS BIGINT) AS true_count
        FROM orders GROUP BY 1, 2
    )
    SELECT p.priority, p.size_class, p.bitmap_count, t.true_count
    FROM pairs p JOIN truth t
      ON t.priority = p.priority AND t.size_class = p.size_class
    """,
    survey_ref="extension: bitmap-index intersection — low-cardinality "
    "dimensions as row-ordinal bitmaps (62-bit words, one bit_or "
    "aggregate each); conjunctive counts via word-wise AND + popcount, "
    "audited exactly equal to the direct GROUP BY — the OLAP "
    "bitmap-index acceleration, declarative",
)
def q211_bitmap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap indexes for two low-cardinality dimensions (order
    priority, big/small order): assign every row a stable ordinal,
    fold each dimension value's rows into 62-bit bitmap words, and
    answer the full conjunctive contingency table by word-aligned
    AND + popcount — then audit it against the direct GROUP BY (every
    cell must match EXACTLY, which the value oracle enforces).

    Why it matters at scale: once built, ANY boolean combination of
    indexed predicates (AND/OR/NOT) is answered by word-wise bit ops
    over |rows|/62 words per value — no rescan of the fact table. The
    bitmap build is one map-side-combinable bit_or aggregate per
    dimension; the intersection join is on word_idx (both sides
    bitmap-sized, not data-sized). The stable row ordinal comes from
    the two-phase bucketed row_number (operators/ranks.py, 64k-key
    grain) — deterministic like a rank, parallel like
    monotonically_increasing_id."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.when(F.col("o_totalprice") >= 150000, F.lit("big"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
    )
    ordinals = (
        ranks.bucketed_row_number(
            base,
            F.col("o_orderkey") - F.pmod(F.col("o_orderkey"), F.lit(65536)),
            [F.col("o_orderkey")],
            out="__rn",
        )
        .withColumn("pos", (F.col("__rn") - 1).cast("long"))
        .drop("__rn")
    )
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 62 AS INT))")

    def bitmap(col: str):
        return (
            ordinals.select(
                F.col(col).alias("val"),
                (F.col("pos") / 62).cast("long").alias("word_idx"),
                mask.alias("m"),
            )
            .groupBy("val", "word_idx")
            .agg(F.bit_or("m").alias("bits"))
        )

    bm_a, bm_b = bitmap("o_orderpriority"), bitmap("size_class")
    pairs = (
        bm_a.alias("a")
        .join(bm_b.alias("b"), "word_idx")
        .groupBy(
            F.col("a.val").alias("priority"), F.col("b.val").alias("size_class")
        )
        .agg(
            F.sum(F.bit_count(F.col("a.bits").bitwiseAND(F.col("b.bits"))))
            .cast("long")
            .alias("bitmap_count")
        )
    )
    truth = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.when(F.col("o_totalprice") >= 150000, F.lit("big"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
    ).agg(F.count("*").cast("long").alias("true_count"))
    return pairs.join(truth, ["priority", "size_class"]).select(
        "priority", "size_class", "bitmap_count", "true_count"
    )


@register(
    "q212_forecast_revenue",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS DOUBLE)
               AS revenue_increase
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1994-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1995-01-01'
      AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    survey_ref="TPC-H Q6 (forecast revenue change): pure filter+sum — the "
    "canonical predicate-pushdown showcase; every predicate reaches the "
    "parquet scan, the sum is exact decimal, zero joins, zero shuffles "
    "past the partial aggregate",
)
def q212_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue increase had discounts in [0.05, 0.07] been
    eliminated on small-quantity 1994 lineitems. The simplest query in
    the suite and the purest scan-efficiency measure: all three
    predicates push into the parquet reader, the product accumulates in
    exact DECIMAL (order-free partial aggregation), and the plan is
    scan → partial agg → single-row final — no exchange of data rows at
    all."""
    li = load_table(spark, sf_dir, "lineitem")
    d = _dec("l_discount")
    out = (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1994-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1995-01-01").cast("date"))
            & d.between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * d)
            .cast("decimal(38,4)")
            .cast("double")
            .alias("revenue_increase")
        )
    )
    return out


@register(
    "q213_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS BIGINT) AS o_year,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                       - CAST(0.8 AS DECIMAL(3,2))
                         * CAST(p.p_retailprice AS DECIMAL(18,2))
                         * CAST(l.l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS DOUBLE)
               AS profit
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_type IN ('PROMO', 'ECONOMY')
    GROUP BY 1, 2
    """,
    survey_ref="TPC-H Q9 shape (product-type profit by nation and year over the "
    "PROMO/ECONOMY type slice; "
    "the fixture has no partsupp, so supply cost is the deterministic "
    "0.8 x retailprice proxy): the 5-way star join with two broadcast "
    "dims and exact-decimal profit accumulation",
)
def q213_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted): profit per supplier nation per order year
    over PROMO/ECONOMY-type parts: Σ extprice·(1−disc) − 0.8·retailprice·qty,
    exact decimals end-to-end (one double cast at the very end).

    Plan shape to check: part (filtered by type — the filter prunes
    BEFORE the join), supplier and nation broadcast; lineitem joins
    orders on the orderkey both sides can be bucketed by; the profit
    expression folds into one decimal sum with map-side partials. The
    fixture carries no partsupp table, so the supply-cost term uses a
    fixed retail-price fraction — the join topology and aggregate are
    the Q9 ones."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type").isin("PROMO", "ECONOMY")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    profit_term = _dec("l_extendedprice") * (1 - _dec("l_discount")) - F.lit(
        "0.8"
    ).cast("decimal(3,2)") * _dec("p_retailprice") * _dec("l_quantity")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("date")).cast("long").alias("o_year"),
        )
        .agg(
            F.sum(profit_term).cast("decimal(38,6)").cast("double").alias("profit")
        )
    )


@register(
    "q214_suppliers_kept_waiting",
    oracle="""
    WITH flagged AS (
        SELECT l.l_orderkey, l.l_suppkey,
               CASE WHEN CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 90
                    THEN 1 ELSE 0 END AS late
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
    ), per_supp AS (
        SELECT l_orderkey, l_suppkey, MAX(late) AS late
        FROM flagged GROUP BY 1, 2
    ), per_order AS (
        SELECT l_orderkey,
               CAST(COUNT(*) AS BIGINT) AS n_supps,
               CAST(SUM(late) AS BIGINT) AS n_late
        FROM per_supp GROUP BY 1
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM per_supp ps
    JOIN per_order po ON po.l_orderkey = ps.l_orderkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE ps.late = 1 AND po.n_supps > 1 AND po.n_late = 1
    GROUP BY 1
    """,
    survey_ref="TPC-H Q21 shape (suppliers who kept orders waiting; the "
    "fixture has no commit/receipt dates, so 'late' = shipped more than "
    "90 days after the order): the EXISTS / NOT-EXISTS double "
    "correlation rewritten as one per-order aggregate — no correlated "
    "subqueries, no re-scan of lineitem per supplier",
)
def q214_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted): for finalized orders, count per supplier
    the multi-supplier orders where that supplier was the ONLY late
    one. The textbook form is a correlated EXISTS (another supplier
    on the order) plus NOT EXISTS (another LATE supplier) — quadratic
    if executed naively. This plan decorrelates both into ONE
    per-order aggregate (supplier count, late count) joined back: the
    EXISTS becomes n_supps > 1, the NOT-EXISTS becomes n_late = 1
    given this supplier is late. lineitem is touched once."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    flagged = li.join(o, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 90)
        )
        .cast("int")
        .alias("late"),
    )
    per_supp = flagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count("*").cast("long").alias("n_supps"),
        F.sum("late").cast("long").alias("n_late"),
    )
    return (
        per_supp.filter(F.col("late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supps") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
    )


@register(
    "q215_bot_detection",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS g
        FROM events
    ), stats AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               SUM(CAST(g AS HUGEINT)) AS sg,
               SUM(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS sg2
        FROM gaps WHERE g IS NOT NULL
        GROUP BY 1
    )
    SELECT user_id,
           n_gaps + 1 AS n_events,
           CAST(sg AS BIGINT) AS total_span_us,
           CAST(CAST(n_gaps * sg2 AS VARCHAR) AS DOUBLE)
               / CAST(CAST(sg * sg AS VARCHAR) AS DOUBLE) - 1.0 AS gap_cv2,
           CAST(CASE WHEN n_gaps + 1 >= 20 AND 2 * n_gaps * sg2 < 3 * sg * sg
                THEN 1 ELSE 0 END AS BIGINT) AS is_bot
    FROM stats
    WHERE n_gaps >= 5
    """,
    survey_ref="extension: bot/automation detection for corpus curation — "
    "per-user inter-event gap regularity via exact integer moments; the "
    "bot flag compares integer cross-products (2*n*Sum(g^2) < 3*(Sum g)^2 "
    "iff CV^2 < 0.5), so the classification is engine-exact",
)
def q215_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag automated/bot-like users by inter-event timing regularity:
    humans are bursty (high coefficient of variation of gaps), scripts
    are metronomic (low). Per user: gap count, total span, the squared
    CV of microsecond gaps from exact integer moments, and a bot flag
    for active users (≥20 events) whose CV² < 0.5 — evaluated as the
    integer cross-product 2·n·Σg² < 3·(Σg)², so the DECISION never
    touches floating point (the reported CV² divides the same exact
    operands once).

    This is the traffic-cleaning step in front of behavioral corpora:
    one lag window on the (user, time) exchange, one moment aggregate
    — no quadratic self-joins, decimal accumulators since µs-gap
    squares overflow int64."""
    ev = load_events(spark, sf_dir)
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    gaps = ev.select(
        "user_id", (t_us - F.lag(t_us).over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    gd = F.col("g").cast("decimal(38,0)")
    stats = gaps.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum(gd).cast("decimal(38,0)").alias("sg"),
        F.sum(gd * gd).cast("decimal(38,0)").alias("sg2"),
    ).filter(F.col("n_gaps") >= 5)
    num = (F.col("n_gaps").cast("decimal(38,0)") * F.col("sg2")).cast("decimal(38,0)")
    den = (F.col("sg") * F.col("sg")).cast("decimal(38,0)")
    is_bot = (
        (F.col("n_gaps") + 1 >= 20) & ((2 * num).cast("decimal(38,0)") < (3 * den).cast("decimal(38,0)"))
    )
    return stats.select(
        "user_id",
        (F.col("n_gaps") + 1).cast("long").alias("n_events"),
        F.col("sg").cast("long").alias("total_span_us"),
        (num.cast("double") / den.cast("double") - 1.0).alias("gap_cv2"),
        is_bot.cast("long").alias("is_bot"),
    )


@register(
    "q216_incremental_dedup",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
                                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
            FROM toks
        )
    ), sz AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
    ), inter AS (
        SELECT n.doc_id AS new_id, o.doc_id AS old_id, COUNT(*) AS inter
        FROM (SELECT * FROM sh WHERE doc_id % 10 = 0) n
        JOIN (SELECT * FROM sh WHERE doc_id % 10 <> 0) o USING (sh)
        GROUP BY 1, 2
    ), rejected AS (
        SELECT DISTINCT new_id
        FROM inter
        JOIN sz sn ON sn.doc_id = new_id
        JOIN sz so ON so.doc_id = old_id
        WHERE CAST(inter AS DOUBLE) / (sn.sz + so.sz - inter) >= 0.8
    )
    SELECT d.doc_id, d.lang,
           CAST(CASE WHEN r.new_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS admitted
    FROM documents d
    LEFT JOIN rejected r ON r.new_id = d.doc_id
    WHERE d.doc_id % 10 = 0
    """,
    survey_ref="extension: incremental cross-snapshot dedup — a new crawl "
    "batch dedups against the EXISTING corpus only (new-postings x "
    "old-postings equi-join, never old x old), the production mode where "
    "yesterday's corpus is already clean and only the delta pays",
)
def q216_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admit or reject each document of a new batch (doc_id % 10 == 0
    standing in for today's crawl) against the existing corpus: reject
    when word-3-gram Jaccard ≥ 0.8 with ANY existing doc.

    The asymmetry is the scale point: candidate generation joins NEW
    postings against OLD postings only — |delta| × matching, never the
    full corpus against itself (old-old pairs were settled in previous
    runs). At 100 TB with a 0.1% daily delta that is a ~10⁶× smaller
    join than re-running q49 from scratch; the same max_df skew cap and
    AllPairs prefix filter apply on the new side. Emits every new doc
    with its admitted/rejected verdict."""
    from stock_data_pipeline_spark.llm.dedup import _spread

    doc = load_table(spark, sf_dir, "documents")
    tk = (
        _spread(doc, "doc_id")
        .select("doc_id", text.tokens(F.col("text")).alias("tk"))
    )
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("tk") - 2, F.lit(0))),
        lambda i: F.concat_ws(" ", F.element_at("tk", i), F.element_at("tk", i + 1), F.element_at("tk", i + 2)),
    )
    sh = (
        tk.filter(F.size("tk") >= 3)
        .select("doc_id", F.explode(shingles).alias("sh"))
        .distinct()
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    new_sh = sh.filter(F.col("doc_id") % 10 == 0).withColumnRenamed("doc_id", "new_id")
    old_sh = sh.filter(F.col("doc_id") % 10 != 0).withColumnRenamed("doc_id", "old_id")
    inter = (
        new_sh.join(old_sh, "sh")
        .groupBy("new_id", "old_id")
        .agg(F.count("*").alias("inter"))
    )
    sn = sz.withColumnRenamed("doc_id", "new_id").withColumnRenamed("sz", "sz_n")
    so = sz.withColumnRenamed("doc_id", "old_id").withColumnRenamed("sz", "sz_o")
    rejected = (
        inter.join(sn, "new_id")
        .join(so, "old_id")
        .filter(
            F.col("inter").cast("double")
            / (F.col("sz_n") + F.col("sz_o") - F.col("inter"))
            >= 0.8
        )
        .select("new_id")
        .distinct()
    )
    new_docs = doc.filter(F.col("doc_id") % 10 == 0)
    return (
        new_docs.join(rejected, new_docs["doc_id"] == rejected["new_id"], "left")
        .select(
            "doc_id",
            "lang",
            F.when(F.col("new_id").isNull(), 1).otherwise(0).cast("long").alias("admitted"),
        )
    )


@register(
    "q217_decayed_revenue",
    oracle="""
    WITH rng AS (
        SELECT MAX(CAST(o_orderdate AS DATE)) AS dmax FROM orders
    ), aged AS (
        SELECT o_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               least(datediff('day', CAST(o_orderdate AS DATE), dmax) // 30, 36) AS k
        FROM orders CROSS JOIN rng
    ), scaled AS (
        SELECT o_custkey,
               SUM(CAST(cents AS HUGEINT) * (CAST(1 AS HUGEINT) << CAST(36 - k AS INTEGER)))
                   AS num,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(cents) AS raw_cents
        FROM aged GROUP BY 1
    )
    SELECT o_custkey, n_orders,
           CAST(raw_cents AS BIGINT) AS raw_cents,
           CAST(CAST(num AS VARCHAR) AS DOUBLE) / 68719476736.0 / 100.0
               AS decayed_revenue
    FROM scaled
    """,
    survey_ref="extension: recency-decayed aggregation — half-life decay "
    "with EXACT dyadic weights (w = 2^-(age//30), accumulated as "
    "integer cents << (36-k), one divide at the end): the feature-store "
    "recency score without any pow()/exp() reproducibility question",
)
def q217_decayed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted customer revenue: each order contributes its
    value halved for every 30 days of age (capped at 36 half-lives) —
    the standard feature-store recency score. The decay weights are
    dyadic (2^-k), so the whole aggregate accumulates EXACTLY as
    integer cents shifted by (36−k) bits in 128-bit decimals, with ONE
    double division by 2^36 at the end — no pow()/exp() call whose
    libm rounding could differ between engines, and the sum is
    order-free (map-side combinable at any parallelism).

    One broadcast max-date row, one narrow projection, one grouped
    sum — the same plan as a plain revenue rollup."""
    o = load_table(spark, sf_dir, "orders")
    rng = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("dmax"))
    age_days = F.datediff(F.col("dmax"), F.col("o_orderdate").cast("date"))
    k = F.least(
        ((age_days - F.pmod(age_days, F.lit(30))) / 30).cast("long"), F.lit(36).cast("long")
    )
    cents = (_dec("o_totalprice") * 100).cast("long")
    aged = o.crossJoin(F.broadcast(rng)).select(
        "o_custkey",
        cents.alias("cents"),
        k.alias("k"),
    )
    weight = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(36 - k AS INT))")
    scaled = aged.groupBy("o_custkey").agg(
        F.sum(F.col("cents").cast("decimal(38,0)") * weight.cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("num"),
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("raw_cents"),
    )
    return scaled.select(
        "o_custkey",
        "n_orders",
        "raw_cents",
        (F.col("num").cast("double") / F.lit(68719476736.0) / F.lit(100.0)).alias(
            "decayed_revenue"
        ),
    )
