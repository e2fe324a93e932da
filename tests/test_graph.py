"""operators.graph.pagerank_fixed — unrolled declarative PageRank.

The bit-exactness contract (pinned left-to-right contribution folds,
exact integer weight ratios) is what lets q110 carry a full value
oracle; these tests replay the identical arithmetic in plain Python
and assert EXACT float equality, not approximate closeness.
"""

from __future__ import annotations

from stock_data_pipeline_spark.operators.graph import pagerank_fixed


def _python_pagerank(edges, rounds=3, damping=0.85):
    """Reference loop with the same op order as the Spark plan:
    teleport + d * (left-to-right fold of contribs sorted by src)."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    p = {(s, d): w / outw[s] for s, d, w in edges}
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(rounds):
        nxt = {}
        for v in nodes:
            acc = 0.0
            for s in sorted(nodes):
                if (s, v) in p:
                    acc = acc + pr[s] * p[(s, v)]
            nxt[v] = (1.0 - damping) / n + damping * acc
        pr = nxt
    return pr


def _run(spark, edges, rounds=3):
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    got = {r["node"]: r["pr"] for r in pagerank_fixed(df, rounds=rounds).collect()}
    want = _python_pagerank(edges, rounds=rounds)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == want[v], (v, got[v], want[v])  # exact, not approx
    return got


def test_pagerank_cycle_uniform(spark):
    # symmetric 3-cycle: ranks must stay exactly uniform every round
    got = _run(spark, [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)])
    assert all(abs(v - 1 / 3) < 1e-15 for v in got.values())


def test_pagerank_weighted_star(spark):
    # hub feeding two spokes with 3:1 weights plus a back edge
    got = _run(
        spark,
        [("hub", "x", 3), ("hub", "y", 1), ("x", "hub", 1), ("y", "hub", 1)],
    )
    assert got["x"] > got["y"]  # 3x the transition mass


def test_pagerank_dangling_and_sourceless(spark):
    # b is dangling (mass leaks, documented); a has no in-edges →
    # teleport term only
    got = _run(spark, [("a", "b", 2)])
    assert got["a"] == (1.0 - 0.85) / 2


def test_pagerank_single_round_matches_hand_calc(spark):
    edges = [("a", "b", 1), ("b", "a", 1), ("a", "a", 1)]
    got = _run(spark, edges, rounds=1)
    # a: teleport + d*(pr(a)*w_aa/outw_a + pr(b)*1)
    tp = 0.15000000000000002 / 2  # 1.0 - 0.85 in IEEE
    exp_a = tp + 0.85 * (0.5 * 0.5 + 0.5 * 1.0)
    assert got["a"] == exp_a


def test_cc_raises_rather_than_returning_unconverged_labels(spark):
    """max_iter is a runaway bound, not an accuracy knob: a graph that
    cannot converge within it must raise, never return silently-split
    components (the sf0.1 proximity graph needed 28 rounds and the old
    max_iter=25 returned a 15000-vertex component cut in two)."""
    import pytest

    from stock_data_pipeline_spark.llm.dedup import connected_components

    # a long path: 0-1-2-...-199
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1).collect()


def test_cc_converges_on_long_path_with_scrambled_ids(spark):
    """A 2000-vertex path whose vertex ids are scrambled (so min-label
    propagation gets no help from id locality) must still converge to
    ONE component labeled by the global min — the shape that exposed
    the max_iter cliff at sf0.1."""
    from stock_data_pipeline_spark.llm.dedup import connected_components

    n = 2000
    # deterministic scramble: multiply by an odd constant mod 2^31
    ids = [(i * 48271 + 11) % 2_147_483_647 for i in range(n + 1)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n)], ["id_a", "id_b"]
    )
    labels = connected_components(edges).collect()
    assert len(labels) == n + 1
    want = min(ids)
    assert {r["cluster_id"] for r in labels} == {want}


def test_cc_max_iter_1_returns_input_already_at_fixpoint(spark):
    """Self-loop-only edges are already converged (every vertex is its
    own component). Round 1 compares its label sum with the initial
    labels' sum (observed as Σ vertex on the same job), so one round
    proves convergence and max_iter=1 returns instead of raising."""
    from stock_data_pipeline_spark.llm.dedup import connected_components

    edges = spark.createDataFrame([(1, 1), (5, 5), (9, 9)], "id_a long, id_b long")
    out = {r["vertex"]: r["cluster_id"] for r in connected_components(edges, max_iter=1).collect()}
    assert out == {1: 1, 5: 5, 9: 9}


def test_cc_empty_graph_converges_at_once(spark):
    """Zero rows observed: empty in, empty out, within one round."""
    from stock_data_pipeline_spark.llm.dedup import connected_components

    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(edges, max_iter=1).collect() == []


def test_cc_null_label_sum_with_rows_raises(spark):
    """A null Σ lbl over a non-empty label table (here: ids whose
    decimal cast is null under non-ANSI mode, the same null an overflowing
    decimal sum gives) must raise, not read as "converged" and return
    labels nobody checked."""
    import pytest

    from stock_data_pipeline_spark.llm.dedup import connected_components

    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "id_a string, id_b string")
    saved = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(RuntimeError, match="null label sum"):
            connected_components(edges).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", saved)
