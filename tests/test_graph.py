"""Unit tests for graph algorithms on small synthetic graphs with
hand-computed expected results (the declared Q-G* queries cover the
fixture-derived graphs; these pin the algorithms themselves).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sora_spark.catalog import tables
from sora_spark.graph import Graph


def _g(spark, edges):
    return Graph(spark.createDataFrame(edges, "s long, d long"))


def test_connected_components(spark):
    # components: {1,2,3}, {4,5}, labels = min id
    g = _g(spark, [(1, 2), (2, 3), (4, 5)])
    comp = {r["v"]: r["component"] for r in g.connected_components().collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    hist = {
        r["component_size"]: r["n_components"]
        for r in g.component_size_histogram().collect()
    }
    assert hist == {3: 1, 2: 1}


def test_transitive_reduction(spark):
    # a->b->c with shortcut a->c: shortcut is removed
    g = _g(spark, [(1, 2), (2, 3), (1, 3)])
    removed = {(r["s"], r["d"]) for r in g.transitive_edges().collect()}
    surviving = {
        (r["s"], r["d"]) for r in g.transitive_reduction_round().collect()
    }
    assert removed == {(1, 3)}
    assert surviving == {(1, 2), (2, 3)}


def test_tips(spark):
    # hub 1 with neighbors 2,3,4; vertex 5 hangs off 2 (degree-2 nbr -> not a tip)
    g = _g(spark, [(1, 2), (1, 3), (1, 4), (2, 5)])
    tips = {r["v"] for r in g.tips(hub_degree=3).collect()}
    # 2 has degree 2 (edges to 1 and 5) -> not a tip; 5's neighbor 2 is
    # no hub -> excluded; 3 and 4 are degree-1 off hub 1.
    assert tips == {3, 4}

def test_tips_single_agg_equivalence(spark):
    """The r14 single-aggregation tips() (degree + min(nbr) in one
    groupBy) must match the reference join formulation (degree-1 set
    joined back to the end list, then hub-filtered) on a graph with
    chains, hubs, isolated pairs and a cycle — min(nbr) over a
    degree-1 group IS the sole neighbor, so the sets are provably
    identical; this pins it."""
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 5),        # hub 1, nested tip 5
        (6, 7),                                 # isolated pair: no hub
        (8, 9), (9, 10), (10, 8),               # cycle: no degree-1
        (1, 11), (4, 12), (4, 13), (4, 14),     # 4 becomes a hub too
    ]
    g = _g(spark, edges)
    for hub_degree in (2, 3, 4):
        got = {r["v"] for r in g.tips(hub_degree=hub_degree).collect()}
        deg = g.degrees()
        ends = g.edges.select(
            F.col("s").alias("v"), F.col("d").alias("nbr")
        ).union(
            g.edges.select(F.col("d").alias("v"), F.col("s").alias("nbr"))
        )
        d1 = deg.filter(F.col("degree") == 1).select("v")
        tip_nbr = d1.join(ends, "v").select("v", "nbr")
        hub = deg.filter(F.col("degree") >= hub_degree).select(
            F.col("v").alias("nbr")
        )
        ref = {
            r["v"]
            for r in tip_nbr.join(hub, "nbr", "left_semi").collect()
        }
        assert got == ref, f"hub_degree={hub_degree}: {got} != {ref}"


def test_chain_edges_single_agg_equivalence(spark):
    """The r14 one-pass chain_edges() (exploded (v, out/in) counted in
    one groupBy) must match the reference formulation (separate
    out-degree-1 / in-degree-1 groupBys, two semi-joins) on a graph
    with chains, branches, merges, a cycle and a self-contained pair —
    a vertex absent from the s (resp. d) column has out-degree
    (resp. in-degree) 0 in both forms, so the edge sets are provably
    identical; this pins it."""
    edges = [
        (1, 2), (2, 3), (3, 4),                 # plain chain
        (4, 5), (4, 6),                         # branch at 4 (outd 2)
        (5, 7), (6, 7),                         # merge at 7 (ind 2)
        (8, 9),                                 # isolated pair
        (10, 11), (11, 12), (12, 10),           # cycle
        (13, 13),                               # self-loop
    ]
    g = _g(spark, edges)
    got = {(r["s"], r["d"]) for r in g.chain_edges().collect()}
    out1 = (
        g.edges.groupBy("s")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") == 1)
        .select("s")
    )
    in1 = (
        g.edges.groupBy("d")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") == 1)
        .select("d")
    )
    ref = {
        (r["s"], r["d"])
        for r in g.edges.join(out1, "s", "left_semi")
        .join(in1, "d", "left_semi")
        .collect()
    }
    assert got == ref


def test_bubbles(spark):
    # 1->2->4 and 1->3->4: bubble pair (1,4) with mids {2,3}
    g = _g(spark, [(1, 2), (1, 3), (2, 4), (3, 4)])
    pairs = {
        (r["u"], r["w"]): r["n_mids"] for r in g.bubble_pairs(2).collect()
    }
    assert pairs == {(1, 4): 2}


def test_bubble_removals_single_derivation_equivalence(spark):
    """The r14 single-derivation _bubble_removals (collect_set of mids
    aggregated straight to the doomed set) must match the reference
    formulation (aggregate tp to (u, w, keep), re-derive tp and probe
    it) on a graph with a 2-mid bubble, a 3-mid bubble, an overlapping
    bubble sharing a mid, a plain chain, a cycle and a self-loop —
    per (u, w) the doomed mids are the distinct-mid set minus its
    minimum in both forms, so the removal edge sets are provably
    identical; this pins it."""
    edges = [
        (1, 2), (1, 3), (2, 4), (3, 4),          # bubble (1,4), mids {2,3}
        (5, 6), (5, 7), (5, 8),                  # bubble (5,9), mids {6,7,8}
        (6, 9), (7, 9), (8, 9),
        (5, 10), (10, 9),                        # 4th mid for (5,9)
        (3, 11), (2, 11),                        # bubble (1,11) shares mids
        (12, 13), (13, 14),                      # chain: no bubble
        (15, 16), (16, 17), (17, 15),            # cycle
        (18, 18),                                # self-loop
    ]
    g = _g(spark, edges)
    for min_mids in (2, 3):
        got = {
            (r["s"], r["d"])
            for r in g._bubble_removals(min_mids).collect()
        }
        e1, e2 = g.edges.alias("e1"), g.edges.alias("e2")
        tp = e1.join(e2, F.col("e1.d") == F.col("e2.s")).select(
            F.col("e1.s").alias("u"),
            F.col("e1.d").alias("x"),
            F.col("e2.d").alias("w"),
        )
        bub = (
            tp.groupBy("u", "w")
            .agg(
                F.countDistinct("x").alias("n_mids"),
                F.min("x").alias("keep"),
            )
            .filter(F.col("n_mids") >= min_mids)
            .select("u", "w", "keep")
        )
        doomed = (
            tp.join(bub, ["u", "w"])
            .filter(F.col("x") != F.col("keep"))
            .select("u", "x", "w")
        )
        ref = {
            (r["s"], r["d"])
            for r in doomed.select(
                F.col("u").alias("s"), F.col("x").alias("d")
            )
            .union(
                doomed.select(F.col("x").alias("s"), F.col("w").alias("d"))
            )
            .distinct()
            .collect()
        }
        assert got == ref, f"min_mids={min_mids}: {got} != {ref}"


def test_compact_chains(spark):
    # chains: 1->2->3->4 (len 3), 5->6 (len 1), 7->8->9 (len 2)
    g = _g(spark, [(1, 2), (2, 3), (3, 4), (5, 6), (7, 8), (8, 9)])
    chains = {
        (r["start"], r["end"], r["length"])
        for r in g.compact_chains().collect()
    }
    assert chains == {(1, 4, 3), (5, 6, 1), (7, 9, 2)}


def test_compact_chains_cap_convergence(spark):
    """The cap-based convergence test (stop when max(dist) < 2^k,
    i.e. no row hit the doubling cap) must be exact on the cases where
    it differs most from a sum-compare: a chain of length
    EXACTLY a power of two (dist == cap at the converged round, so one
    more round must run before the break), a cycle (dist pinned at
    the cap forever — rows drop at the starts semi-join, loop bounded
    by max_iter), and length-1 chains (break after round 1)."""
    edges = (
        [(i, i + 1) for i in range(1, 5)]        # 1->..->5, len 4 = 2^2
        + [(10, 11), (11, 12), (12, 13)]         # len 3
        + [(20, 21)]                             # len 1
        + [(30, 31), (31, 32), (32, 30)]         # cycle: no output row
    )
    g = _g(spark, edges)
    st: dict = {}
    chains = {
        (r["start"], r["end"], r["length"])
        for r in g.compact_chains(max_iter=8, stats=st).collect()
    }
    assert chains == {(1, 5, 4), (10, 13, 3), (20, 21, 1)}
    # the cycle pins max(dist) at the cap every round, so the loop is
    # bounded by max_iter — the old always-growing-total behavior
    assert st["rounds"] == 8, st
    # with_paths rides the same loop
    paths = {
        r["path"]
        for r in g.compact_chains(max_iter=8, with_paths=True).collect()
    }
    assert paths == {"1-2-3-4-5", "10-11-12-13", "20-21"}

    # the same graph at the DEFAULT max_iter: the cycle keeps the loop
    # doubling for all 30 rounds over a self-joined cut frame, whose
    # size estimate squares every round (planning takes minutes past
    # round 20) unless the cut drops it. Reaching the cap with only
    # the cycle still capped is a valid ending, not an exhaustion.
    st30: dict = {}
    chains30 = {
        (r["start"], r["end"], r["length"])
        for r in g.compact_chains(stats=st30).collect()
    }
    assert chains30 == {(1, 5, 4), (10, 13, 3), (20, 21, 1)}
    assert st30["rounds"] == 30, st30

    # acyclic, longest chain EXACTLY 2^2: dist == cap at the converged
    # round, so round 3 must still run (max 4 < 8 breaks) — the cap
    # test may never break early on a power-of-two boundary
    st4: dict = {}
    g4 = _g(spark, [(i, i + 1) for i in range(1, 5)])
    got4 = {
        (r["start"], r["end"], r["length"])
        for r in g4.compact_chains(max_iter=8, stats=st4).collect()
    }
    assert got4 == {(1, 5, 4)} and st4["rounds"] == 3, st4

    # acyclic, longest chain 3 (non-power): round 2 sees max 3 < 4 and
    # breaks — one round FEWER than the old sum-compare's confirm round
    st3: dict = {}
    g3 = _g(spark, [(10, 11), (11, 12), (12, 13), (20, 21)])
    got3 = {
        (r["start"], r["end"], r["length"])
        for r in g3.compact_chains(max_iter=8, stats=st3).collect()
    }
    assert got3 == {(10, 13, 3), (20, 21, 1)} and st3["rounds"] == 2, st3


def test_bfs_hops(spark):
    # path 1-2-3-4 plus offshoot 2-5; from source 1
    g = _g(spark, [(1, 2), (2, 3), (3, 4), (2, 5)])
    src = spark.createDataFrame([(1,)], "v long")
    hops = {r["v"]: r["hop"] for r in g.bfs_hops(src).collect()}
    assert hops == {1: 0, 2: 1, 3: 2, 5: 2, 4: 3}


def test_reduce_pipeline(spark):
    # a->b->c with transitive shortcut a->c; hub 1 with tips 6,7,8 and
    # a 2-path through 6 (so 6 is not a tip; 7,8 are)
    g = _g(spark, [(1, 2), (2, 3), (1, 3), (1, 6), (1, 7), (1, 8), (6, 9)])
    reduced = {(r["s"], r["d"]) for r in g.reduce_pipeline().collect()}
    # (1,3) removed as transitive; 7,8 trimmed as tips off hub 1;
    # fixpoint then keeps the 1-2-3 path and the 1-6-9 chain
    assert (1, 3) not in reduced
    assert not any(7 in e or 8 in e for e in reduced)
    assert (1, 2) in reduced and (2, 3) in reduced


def test_degrees_and_two_hop(spark):
    g = _g(spark, [(1, 2), (2, 3)])
    hist = {
        r["degree"]: r["n_vertices"] for r in g.degree_histogram().collect()
    }
    assert hist == {1: 2, 2: 1}
    assert g.two_hop_count().collect()[0]["two_hop_count"] == 1
    assert g.triangle_count().collect()[0]["triangle_count"] == 0


def test_twophase_cc_on_long_chain(spark):
    """A 64-vertex chain: min-label needs ~63 rounds (diameter), the
    two-phase contraction must finish in O(log n) — both agree on the
    single component."""
    from sora_spark.graph import Graph

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)] + [(100, 101), (102, 102)],
        "s BIGINT, d BIGINT",
    )
    g = Graph(edges)
    stats = {}
    comp = g.connected_components_twophase(stats=stats)
    rows = {r["v"]: r["component"] for r in comp.collect()}
    assert all(rows[v] == 0 for v in range(64))
    assert rows[100] == rows[101] == 100
    assert rows[102] == 102  # self-loop-only vertex is its own component
    assert stats["rounds"] <= 8, f"not logarithmic: {stats['rounds']} rounds"


def _path(spark, n, weighted=False):
    rows = [(i, i + 1, float(i)) for i in range(n - 1)]
    if weighted:
        return Graph(spark.createDataFrame(rows, "s long, d long, w double"))
    return _g(spark, [r[:2] for r in rows])


# (op, call) pairs: every convergence loop on a path- or chain-shaped
# input whose fixpoint lies beyond the given max_iter
_EXHAUSTED = {
    # diameter 80 > 10 rounds: a partial labeling splits the path
    "connected_components": lambda sp: _path(sp, 81).connected_components(
        max_iter=10
    ),
    "connected_components_twophase": lambda sp: _path(
        sp, 64
    ).connected_components_twophase(max_iter=1),
    # hub_degree=2 trims both path ends per round: ~n/2 rounds
    "reduce_pipeline": lambda sp: _path(sp, 20).reduce_pipeline(
        max_iter=2, hub_degree=2
    ),
    # a chain of diamonds: no tips (reduce converges in round 1), one
    # bubble per diamond, so the bubble loop needs a confirm round
    "assembly_pipeline (bubble loop)": lambda sp: _g(
        sp,
        [e for i in range(0, 9, 3)
         for e in [(i, i + 1), (i, i + 2), (i + 1, i + 3), (i + 2, i + 3)]],
    ).assembly_pipeline(max_iter=1),
    "k_core": lambda sp: _path(sp, 20).k_core(k=2, max_iter=3),
    "maximal_matching": lambda sp: _path(sp, 40).maximal_matching(
        max_iter=1
    ),
    # three 2-cycles in a row, one SCC peeled per outer round
    "strongly_connected_components": lambda sp: _g(
        sp, [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3), (4, 5), (5, 6), (6, 5)]
    ).strongly_connected_components(max_iter=2),
    "k_truss": lambda sp: _path(sp, 10).k_truss(k=3, max_iter=1),
    "shortest_paths": lambda sp: _path(sp, 10).shortest_paths(
        sp.createDataFrame([(0,)], "v long"), max_iter=3
    ),
    # chain length 19 > 2^3
    "compact_chains": lambda sp: _path(sp, 20).compact_chains(max_iter=3),
    "minimum_spanning_forest": lambda sp: _path(
        sp, 16, weighted=True
    ).minimum_spanning_forest(max_iter=1),
    "topological_levels": lambda sp: _path(sp, 10).topological_levels(
        max_iter=3
    ),
}


@pytest.mark.parametrize("op", sorted(_EXHAUSTED))
def test_fixpoint_raises_on_exhausted_iterations(spark, op):
    """Every convergence loop runs on Graph._fixpoint: exhausting
    max_iter short of the fixpoint is loud (RuntimeError naming the op
    and max_iter), never a silently partial answer."""
    with pytest.raises(
        RuntimeError, match=rf"^{re.escape(op)}: no fixpoint after max_iter=\d+ "
    ):
        _EXHAUSTED[op](spark)


def test_msf_contracts_long_merge_chains(spark):
    """A path with rising weights merges whole in Borůvka round 1, so
    the contraction CC sees a 120-vertex path: its round count must
    not be bounded by the merge graph's diameter."""
    st: dict = {}
    forest = _path(spark, 120, weighted=True).minimum_spanning_forest(stats=st)
    assert forest.count() == 119 and st["rounds"] == 2, st


def test_twophase_matches_minlabel(spark, sf_dir):
    from sora_spark.catalog import tables
    from sora_spark.graph import Graph
    from sora_spark.graph.derive import e_co_small

    g = Graph(e_co_small(tables(spark, sf_dir).lineitem))
    a = sorted(map(tuple, g.connected_components().collect()))
    b = sorted(map(tuple, g.connected_components_twophase().collect()))
    assert a == b


def test_pagerank_matches_numpy_power_iteration(spark):
    """PageRank on a fixed 5-vertex digraph vs a numpy reference doing
    the identical damped power iteration with dangling redistribution."""
    import numpy as np

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]  # 4 is dangling+isolated? no: keep 4 via edge
    edges.append((2, 4))
    e = spark.createDataFrame(edges, "s LONG, d LONG")
    g = Graph(e)
    got = {r["v"]: r["rank"] for r in g.pagerank(n_iter=15).collect()}

    n = 5
    out = {0: [1, 2], 1: [2], 2: [0, 4], 3: [2], 4: []}
    r = np.ones(n)
    d = 0.85
    for _ in range(15):
        nxt = np.zeros(n)
        dangling = sum(r[v] for v in range(n) if not out[v])
        for v in range(n):
            for u in out[v]:
                nxt[u] += d * r[v] / len(out[v])
        nxt += (1 - d) + d * dangling / n
        r = nxt
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-9, (v, got[v], r[v])
    assert abs(sum(got.values()) - n) < 1e-6


def test_shortest_paths_weighted(spark):
    """Bellman-Ford relaxation on a weighted digraph with a shorter
    indirect route — catches greedy/hop-limited mistakes."""
    e = spark.createDataFrame(
        [(0, 1, 10.0), (0, 2, 1.0), (2, 1, 2.0), (1, 3, 1.0), (2, 3, 100.0)],
        "s LONG, d LONG, w DOUBLE",
    )
    src = spark.createDataFrame([(0,)], "v LONG")
    got = {r["v"]: r["dist"] for r in
           Graph(e).shortest_paths(src, weight_col="w").collect()}
    assert got == {0: 0.0, 1: 3.0, 2: 1.0, 3: 4.0}


def test_shortest_paths_unweighted_equals_bfs(spark, sf_dir):
    """Unit-weight shortest paths must equal bfs_hops on the same
    (directed) edge set."""
    from sora_spark.queries.graph_q import e_co_small
    li = tables(spark, sf_dir).lineitem
    e = e_co_small(li)
    g = Graph(e)
    srcs = g.vertex_ids().orderBy("v").limit(3)
    # bfs_hops is undirected; symmetrize for the comparison
    sym = Graph(e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d"))))
    got = {r["v"]: r["dist"] for r in
           sym.shortest_paths(srcs, max_iter=15).collect()}
    want = {r["v"]: float(r["hop"]) for r in
            g.bfs_hops(srcs, max_hops=15).collect()}
    assert got == want


def test_k_core(spark):
    """2-core of a graph with a pendant chain: the triangle survives,
    the chain peels away (including cascades)."""
    # triangle 0-1-2 plus chain 2-3-4
    g = _g(spark, [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)])
    core = sorted(r["v"] for r in g.k_core(k=2).collect())
    assert core == [0, 1, 2]
    # 3-core empty (triangle is only 2-degree each)
    assert g.k_core(k=3).count() == 0


def test_bubble_pop_shuffle_path_matches_broadcast(spark, sf_dir):
    """pop_bubbles_round above the broadcast gate (broadcast_edges
    =False → shuffled semi/anti joins) must remove exactly the same
    edge set as the broadcast path — the shape the 100 TB deployment
    runs when the edge set exceeds BROADCAST_EDGE_LIMIT."""
    from sora_spark.graph import Graph
    from sora_spark.graph.derive import e_co_small

    li = tables(spark, sf_dir).lineitem
    g = Graph(e_co_small(li).localCheckpoint(eager=True))
    bc = sorted(map(tuple, g.pop_bubbles_round(broadcast_edges=True).collect()))
    sh = sorted(map(tuple, g.pop_bubbles_round(broadcast_edges=False).collect()))
    assert bc == sh
    assert len(bc) < g.edges.count(), "bubble pop must remove edges"


def test_overlap_edges_reconstruct_document_chains(spark):
    """Overlap-join construction (qg19 core): on a corpus with no
    cross-document repeats, the overlap graph is exactly each
    document's consecutive-window chain."""
    from sora_spark.graph.overlap import derive_reads, overlap_edges

    rows = [
        (0, "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJ"),  # 46 chars
        (1, "zyxwvutsrqponmlkjihgfedcba9876543210JIHGFEDCBA"),
    ]
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in rows], "doc_id INT, text STRING, n_chars INT"
    )
    reads = derive_reads(docs, read_len=20, stride=10)
    # 46 chars -> windows at 0,10,20 (start 26 would overrun)
    assert reads.count() == 6
    edges = sorted(
        map(tuple, overlap_edges(reads, read_len=20, min_ovl=10).collect())
    )
    assert edges == [(0, 1), (1, 2), (1000, 1001), (1001, 1002)]


def test_overlap_repeat_masking_drops_hot_kmers(spark):
    """max_key_freq (repeat masking — the 100 TB guard): a k-mer shared
    by many reads stops generating edges once its prefix frequency
    exceeds the cap, while unique-overlap edges survive."""
    from sora_spark.graph.overlap import derive_reads, overlap_edges

    repeat = "REPEATREPE"  # 10-char hot overlap block
    # head(10) + REPEAT(10) + tail(10): window 0 ends with the hot
    # block, window 1 starts with it -> every doc's read 0 overlaps
    # every doc's read 1 (5x5 edges), all through one hot k-mer
    texts = [f"{i:04d}ABCDEF" + repeat + f"tail{i:06d}" for i in range(5)]
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id INT, text STRING, n_chars INT",
    )
    reads = derive_reads(docs, read_len=20, stride=10)
    unmasked = overlap_edges(reads, read_len=20, min_ovl=10).count()
    masked = overlap_edges(
        reads, read_len=20, min_ovl=10, max_key_freq=1
    ).count()
    assert unmasked == 25 and masked == 0, (unmasked, masked)


def test_overlap_join_plan_is_equi_join(spark, sf_dir):
    """qg19's suffix-prefix join must compile to a hash equi-join on
    the k-mer key — never a nested-loop/cartesian all-pairs scan (the
    property that keeps overlap construction 100 TB-safe)."""
    import contextlib
    import io

    from sora_spark.queries import REGISTRY

    df = REGISTRY["qg19_overlap_graph"].spark_fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Join" in p


def test_fasta_roundtrip_feeds_assembly(spark, sf_dir, tmp_path):
    """The reference's native input path, end-to-end: derived reads
    written as wrapped FASTA, read back through the registered 'fasta'
    Python DataSource, and fed to the overlap join — the resulting
    edge set must equal the direct in-memory path (sequence I/O and
    overlap construction compose losslessly)."""
    from sora_spark.catalog import tables
    from sora_spark.graph.overlap import derive_reads, overlap_edges
    from sora_spark.sources import fasta_datasource
    from sora_spark.sources.text import write_fasta

    docs = tables(spark, sf_dir).documents.limit(50)
    reads = derive_reads(docs)
    path = str(tmp_path / "reads_fasta")
    write_fasta(
        reads.select(F.col("read_id").cast("string").alias("h"), "seq"),
        path,
        "h",
        "seq",
        wrap=25,  # < read_len 40, so records are genuinely multi-line
    )
    fasta_datasource.register(spark)
    back = (
        spark.read.format("fasta")
        .load(path)
        .select(
            F.col("header").cast("bigint").alias("read_id"),
            F.col("sequence").alias("seq"),
        )
    )
    direct = sorted(map(tuple, overlap_edges(reads).collect()))
    via_fasta = sorted(map(tuple, overlap_edges(back).collect()))
    assert direct == via_fasta
    assert len(direct) > 0


def test_two_hop_degree_form_matches_join_form(spark, sf_dir):
    """The Σ indeg·outdeg rewrite must equal the literal self-join on
    the real co-occurrence graph and on a hand-built multigraph-free
    digraph with hub structure."""
    from sora_spark.graph import Graph
    from sora_spark.graph.derive import e_co_small

    li = tables(spark, sf_dir).lineitem
    g = Graph(e_co_small(li).localCheckpoint(eager=True))
    a = g.two_hop_count().collect()[0]["two_hop_count"]
    b = g.two_hop_count_join().collect()[0]["two_hop_count"]
    assert a == b and a > 0

    h = _g(spark, [(1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 1)])
    assert (
        h.two_hop_count().collect()[0]["two_hop_count"]
        == h.two_hop_count_join().collect()[0]["two_hop_count"]
    )

    empty = _g(spark, [(1, 2)]).edges.filter("s < 0")
    assert (
        Graph(empty).two_hop_count().collect()[0]["two_hop_count"] == 0
    )


def test_derive_reads_overflow_is_loud(spark):
    """read_id packing (doc_id*1000 + window) must FAIL rather than
    silently collide when a document yields >= 1000 windows. The
    raise_error rides the read_id expression, so it fires exactly
    where ids are consumed (overlap_edges always evaluates them);
    a bare count() may prune the column and skip the check."""
    import pytest

    from sora_spark.graph.overlap import derive_reads

    big = spark.createDataFrame(
        [(1, "x" * 30000, 30000)], "doc_id long, text string, n_chars int"
    )
    with pytest.raises(Exception, match="collide read_ids"):
        derive_reads(big).agg(F.max("read_id")).collect()


def test_contigs_recover_document_substrings(spark, sf_dir):
    """Assembly ground truth: every contig whose reads all come from
    ONE document must be a verbatim substring of that document's text
    (read derivation + overlap join + reduction + compaction compose
    losslessly); chimeric cross-document chains are excluded the way
    a real assembler's mis-joins would be QC'd. At least 80% of
    contigs must be single-document."""
    from sora_spark.catalog import tables
    from sora_spark.graph import Graph
    from sora_spark.graph.overlap import (
        contig_sequences,
        derive_reads,
        overlap_edges,
    )

    docs = tables(spark, sf_dir).documents
    reads = derive_reads(docs)
    edges = Graph(overlap_edges(reads)).assembly_pipeline(max_iter=10)
    chains = Graph(Graph(edges).chain_edges()).compact_chains(
        with_paths=True
    )
    contigs = contig_sequences(reads, chains)
    # start read_id // 1000 = doc; single-doc chain iff every id in the
    # path shares that prefix
    single = (
        chains.select(
            "start", F.split("path", "-").alias("ids")
        )
        .withColumn(
            "one_doc",
            F.size(
                F.array_distinct(
                    F.transform(
                        "ids", lambda x: F.floor(x.cast("bigint") / 1000)
                    )
                )
            )
            == 1,
        )
        .select("start", "one_doc")
    )
    joined = (
        contigs.join(single, "start")
        .withColumn("doc_id", F.floor(F.col("start") / 1000))
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    n_total = joined.count()
    n_single = joined.filter("one_doc").count()
    assert n_single >= 0.8 * n_total, (n_single, n_total)
    bad = joined.filter("one_doc").filter(
        ~F.expr("contains(text, contig)")
    )
    assert bad.count() == 0, bad.select("start").limit(5).collect()


def test_label_propagation_two_triangles(spark):
    """Two triangles bridged by one edge: round-2 labels hand-computed
    (sync updates, count-desc/label-asc tie-break)."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "s long, d long",
    )
    got = {
        r["v"]: r["lab"]
        for r in Graph(e).label_propagation(n_rounds=2).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}


def test_topological_levels_dag_and_cycle(spark):
    """Diamond + tail: levels are LONGEST-path depths; a cycle must
    raise, never emit a partial order."""
    import pytest as _pytest

    dag = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (6, 3)],
        "s long, d long",
    )
    got = {
        r["v"]: r["level"]
        for r in Graph(dag).topological_levels().collect()
    }
    # 3 peels after {1,6} and 2: longest path 1->3->4->5 / 6->3->4->5
    assert got == {1: 0, 6: 0, 2: 1, 3: 1, 4: 2, 5: 3}
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "s long, d long"
    )
    with _pytest.raises(ValueError, match="cycle"):
        Graph(cyc).topological_levels()


def test_local_clustering_hand_graph(spark):
    """Triangle + pendant: vertex coefficients hand-computed."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "s long, d long"
    )
    got = {
        r["v"]: (r["degree"], round(r["coef"], 6))
        for r in Graph(e).local_clustering().collect()
    }
    # v3: deg 3, one triangle -> 2*1/(3*2) = 1/3; v4 pendant deg 1 -> 0
    assert got == {
        1: (2, 1.0), 2: (2, 1.0), 3: (3, round(1 / 3, 6)), 4: (1, 0.0)
    }


def test_bwt_known_value(spark):
    """bwt('banana') must equal the textbook 'annb\\x01aa' (sentinel
    sorts first), and round-trip invertibility holds via LF-mapping."""
    from sora_spark.graph.overlap import bwt

    df = spark.createDataFrame([(0, "banana")], "doc_id long, text string")
    got = bwt(df).collect()[0]["bwt"]
    assert got == "annb\x01aa"
    # invert by iterated column prepending (textbook O(n^2) check)
    n = len(got)
    table = [""] * n
    for _ in range(n):
        table = sorted(got[i] + table[i] for i in range(n))
    original = next(r for r in table if r.endswith("\x01"))
    assert original == "banana\x01"


def test_reliable_checkpoint_mode_matches_local(spark, tmp_path):
    """Graph(reliable_checkpoint_dir=...) swaps every per-round
    localCheckpoint for a reliable checkpoint() against a real
    directory (r10 verdict item 4 — local checkpoint blocks die with
    their executor; at 100 TB on preemptible nodes a 40-round CC
    would restart from zero). Same results bit-for-bit across
    CC / two-phase CC / PageRank / k-core / reduce_pipeline, and the
    reliable run must actually write RDD checkpoint files into the
    directory (otherwise the mode silently fell back to local)."""
    import os

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (2, 6),
             (7, 8), (8, 9), (7, 9), (10, 11)]
    ckpt = str(tmp_path / "reliable_ckpt")

    def run(**kw):
        g = Graph(spark.createDataFrame(edges, "s long, d long"), **kw)
        return {
            "cc": sorted(map(tuple, g.connected_components().collect())),
            "cc2": sorted(map(tuple,
                              g.connected_components_twophase().collect())),
            "pr": sorted(
                (r["v"], round(r["rank"], 9))
                for r in g.pagerank(n_iter=4).collect()),
            "kcore": sorted(map(tuple, g.k_core(2).collect())),
            "reduce": sorted(map(tuple, g.reduce_pipeline().collect())),
        }

    local = run()
    reliable = run(reliable_checkpoint_dir=ckpt)
    assert reliable == local
    written = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "reliable mode must write checkpoint files"


def test_one_pass_end_forms_match_union_references(spark):
    """The r14 one-derivation forms (explode(array(s, d)) for
    vertex_ids/degrees, _sym_edges for both orientations) must emit the
    same sets/multisets as the old union-of-two-selects — including
    NULL endpoints (explode of an array emits null elements exactly
    like the union did) and string vertex ids (the CC fallback type).
    """
    for schema, edges in (
        ("s long, d long", [(1, 2), (2, 3), (2, 3), (4, None), (5, 5)]),
        ("s string, d string", [("a", "b"), ("b", "c"), ("d", "d")]),
    ):
        g = Graph(spark.createDataFrame(edges, schema))
        e = g.edges
        vid_ref = {
            r["v"]
            for r in e.select(F.col("s").alias("v"))
            .union(e.select(F.col("d").alias("v")))
            .distinct()
            .collect()
        }
        assert {r["v"] for r in g.vertex_ids().collect()} == vid_ref
        ends_ref = e.select(F.col("s").alias("v")).union(
            e.select(F.col("d").alias("v"))
        )
        deg_ref = {
            (r["v"], r["degree"])
            for r in ends_ref.groupBy("v")
            .agg(F.count("*").alias("degree"))
            .collect()
        }
        assert {
            (r["v"], r["degree"]) for r in g.degrees().collect()
        } == deg_ref
        key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
        sym_ref = sorted(
            (
                (r["s"], r["d"])
                for r in e.select("s", "d")
                .union(
                    e.select(F.col("d").alias("s"), F.col("s").alias("d"))
                )
                .collect()
            ),
            key=key,
        )
        got = sorted(
            ((r["s"], r["d"]) for r in g._sym_edges().collect()), key=key
        )
        assert got == sym_ref


def test_e_co_explode_expansion_matches_join_form(spark, sf_dir):
    """The r14 explode-first e_co pair expansion (chained index
    Generates + scalar element_at) must be set-identical to the
    order-key self-join formulation the E_CO_SQL oracle keeps —
    including orders with a single distinct part (no pairs)."""
    from sora_spark.graph import e_co

    li = tables(spark, sf_dir).lineitem
    got = {(r["s"], r["d"]) for r in e_co(li).collect()}
    a = li.select("l_orderkey", F.col("l_partkey").alias("s"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("d"))
    ref = {
        (r["s"], r["d"])
        for r in a.join(b, "l_orderkey")
        .filter(F.col("s") < F.col("d"))
        .select("s", "d")
        .distinct()
        .collect()
    }
    assert got == ref and got
