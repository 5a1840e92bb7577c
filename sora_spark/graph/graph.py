"""Property-graph algorithms as DataFrame dataflow (SURVEY §2.10).

The reference's capability surface is classical string-graph assembly
reduction (transitive reduction, tip/dead-end removal, bubble
detection, path compaction) plus the generic graph ops they build on
(degrees, k-hop, triangles, connected components). Re-expressed
Spark-first:

- one-shot ops are joins + aggregations (Catalyst plans them; the
  self-join shuffles on the join key and AQE picks broadcast vs SMJ);
- fixpoint ops (connected components, the reduction loops, ...) are
  round closures run by ONE driver, `Graph._fixpoint`, which owns the
  round count and the non-convergence contract (raise, never a
  partial answer); every round ends in a lineage cut (`Graph._cut`) —
  without it the plan tree grows exponentially and the optimizer
  stalls (SURVEY §4.3, the classic failure mode of DataFrame graph
  code).

Scale posture: edges are repartitioned on `s` once up front so the
iterated self-joins reuse one partitioning; convergence checks are
single `count()` actions (one job per iteration, the unavoidable
synchronization barrier of label propagation).
"""

from __future__ import annotations

import gc
import itertools
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, DecimalType, IntegerType, LongType, ShortType

# Long.MaxValue: the largest size estimate that still carries information
# (see Graph._cut)
_MAX_SIZE_ESTIMATE = (1 << 63) - 1


@dataclass
class Graph:
    """Edges (s, d) with optional vertex frame. Undirected algorithms
    treat (s, d) as canonical (s < d) undirected edges.

    `reliable_checkpoint_dir`: every fixpoint loop cuts lineage with a
    checkpoint per round. The default (None) uses
    `localCheckpoint(eager=True)` — blocks live in executor storage,
    zero HDFS traffic, correct on a healthy cluster — but a local
    checkpoint DIES WITH ITS EXECUTOR: on preemptible/spot nodes a
    40-round CC restarts from zero when one machine disappears late in
    the run. Pass a fault-tolerant path (HDFS/S3) to swap every
    per-round cut in this class for a reliable `checkpoint()` against
    that directory: rounds then survive executor loss at the price of
    one distributed write per round. Same results bit-for-bit either
    way (one parametrized oracle test runs CC/PageRank/k-core under
    both modes).

    RETENTION: Spark never deletes reliable checkpoint files unless
    `spark.cleaner.referenceTracking.cleanCheckpoints=true` was set at
    SESSION BUILD time (ContextCleaner reads it once) — without it a
    40-round loop retains ~rounds x dataset bytes in the directory.
    `sora_spark.session.build_session` sets it by default; sessions
    built elsewhere must set it themselves (it is reference-tracked:
    a round's files are deleted only once nothing holds that RDD, so
    pinned frames stay readable)."""

    edges: DataFrame  # columns: s, d (+ attrs)
    vertices: DataFrame | None = None
    reliable_checkpoint_dir: str | None = None

    def _cut(self, df: DataFrame, eager: bool) -> DataFrame:
        """The one lineage cut in this class. Local by default;
        reliable when the Graph was built with `reliable_checkpoint_dir`
        (see the class docstring for the executor-loss trade).

        `eager=False` skips the separate materialization job: for call
        sites whose next statement is an action over the cut frame,
        that action writes the checkpoint blocks as it aggregates, so a
        round costs one pass instead of a materialize pass plus a read
        pass. Reliable mode keeps the same contract: doCheckpoint()
        runs at the end of that first action's job. Same data either
        way.

        Spark keeps the pre-cut plan's size estimate on the cut, so a
        self-join over a cut frame squares the estimate every round
        (compact_chains' p ⋈ p) until planning itself stalls in
        BigInteger arithmetic. An estimate past Long.MaxValue carries
        no information, so it is dropped and Spark's own unknown-size
        default (`spark.sql.defaultSizeInBytes`) stands in; every
        smaller estimate, and so every plan, is unchanged."""
        if self.reliable_checkpoint_dir is None:
            cut = df.localCheckpoint(eager=eager)
        else:
            sc = df.sparkSession.sparkContext
            # setCheckpointDir once per context/dir, not per round — it
            # round-trips to the JVM and mkdirs the path every call
            if getattr(sc, "_sora_ckpt_dir", None) != self.reliable_checkpoint_dir:
                sc.setCheckpointDir(self.reliable_checkpoint_dir)
                sc._sora_ckpt_dir = self.reliable_checkpoint_dir
            cut = df.checkpoint(eager=eager)
        plan = cut._jdf.logicalPlan()  # the cut's LogicalRDD
        if plan.stats().sizeInBytes() <= _MAX_SIZE_ESTIMATE:
            return cut
        spark, jvm = cut.sparkSession, cut.sparkSession._jvm
        plan = plan.copy(
            plan.output(), plan.rdd(), plan.outputPartitioning(),
            plan.outputOrdering(), plan.isStreaming(), plan.stream(),
            spark._jsparkSession, jvm.scala.Option.empty(),
            jvm.scala.Some(plan.constraints()),
        )
        ds = jvm.org.apache.spark.sql.classic.Dataset
        return DataFrame(ds.ofRows(spark._jsparkSession, plan), spark)

    def _fixpoint(self, op, step, state, max_iter, stats=None, key="rounds"):
        """The one driver every convergence loop in this class runs on.

        `step(state, r)` runs round r (1-based) and returns
        `(state, done, size)`, where `size` is a per-round figure the
        round already computed (edge count, label mass, ...; None when
        it computes none) — the driver itself never adds a Spark job.
        The driver owns the round count (`stats[key]`), a driver GC
        between rounds, and the one non-convergence contract: a loop that
        has not reported `done` after `max_iter` rounds raises a
        RuntimeError naming `op`, `max_iter` and the per-round sizes,
        never a silently partial answer. `max_iter=None` is for loops
        that terminate by construction. Returns `(state, sizes)`."""
        sizes: list = []
        rounds = itertools.count(1) if max_iter is None else range(1, max_iter + 1)
        done, r = False, 0
        for r in rounds:
            state, done, size = step(state, r)
            sizes.append(size)
            if done:
                break
            # between rounds, nudge the driver GC so py4j refs to the
            # previous round's checkpointed blocks release promptly —
            # otherwise the ContextCleaner drops them at arbitrary times
            # mid-run, which showed up as ~20% run-to-run bench variance
            gc.collect()
        if stats is not None:
            stats[key] = r
        if not done:
            raise RuntimeError(
                f"{op}: no fixpoint after max_iter={max_iter} rounds "
                f"(per-round sizes {[x for x in sizes if x is not None]}); "
                "raise max_iter — a partial answer is not returned"
            )
        return state, sizes

    # ---- basic structure -------------------------------------------------

    def vertex_ids(self) -> DataFrame:
        # one scan (r14): explode both ends of each edge instead of a
        # union of two selects — the union form derived the WHOLE
        # upstream edge subplan once per branch (no ReusedExchange when
        # the derivation carries lambda/Generate stages — the qg1 plan
        # finding). Same vertex set: each edge contributes s and d
        # either way, nulls included, before the distinct.
        return (
            self.edges.select(
                F.explode(F.array(F.col("s"), F.col("d"))).alias("v")
            )
            .distinct()
        )

    def _sym_edges(self) -> DataFrame:
        """Both orientations of every edge in ONE pass (r14): the
        union-of-two-selects form re-derived the whole upstream edge
        subplan once per branch (exchange reuse never fires across the
        derivations' lambda-bearing aggregates — the qg1/qg4 plan
        finding); exploding each edge into (s,d) + (d,s) emits the
        identical row multiset over one derivation."""
        return self.edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("s").alias("s"), F.col("d").alias("d")),
                    F.struct(F.col("d").alias("s"), F.col("s").alias("d")),
                )
            ).alias("e")
        ).select("e.s", "e.d")

    def degrees(self) -> DataFrame:
        """Total degree per vertex for canonical undirected edges.

        One scan (r14): the old union-of-two-selects form ran the full
        upstream edge derivation once per branch (two lineitem scans +
        two pair expansions in the qg1 plan); exploding both ends
        counts the identical (v) multiset — nulls included — over ONE
        derivation and one exchange."""
        ends = self.edges.select(
            F.explode(F.array(F.col("s"), F.col("d"))).alias("v")
        )
        return ends.groupBy("v").agg(F.count("*").alias("degree"))

    def degree_histogram(self) -> DataFrame:
        return (
            self.degrees()
            .groupBy("degree")
            .agg(F.count("*").alias("n_vertices"))
        )

    # ---- one-shot joins --------------------------------------------------

    def two_hop_count(self) -> DataFrame:
        """Directed 2-path count e1.d == e2.s (Q-G2 / B9), computed as
        Σ_v indeg(v)·outdeg(v): every 2-path is exactly one choice of
        (in-edge, out-edge) at its mid vertex, so the edge-set
        SELF-JOIN — which materializes every 2-path row just to count
        it (the path stream can be orders of magnitude larger than the
        edge set at 100 TB) — collapses to ONE degree aggregation plus
        a scalar sum. Same scalar, verified against two_hop_count_join
        (tests/test_graph.py) and the unchanged brute-force oracle.

        Single-pass degrees (`_io_degrees`): two separate in/out
        groupBys joined on the vertex would run the WHOLE upstream
        derivation twice when the edge plan carries lambda expressions
        (e_co's pair expansion; no ReusedExchange, plans/r14/). A
        vertex missing either side contributes i·o = 0."""
        return self._io_degrees(self.edges).agg(
            F.coalesce(F.sum(F.col("i") * F.col("o")), F.lit(0))
            .cast("bigint")
            .alias("two_hop_count")
        )

    @staticmethod
    def _io_degrees(edges: DataFrame) -> DataFrame:
        """(v, o, i) = out- and in-degree per vertex in ONE pass over
        one derivation of the edges: each edge explodes into
        (v=s, out) + (v=d, in), then one groupBy — one edge-set read,
        one exchange on v, no join."""
        return (
            edges.select(
                F.explode(
                    F.array(
                        F.struct(F.col("s").alias("v"), F.lit(1).alias("o")),
                        F.struct(F.col("d").alias("v"), F.lit(0).alias("o")),
                    )
                ).alias("e")
            )
            .groupBy(F.col("e.v").alias("v"))
            .agg(F.sum("e.o").alias("o"), F.sum(1 - F.col("e.o")).alias("i"))
        )

    @staticmethod
    def _triangles(e: DataFrame) -> DataFrame:
        """(a, b, c) for every a→b→c wedge closed by a→c — on
        canonical (s < d) edges, each triangle once. Join order keeps
        the small closing probe last; candidate wedges are bounded by
        per-vertex degree."""
        e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
        return (
            e1.join(e2, F.col("e1.d") == F.col("e2.s"))
            .join(
                e3,
                (F.col("e1.s") == F.col("e3.s")) & (F.col("e2.d") == F.col("e3.d")),
            )
            .select(
                F.col("e1.s").alias("a"),
                F.col("e1.d").alias("b"),
                F.col("e2.d").alias("c"),
            )
        )

    def two_hop_count_join(self) -> DataFrame:
        """The literal self-join form of two_hop_count (reference shape
        for the algebraic rewrite; exchange-reuse demo)."""
        e1, e2 = self.edges.alias("e1"), self.edges.alias("e2")
        return (
            e1.join(e2, F.col("e1.d") == F.col("e2.s"))
            .agg(F.count("*").alias("two_hop_count"))
        )

    def triangle_count(self) -> DataFrame:
        """Triangles in canonical undirected edges: s < m < d closing
        edge (s, d) (`_triangles`).

        The edge frame is lazily cut first: without it the three join
        sides each re-derive the whole upstream edge subplan (exchange
        reuse never fires across a derivation's lambda-bearing
        aggregate). With the cut, the first action materializes the
        edges once and all three sides read blocks. Graphs already
        checkpointed pay one redundant edge-block write — edge-sized,
        dwarfed by the two removed derivations."""
        e = self._cut(self.edges, eager=False)
        return self._triangles(e).agg(F.count("*").alias("triangle_count"))

    # Edge sets under this row count get broadcast hints in the
    # reduction joins (~128 MB of (long, long) pairs — comfortably
    # inside executor memory); above it the same plan falls back to
    # shuffled joins. The size test is a driver-side count the
    # iterative callers are already paying for convergence checks.
    BROADCAST_EDGE_LIMIT = 8_000_000

    def _bc(self, broadcast_edges: bool | None) -> bool:
        if broadcast_edges is None:
            # cache per Graph instance: callers invoking several
            # reduction ops on one (possibly un-checkpointed) edge
            # plan must not pay a full re-materializing count() each
            # time (review finding, round 2)
            n = getattr(self, "_n_edges", None)
            if n is None:
                n = self.edges.count()
                object.__setattr__(self, "_n_edges", n)
            return n < self.BROADCAST_EDGE_LIMIT
        return broadcast_edges

    def _two_paths(self) -> DataFrame:
        e1, e2 = self.edges.alias("e1"), self.edges.alias("e2")
        return (
            e1.join(e2, F.col("e1.d") == F.col("e2.s"))
            .select(F.col("e1.s").alias("s"), F.col("e2.d").alias("d"))
        )

    def transitive_edges(self, broadcast_edges: bool | None = None) -> DataFrame:
        """Edges (a, c) for which a 2-path a→b→c also exists — the
        removal set of one transitive-reduction round.

        Join shape (the 100 TB-relevant choice): the 2-path stream is
        Σ_v in(v)·out(v) rows — far bigger than the edge set — so it is
        semi-joined AGAINST the edges (small side broadcast when under
        BROADCAST_EDGE_LIMIT) instead of ever being shuffled whole:
        measured 3-6× faster at sf0.1 than the shuffle-the-paths plan.
        """
        e = self.edges
        tgt = F.broadcast(e) if self._bc(broadcast_edges) else e
        return (
            self._two_paths().join(tgt, ["s", "d"], "left_semi").distinct()
        )

    def transitive_reduction_round(
        self, broadcast_edges: bool | None = None
    ) -> DataFrame:
        """Surviving edges after removing one round of transitive edges.
        Two-step shape: removal = 2-paths ∩ edges (bounded by |E|),
        then a cheap anti-join of edges against the removal set — the
        huge 2-path stream is never the shuffle payload (see
        `transitive_edges`)."""
        bc = self._bc(broadcast_edges)
        removal = self.transitive_edges(broadcast_edges=bc)
        rem = F.broadcast(removal) if bc else removal
        return self.edges.join(rem, ["s", "d"], "left_anti")

    def tips(self, hub_degree: int = 3) -> DataFrame:
        """Dead-end vertices: degree-1 vertices whose sole neighbor has
        degree >= hub_degree (assembly tip-trimming shape).

        Single-aggregation shape: a degree-1 vertex appears in the
        (v, nbr) end list exactly once, so min(nbr) over its group IS
        its sole neighbor — one groupBy over the exploded ends yields
        degree AND neighbor together: per trim round 2 edge-block
        reads, one exchange and two vertex-sized (broadcast-able)
        filters.

        The explicit null filter is load-bearing twice over: null-v
        and null-nbr ends are never tips (an aggregate filter alone
        would keep a null-v group), and it keeps the aggregate's two
        consumers' pushed predicates identical. Even so, COLUMN
        PRUNING diverges the two subtrees (the hub side drops
        min(nbr)), so Catalyst/AQE never reuse the exchange — the
        vertex-sized aggregate is therefore cut lazily: the caller's
        first action over the tip set materializes it once and both
        consumers read the same blocks (O(V) block traffic replacing a
        second O(E) ends derivation+exchange)."""
        # (v, nbr) ends are _sym_edges renamed — ONE derivation of the
        # upstream edge subplan instead of one per union branch
        ends = self._sym_edges().select(
            F.col("s").alias("v"), F.col("d").alias("nbr")
        ).filter(F.col("v").isNotNull() & F.col("nbr").isNotNull())
        deg_nbr = ends.groupBy("v").agg(
            F.count("*").alias("degree"), F.min("nbr").alias("nbr")
        ).transform(self._cut, eager=False)
        d1 = deg_nbr.filter(F.col("degree") == 1).select("v", "nbr")
        hub = deg_nbr.filter(F.col("degree") >= hub_degree).select(
            F.col("v").alias("nbr")
        )
        return d1.join(hub, "nbr", "left_semi").select("v")

    def bubble_pairs(self, min_mids: int = 2) -> DataFrame:
        """(u, w) endpoint pairs joined by >= min_mids distinct internal
        vertices via 2-paths u→x→w — the bubble-detection shape.

        One-shot op (the loops use _bubble_removals): the edge frame is
        lazily cut first so the 2-path self-join's two sides read one
        materialized edge set instead of re-deriving the upstream
        subplan per side (as in triangle_count)."""
        e = self._cut(self.edges, eager=False)
        e1, e2 = e.alias("e1"), e.alias("e2")
        two_paths = (
            e1.join(e2, F.col("e1.d") == F.col("e2.s"))
            .select(
                F.col("e1.s").alias("u"),
                F.col("e1.d").alias("x"),
                F.col("e2.d").alias("w"),
            )
        )
        return (
            two_paths.groupBy("u", "w")
            .agg(F.countDistinct("x").alias("n_mids"))
            .filter(F.col("n_mids") >= min_mids)
        )

    # ---- fixpoint --------------------------------------------------------

    def connected_components(
        self, max_iter: int = 50, stats: dict | None = None
    ) -> DataFrame:
        """Min-label propagation to fixpoint → (v, component) with
        component = min vertex id in the component (order-free, hence
        deterministic). O(diameter) rounds — see
        `connected_components_twophase` for the O(log n) contraction
        variant. `stats` records {"rounds": k}; a graph whose diameter
        exceeds max_iter raises (see `_fixpoint`).
        """
        # _sym_edges builds sym in ONE derivation, and labels come from
        # the CHECKPOINTED sym blocks (every vertex appears as sym.s —
        # each edge contributes both directions), so the edge
        # derivation runs exactly once per CC call. The labels distinct
        # reuses sym's hashpartitioning(s) — no new exchange. Lazy
        # cuts: round 1's mass/convergence action materializes them.
        sym = self._cut(self._sym_edges().repartition("s"), eager=False)
        labels = self._cut(
            sym.select(F.col("s").alias("v"))
            .distinct()
            .select(F.col("v"), F.col("v").alias("component")),
            eager=False,
        )

        # Mass-based convergence (equal decimal sum ⟺ no label changed)
        # is only sound when the cast to decimal(38,0) is lossless:
        # integral types only.  Fractional ids (float/double, decimal
        # with scale>0) would round under the cast, so sub-integer label
        # movement could leave the rounded mass unchanged and declare a
        # false fixpoint — those fall back to the exact comparison
        # join, same as string ids.
        _ctype = labels.schema["component"].dataType
        numeric_ids = isinstance(
            _ctype, (ByteType, ShortType, IntegerType, LongType)
        ) or (isinstance(_ctype, DecimalType) and _ctype.scale == 0)

        def _label_mass(lab):
            # exact decimal sum — labels only DECREASE under min-
            # propagation, so equal mass ⟺ no label changed; one
            # aggregate scan instead of a full label-set comparison
            # join (change-set-first economics, SCALE.md). Decimal(38)
            # so huge vertex ids cannot wrap.
            return lab.agg(
                F.sum(F.col("component").cast("decimal(38,0)"))
            ).collect()[0][0]

        def _changed(new_lab, old_lab):
            return (
                new_lab.alias("n")
                .join(old_lab.alias("o"), "v")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )

        def _round(state, r):
            labels, mass = state
            # candidate label per vertex = min over neighbors' labels
            nbr_min = (
                sym.join(labels, sym.s == labels.v)
                .groupBy(F.col("d").alias("v"))
                .agg(F.min("component").alias("nbr_component"))
            )
            new_labels = self._cut(
                labels.join(nbr_min, "v", "left").select(
                    "v",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_component"), F.col("component")),
                    ).alias("component"),
                ),
                eager=False,
            )
            if numeric_ids:
                new_mass = _label_mass(new_labels)
                return (new_labels, new_mass), new_mass == mass, new_mass
            changed = _changed(new_labels, labels)
            return (new_labels, None), changed == 0, changed

        mass = _label_mass(labels) if numeric_ids else None
        (labels, _), _ = self._fixpoint(
            "connected_components", _round, (labels, mass), max_iter, stats
        )
        return labels

    def connected_components_twophase(
        self, max_iter: int = 30, stats: dict | None = None
    ) -> DataFrame:
        """Connected components by alternating large-star / small-star
        contraction (the O(log n)-round MapReduce CC construction,
        Kiveris et al., "Connected Components in MapReduce and
        Beyond") → (v, component), component = min vertex id.

        Each round is two groupBy+join passes over edges kept oriented
        big→small; round count is O(log n) regardless of graph
        DIAMETER — the property min-label propagation
        (`connected_components`, O(diameter) rounds) lacks on long
        chains. Same output contract, same qg4 oracle; `stats` (if
        given) records {"rounds": k} for the round-count comparison.
        """
        verts = self._cut(self.vertex_ids(), eager=False)
        e = self._cut(
            self.edges.select("s", "d")
            .filter(F.col("s") != F.col("d"))
            .select(
                F.greatest("s", "d").alias("u"), F.least("s", "d").alias("v")
            )
            .distinct(),
            eager=False,
        )

        def _edge_sig_n(df):
            # order-insensitive exact-decimal sum of per-edge hashes:
            # equal signatures make set equality overwhelmingly likely,
            # and the ONE exact subtract below confirms it — a single
            # aggregate scan per round plus one confirm at the fixpoint
            # instead of a per-round set difference (change-set-first
            # economics, SCALE.md). The count rides the SAME aggregate,
            # whose job also materializes the round's lazy checkpoint.
            row = df.agg(
                F.count(F.lit(1)),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            ).collect()[0]
            return row[0], row[1]

        def _round(state, r):
            e, n_prev, sig = state
            # large-star: every neighbor v > u links to min(Γ(u) ∪ {u})
            sym = e.select("u", "v").union(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            m = (
                sym.groupBy("u")
                .agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m"))
            )
            e1 = (
                sym.join(m, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct()
            )
            # small-star: edges already orient u > v; all smaller
            # neighbors (and u) link to the minimum
            m2 = e1.groupBy("u").agg(F.min("v").alias("m"))
            e2 = self._cut(
                e1.join(m2, "u")
                .filter(F.col("v") != F.col("m"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(m2.select("u", F.col("m").alias("v")))
                .distinct(),
                eager=False,
            )
            n2, sig2 = _edge_sig_n(e2)
            done = (
                n2 == n_prev
                and sig2 == sig
                and e2.subtract(e).isEmpty()  # exact confirm, runs once
            )
            return (e2, n2, sig2), done, n2

        (e, _, _), _ = self._fixpoint(
            "connected_components_twophase", _round, (e, *_edge_sig_n(e)),
            max_iter, stats,
        )
        # at fixpoint e is a star forest: (vertex, component-min) pairs
        labels = e.groupBy("u").agg(F.min("v").alias("component")).select(
            F.col("u").alias("v"), "component"
        )
        roots = verts.join(
            labels.select("v"), "v", "left_anti"
        ).select("v", F.col("v").alias("component"))
        return labels.union(roots)

    def bfs_hops(self, sources: DataFrame, max_hops: int = 10) -> DataFrame:
        """Multi-source BFS over the undirected graph → (v, hop) with
        hop = min #edges from any source (≤ max_hops). Frontier
        iteration: each round is one join + one anti-join, frontier
        checkpointed to cut lineage; rounds = graph diameter."""
        sym = self._cut(self._sym_edges(), eager=True)
        dist = self._cut(
            sources.select(F.col("v"), F.lit(0).alias("hop")), eager=True
        )
        frontier = dist.select("v")
        for h in range(1, max_hops + 1):
            nxt = self._cut(
                frontier.join(sym, frontier.v == sym.s)
                .select(F.col("d").alias("v"))
                .distinct()
                .join(dist.select("v"), "v", "left_anti"),
                eager=True,
            )
            if nxt.isEmpty():
                break
            dist = self._cut(
                dist.union(nxt.select("v", F.lit(h).alias("hop"))), eager=True
            )
            frontier = nxt
        return dist

    def reduce_pipeline(
        self,
        max_iter: int = 5,
        hub_degree: int = 3,
        stats: dict | None = None,
    ) -> DataFrame:
        """The SORA-shaped overlap-reduction loop: alternately remove
        transitive edges and trim tips until a fixpoint; raises if
        max_iter rounds do not reach it (see `_fixpoint`). Returns the
        surviving edge set. Each round = two bounded join passes + a
        checkpoint; the convergence count() is the per-round barrier
        (SURVEY §3.4). `stats` (if given) records {"rounds": k,
        "edge_counts": [n0, n1, ...]}.

        The 2-path transitive-removal join — the loop's dominant cost —
        runs ONLY in round 1: removal can destroy 2-paths but never
        create one, so a set with no transitive edges stays transitive-
        free under any further edge removal (if (A,C) plus a surviving
        2-path A→B→C existed after round 1, all three edges survived
        FROM round 1's input, where (A,C) was therefore transitive and
        removed — contradiction). Rounds >= 2 are pure tip-trims, and
        the unrolled oracles (which re-apply the transitive stage every
        round) still match exactly because that stage is the identity
        from round 2 on."""
        edges = self._cut(self.edges, eager=False)
        # MEASURED AND REJECTED: flooring the checkpointed edge blocks
        # at the core count (the q15 _parallelize_candidates recipe)
        # widened the 2-path stage from ~10 to 32 tasks and looked
        # faster in isolation (7.9 -> 5.7 s wall), but task CPU DOUBLED
        # (round: 30 -> 62 s; whole pipeline: 40 -> 117 s) — each extra
        # task re-pays a broadcast-relation deserialization
        # proportional to the 1.2M-edge build side, so per-task
        # overhead here scales with the broadcast size, not a constant.
        # AQE's coalescing of the edge shuffle is protecting CPU, not
        # wasting width; the q15 floor remains correct because its
        # broadcast side is probe-sized (hundreds of rows), not
        # edge-sized.
        n0 = edges.count()

        def _round(state, r):
            edges, prev = state
            g = replace(self, edges=edges)
            # seed the broadcast gate with the count the loop already
            # paid for — a fresh Graph would otherwise re-count the
            # checkpointed edge set (one redundant job per round)
            object.__setattr__(g, "_n_edges", prev)
            if r == 1:
                # checkpoint the reduced edges BEFORE the tip trim: the
                # trim plan references this subplan several times (edge
                # stream + degree/tip derivation), and only the input
                # exchanges — not the 2-path semi-join itself — get
                # ReusedExchange'd, so without the cut the round's
                # heaviest join runs 3-4x. Lazy cut: the tips count job
                # below materializes it (block-level locks serialize
                # concurrent first readers).
                reduced = self._cut(g.transitive_reduction_round(), eager=False)
            else:
                reduced = edges
            # tips-first convergence: the tip set is degree-1-bounded
            # and TINY, so materialize it once — when it is empty the
            # trim is the identity, so the round's anti-join + full
            # edge-set checkpoint + count are skipped and no confirm
            # round is needed. `rounds`/`edge_counts` stop at the
            # detection round.
            tips = self._cut(
                replace(self, edges=reduced).tips(hub_degree=hub_degree),
                eager=False,
            )
            if tips.count() == 0:
                n = reduced.count() if r == 1 else prev
                return (reduced, n), True, n
            edges = self._cut(
                self._trim_with_tips(reduced, tips, g._bc(None)), eager=False
            )
            n = edges.count()
            return (edges, n), n == prev, n

        (edges, _), counts = self._fixpoint(
            "reduce_pipeline", _round, (edges, n0), max_iter, stats
        )
        if stats is not None:
            stats["edge_counts"] = [n0, *counts]
        return edges

    def _trim_tips(self, edges: DataFrame, hub_degree: int, bc: bool) -> DataFrame:
        """Remove edges touching a tip vertex. The tip set is bounded by
        the degree-1 vertex count, far under the edge count, so under
        the broadcast gate BOTH anti-joins are broadcast hash joins in
        one whole-stage-codegen pass over the edges — the per-round
        trim never shuffles the edge set."""
        tips = replace(self, edges=edges).tips(hub_degree=hub_degree)
        return self._trim_with_tips(edges, tips, bc)

    @staticmethod
    def _trim_with_tips(edges: DataFrame, tips: DataFrame, bc: bool) -> DataFrame:
        t = F.broadcast(tips) if bc else tips
        return (
            edges.join(t.withColumnRenamed("v", "s"), "s", "left_anti")
            .join(t.withColumnRenamed("v", "d"), "d", "left_anti")
            .select("s", "d")
        )

    def pop_bubbles_round(
        self, min_mids: int = 2, broadcast_edges: bool | None = None
    ) -> DataFrame:
        """One bubble-pop round: for every bubble pair (u, w) joined by
        >= min_mids distinct internal vertices x via 2-paths u→x→w,
        keep the path through the MINIMUM mid (order-free, hence
        deterministic) and remove the edges (u, x), (x, w) of every
        other mid. Returns the surviving edge set.

        Monotone — only removes edges — so the fixpoint can be
        certified by an unrolled-SQL oracle exactly like the reduction
        loop (qg11b trick). Scale shape mirrors `transitive_edges`:
        the 2-path stream is derived ONCE and aggregated straight to
        the doomed-mid set (see `_bubble_removals`), the removal set
        is bounded by bubble-pair count << |E| and is broadcast into
        the final anti-join, so the edge set itself never shuffles."""
        bc = self._bc(broadcast_edges)
        removal = self._bubble_removals(min_mids)
        rem = F.broadcast(removal) if bc else removal
        return self.edges.join(rem, ["s", "d"], "left_anti")

    def _bubble_removals(self, min_mids: int) -> DataFrame:
        """The edge-removal set of one bubble-pop round (see
        `pop_bubbles_round`) — bounded by bubble-pair count << |E|,
        so callers can materialize it to TEST for convergence before
        paying the edge-set anti-join (the assembly loop does).

        Single-derivation shape: the 2-path stream — the round's
        dominant cost — is derived ONCE and aggregated straight to the
        doomed-mid set via collect_set: per (u, w), mids = the
        distinct x set, keep = array_min(mids), doomed = explode(mids
        \\ keep). Probing the 2-paths against a (u, w, keep) table
        instead would run the Σ in(v)·out(v) join once per consumer
        (only input exchanges get reused). Per-row memory is one
        distinct-mid set per bubble pair — linear in min(out(u),
        in(w)), never the k²/2 pair expansion rejected for qd5. The
        doomed set is lazily cut (bubble-bounded, tiny) so the union's
        two branches read blocks instead of re-aggregating.

        The explicit null filter pins the (u, w) key semantics: a
        null u or w is never a bubble pair, so those 2-paths produce
        no removals; x is a join key (e1.d = e2.s) and can never be
        null."""
        e1, e2 = self.edges.alias("e1"), self.edges.alias("e2")
        doomed = (
            e1.join(e2, F.col("e1.d") == F.col("e2.s"))
            .select(
                F.col("e1.s").alias("u"),
                F.col("e1.d").alias("x"),
                F.col("e2.d").alias("w"),
            )
            .filter(F.col("u").isNotNull() & F.col("w").isNotNull())
            .groupBy("u", "w")
            .agg(F.collect_set("x").alias("mids"))
            .filter(F.size("mids") >= min_mids)
            .select(
                "u",
                "w",
                F.explode(
                    F.array_remove(F.col("mids"), F.array_min(F.col("mids")))
                ).alias("x"),
            )
            .transform(self._cut, eager=False)
        )
        return (
            doomed.select(F.col("u").alias("s"), F.col("x").alias("d"))
            .union(doomed.select(F.col("x").alias("s"), F.col("w").alias("d")))
            .distinct()
        )

    def assembly_pipeline(
        self,
        max_iter: int = 5,
        hub_degree: int = 3,
        min_mids: int = 2,
        stats: dict | None = None,
    ) -> DataFrame:
        """The FULL SORA assembly reduction (SURVEY §0.3 steps 2-4 as
        staged fixpoints): (a) transitive-reduction + tip-trim loop to
        fixpoint (`reduce_pipeline`), then (b) bubble-pop loop to
        fixpoint; each stage raises if max_iter rounds do not reach
        its fixpoint. Returns the surviving edge set; compaction (step
        5) runs on the result via `chain_edges` + `compact_chains`
        (qg17). Both stages only REMOVE edges, so an unrolled-SQL
        oracle with unroll >= rounds-to-fixpoint is exactly the
        fixpoint (qg11b argument, extended). Each bubble round is
        checkpointed and ends in the count() convergence barrier;
        `stats` records reduce/bubble round counts and edge counts."""
        rstats: dict = {}
        edges = self.reduce_pipeline(
            max_iter=max_iter, hub_degree=hub_degree, stats=rstats
        )

        def _round(state, r):
            edges, prev = state
            g = replace(self, edges=edges)
            # seed the broadcast gate (see reduce_pipeline) — `prev`
            # is exactly this round's edge count
            object.__setattr__(g, "_n_edges", prev)
            # removal-first convergence (the tips-first trick of
            # reduce_pipeline): the removal set is bubble-bounded — when
            # empty, skip the anti-join + full-edge checkpoint and the
            # no-op confirm round
            removal = self._cut(g._bubble_removals(min_mids), eager=False)
            if removal.count() == 0:
                return state, True, prev
            edges = self._cut(
                edges.join(
                    F.broadcast(removal) if g._bc(None) else removal,
                    ["s", "d"],
                    "left_anti",
                ),
                eager=False,
            )
            n = edges.count()
            return (edges, n), n == prev, n

        (edges, _), counts = self._fixpoint(
            "assembly_pipeline (bubble loop)", _round,
            (edges, rstats["edge_counts"][-1]), max_iter, stats,
            key="bubble_rounds",
        )
        if stats is not None:
            stats["reduce_rounds"] = rstats["rounds"]
            stats["edge_counts"] = rstats["edge_counts"] + counts
        return edges

    def chain_edges(self) -> DataFrame:
        """The non-branching (unitig-able) subgraph: directed edges
        (s, d) where s has out-degree 1 and d has in-degree 1. Every
        vertex then has <= 1 outgoing and <= 1 incoming chain edge, so
        the result is a union of simple paths — the precondition
        `compact_chains` needs.

        One-pass degrees (`_io_degrees`); the vertex-sized degree
        table is lazily cut (column pruning diverges its two consumers,
        defeating exchange reuse — see tips()) and both semi-joins
        filter it. A vertex absent from the s column has outd = 0 and
        is never in the out-degree-1 set; same for in."""
        deg = self._cut(self._io_degrees(self.edges), eager=False)
        out1 = deg.filter(F.col("o") == 1).select(F.col("v").alias("s"))
        in1 = deg.filter(F.col("i") == 1).select(F.col("v").alias("d"))
        return (
            self.edges.join(out1, "s", "left_semi")
            .join(in1, "d", "left_semi")
            .select("s", "d")
        )

    def reduce_rounds(self, n_rounds: int = 2, hub_degree: int = 3) -> DataFrame:
        """Exactly `n_rounds` of the reduction loop body, NO convergence
        check — the SQL-expressible (unrollable) twin of
        `reduce_pipeline`, used by the oracle-checked qg11."""
        edges = self._cut(self.edges, eager=True)
        for _ in range(n_rounds):
            g = replace(self, edges=edges)
            edges = self._cut(
                self._trim_tips(
                    g.transitive_reduction_round(), hub_degree, g._bc(None)
                ),
                eager=True,
            )
        return edges

    def k_core(self, k: int = 2, max_iter: int = 50) -> DataFrame:
        """Vertices of the k-core (maximal subgraph where every vertex
        has degree ≥ k, undirected) → (v,). Iterative peeling: drop
        sub-k vertices, recompute degrees, repeat to fixpoint — each
        round is one groupBy + two semi-joins on a checkpointed,
        shrinking edge set; rounds bounded by peeling depth. A partial
        peel is NOT a k-core, so exhausting max_iter raises."""
        e = self._cut(self._sym_edges().distinct(), eager=True)

        def _round(e, r):
            deg = e.groupBy("s").agg(F.count("*").alias("_deg"))
            # change-set-first convergence (SCALE.md): peel only when
            # sub-k vertices EXIST — the drop set is vertex-bounded and
            # cheap to test, the skipped work is two semi-joins plus a
            # full edge checkpoint on the final (no-op) round
            drop = self._cut(
                deg.filter(F.col("_deg") < k).select("s"), eager=True
            )
            n_drop = drop.count()
            if n_drop == 0:
                return e, True, 0
            keep = deg.filter(F.col("_deg") >= k).select("s")
            e = self._cut(
                e.join(keep, "s", "left_semi")
                .join(keep.withColumnRenamed("s", "d"), "d", "left_semi")
                .select("s", "d"),
                eager=True,
            )
            return e, False, n_drop

        e, _ = self._fixpoint("k_core", _round, e, max_iter)
        return e.select(F.col("s").alias("v")).distinct()

    def maximal_matching(
        self, max_iter: int = 30, stats: dict | None = None
    ) -> DataFrame:
        """Deterministic MAXIMAL matching of the undirected edge set →
        (x, y) matched pairs, x < y — the graph-coarsening primitive
        (multilevel partitioning, pair-merging dedup).

        Hash-salted mutual-proposal rounds (the Israeli–Itai shape
        made deterministic): each round every unmatched vertex
        proposes to its incident neighbor minimizing
        (md5(round:s:d), neighbor); mutual proposals match, matched
        vertices leave, repeat until no edges remain. The per-ROUND
        salt is the point — static min-neighbor proposals form long
        proposal chains that match one pair per round (measured 73
        rounds on the sf0.001 co-occurrence graph), while re-salting
        each round breaks chains and converges in O(log) rounds
        (measured 6/5/4 at sf0.001/0.01/0.1). Each round: one
        edge-hash projection (map-side), one argmin groupBy, one
        self-join of the vertex-sized proposal table, two anti-joins
        on the shrinking edge set. Progress is guaranteed: the
        globally-minimal-hash edge is mutual every round. Maximality:
        the loop only stops when the residual edge set is empty."""
        e = self._cut(
            self.edges.select(
                F.least("s", "d").alias("s"), F.greatest("s", "d").alias("d")
            )
            .filter(F.col("s") != F.col("d"))
            .distinct(),
            eager=True,
        )
        if e.isEmpty():
            if stats is not None:
                stats["rounds"] = 0
            return e.select(F.col("s").alias("x"), F.col("d").alias("y"))

        def _round(state, r):
            e, out = state
            ph = F.md5(
                F.concat_ws(
                    ":",
                    F.lit(str(r)),
                    F.col("s").cast("string"),
                    F.col("d").cast("string"),
                )
            )
            # explode emits both orientations around ONE hash
            # evaluation per edge, over one scan of the edge blocks
            sym = e.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("s").alias("v"), F.col("d").alias("u")
                        ),
                        F.struct(
                            F.col("d").alias("v"), F.col("s").alias("u")
                        ),
                    )
                ).alias("p"),
                ph.alias("ph"),
            ).select("p.v", "p.u", "ph")
            cand = (
                sym.groupBy("v")
                .agg(F.min(F.struct("ph", "u")).alias("p"))
                .select("v", F.col("p.u").alias("u"))
            )
            a, b = cand.alias("a"), cand.alias("b")
            newm = self._cut(
                a.join(
                    b,
                    (F.col("a.u") == F.col("b.v"))
                    & (F.col("b.u") == F.col("a.v")),
                )
                .filter(F.col("a.v") < F.col("a.u"))
                .select(F.col("a.v").alias("x"), F.col("a.u").alias("y")),
                eager=True,
            )
            out = self._cut(
                newm if out is None else out.unionByName(newm), eager=True
            )
            mv = newm.select(F.col("x").alias("v")).union(
                newm.select(F.col("y").alias("v"))
            )
            e = self._cut(
                e.join(mv.withColumnRenamed("v", "s"), "s", "left_anti")
                .join(mv.withColumnRenamed("v", "d"), "d", "left_anti")
                .select("s", "d"),
                eager=True,
            )
            return (e, out), e.isEmpty(), None

        (_, out), _ = self._fixpoint(
            "maximal_matching", _round, (e, None), max_iter, stats
        )
        return out

    def strongly_connected_components(
        self, max_iter: int = 30, stats: dict | None = None
    ) -> DataFrame:
        """SCCs of the DIRECTED edge set → (v, component), component =
        min vertex id in the SCC (order-free ⇒ deterministic). The
        directed sibling of connected_components — the dataflow SCC
        algorithm (trim + forward/backward min-label peel), since
        Tarjan's stack does not distribute:

        per outer round: (a) TRIM — vertices with zero remaining
        in-degree or out-degree are singleton SCCs by definition; peel
        them repeatedly (this alone dissolves all DAG-shaped regions,
        one topological level per pass); (b) PROPAGATE — F(v) = min
        vertex that reaches v (min-label to fixpoint along edges),
        B(v) = min vertex v reaches (same along reversed edges);
        (c) PEEL — F(v) == B(v) == m ⟺ m reaches v and v reaches m ⟺
        v ∈ SCC(m): assign and remove. Every peeled set is a union of
        COMPLETE SCCs (soundness), and the SCC of each region's
        minimal vertex always peels (progress), so outer rounds are
        bounded by the SCC condensation depth, not |V| (measured 5/2/1
        at sf0.001/0.01/0.1 on the bounded lineitem digraph). Inner
        fixpoints reuse the CC shape: one join + min-aggregate per hop
        on a checkpointed shrinking edge set. `stats` records
        {"rounds": total trim passes}."""
        edges = self._cut(
            self.edges.select("s", "d")
            .filter(F.col("s") != F.col("d"))
            .distinct(),
            eager=True,
        )
        remaining = self._cut(self.vertex_ids(), eager=True)
        trim_rounds: list[int] = []

        def _propagate(e, vs):
            # min-label to fixpoint along DIRECTED edges: lab(v) =
            # min(v, min over in-neighbors' labels)
            def _mass(df_):
                # labels only decrease and are integral → equal decimal
                # mass ⟺ fixpoint (same soundness argument as CC)
                return df_.agg(
                    F.sum(F.col("lab").cast("decimal(38,0)"))
                ).collect()[0][0]

            def _hop(state, r):
                lab, m_old = state
                nbr = (
                    e.join(lab, e.s == lab.v)
                    .groupBy(F.col("d").alias("v"))
                    .agg(F.min("lab").alias("nl"))
                )
                new = self._cut(
                    lab.join(nbr, "v", "left").select(
                        "v",
                        F.least(
                            F.col("lab"), F.coalesce("nl", F.col("lab"))
                        ).alias("lab"),
                    ),
                    eager=True,
                )
                # carry the previous round's mass forward — one
                # aggregate scan (barrier) per hop, not two
                m_new = _mass(new)
                return (new, m_new), m_old == m_new, m_new

            lab = self._cut(vs.select("v", F.col("v").alias("lab")), eager=True)
            (lab, _), _ = self._fixpoint(
                "strongly_connected_components (label propagation)",
                _hop, (lab, _mass(lab)), max_iter * 4,
            )
            return lab

        def _emit(out, part):
            return self._cut(
                part if out is None else out.unionByName(part), eager=True
            )

        def _trim(state, r):
            # no-in or no-out vertices are singleton SCCs. core =
            # vertices with BOTH an in- and an out-edge, in ONE pass
            # over the checkpointed edges (`_io_degrees`). Edge ends are
            # null-free here (the s != d prefilter drops null-keyed
            # rows); the isNotNull filter pins that invariant explicitly.
            edges, remaining, out = state
            core = self._cut(
                self._io_degrees(edges)
                .filter(
                    F.col("v").isNotNull() & (F.col("o") > 0) & (F.col("i") > 0)
                )
                .select("v"),
                eager=True,
            )
            triv = remaining.join(core, "v", "left_anti")
            if triv.isEmpty():
                return state, True, None
            out = _emit(out, triv.select("v", F.col("v").alias("component")))
            edges = self._cut(
                edges.join(core, edges.s == core.v, "left_semi")
                .join(core.withColumnRenamed("v", "d"), "d", "left_semi")
                .select("s", "d"),
                eager=True,
            )
            return (edges, core, out), core.isEmpty(), None

        def _round(state, r):
            # (a) trim to fixpoint: each pass that does not stop
            # removes >= 1 vertex, so the trim terminates by construction
            tstats: dict = {}
            (edges, remaining, out), _ = self._fixpoint(
                "strongly_connected_components (trim)", _trim, state, None,
                tstats,
            )
            trim_rounds.append(tstats["rounds"])
            if remaining.isEmpty():
                return (edges, remaining, out), True, None
            # (b) forward / backward min labels
            fwd = _propagate(edges, remaining).withColumnRenamed("lab", "f")
            rev = edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
            bwd = _propagate(rev, remaining).withColumnRenamed("lab", "b")
            lab = fwd.join(bwd, "v")
            # (c) peel complete SCCs
            peel = self._cut(
                lab.filter(F.col("f") == F.col("b")).select(
                    "v", F.col("f").alias("component")
                ),
                eager=True,
            )
            out = _emit(out, peel)
            remaining = self._cut(
                remaining.join(peel, "v", "left_anti"), eager=True
            )
            if remaining.isEmpty():
                return (edges, remaining, out), True, None
            edges = self._cut(
                edges.join(peel, edges.s == peel.v, "left_anti")
                .join(peel.withColumnRenamed("v", "d"), "d", "left_anti")
                .select("s", "d"),
                eager=True,
            )
            return (edges, remaining, out), False, None

        (_, _, out), _ = self._fixpoint(
            "strongly_connected_components", _round,
            (edges, remaining, None), max_iter,
        )
        if stats is not None:
            stats["rounds"] = sum(trim_rounds)
        return out

    def k_truss(
        self, k: int = 5, max_iter: int = 30, stats: dict | None = None
    ) -> DataFrame:
        """Edges of the k-truss (maximal subgraph where every edge is
        supported by ≥ k−2 triangles WITHIN the subgraph, undirected)
        → (s, d, support), canonical s < d. The edge-density analog of
        k-core: cores bound degree, trusses bound cohesion — the
        standard community-detection tightening.

        Iterative support peeling: per round, enumerate canonical
        a<b<c triangles on the surviving edge set (the same two-join
        wedge shape as triangle_count — candidate wedges bounded by
        per-vertex degree), charge each triangle to its three edges,
        drop edges with support < k−2, repeat to fixpoint. Change-set-
        first convergence like k_core: the drop set is tested first
        and the round's filter + checkpoint are skipped when it is
        empty. Rounds are bounded by peeling depth (measured: ≤ 7 at
        sf0.001–0.1 for k=5 on the bounded co-occurrence graph); a
        partial peel is NOT a k-truss, so exhausting max_iter raises.
        `stats` records {"rounds": k}."""
        e = self._cut(
            self.edges.select(
                F.least("s", "d").alias("s"), F.greatest("s", "d").alias("d")
            ).distinct(),
            eager=True,
        )

        def _support(cur):
            # exploding each triangle into its three edges charges the
            # (s, d) multiset over ONE triangle-enumeration join (a
            # union of three projections would run the join — the
            # round's dominant cost — once per branch)
            per_edge = self._triangles(cur).select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("s"), F.col("b").alias("d")),
                        F.struct(F.col("b").alias("s"), F.col("c").alias("d")),
                        F.struct(F.col("a").alias("s"), F.col("c").alias("d")),
                    )
                ).alias("e")
            ).select("e.s", "e.d")
            return per_edge.groupBy("s", "d").agg(
                F.count("*").alias("support")
            )

        def _round(e, r):
            scored = self._cut(
                e.join(_support(e), ["s", "d"], "left").select(
                    "s", "d", F.coalesce("support", F.lit(0)).alias("support")
                ),
                eager=True,
            )
            if scored.filter(F.col("support") < k - 2).isEmpty():
                return scored, True, None
            e = self._cut(
                scored.filter(F.col("support") >= k - 2).select("s", "d"),
                eager=True,
            )
            return e, False, None

        scored, _ = self._fixpoint("k_truss", _round, e, max_iter, stats)
        return scored

    def _power_iterate(self, verts, edges, out_deg, ranks, n_iter, update_fn):
        """Shared PageRank-family round loop: each round is one join
        (rank → out-edges) + one destination-sum groupBy, dangling mass
        riding as a broadcast 1-row aggregate, a checkpoint per
        round keeping the plan flat. `update_fn(dmass, contrib)`
        builds the new rank column — the ONLY thing that differs
        between uniform-teleport PageRank and seed-teleport PPR.
        Callers own the float op ORDER inside update_fn: the oracle
        hashes depend on it."""
        for _ in range(n_iter):
            with_deg = ranks.join(
                out_deg, ranks.v == out_deg.s, "left"
            ).select(ranks.v, "rank", "_od")
            # mass of vertices with no out-edges, as a 1-row frame —
            # broadcast into the update instead of collected
            dangling = with_deg.filter(F.col("_od").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dmass")
            )
            contrib = (
                edges.join(
                    with_deg.filter(F.col("_od").isNotNull()),
                    edges.s == with_deg.v,
                )
                .select(
                    F.col("d").alias("v"),
                    (F.col("rank") / F.col("_od")).alias("c"),
                )
                .groupBy("v")
                .agg(F.sum("c").alias("c"))
            )
            ranks = (
                verts.join(contrib, "v", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "v",
                    update_fn(
                        F.col("_dmass"), F.coalesce("c", F.lit(0.0))
                    ).alias("rank"),
                )
                .transform(self._cut, eager=True)
            )
        return ranks

    def pagerank(
        self,
        n_iter: int = 10,
        damping: float = 0.85,
        stats: dict | None = None,
    ) -> DataFrame:
        """Power-iteration PageRank over the DIRECTED edge set →
        (v, rank), ranks summing to |V| (the classic normalization).
        Dangling-vertex mass is redistributed uniformly each round.

        Each round is one join (rank → out-edges) + one groupBy (sum
        contributions at the destination) — the standard two-shuffle
        PageRank dataflow; a lineage cut per round keeps the plan
        flat. Dangling mass rides the same round as a broadcast 1-row
        aggregate (cross-join), so each round is exactly ONE action
        (the ranks checkpoint) — no separate driver-side scalar job."""
        # checkpoint the edge set and degree table once so the per-round
        # action never re-evaluates the full edge derivation; verts come
        # from the CHECKPOINTED blocks (one upstream derivation total;
        # deriving them from self.edges would pay a second one)
        edges = self.edges.select("s", "d").transform(self._cut, eager=True)
        verts = (
            edges.select(F.explode(F.array("s", "d")).alias("v"))
            .distinct()
            .transform(self._cut, eager=True)
        )
        n_v = verts.count()
        out_deg = edges.groupBy("s").agg(
            F.count("*").alias("_od")
        ).transform(self._cut, eager=True)
        ranks = verts.select("v", F.lit(1.0).alias("rank")).transform(self._cut, eager=True)

        # same float op order as the collected-scalar form:
        # ((1-d) + (d*D)/n) + d*c — keeps qg14's hash stable
        def update(dmass, contrib):
            base = (
                F.lit(1.0 - damping)
                + (F.lit(damping) * dmass) / F.lit(float(n_v))
            )
            return base + F.lit(damping) * contrib

        ranks = self._power_iterate(
            verts, edges, out_deg, ranks, n_iter, update
        )
        if stats is not None:
            stats["rounds"] = n_iter
        return ranks

    def personalized_pagerank(
        self,
        seeds: list,
        n_iter: int = 10,
        damping: float = 0.85,
    ) -> DataFrame:
        """Personalized PageRank: the teleport vector concentrates on
        `seeds` (uniform over the seed set) instead of all vertices —
        r_{i+1}(v) = (1-d)·s(v) + d·(dangling·s(v) + Σ_in r_i(u)/od(u)),
        s(v) = 1/|S| on seeds, 0 elsewhere. Dangling mass teleports to
        the seeds too (the standard PPR convention), so total mass
        stays 1. The recommendation / similarity-from-a-source
        primitive; same two-shuffle round dataflow as `pagerank`, with
        the seed indicator broadcast into the update (the seed list is
        user-supplied and tiny by definition). Duplicate seed ids are
        deduplicated (each DISTINCT seed gets 1/|S|); a seed absent
        from the graph is a loud ValueError — its teleport share would
        otherwise silently vanish (ranks exist only for graph
        vertices), breaking the mass invariant."""
        seeds = sorted(set(seeds))
        if not seeds:
            raise ValueError(
                "personalized_pagerank: seeds must be non-empty"
            )
        # edges first, verts from the CHECKPOINTED blocks — one
        # upstream derivation instead of two (the pagerank order)
        edges = self.edges.select("s", "d").transform(self._cut, eager=True)
        verts = (
            edges.select(F.explode(F.array("s", "d")).alias("v"))
            .distinct()
            .transform(self._cut, eager=True)
        )
        present = {
            r.v
            for r in verts.filter(F.col("v").isin(list(seeds))).collect()
        }
        missing = [x for x in seeds if x not in present]
        if missing:
            raise ValueError(
                f"personalized_pagerank: seeds not in graph: {missing!r}"
            )
        out_deg = edges.groupBy("s").agg(
            F.count("*").alias("_od")
        ).transform(self._cut, eager=True)
        n_s = float(len(seeds))
        seed_ind = F.when(
            F.col("v").isin(list(seeds)), F.lit(1.0 / n_s)
        ).otherwise(F.lit(0.0))
        ranks = verts.select("v", seed_ind.alias("rank")).transform(self._cut, eager=True)

        # float op order fixed for the oracle hash:
        # s(v)*((1-d) + d*D) + d*c
        def update(dmass, contrib):
            return (
                seed_ind
                * (F.lit(1.0 - damping) + F.lit(damping) * dmass)
                + F.lit(damping) * contrib
            )

        return self._power_iterate(
            verts, edges, out_deg, ranks, n_iter, update
        )

    def shortest_paths(
        self,
        sources: DataFrame,
        weight_col: str | None = None,
        max_iter: int = 20,
    ) -> DataFrame:
        """Single/multi-source shortest path over DIRECTED edges →
        (v, dist): Bellman-Ford as iterative relaxation. `weight_col`
        names a non-negative edge weight (default: every edge = 1.0,
        i.e. weighted BFS). Converges when no distance improves —
        checked with one count() per round; each round is one join +
        one min-aggregation, checkpointed. Raises RuntimeError if
        max_iter rounds still improve distances (a silent truncation
        would return plausible but incomplete/non-minimal rows; a path
        graph needs up to |V|-1 rounds)."""
        w = (
            F.col(weight_col)
            if weight_col is not None
            else F.lit(1.0)
        )
        e = self.edges.select("s", "d", w.cast("double").alias("_w"))
        dist = self._cut(
            sources.select(F.col("v"), F.lit(0.0).alias("dist")), eager=True
        )

        def _round(dist, r):
            cand = self._cut(
                e.join(dist, e.s == dist.v)
                .select(F.col("d").alias("v"), (F.col("dist") + F.col("_w")).alias("dist"))
                .union(dist)
                .groupBy("v")
                .agg(F.min("dist").alias("dist")),
                eager=True,
            )
            improved = (
                cand.alias("c")
                .join(dist.alias("p"), "v", "left")
                .filter(
                    F.col("p.dist").isNull() | (F.col("c.dist") < F.col("p.dist"))
                )
                .count()
            )
            return cand, improved == 0, improved

        dist, _ = self._fixpoint("shortest_paths", _round, dist, max_iter)
        return dist

    def compact_chains(
        self,
        max_iter: int = 30,
        with_paths: bool = False,
        stats: dict | None = None,
    ) -> DataFrame:
        """Compact maximal non-branching chains (unitigs) by pointer
        doubling → (start, end, length) [+ path]. Requires a
        chain-union graph (every vertex in/out-degree ≤ 1); path
        lengths double each round, so convergence is O(log
        longest-chain) shuffles instead of O(length) — the difference
        that matters at 100 TB. A chain longer than 2^max_iter raises;
        a pure cycle (no start vertex, so no output row) may run to
        max_iter.

        `with_paths=True` additionally carries the merged vertex label
        ('-'-joined ids, the assembly analog of concatenating read
        sequences into the unitig): each row's label covers [v..end),
        so doubling is plain label concatenation and the final path
        appends `end`. Label bytes double per round alongside dist —
        at genome scale this is the expected output size (the contigs
        themselves), not overhead.
        """
        lab0 = (
            [F.concat(F.col("s").cast("string"), F.lit("-")).alias("lab")]
            if with_paths
            else []
        )
        p = self._cut(
            self.edges.select(
                F.col("s").alias("v"),
                F.col("d").alias("end"),
                F.lit(1).alias("dist"),
                *lab0,
            ),
            eager=False,
        )
        starts = self.edges.select(F.col("s").alias("v")).subtract(
            self.edges.select(F.col("d").alias("v"))
        )

        def _round(p, r):
            a, b = p.alias("a"), p.alias("b")
            lab = (
                [
                    F.concat(
                        F.col("a.lab"), F.coalesce(F.col("b.lab"), F.lit(""))
                    ).alias("lab")
                ]
                if with_paths
                else []
            )
            p = self._cut(
                a.join(b, F.col("a.end") == F.col("b.v"), "left").select(
                    F.col("a.v").alias("v"),
                    F.coalesce(F.col("b.end"), F.col("a.end")).alias("end"),
                    (
                        F.col("a.dist") + F.coalesce(F.col("b.dist"), F.lit(0))
                    ).alias("dist"),
                    *lab,
                ),
                eager=False,
            )
            # the convergence agg materializes the lazy cut — one job
            # per doubling round. Cap-based test: after r rounds dist =
            # min(chain length from v, 2^r) (induction: a capped row's
            # successor contributes min(L - 2^(r-1), 2^(r-1))), so
            # max(dist) < 2^r means no row hit the cap — every chain
            # already reached its end and the NEXT round would be the
            # identity. A cycle (in/out degree 1 everywhere, no chain
            # end) pins max(dist) == 2^r forever; its rows drop at the
            # `starts` semi-join below.
            mx = p.agg(F.max("dist")).collect()[0][0]
            done = mx is None or mx < (1 << r)
            if not done and r == max_iter:
                # at the cap only cycles may still be capped: a chain is
                # unfinished iff its start row's `end` still has a
                # successor row (one extra job, at the cap only)
                done = (
                    p.join(starts, "v", "left_semi")
                    .join(p.select(F.col("v").alias("end")), "end", "left_semi")
                    .isEmpty()
                )
            return p, done, mx

        p, _ = self._fixpoint("compact_chains", _round, p, max_iter, stats)
        path = (
            [F.concat(F.col("lab"), F.col("end").cast("string")).alias("path")]
            if with_paths
            else []
        )
        return (
            p.join(starts, "v", "left_semi")
            .select(
                F.col("v").alias("start"),
                "end",
                F.col("dist").alias("length"),
                *path,
            )
        )

    def component_size_histogram(
        self, max_iter: int = 50, method: str = "minlabel"
    ) -> DataFrame:
        if method == "twophase":
            comp = self.connected_components_twophase(max_iter=max_iter)
        elif method == "minlabel":
            comp = self.connected_components(max_iter=max_iter)
        else:
            raise ValueError(
                f"component_size_histogram: unknown method {method!r}"
                " (expected 'minlabel' or 'twophase')"
            )
        sizes = comp.groupBy("component").agg(F.count("*").alias("component_size"))
        return sizes.groupBy("component_size").agg(F.count("*").alias("n_components"))

    def label_propagation(self, n_rounds: int = 2) -> DataFrame:
        """Synchronous label propagation (community detection) for a
        FIXED number of rounds → (v, lab). Deterministic by contract:
        each round every vertex simultaneously adopts the most frequent
        label among its distinct-neighbor set, ties broken by the
        smallest label (sync LPA can oscillate on bipartite structure,
        so the declared semantics is round-count, not convergence —
        callers wanting a fixpoint compare successive rounds).

        Per round: one equi-join edges⋈labels (shuffle on the label
        key), one (v, lab) count aggregation, one per-vertex window for
        the argmax — all partitioned by vertex, no driver data motion.
        A checkpoint per round cuts the lineage (SURVEY §4.3).
        """
        from pyspark.sql.window import Window

        # one derivation: _sym_edges + labels drawn from the
        # CHECKPOINTED sym blocks (every vertex appears as sym.s) — a
        # union + vertex_ids() pair would run the upstream edge
        # derivation four times before round 1
        sym = (
            self._sym_edges()
            .distinct()
            .repartition("d")
            .transform(self._cut, eager=True)
        )
        labels = (
            sym.select(F.col("s").alias("v"))
            .distinct()
            .select("v", F.col("v").alias("lab"))
            .transform(self._cut, eager=True)
        )
        w = Window.partitionBy("v").orderBy(F.desc("cnt"), F.asc("lab"))
        for _ in range(n_rounds):
            counts = (
                sym.join(labels, sym.d == labels.v)
                .groupBy(sym.s.alias("v"), "lab")
                .agg(F.count("*").alias("cnt"))
            )
            adopted = (
                counts.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("v", "lab")
            )
            # isolated vertices (possible under subclassing/filters)
            # keep their current label
            labels = (
                labels.select("v", F.col("lab").alias("_old"))
                .join(adopted, "v", "left")
                .select(
                    "v", F.coalesce(F.col("lab"), F.col("_old")).alias("lab")
                )
                .transform(self._cut, eager=True)
            )
        return labels

    def topological_levels(
        self,
        max_iter: int = 200,
        stats: dict | None = None,
        block: int = 4,
    ) -> DataFrame:
        """Kahn-peel topological levels over a DIRECTED ACYCLIC edge
        set → (v, level), level = LONGEST path from any source (a
        vertex peels only once all predecessors have peeled). Raises
        ValueError on a cycle — a partial level assignment is not a
        topological order — and RuntimeError when the depth exceeds
        max_iter. Rounds = DAG depth (structural, not data-sized: the
        overlap graph's depth is reads-per-document, flat across sf —
        SCALE.md).

        Per peel, the zero-in-degree frame is consumed three times
        (emit, edge anti-join, vertex anti-join) so it IS checkpointed
        every peel; the two big frames (remaining edges / unemitted
        vertices) are only checkpointed every `block` peels — their
        within-block lineage is a short anti-join chain over already-
        materialized zero frames, so nothing recomputes. This split
        beats both the checkpoint-everything form (driver-job bound)
        and the fully-lazy form (which recomputed each peel's
        anti-join three times) — measured at sf0.1. Peels past
        exhaustion inside a block emit empty frames — harmless; the
        block boundary checks convergence and cycles."""
        remaining = self._cut(self.edges.select("s", "d"), eager=True)
        # verts from the CHECKPOINTED blocks (remaining is the
        # unfiltered edge set, so its endpoints ARE the vertex set) —
        # one upstream derivation instead of two
        verts = self._cut(
            remaining.select(F.explode(F.array("s", "d")).alias("v")).distinct(),
            eager=True,
        )

        def _peel(state, r):
            remaining, verts, out, block_out = state
            targets = remaining.select(F.col("d").alias("v")).distinct()
            zero = self._cut(verts.join(targets, "v", "left_anti"), eager=True)
            lv = zero.select("v", F.lit(r - 1).alias("level"))
            block_out = lv if block_out is None else block_out.unionByName(lv)
            remaining = remaining.join(
                zero.withColumnRenamed("v", "s"), "s", "left_anti"
            )
            verts = verts.join(zero, "v", "left_anti")
            if r % block and r != max_iter:
                return (remaining, verts, out, block_out), False, None
            block_out = self._cut(block_out, eager=True)
            remaining = self._cut(remaining, eager=True)
            verts = self._cut(verts, eager=True)
            emitted = block_out.count()
            out = block_out if out is None else out.unionByName(block_out)
            done = emitted == 0 or verts.count() == 0
            if done and emitted == 0 and remaining.count() > 0:
                raise ValueError(
                    "topological_levels: cycle detected — "
                    f"{remaining.count()} edges undissolvable"
                )
            return (remaining, verts, out, None), done, emitted

        (_, _, out, _), _ = self._fixpoint(
            "topological_levels", _peel, (remaining, verts, None, None),
            max_iter,
        )
        if stats is not None:
            # the loop stops on a block boundary; the true depth is the
            # deepest emitted level + 1, and 0 for an empty graph
            # (max(level) is NULL then)
            deepest = out.agg(F.max("level")).collect()[0][0]
            stats["depth"] = (deepest + 1) if deepest is not None else 0
        return out

    def local_clustering(self) -> DataFrame:
        """Per-vertex local clustering coefficient → (v, degree, coef):
        coef = 2·triangles(v) / (deg·(deg−1)), 0.0 for degree < 2 —
        the per-vertex density signal behind community/spam structure
        analysis. Triangles are enumerated once on canonical (s<m<d)
        edges (same wedge join as triangle_count) and charged to all
        three corners via one explode; degrees reuse the symmetric
        count. Two equi-join shuffles + two groupBys, candidate wedges
        bounded by per-vertex degree exactly like the 2-hop operator.
        """
        # lazy cut: tri's three join sides + degrees() would otherwise
        # each re-derive the full upstream edge subplan (four
        # derivations for one coefficient); with the cut everything
        # reads one materialized edge set
        e = self._cut(self.edges, eager=False)
        per_v = (
            self._triangles(e).select(
                F.explode(F.array("a", "b", "c")).alias("v")
            )
            .groupBy("v")
            .agg(F.count("*").alias("t"))
        )
        return (
            replace(self, edges=e).degrees()
            .join(per_v, "v", "left")
            .select(
                "v",
                "degree",
                F.when(
                    F.col("degree") < 2, F.lit(0.0)
                )
                .otherwise(
                    2.0
                    * F.coalesce(F.col("t"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1))
                )
                .alias("coef"),
            )
        )

    def minimum_spanning_forest(
        self,
        weight_col: str = "w",
        max_iter: int = 30,
        stats: dict | None = None,
    ) -> DataFrame:
        """Minimum spanning forest by Borůvka rounds → (s, d, w): each
        round EVERY component picks its minimum outgoing edge under
        the (w, s, d) total order (the tie-break makes the MSF unique
        even with duplicate weights — equivalent to Kruskal under the
        same order, which is what the property test checks), chosen
        edges join the forest, and touched components contract.
        O(log V) rounds since components at least halve; per round two
        comp-label joins + one min_by aggregation, with the
        contraction itself a component-GRAPH-sized two-phase CC
        (second-order small). The standard scalable MST: no global edge sort, no
        union-find, every step a join or aggregation."""
        e = self._cut(
            self.edges.select(
                F.least("s", "d").alias("s"),
                F.greatest("s", "d").alias("d"),
                F.col(weight_col).alias("w"),
            ),
            eager=True,
        )
        # comp from the CHECKPOINTED canonical edges: least/greatest
        # keeps every endpoint (self-loops fold to (x, x)), so the
        # exploded ends are exactly the vertex set — one upstream
        # derivation instead of two
        comp = self._cut(
            e.select(F.explode(F.array("s", "d")).alias("v"))
            .distinct()
            .select("v", F.col("v").alias("c")),
            eager=True,
        )

        def _round(state, r):
            comp, forest = state
            cs = comp.select(F.col("v").alias("s"), F.col("c").alias("cs"))
            cd = comp.select(F.col("v").alias("d"), F.col("c").alias("cd"))
            lab = (
                e.join(cs, "s")
                .join(cd, "d")
                .filter(F.col("cs") != F.col("cd"))
            )
            pick = F.struct("w", "s", "d", "cs", "cd")
            cand = lab.select(F.col("cs").alias("cc"), pick.alias("p")).union(
                lab.select(F.col("cd").alias("cc"), pick.alias("p"))
            )
            chosen = self._cut(
                cand.groupBy("cc")
                .agg(F.min("p").alias("p"))
                .select("p.s", "p.d", "p.w", "p.cs", "p.cd")
                .distinct(),
                eager=True,
            )
            n_chosen = chosen.count()
            if n_chosen == 0:
                return state, True, 0
            picked = chosen.select("s", "d", "w")
            forest = self._cut(
                picked
                if forest is None
                else forest.unionByName(picked).distinct(),
                eager=True,
            )
            # contract: CC over the (cs, cd) merge graph — component-
            # count sized, shrinks >= 2x per round. Its trees can be
            # long paths (a path with rising weights merges whole in
            # round 1), so the O(log n)-round CC, not min-label's
            # O(diameter)
            merge = replace(
                self,
                edges=chosen.select(F.col("cs").alias("s"), F.col("cd").alias("d")),
            ).connected_components_twophase()
            comp = self._cut(
                comp.join(
                    merge.select(
                        F.col("v").alias("c"), F.col("component").alias("_nc")
                    ),
                    "c",
                    "left",
                ).select(
                    "v", F.coalesce(F.col("_nc"), F.col("c")).alias("c")
                ),
                eager=True,
            )
            return (comp, forest), False, n_chosen

        (_, forest), _ = self._fixpoint(
            "minimum_spanning_forest", _round, (comp, None), max_iter, stats
        )
        if forest is None:
            return e.limit(0)
        return forest
