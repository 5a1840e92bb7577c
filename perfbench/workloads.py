"""The benchmark's workloads: set-up, one op, and the op's correctness
gate, each calling the engine's public functions inside named spans.

An op returns a dict with its `kind`, the `items` it processed and its
`out`put; `check` turns that into a verdict ("pass", "fail" or
"unverified") and a reason, against the expected answers of
`oracles.py`, outside the timed region. Layer counts land on the
span records (`rec["counts"]`), which are None when tracing is off.
"""

from __future__ import annotations

import os
import shutil

# layer spans, in the order their metrics are listed
LAYER_SPANS = (
    "session.build_session",
    "llm.near_dup_clusters",
    "graph.derive_reads",
    "graph.overlap_edges",
    "graph.assembly_pipeline",
    "graph.compact_chains",
    "sources.merge_upsert",
    "sources.read_table",
    "sources.compact",
)

# work counts and useful-work ratios recorded at span boundaries
LAYER_COUNTS = {
    "llm.near_dup_clusters": ("clusters", "dup_frac"),
    "graph.assembly_pipeline": ("rounds", "edges_in", "edges_out",
                                "removed_frac", "max_job_cpu_frac"),
    "graph.compact_chains": ("rounds", "unitigs"),
    "sources.merge_upsert": ("dirs_rewritten", "dirs_pruned", "write_amp"),
    "sources.compact": ("bytes_rewritten_mb",),
}

# the qg20 oracle unrolls 3 reduce + 3 bubble rounds
QG20_UNROLL = (3, 3)
# near_dup_clusters parameters of the registry's qd5 oracle
DEDUP_PERM, DEDUP_BANDS = 4, 2
UPSERT_KEYS = ["k"]
COMPACT_EVERY = 2  # merges between compactions
ROW_BYTES = 32  # four BIGINT columns per user row


def _count(rec, **kv) -> None:
    if rec is not None:
        rec["counts"].update(kv)


def _dir_bytes(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


class Workload:
    # measured ops per run, even past --seconds; where --seconds holds
    # only a few ops, this keeps the op count, and so the share of
    # ops still warming up, the same in every run
    min_ops = 2

    def __init__(self, inputs: str, work: str, expected: dict, tracer):
        self.inputs = inputs
        self.work = work
        self.exp = expected
        self.tr = tracer

    def path(self, name: str) -> str:
        return os.path.join(self.inputs, f"{name}.parquet")

    def setup(self, spark) -> None:
        self.spark = spark

    def before_op(self) -> None:
        """Untimed bookkeeping before the next op."""

    def next_kind(self) -> str:
        """The kind of op the next `op` call runs."""
        return self.kind

    def exhausted(self) -> bool:
        """True when the inputs hold no further op."""
        return False

    def at_boundary(self) -> bool:
        """True when a run may stop after the op just run."""
        return True

    def teardown(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    def layer_extras(self) -> dict:
        return {}


class SoraAssembly(Workload):
    """Near-duplicate clusters of the documents, then their reads ->
    overlap join -> transitive/tip + bubble fixpoints -> chain
    compaction, collecting the clusters and the unitigs."""

    item = "reads"
    kind = "assembly"

    def setup(self, spark):
        super().setup(spark)
        self.docs = spark.read.parquet(self.path("documents"))

    def op(self):
        from pyspark.sql import functions as F

        from sora_spark.graph import Graph
        from sora_spark.graph.overlap import derive_reads, overlap_edges
        from sora_spark.llm.dedup import near_dup_clusters

        tr = self.tr
        with tr.span("llm.near_dup_clusters") as rec:
            clusters = [list(r) for r in near_dup_clusters(
                self.docs, num_perm=DEDUP_PERM, bands=DEDUP_BANDS)
                .select("doc_id", "cluster_id", "is_canonical").collect()]
        n_clusters = len({c for _, c, _ in clusters})
        _count(rec, clusters=n_clusters,
               dup_frac=1 - n_clusters / max(len(clusters), 1))
        with tr.span("graph.derive_reads"):
            reads = tr.materialize(derive_reads(self.docs))
        with tr.span("graph.overlap_edges"):
            ov = tr.materialize(overlap_edges(reads))
        stats: dict = {}
        with tr.span("graph.assembly_pipeline") as rec:
            edges = tr.materialize(
                Graph(ov).assembly_pipeline(max_iter=10, stats=stats))
        e_in, e_out = stats["edge_counts"][0], stats["edge_counts"][-1]
        _count(rec, rounds=stats["reduce_rounds"] + stats["bubble_rounds"],
               edges_in=e_in, edges_out=e_out,
               removed_frac=1 - e_out / max(e_in, 1))
        cstats: dict = {}
        with tr.span("graph.compact_chains") as rec:
            ce = Graph(edges).chain_edges()
            rows = (
                Graph(ce).compact_chains(stats=cstats)
                .select("start", "end",
                        F.col("length").cast("bigint").alias("length"))
                .collect()
            )
        _count(rec, rounds=cstats["rounds"], unitigs=len(rows))
        return {"kind": self.kind, "items": self.exp["props"]["reads"],
                "out": {"clusters": clusters,
                        "unitigs": [list(r) for r in rows],
                        "stats": stats}}

    def check(self, res):
        got = sorted(res["out"]["clusters"])
        want = sorted(self.exp["clusters"])
        if got != want:
            bad = sum(a != b for a, b in zip(got, want))
            return "fail", (f"near-dup clusters differ from qd5 on {bad} "
                            f"of {len(got)} documents")
        exp = self.exp["unitigs"]
        st = res["out"]["stats"]
        if st["reduce_rounds"] > QG20_UNROLL[0] or \
                st["bubble_rounds"] > QG20_UNROLL[1]:
            return "unverified", f"rounds {st} exceed the 3+3 unroll"
        got = sorted(map(tuple, res["out"]["unitigs"]))
        want = sorted(map(tuple, exp))
        if got != want:
            return "fail", f"{len(set(got) ^ set(want))} unitigs differ"
        return "pass", None


class TableUpsert(Workload):
    """Merge-on-read upserts of ~1% batches into a 16-directory
    commit-log table, snapshot reads, and a compaction every
    COMPACT_EVERY merges. Each snapshot is checked against the
    aggregate a DuckDB model of the latest-ts-per-key merge semantics
    gives after as many merges (oracles.py)."""

    item = "merged_rows"
    # three merge/compact cycles after the cold merge: read, merge,
    # compact, then (merge, read, merge, compact) twice; five merges
    min_ops = 11
    last = None  # kind of the previous op
    merges = 0

    def setup(self, spark):
        from pyspark.sql import functions as F

        from sora_spark.sources import commit_log as cl

        super().setup(spark)
        self.table = os.path.join(self.work, "table")
        base = spark.read.parquet(self.path("base"))
        n = self.exp["props"]["table_rows"]
        self.dirs = self.exp["props"]["dirs"]
        tile = (F.col("k") * self.dirs / n).cast("int")
        for t in range(self.dirs):
            part = base.filter(tile == t)
            if t == 0:
                cl.create_table(spark, self.table, part,
                                stats_cols=UPSERT_KEYS)
            else:
                cl.append(spark, self.table, part, stats_cols=UPSERT_KEYS)

    def exhausted(self):
        return self.merges >= len(self.exp["batch_rows"])

    def at_boundary(self):
        # merge latency climbs with the deletion vectors a compaction
        # clears, so every run ends on a whole merge/compact cycle
        return self.last == "compact"

    def next_kind(self) -> str:
        """merge, read, merge, read, ... with a compaction after every
        COMPACT_EVERY merges."""
        if self.merges and self.merges % COMPACT_EVERY == 0 and \
                self.last != "compact":
            return "compact"
        return "merge" if self.last != "merge" else "read"

    def before_op(self):
        self.files_before = _dir_bytes(self.table)

    def op(self):
        from pyspark.sql import functions as F

        from sora_spark.sources import commit_log as cl

        tr, spark = self.tr, self.spark
        kind = self.next_kind()
        self.last = kind
        if kind == "merge":
            b = self.merges
            with tr.span("sources.merge_upsert") as rec:
                batch = spark.read.parquet(self.path(f"batch_{b:03d}"))
                v = cl.merge_upsert(spark, self.table, batch, UPSERT_KEYS,
                                    "ts", merge_on_read=True)
            self.merges += 1
            return {"kind": kind, "rec": rec, "batch": b, "version": v}
        if kind == "read":
            with tr.span("sources.read_table"):
                snap = cl.read_table(spark, self.table)
                rows = (
                    snap.groupBy((F.col("qty") % 4).alias("bucket"))
                    .agg(F.count("*").alias("n"),
                         F.sum("price_cents").alias("price"),
                         F.sum("k").alias("ks"), F.max("ts").alias("ts"))
                    .orderBy("bucket").collect()
                )
            return {"kind": kind, "out": [list(r) for r in rows]}
        with tr.span("sources.compact") as rec:
            v = cl.compact(spark, self.table, target_partitions=self.dirs,
                           cluster_by=UPSERT_KEYS)
        return {"kind": kind, "rec": rec, "version": v}

    def _written(self) -> int:
        after = _dir_bytes(self.table)
        return sum(sz for p, sz in after.items() if p not in self.files_before)

    def check(self, res):
        from sora_spark.sources import commit_log as cl

        kind = res["kind"]
        if kind == "merge":
            bpath = self.path(f"batch_{res['batch']:03d}")
            res["items"] = self.exp["batch_rows"][res["batch"]]
            entry = cl._read_commits(self.table, res["version"])[-1]
            rewritten = len(entry["removed"])
            batch_bytes = os.path.getsize(bpath)
            _count(res["rec"], dirs_rewritten=rewritten,
                   dirs_pruned=entry.get("pruned_dirs", 0),
                   write_amp=self._written() / batch_bytes)
            if rewritten:
                return "fail", (f"merge-on-read merge rewrote "
                                f"{rewritten} directories")
            return "pass", None
        res["items"] = 0
        if kind == "compact":
            _count(res["rec"], bytes_rewritten_mb=self._written() / 2**20)
            if res["version"] is None:
                return "fail", "compact was a no-op"
            return "pass", None
        want = self.exp["snapshots"][self.merges]
        if res["out"] != want:
            return "fail", f"snapshot {res['out']} != model {want}"
        return "pass", None

    def layer_extras(self):
        rows = self.exp["live_rows"][self.merges]
        stored = sum(_dir_bytes(self.table).values())
        return {"sources.stored_bytes_per_user_byte":
                stored / (rows * ROW_BYTES)}


WORKLOADS = {
    "sora_assembly": SoraAssembly,
    "table_upsert": TableUpsert,
}
