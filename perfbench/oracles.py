"""Inputs and expected answers for each workload, computed with DuckDB
(the registry's own oracle SQL) from the generated inputs, outside the
timed region and outside set-up.

    python3 perfbench/oracles.py --workload sora_assembly --seed 1

generates the seed's inputs (gen.py), writes the expected answers next
to them as `expected.json` and prints the inputs directory. run.py runs
this in a child process, so DuckDB's memory never counts in the
benchmark's peak RSS.

The cache directory is keyed by workload, seed and a hash of the code
that determines the inputs and the answers: gen.py, this file and the
engine-side oracle SQL. Inputs or answers built by other code are never
reused. An oracle runs to completion or raises; nothing is cached
unless every answer was computed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# registry oracles the gates compare against
REGISTRY_ORACLES = ("qg20_read_assembly", "qd5_neardup_clusters")

# snapshot aggregate of the table_upsert read op (Spark side in workloads.py)
AGG_SQL = ("SELECT qty % 4 AS bucket, count(*) AS n, "
           "sum(price_cents) AS price, sum(k) AS ks, max(ts) AS ts "
           "FROM {t} GROUP BY 1 ORDER BY 1")


def _registry_sql(name: str) -> str:
    from sora_spark.queries import REGISTRY

    return REGISTRY[name].oracle


def code_key() -> str:
    """Hash of everything that decides the inputs and the answers."""
    from sora_spark.graph.overlap import OVERLAP_SQL, READS_SQL

    h = hashlib.sha256()
    for name in ("gen.py", "oracles.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    for sql in (READS_SQL, OVERLAP_SQL,
                *(_registry_sql(n) for n in REGISTRY_ORACLES)):
        h.update(sql.encode())
    return h.hexdigest()[:12]


def _con(inputs: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in tables:
        p = os.path.join(inputs, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _rows(con, sql: str) -> list[list]:
    return [list(r) for r in con.execute(sql).fetchall()]


def _graph_props(con, edges_sql: str) -> dict:
    n, mx, mean = con.execute(f"""
        WITH e AS ({edges_sql}),
        deg AS (SELECT v, count(*) AS c FROM
                (SELECT s AS v FROM e UNION ALL SELECT d FROM e) GROUP BY v)
        SELECT (SELECT count(*) FROM e), max(c), avg(c) FROM deg""").fetchone()
    return {"edges": n, "max_degree": mx, "mean_degree": round(mean or 0, 3)}


def sora_assembly(inputs: str) -> dict:
    from sora_spark.graph.overlap import OVERLAP_SQL, READS_SQL

    con = _con(inputs, ["documents"])
    try:
        props = _graph_props(con, f"WITH reads AS ({READS_SQL}) {OVERLAP_SQL}")
        props["reads"] = con.execute(
            f"SELECT count(*) FROM ({READS_SQL})").fetchone()[0]
        clusters = _rows(con, _registry_sql("qd5_neardup_clusters"))
        # measured, at the engine's LSH parameters: documents that are
        # not their cluster's canonical copy
        props["near_dup_frac"] = \
            sum(not c for _, _, c in clusters) / len(clusters)
        return {
            "props": props,
            "clusters": clusters,
            "unitigs": _rows(con, _registry_sql("qg20_read_assembly")),
        }
    finally:
        con.close()


def table_upsert(inputs: str, n_batches: int) -> dict:
    """The snapshot aggregate, live row count and batch size after
    every number of merges, from a DuckDB model of the latest-ts-per-key
    merge semantics: per key, the row with the latest `ts` survives,
    and on a tie the batch row replaces the table row."""
    con = _con(inputs, [])
    try:
        base = os.path.join(inputs, "base.parquet")
        con.execute(f"CREATE TABLE model AS SELECT * FROM read_parquet('{base}')")
        snaps, live, batch_rows = [], [], []
        for b in range(n_batches + 1):
            snaps.append(_rows(con, AGG_SQL.format(t="model")))
            live.append(con.execute("SELECT count(*) FROM model").fetchone()[0])
            if b == n_batches:
                break
            bpath = os.path.join(inputs, f"batch_{b:03d}.parquet")
            batch_rows.append(con.execute(
                f"SELECT count(*) FROM read_parquet('{bpath}')").fetchone()[0])
            # the batch's latest row per key, then applied to the model
            con.execute(f"""
                CREATE OR REPLACE TEMP TABLE batch AS
                SELECT k, qty, price_cents, ts FROM read_parquet('{bpath}')
                QUALIFY row_number() OVER (PARTITION BY k ORDER BY ts DESC) = 1""")
            con.execute("DELETE FROM batch b USING model m "
                        "WHERE b.k = m.k AND b.ts < m.ts")
            con.execute("DELETE FROM model m USING batch b WHERE m.k = b.k")
            con.execute("INSERT INTO model SELECT * FROM batch")
        return {"props": {"table_rows": live[0]}, "snapshots": snaps,
                "live_rows": live, "batch_rows": batch_rows}
    finally:
        con.close()


def prepare(workload: str, seed: int, work: str) -> str:
    """Generate `workload`'s inputs for `seed` and their expected
    answers under `work`, unless cached; return the inputs directory."""
    import gen

    inputs = os.path.join(work, "inputs", workload,
                          f"seed-{seed}-{code_key()}")
    cache = os.path.join(inputs, "expected.json")
    if os.path.exists(cache):
        return inputs
    shutil.rmtree(inputs, ignore_errors=True)
    sizes = gen.generate(workload, seed, inputs)
    if workload == "sora_assembly":
        exp = sora_assembly(inputs)
    else:
        exp = table_upsert(inputs, sizes["batches"])
    exp["props"].update(sizes)
    tmp = cache + ".tmp"
    with open(tmp, "w") as f:
        json.dump(exp, f)
    os.replace(tmp, cache)
    return inputs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", default=os.path.join(ROOT, ".perfbench_work"))
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    print(prepare(args.workload, args.seed, args.work))
    return 0


if __name__ == "__main__":
    sys.exit(main())
