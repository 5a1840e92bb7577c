"""Seeded input generator for the benchmark workloads.

Every table is hash-seeded DuckDB SQL in the style of
`scripts/gen_organic.py` (vectorized, no `random()`), with the workload
seed mixed into every salt: the same seed always gives byte-identical
inputs, and another seed gives an independent draw of the same shape.
The engine under test only ever reads the parquet written here.

Tables (all sizes are the constants below):

- `documents(doc_id, text, lang, source, n_chars)`: word streams over a
  fixed 31-word vocabulary; within each decade of doc_ids, residues 8
  and 9 re-emit the decade base with ~5% of words resampled, so ~20%
  of documents are organic near-duplicates whose shared reads give the
  overlap graph its transitive edges, tips and bubbles.
- `table(k, qty, price_cents, ts)` plus `batch_NNN` merge batches:
  a key-unique commit-log base table and a deterministic sequence of
  ~1% upsert batches (updates in the top key range plus inserts past
  the current maximum key).
"""

from __future__ import annotations

import os

import duckdb

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]

# rows per table, per workload
ASSEMBLY_DOCS = 1_000
UPSERT_ROWS = 160_000
UPSERT_BATCHES = 16
UPSERT_DIRS = 16


class Gen:
    """Writes one workload's tables for one seed into `out`."""

    def __init__(self, seed: int, out: str):
        self.seed = int(seed)
        self.out = out
        os.makedirs(out, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")

    def close(self) -> None:
        self.con.close()

    def salt(self, s: int) -> int:
        return s + self.seed * 1_000_003

    def h(self, x: str, s: int) -> str:
        """Seeded non-negative hash of expression `x`."""
        return f"hash({x} * 2654435761 + {self.salt(s)})"

    def path(self, name: str) -> str:
        return os.path.join(self.out, f"{name}.parquet")

    def copy(self, name: str, sql: str) -> int:
        p = self.path(name)
        self.con.execute(f"COPY ({sql}) TO '{p}' (FORMAT PARQUET)")
        return self.con.execute(
            f"SELECT count(*) FROM read_parquet('{p}')"
        ).fetchone()[0]

    # ---- tables ------------------------------------------------------

    def documents(self, n: int) -> int:
        vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
        nv = len(VOCAB)
        return self.copy("documents", f"""
            WITH d AS (SELECT i,
                              CASE WHEN i % 10 >= 8 THEN i - (i % 10) ELSE i END
                                AS seed_doc,
                              (i % 10 >= 8) AS is_dup
                       FROM range({n}) t(i)),
            pos AS (SELECT i, seed_doc, is_dup,
                           unnest(range(CAST(10 + {self.h('seed_doc', 101)} % 91
                                             AS BIGINT))) AS j
                    FROM d),
            words AS (
                SELECT i, j,
                       {vocab}[1 + CAST({self.h('(seed * 100003 + j * 17)', 5)}
                                        % {nv} AS INT)] AS w
                FROM (SELECT *,
                             CASE WHEN is_dup AND
                                       {self.h('(i * 131 + j * 7)', 3)} % 100 < 5
                                  THEN i ELSE seed_doc END AS seed
                      FROM pos)),
            txt AS (SELECT i, string_agg(w, ' ' ORDER BY j) AS text
                    FROM words GROUP BY i)
            SELECT i AS doc_id, text,
                   ['en','de','es','fr','zh'][1 + CAST({self.h('i', 107)} % 5 AS INT)]
                     AS lang,
                   'src' || ({self.h('i', 109)} % 20) AS source,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM txt""")

    def upsert_table(self, n_rows: int, n_batches: int) -> dict:
        """Base table + `n_batches` merge batches. Batch b redraws qty
        and price for ~10% of the keys in the top 1/UPSERT_DIRS of the
        key range and inserts as many new keys past the current
        maximum, all with ts = 2,000,000 + b (newer than every earlier
        row). A batch is ~1.25% of the base table and overlaps only the
        top key-range directory of the base layout."""
        self.copy("base", f"""
            SELECT i AS k,
                   CAST(1 + {self.h('i', 61)} % 50 AS BIGINT) AS qty,
                   CAST(90000 + {self.h('i', 62)} % 10409900 AS BIGINT)
                     AS price_cents,
                   CAST(1000000 + {self.h('i', 63)} % 1000000 AS BIGINT) AS ts
            FROM range({n_rows}) t(i)""")
        span = n_rows // UPSERT_DIRS
        n_ins = span // 10
        kmax = n_rows - 1
        for b in range(n_batches):
            # keys are dense on [0, kmax]: updates pick ~10% of the top
            # key range, inserts extend the range by n_ins new keys
            self.copy(f"batch_{b:03d}", f"""
                WITH keys AS (
                    SELECT k FROM range({kmax - span + 1}, {kmax + 1}) t(k)
                    WHERE {self.h(f'(k * 977 + {b})', 64)} % 10 = 0
                    UNION ALL
                    SELECT k FROM range({kmax + 1}, {kmax + 1 + n_ins}) t(k))
                SELECT k,
                       CAST(1 + {self.h(f'(k * 31 + {b})', 65)} % 50 AS BIGINT)
                         AS qty,
                       CAST(90000 + {self.h(f'(k * 37 + {b})', 66)} % 10409900
                            AS BIGINT) AS price_cents,
                       CAST(2000000 + {b} AS BIGINT) AS ts
                FROM keys""")
            kmax += n_ins
        return {"rows": n_rows, "batches": n_batches}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write `workload`'s inputs for `seed` under `out`; return sizes."""
    g = Gen(seed, out)
    try:
        if workload == "sora_assembly":
            return {"documents": g.documents(ASSEMBLY_DOCS)}
        if workload == "table_upsert":
            return {**g.upsert_table(UPSERT_ROWS, UPSERT_BATCHES),
                    "dirs": UPSERT_DIRS}
        raise ValueError(f"unknown workload {workload!r}")
    finally:
        g.close()
