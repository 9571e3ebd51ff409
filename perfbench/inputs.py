"""Seeded inputs and DuckDB oracle results for the benchmark workloads.

Seed 0 uses the shipped testdata directory as it is. Any other seed ``r``
derives a same-size copy in which make_sf1's replica-``r`` rule is applied
to the tables the workloads' behaviour depends on:

* ``events``: every key in ``make_sf1.SHIFTS["events"]`` moves by
  ``r * make_sf1.STRIDE``, so entity buckets and the NULL mask move;
* ``documents``: every word gets make_sf1's ``zq{k}`` suffix with
  ``k = 1 + (r - 1) % 9`` (replicas 1-9 of make_sf1, so every seed's text has
  the same length) and ``n_chars`` is recomputed, so token ids, shingles,
  hashes and the text gates' inputs move. ``doc_id``
  keeps its value: the flagship maps entities to documents by
  ``entity_id % n_docs``, which a shifted id would never match;
* ``embeddings``: the vector is rolled by ``r`` components and ``vec_id``
  shifts, as make_sf1 does.

The TPC-H tables are copied unchanged: ``impute_fcki_capped`` caps
``p_partkey <= 2000``, which a shifted key would empty. The copy is written
by DuckDB, whose single row group per table matches the shipped files, and
Spark is not touched before set-up is timed.
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

import duckdb  # noqa: E402
import make_sf1  # noqa: E402
from check_oracle import TABLES, canon  # noqa: E402


def derive_inputs(src: str, dst: str, seed: int) -> str:
    """Return the input directory for ``seed``: ``src`` itself for seed 0,
    else a derived copy written to ``dst``."""
    if seed == 0:
        return src
    os.makedirs(dst, exist_ok=True)
    stride = seed * make_sf1.STRIDE
    shifted = ", ".join(f"{k} + {stride} AS {k}" for k in make_sf1.SHIFTS["events"])
    suffix = f"zq{1 + (seed - 1) % 9}"
    selects = {
        "events": f"SELECT * REPLACE ({shifted}) FROM '{src}/events.parquet'",
        "documents": f"""
            SELECT * REPLACE (t AS text, length(t) AS n_chars)
            FROM (SELECT *, array_to_string(list_transform(
                    string_split(text, ' '), w -> w || '{suffix}'), ' ') AS t
                  FROM '{src}/documents.parquet')""",
        "embeddings": f"""
            SELECT * REPLACE (
                vec_id + {stride} AS vec_id,
                list_concat(embedding[{seed} % len(embedding) + 1:],
                            embedding[:{seed} % len(embedding)]) AS embedding)
            FROM '{src}/embeddings.parquet'""",
    }
    con = duckdb.connect()
    try:
        for t in TABLES:
            if t in selects:
                con.execute(f"COPY ({selects[t]}) TO '{dst}/{t}.parquet' "
                            f"(FORMAT parquet)")
            else:
                shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    finally:
        con.close()
    return dst


def rows_canon(table, columns: list[str]) -> list[tuple]:
    """check_oracle's order-insensitive canonical form of an Arrow table."""
    cols = [table.column(c).to_pylist() for c in columns]
    return canon(list(zip(*cols)), columns)


class Oracles:
    """DuckDB results of oracle SQL over one input directory, kept in
    check_oracle's canonical form so a run's output compares with ``==``."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.expected: dict[str, list[tuple]] = {}
        self.columns: dict[str, list[str]] = {}

    def add(self, name: str, sql: str) -> None:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            self.expected[name] = canon(res.fetchall(), cols)
            self.columns[name] = cols
        finally:
            con.close()

    def matches(self, name: str, table) -> bool:
        """True when ``table`` (an Arrow table) equals the oracle for
        ``name`` as a multiset of rows over the same column names."""
        cols = self.columns[name]
        if sorted(table.column_names) != sorted(cols):
            return False
        return rows_canon(table, cols) == self.expected[name]


def headline_oracle_sql(names: list[str], sf_dir: str,
                        bench_only: set[str]) -> dict[str, str]:
    """Oracle SQL for every headline query that has one. The static texts
    come from the query registry; the fit-dependent ones are built by
    ``oracle_fit`` for ``sf_dir`` (only the five the suite uses, because
    building all of them costs ~30 s at sf0.1). Bench-only callables have no
    oracle of their own."""
    from ficaria_spark import oracle_fit as of
    from ficaria_spark.queries import ORACLE

    dynamic = {
        "impute_fcm_parameter": lambda: of.parameter_oracle_sql(
            of.fit_fcm_centers(sf_dir)),
        "impute_fcki_capped": lambda: of.values_impute_oracle_sql(
            of.fcki_expected(sf_dir, 2000)),
        "ann_ivf": lambda: of.ivf_oracle_sql(
            of.fit_ivf_centers(sf_dir), nprobe=2, k=3),
        "dedup_minhash_lsh": lambda: of.minhash_xxhash_oracle_sql(
            of.minhash_xxhash_expected(sf_dir)),
        "media_features": lambda: of.media_oracle_sql(
            of.media_features_expected()),
    }
    out = {}
    for n in names:
        if n in bench_only:
            continue
        if n in ORACLE:
            out[n] = ORACLE[n]
        elif n in dynamic:
            out[n] = dynamic[n]()
    return out
