"""Expected outputs for every checked call, and the comparison.

The expected values come from the repository's DuckDB oracles
(``pagerank_sql``, ``wcc_sql``, ``scc_sql``, ``msf_sql``, ``kcores_sql``,
``lpa_sql``, ``random_walks_sql``, ``als_coord_sql``,
``streaming_pagerank_sql`` and the triangle query of
``__spark_entry__``), run over the same input files the program reads.
``wcc_sql`` is a recursive transitive closure, quadratic in component
size, so the er-volume WCC is checked against a NumPy min-label
propagation instead.

Run as a script, this computes every expected output of one workload in
its own process, so the oracle's time and memory stay out of the
measured process:

    python3 perfbench/oracles.py <workload> <input dir> <output dir>
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs, workloads  # noqa: E402

# Float outputs are compared with this absolute tolerance; the oracles
# are asked for 10 digits so their rounding stays far below it.
FLOAT_TOL = 1e-6
NDIGITS = 10
KCORES_UNROLL = 60  # h-index iterations; past the fixpoint they are identity

# Triangle count over the id-oriented undirected edge set, as in the
# ``triangle_count`` oracle of __spark_entry__.
TRIANGLES_SQL = """
    WITH e AS (
        SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
        FROM ({edges}) WHERE src <> dst
    )
    SELECT count(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.src = e1.dst
    JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
"""


def wcc_reference(src: np.ndarray, dst: np.ndarray) -> pd.DataFrame:
    """(id, component = min id of its weakly connected component)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    label = np.arange(len(ids))
    while True:
        prev = label
        m = np.minimum(label[s], label[d])
        label = label.copy()
        np.minimum.at(label, s, m)
        np.minimum.at(label, d, m)
        label = label[label]  # pointer jump
        if np.array_equal(label, prev):
            break
    return pd.DataFrame({"id": ids, "component": ids[label]})


def expected(workload: str, paths: dict[str, str]) -> dict[str, pd.DataFrame]:
    import duckdb

    from graphchi_cpp_spark.algos.connected_components import wcc_sql
    from graphchi_cpp_spark.algos.kcores import kcores_sql
    from graphchi_cpp_spark.algos.label_propagation import lpa_sql
    from graphchi_cpp_spark.algos.msf import msf_sql
    from graphchi_cpp_spark.algos.pagerank import pagerank_sql
    from graphchi_cpp_spark.algos.random_walks import random_walks_sql
    from graphchi_cpp_spark.algos.scc import scc_sql
    from graphchi_cpp_spark.cf.als_variants import als_coord_sql
    from graphchi_cpp_spark.streaming.ingest import streaming_pagerank_sql

    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def q(sql: str) -> pd.DataFrame:
        return con.execute(sql).df()

    out: dict[str, pd.DataFrame] = {}
    if workload == "er-volume":
        con.execute(
            f"CREATE TABLE er_edges AS SELECT * FROM read_csv('{paths['edges']}', "
            "delim=' ', header=false, columns={'src': 'BIGINT', 'dst': 'BIGINT'})"
        )
        es = "SELECT src, dst FROM er_edges WHERE src <> dst"
        out["edges"] = q(
            f"SELECT count(*) AS n, sum(src) AS s, sum(dst) AS d FROM ({es})"
        ).astype("int64")
        out["pagerank"] = q(pagerank_sql(es, workloads.PAGERANK_ITERS, ndigits=NDIGITS))
        arr = q(es)
        out["wcc"] = wcc_reference(arr["src"].to_numpy(), arr["dst"].to_numpy())
        out["triangles"] = q(TRIANGLES_SQL.format(edges=es)).astype("int64")
        ranks = out["pagerank"].sort_values(["rank", "id"], ascending=[False, True])
        # twice k rows, so ties at the k-th rank can be matched
        out["top_k"] = ranks.head(2 * workloads.TOP_K).reset_index(drop=True)
    elif workload == "small-iterative":
        con.execute(f"CREATE TABLE g_edges AS SELECT * FROM '{paths['edges']}'")
        con.execute(f"CREATE TABLE ratings_t AS SELECT * FROM '{paths['ratings']}'")
        es = "SELECT src, dst FROM g_edges"
        sources = (
            f"SELECT id FROM (SELECT src AS id FROM g_edges UNION SELECT dst FROM g_edges) "
            f"WHERE id % {inputs.WALK_SOURCE_MOD} = 0"
        )
        out["msf"] = q(msf_sql("SELECT src, dst, weight FROM g_edges"))
        out["kcores"] = q(kcores_sql(es, iterations=KCORES_UNROLL))
        out["lpa"] = q(lpa_sql(es, workloads.LPA_ITERS))
        out["wcc"] = q(wcc_sql(es))
        out["walks"] = q(
            random_walks_sql(
                es, sources, walks_per_source=workloads.WALKS_PER_SOURCE,
                steps=workloads.WALK_STEPS,
            )
        )
        out["scc"] = q(scc_sql(es))
        out["als"] = q(
            als_coord_sql(
                'SELECT "user", item, rating FROM ratings_t',
                iterations=workloads.ALS_ITERS, ndigits=NDIGITS,
            )
        )
    else:
        con.execute(f"CREATE TABLE base AS SELECT * FROM '{paths['base']}'")
        con.execute(f"CREATE TABLE ev AS SELECT * FROM '{paths['events']}'")
        stages = [
            f"""SELECT src, dst FROM (
                  SELECT src, dst FROM base
                  UNION SELECT src, dst FROM ev WHERE op = 'add' AND batch <= {b}
                ) EXCEPT SELECT src, dst FROM ev
                  WHERE op = 'delete' AND batch <= {b}"""
            for b in range(1, inputs.STREAM_BATCHES + 1)
        ]
        out["stream_ranks"] = q(
            streaming_pagerank_sql(
                stages, supersteps_per_batch=workloads.STREAM_SUPERSTEPS,
                ndigits=NDIGITS,
            )
        )
    con.close()
    return out


def _canonical(df: pd.DataFrame, key: str) -> pd.DataFrame:
    if key == "msf":
        a, b = df["src"].to_numpy(), df["dst"].to_numpy()
        df = df.assign(src=np.minimum(a, b), dst=np.maximum(a, b))
    return df


def _compare_top_k(actual: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Ties may order differently: the rank sequence must match the first
    k expected ranks, and every returned id must carry its expected rank."""
    k = workloads.TOP_K
    if len(actual) != k:
        return f"{len(actual)} rows, expected {k}"
    ranks = actual["rank"].to_numpy(dtype=np.float64)
    if not np.allclose(ranks, want["rank"].to_numpy()[:k], rtol=0, atol=FLOAT_TOL):
        return "top-k ranks differ"
    by_id = dict(zip(want["id"].tolist(), want["rank"].tolist()))
    for i, r in zip(actual["id"].tolist(), ranks):
        if i not in by_id or abs(by_id[i] - r) > FLOAT_TOL:
            return f"id {i} is not a top-k vertex"
    return None


def compare(key: str, actual: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``actual`` matches ``want``, else a one-line reason.
    Rows are matched order-insensitively except for the ordered top-k."""
    cols = list(want.columns)
    missing = [c for c in cols if c not in actual.columns]
    if missing:
        return f"missing columns {missing}"
    if key == "top_k":
        return _compare_top_k(actual, want)
    if len(actual) != len(want):
        return f"{len(actual)} rows, expected {len(want)}"
    actual = _canonical(actual[cols], key)
    want = _canonical(want, key)
    floats = [c for c in cols if pd.api.types.is_float_dtype(want[c])]
    exact = [c for c in cols if c not in floats]
    if exact:
        actual = actual.sort_values(exact).reset_index(drop=True)
        want = want.sort_values(exact).reset_index(drop=True)
    for c in exact:
        if not np.array_equal(
            actual[c].to_numpy().astype(np.int64), want[c].to_numpy().astype(np.int64)
        ):
            return f"column {c} differs"
    for c in floats:
        a = actual[c].to_numpy(dtype=np.float64)
        w = want[c].to_numpy(dtype=np.float64)
        if not np.allclose(a, w, rtol=0, atol=FLOAT_TOL):
            return f"column {c} differs by up to {np.nanmax(np.abs(a - w)):.3g}"
    return None


def main(argv: list[str]) -> None:
    workload, in_dir, out_dir = argv
    paths = {
        os.path.splitext(f)[0]: os.path.join(in_dir, f) for f in os.listdir(in_dir)
    }
    os.makedirs(out_dir, exist_ok=True)
    for key, df in expected(workload, paths).items():
        df.to_parquet(os.path.join(out_dir, f"{key}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1:])
