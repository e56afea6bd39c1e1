"""Output checks against DuckDB oracles on the generated inputs.

The curate and ingest checks run the registry's own oracle SQL builders
over the generated lake and compare values exactly, the way
`tests/test_oracle_parity.py` does (column set, row count, then every
value after an order-insensitive sort). The serve check replays
`knn_cosine`'s ranking (rounded cosine desc, id asc) in DuckDB for each
distinct query text the schedule sends.

Each workload's `expected(con)` maps its output keys to the values
these builders return.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd


def connect(lake: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        path = os.path.join(lake, f"{t}.parquet")
        if os.path.isdir(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{path}/*.parquet')"
            )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype("bool")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        else:
            s = s.astype("string")
        out[c] = s
    norm = pd.DataFrame(out)
    return norm.sort_values(by=list(norm.columns), ignore_index=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the first diff."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rowcount {len(got)} vs {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        neq = ~((g[c].isna() & w[c].isna()) | (g[c] == w[c]))
        if neq.any():
            i = int(neq.idxmax())
            return f"column {c} row {i}: {g[c][i]!r} vs {w[c][i]!r}"
    return None


def curate_expected(con) -> pd.DataFrame:
    from data_pipeline2_spark.registry.curation_r10 import _e2e_sql

    return con.sql(_e2e_sql()).df()


def semantic_expected(con, query_text: str) -> pd.DataFrame:
    from data_pipeline2_spark.registry.curation_r11 import _sem_e2e_sql

    return con.sql(_sem_e2e_sql(query_text=query_text)).df()


def streaming_expected(con) -> pd.DataFrame:
    from data_pipeline2_spark.registry import _QUERIES

    (spec,) = [q for q in _QUERIES if q.name == "streaming_search_e2e"]
    return con.sql(spec.sql).df()


def knn_expected(con, texts: list[str], k: int) -> dict:
    """{query text: [(vec_id, score), ...] top-k} for every query text,
    embedded by the engine's own query embedder."""
    from data_pipeline2_spark.operators.embedding import hash_embed_one
    from data_pipeline2_spark.registry._core import _cos_sql

    queries = {t: hash_embed_one(t) for t in texts}
    texts = sorted(queries)
    qdf = pd.DataFrame(
        {"qid": range(len(texts)), "qv": [queries[t] for t in texts]}
    )
    con.register("bench_queries", qdf)
    rows = con.sql(
        f"""
        SELECT qid, vec_id, score FROM (
          SELECT q.qid, e.vec_id,
                 round({_cos_sql('e.embedding', 'q.qv')}, 6) AS score,
                 row_number() OVER (PARTITION BY q.qid
                                    ORDER BY round({_cos_sql('e.embedding', 'q.qv')}, 6) DESC,
                                             e.vec_id) AS rn
          FROM embeddings e CROSS JOIN bench_queries q)
        WHERE rn <= {int(k)} ORDER BY qid, rn
        """
    ).fetchall()
    con.unregister("bench_queries")
    out: dict[str, list] = {t: [] for t in texts}
    for qid, vec_id, score in rows:
        out[texts[qid]].append((int(vec_id), float(score)))
    return out

