"""Output checks, each against a computation made apart from the program.

- Keys with a DuckDB oracle (``registry.all_oracles()``): the oracle
  SQL runs over the same parquet files, and the two row multisets must
  be equal after the normalisation ``tools/driver_sim.py`` applies
  (floats to 6 places, NaN, ISO timestamps, columns sorted by name).
- ``ann_lsh_topk`` / ``ann_pq_topk``: every id exists, at most k rows,
  each score equals the exact cosine recomputed here with numpy.
- ``rolling_active_users_approx``: each day's estimate lies within the
  HLL sketch's error bound of the exact oracle's count.
- the stream: final counts per (window, user) equal DuckDB's GROUP BY
  over the generated files (see ``stream.py``).

Each check returns ``None`` when the output is right, or a one-line
reason when it is not.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np

#: Spark's ``hll_sketch_agg`` default: lgConfigK = 12 → 4096 registers.
HLL_REL_STD_ERR = 1.04 / math.sqrt(1 << 12)
#: accepted deviation, in standard errors of the sketch.
HLL_SIGMAS = 5
ANN_TOP_K = 10
ANN_QUERY_ID = 0


def norm(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{round(v, 6):.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def norm_rows(columns, rows) -> tuple[list[str], list[str]]:
    """Rows as sorted '|'-joined normalised strings, columns by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    return cols, sorted("|".join(norm(r[i]) for i in order) for r in rows)


def oracle_connection(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """Views over the tables: a single parquet file each, or a directory
    of part files as Spark writes them."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_rows(con, sql: str) -> tuple[list[str], list[str]]:
    """Oracle rows through pandas, as ``tools/driver_sim.py`` reads them
    (DECIMAL and HUGEINT arrive as float64)."""
    df = con.execute(sql).df()
    return norm_rows(list(df.columns), list(df.itertuples(index=False, name=None)))


def compare(got: tuple[list[str], list[str]], want: tuple[list[str], list[str]]) -> str | None:
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols:
        return f"columns {gcols} != oracle {wcols}"
    if grows == wrows:
        return None
    extra = sorted(set(grows) - set(wrows))[:1]
    missing = sorted(set(wrows) - set(grows))[:1]
    return f"rows {len(grows)} vs oracle {len(wrows)}; extra={extra} missing={missing}"


def check_ann(rows, vec_ids: np.ndarray, vecs: np.ndarray) -> str | None:
    """``rows``: (vec_id, cosine) pairs of one ANN probe for vector 0."""
    if not 1 <= len(rows) <= ANN_TOP_K:
        return f"{len(rows)} rows, want 1..{ANN_TOP_K}"
    pos = {int(v): i for i, v in enumerate(vec_ids)}
    q = vecs[pos[ANN_QUERY_ID]]
    for vid, cos in rows:
        if vid not in pos or vid == ANN_QUERY_ID:
            return f"vec_id {vid} is not a candidate"
        v = vecs[pos[vid]]
        exact = float(np.dot(v, q) / (np.linalg.norm(v) * np.linalg.norm(q)))
        if abs(exact - cos) > 2e-6:
            return f"vec_id {vid}: cosine {cos} != exact {exact:.6f}"
    return None


def check_hll(approx: dict, exact: dict) -> str | None:
    if set(approx) != set(exact):
        return f"days differ: {sorted(set(approx) ^ set(exact))[:3]}"
    for day, n in exact.items():
        bound = max(2.0, HLL_SIGMAS * HLL_REL_STD_ERR * n)
        if abs(approx[day] - n) > bound:
            return f"day {day}: estimate {approx[day]} vs exact {n} (bound {bound:.1f})"
    return None


def load_embeddings(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    return ids, vecs


class KeyChecker:
    """Checks the output of registry keys over one data directory."""

    def __init__(self, sf_dir: str, oracles: dict[str, str], tables) -> None:
        self.sf_dir = sf_dir
        self.oracles = oracles
        self.con = oracle_connection(sf_dir, tables)
        self._emb: tuple[np.ndarray, np.ndarray] | None = None

    def close(self) -> None:
        self.con.close()

    def check(self, key: str, columns, rows) -> str | None:
        if key in ("ann_lsh_topk", "ann_pq_topk"):
            if self._emb is None:
                self._emb = load_embeddings(self.sf_dir)
            i = {c: n for n, c in enumerate(columns)}
            return check_ann([(r[i["vec_id"]], r[i["cosine"]]) for r in rows], *self._emb)
        if key == "rolling_active_users_approx":
            got = {r[0]: r[1] for r in rows} if list(columns) == ["day", "active_users_7d"] else None
            if got is None:
                return f"columns {list(columns)}"
            exact = self.con.execute(self.oracles["rolling_active_users"]).df()
            return check_hll(got, dict(zip(exact["day"], exact["active_users_7d"])))
        if key not in self.oracles:
            return "no independent computation for this key"
        return compare(norm_rows(list(columns), rows), oracle_rows(self.con, self.oracles[key]))
