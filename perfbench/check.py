"""Output checks made apart from Spark.

Batch results are compared with the DuckDB answer of each query's
``oracle_sql()`` twin over the same generated tables, exactly and
order-insensitively, by the rule of ``tests/conftest.assert_frames_match``.
A query without a twin (``emb_kmeans_cells``) is checked by properties
its method must have. The stream's final KV contents are compared with
DuckDB's per-window counts and UV over the events that were neither
corrupt nor late.

Remake the answers for a seed on demand:

    python3 perfbench/check.py --seed 1 --out answers/
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
KMEANS_K = 8


def connect(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracles() -> dict[str, str]:
    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    return E.oracle_sql()


def answers(con, names) -> dict[str, pd.DataFrame]:
    sql = oracles()
    return {n: con.execute(sql[n]).fetchdf() for n in names if n in sql}


def _cell(v):
    """Nested values as hashable, orderable tuples."""
    if isinstance(v, np.ndarray | list | tuple):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _cell(x)) for k, x in v.items())
    return v


def _plain(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_cell)
    return df


def frames_match(s: pd.DataFrame, d: pd.DataFrame) -> str | None:
    """The exact, order-insensitive rule of
    ``tests/conftest.assert_frames_match``; returns why they differ."""
    if sorted(s.columns) != sorted(d.columns):
        return f"columns {sorted(s.columns)} vs {sorted(d.columns)}"
    if len(s) != len(d):
        return f"row count {len(s)} vs {len(d)}"
    cols = sorted(s.columns)
    s, d = _plain(s[cols]), _plain(d[cols])
    for c in cols:
        if str(s[c].dtype) != str(d[c].dtype):
            d[c] = d[c].astype(s[c].dtype)
    s = s.sort_values(cols, kind="mergesort").reset_index(drop=True)
    d = d.sort_values(cols, kind="mergesort").reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(s, d, check_exact=True)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


def read_landed(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def properties(name: str, got: pd.DataFrame, con) -> str | None:
    """Checks for the queries whose method has no SQL twin."""
    if name == "emb_kmeans_cells":
        n = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
        cells = got["cell"].tolist()
        if len(set(cells)) != len(cells) or not all(0 <= c < KMEANS_K for c in cells):
            return f"cell ids {sorted(cells)} not distinct within [0, {KMEANS_K})"
        if int(got["n_vectors"].sum()) != n:
            return f"n_vectors sums to {got['n_vectors'].sum()}, not {n}"
        return None
    return f"no check for {name}"


NO_TWIN = ("emb_kmeans_cells",)


def check_batch(result: dict, run_dir: str) -> list[str]:
    con = connect(os.path.join(run_dir, "tables"))
    names = list(result["queries"])
    ans = answers(con, names)
    problems = []
    for name in names:
        for phase in ("cold", "warm"):
            path = os.path.join(run_dir, "out", phase, name)
            if not os.path.exists(path):
                continue  # a failed operation, counted in `failed`
            got = read_landed(path)
            why = (
                properties(name, got, con)
                if name in NO_TWIN
                else frames_match(got, ans[name])
            )
            if why:
                problems.append(f"{phase} {name}: {why}")
    if "itemcf_topn" in names:
        problems += check_published(run_dir, ans["itemcf_topn"])
    return problems


def _kv(run_dir: str, store: str):
    sys.path.insert(0, REPO)
    from flink_project_spark.sinks.writers import FileKVStore

    return FileKVStore(os.path.join(run_dir, "tmp", "fps_kv", store))


def check_published(run_dir: str, topn: pd.DataFrame) -> list[str]:
    from worker import PUBLISH_MIN_LEN

    want = {
        r.item_id: r.neighbors.split(",")
        for r in topn.itertuples()
        if len(r.neighbors.split(",")) >= PUBLISH_MIN_LEN
    }
    problems = []
    for store in ("cold_itemcf_topn", "warm1_itemcf_topn"):
        got = _kv(run_dir, store).lists
        if not want or got != want:
            problems.append(
                f"{store}: {len(got)} published lists, {len(want)} expected"
            )
    return problems


def stream_answers(con, plan: dict) -> dict[str, dict[str, str]]:
    """Expected final KV contents per query: +8h-aligned daily counts and
    exact hourly UV over the on-time, well-formed events."""
    keep = pd.DataFrame(
        {"event_id": plan["event_id"], "keep": ~(plan["corrupt"] | plan["late"])}
    )
    con.register("plan", keep)
    # the Kafka payload carries milliseconds
    base = """
      WITH e AS (
        SELECT epoch_us(ts) // 1000 * 1000 AS us, event_type, user_id
        FROM events JOIN plan USING (event_id) WHERE keep
      )"""
    hour, day, off = 3_600_000_000, 86_400_000_000, 8 * 3_600_000_000

    def fmt(expr: str) -> str:
        return f"strftime(make_timestamp({expr}), '%Y-%m-%d %H:%M:%S')"

    day_start = f"(us + {off}) // {day} * {day} - {off}"
    counts = con.execute(
        base
        + f"""SELECT '1d|' || {fmt(day_start)} || '|' || event_type,
                   CAST(count(*) AS VARCHAR)
            FROM e GROUP BY ALL"""
    ).fetchall()
    uv = con.execute(
        base
        + f"""SELECT {fmt(f"us // {hour} * {hour}")} || '|' || event_type,
                   CAST(count(DISTINCT user_id) AS VARCHAR)
            FROM e GROUP BY ALL"""
    ).fetchall()
    return {"count_1d": dict(counts), "uv_1h": dict(uv)}


def late_groups(tables: str, plan: dict) -> int:
    """Distinct (daily window, event type) pairs among the late events of
    each slice, summed over slices."""
    ev = pq.read_table(
        os.path.join(tables, "events.parquet"), columns=["event_id", "ts", "event_type"]
    ).to_pandas()
    p = pd.DataFrame({"event_id": plan["event_id"], "slice": plan["slice"]})
    late = ev.merge(p[plan["late"]], on="event_id")
    day, off = 86_400_000_000, 8 * 3_600_000_000
    us = late["ts"].astype("datetime64[us]").astype("int64")
    late["day"] = (us + off) // day
    return int(late.groupby("slice")[["day", "event_type"]].value_counts().size)


def check_stream(result: dict, run_dir: str, seed: int) -> list[str]:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import inputs

    tables = os.path.join(run_dir, "tables")
    plan = inputs.stream_plan(seed, os.path.join(tables, "events.parquet"))
    n_late, n_corrupt = int(plan["late"].sum()), int(plan["corrupt"].sum())
    want = stream_answers(connect(tables), plan)
    problems = []
    if result["rows_rejected"] != n_corrupt:
        problems.append(f"rows rejected {result['rows_rejected']}, corrupt {n_corrupt}")
    for qname, expected in want.items():
        got = {k: v["v"] for k, v in _kv(run_dir, qname).hashes.items()}
        if got != expected:
            problems.append(
                f"{qname}: {len(got)} keys, {len(expected)} expected, "
                f"{sum(got.get(k) != v for k, v in expected.items())} differ"
            )
    # The daily count aggregates each slice's rows per (window, key)
    # before its stateful operator, which counts dropped groups; the UV
    # query deduplicates raw rows first, which counts dropped rows.
    expected = {"count_1d": late_groups(tables, plan), "uv_1h": n_late}
    for qname, ps in result["progress"].items():
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in ps
            for op in p.get("stateOperators", [])
        )
        if dropped != expected[qname]:
            problems.append(
                f"{qname}: {dropped} dropped by watermark, {expected[qname]} expected"
            )
    return problems


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import inputs
    import worker

    tables = os.path.join(args.out, "tables")
    inputs.generate_tables(args.seed, tables)
    con = connect(tables)
    names = list(worker.BATCH_QUERIES)
    os.makedirs(os.path.join(args.out, "answers"), exist_ok=True)
    for name, df in answers(con, names).items():
        df.to_parquet(os.path.join(args.out, "answers", f"{name}.parquet"))
    plan = inputs.stream_plan(args.seed, os.path.join(tables, "events.parquet"))
    for qname, kv in stream_answers(con, plan).items():
        pd.DataFrame(sorted(kv.items()), columns=["key", "value"]).to_parquet(
            os.path.join(args.out, "answers", f"stream_{qname}.parquet")
        )
    print(f"answers for seed {args.seed} in {os.path.join(args.out, 'answers')}")


if __name__ == "__main__":
    main()
