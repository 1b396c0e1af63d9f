#!/usr/bin/env python3
"""Output checks of the benchmark, all through DuckDB.

Batch queries: the engine's rows (parquet, written by the untimed check
pass) are compared with the query's DuckDB oracle (`SparkEntry.oracleSql`)
over the same fixture. Column names and DuckDB column types must be equal,
and the `.df()`-rendered rows must be equal as multisets. The oracle side is
stored in oracle/expected.json, keyed by scale, query and the SHA-256 of the
oracle SQL; a key that is missing (the SQL changed) is computed live.

    python3 perfbench/oracle.py recompute   # rebuild oracle/expected.json

MQ pipeline: every window the final watermark closed must have the count of
a DuckDB GROUP BY over the replayed fixture minus the planted rows.
"""
import hashlib
import json
import math
import os
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
DATA = HERE / "data"
STORE = HERE / "oracle" / "expected.json"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def connect(data_dir: Path, tmp_dir: Path):
    """DuckDB over the fixture tables, with a bounded memory and spill area."""
    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 4,
                                 "temp_directory": str(tmp_dir)})
    for t in TABLES:
        f = data_dir / f"{t}.parquet"
        if f.is_file():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    return con


def cell(v) -> str:
    if v is None:
        return "NULL"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{cell(k)}:{cell(x)}" for k, x in v.items()) + "}"
    return repr(v)


def summary(rel) -> dict:
    """Column names and types (name-sorted) and a digest of the rendered,
    sorted rows of a DuckDB relation."""
    cols = list(rel.columns)
    types = [str(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    df = rel.df()
    rows = sorted("\x1f".join(cell(df.iat[r, i]) for i in order) for r in range(len(df)))
    return {"columns": [cols[i] for i in order], "types": [types[i] for i in order],
            "rows": len(rows),
            "digest": hashlib.sha256("\n".join(rows).encode()).hexdigest()}


def key(scale: str, name: str, sql: str) -> str:
    return f"{scale}/{name}/{hashlib.sha256(sql.encode()).hexdigest()[:16]}"


def load_store() -> dict:
    return json.loads(STORE.read_text()) if STORE.is_file() else {}


def check_batch(rows_dir: Path, scale: str, queries, oracle_sql: dict) -> list:
    """Failures (one line each) of the engine's rows against the oracles."""
    store = load_store()
    con = connect(DATA / scale, rows_dir.parent / "duckdb")
    failures = []
    for q in queries:
        files = sorted((rows_dir / q).glob("*.parquet"))
        if not files:
            failures.append(f"{q}: no rows written")
            continue
        got = summary(con.sql(f"SELECT * FROM read_parquet('{rows_dir / q}/*.parquet')"))
        sql = oracle_sql.get(q)
        if sql is None:
            if got["rows"] == 0:
                failures.append(f"{q}: no oracle and no rows")
            continue
        want = store.get(key(scale, q, sql)) or summary(con.sql(sql))
        for field in ("columns", "types", "rows", "digest"):
            if got[field] != want[field]:
                failures.append(f"{q}: {field} {got[field]} != oracle {want[field]}")
                break
    return failures


def check_windows(windows_csv: Path, mq: dict) -> list:
    """Failures of the emitted windows against a GROUP BY over the backlog."""
    con = connect(DATA / mq["scale"], windows_csv.parent / "duckdb")
    con.execute("CREATE TABLE planted AS SELECT unnest(?::BIGINT[]) AS i", [mq["planted"]])
    want = con.sql("""
        WITH msgs AS (
          SELECT row_number() OVER (ORDER BY event_id) - 1 AS i,
                 epoch_us(ts) AS ts_us, event_type, value FROM events)
        SELECT ts_us // 3600000000 * 3600000000 AS ws, event_type, count(*) AS n,
               sum(value) AS total
        FROM msgs WHERE i NOT IN (SELECT i FROM planted)
        GROUP BY ALL""").fetchall()
    closed = {(ws, t): (n, tot) for ws, t, n, tot in want
              if ws + 3600000000 <= mq["watermark_us"]}
    got = {}
    for line in windows_csv.read_text().split("\n"):
        if line:
            ws, t, n, tot = line.split(",")
            got[(int(ws), t)] = (int(n), float(tot))
    failures = []
    if set(got) != set(closed):
        failures.append(f"windows: {len(got)} emitted, {len(closed)} closed by the watermark, "
                        f"{len(set(got) ^ set(closed))} differ")
    for k in sorted(set(got) & set(closed)):
        (n, tot), (wn, wtot) = got[k], closed[k]
        if n != wn or abs(tot - wtot) > 1e-9 * max(1.0, abs(wtot)):
            failures.append(f"window {k}: n={n} total={tot}, GROUP BY gives n={wn} total={wtot}")
            break
    return failures


def recompute() -> None:
    """Recompute every stored oracle summary from the SQL the engine declares."""
    import run
    sql = run.oracle_sql()
    store = {}
    with run.scratch(f"oracle-{os.getpid()}") as tmp:
        for scale, queries in sql.items():
            con = connect(DATA / scale, tmp)
            for q, s in sorted(queries.items()):
                print(f"oracle {scale} {q}", file=sys.stderr)
                store[key(scale, q, s)] = summary(con.sql(s))
            con.close()
    STORE.parent.mkdir(exist_ok=True)
    STORE.write_text(json.dumps(store, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["recompute"]:
        raise SystemExit(__doc__)
    recompute()
