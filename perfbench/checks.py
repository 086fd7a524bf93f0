"""Output checks, made apart from the engine: DuckDB runs each result's
oracle SQL over the same generated inputs and compares row multisets,
and replays the DML statement stream."""
import os
import re
import statistics

import duckdb
import numpy as np

STAR = ["region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings"]


def connect(source_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("PRAGMA disable_progress_bar")
    for t in STAR:
        p = os.path.join(source_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def materialize(con, ctes: str) -> None:
    """Creates each CTE of a `WITH a AS (...), b AS (...)` chain as a
    table, in order, so the queries that share the chain compute it
    once. A CTE starts a line, unindented: `name AS (`."""
    body = ctes.strip()
    assert body.upper().startswith("WITH")
    parts = re.split(r"^(\w+) AS \(", body[4:], flags=re.M)
    for name, text in zip(parts[1::2], parts[2::2]):
        text = text.rstrip().rstrip(",").rstrip()
        assert text.endswith(")"), name
        con.execute(f"CREATE TEMP TABLE {name} AS {text[:-1]}")


def _canon(con, rel: str) -> tuple:
    """(sorted column names, SELECT list casting every column of `rel`
    to a canonical text form): numbers through DOUBLE or BIGINT,
    timestamps without zone, everything else as text."""
    cols = {}
    for name, typ, *_ in con.execute(f"DESCRIBE {rel}").fetchall():
        q = f'"{name}"'
        if typ.startswith(("DECIMAL", "DOUBLE", "FLOAT", "REAL")):
            e = f"CAST(CAST({q} AS DOUBLE) AS VARCHAR)"
        elif typ in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
            e = f"CAST(CAST({q} AS BIGINT) AS VARCHAR)"
        elif typ.startswith("TIMESTAMP"):
            e = f"CAST(CAST({q} AS TIMESTAMP) AS VARCHAR)"
        else:
            e = f"CAST({q} AS VARCHAR)"
        cols[name] = e
    names = sorted(cols)
    return names, ", ".join(f'{cols[n]} AS "{n}"' for n in names)


def same(con, got_dir: str, sql: str) -> str:
    """'' when the parquet result under `got_dir` and the oracle query
    hold the same multiset of rows, else why not."""
    con.execute("CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM "
                f"read_parquet('{got_dir}/*.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {sql}")
    gn, gsel = _canon(con, "got")
    wn, wsel = _canon(con, "want")
    if gn != wn:
        return f"columns {gn} != {wn}"
    ng = con.execute("SELECT count(*) FROM got").fetchone()[0]
    nw = con.execute("SELECT count(*) FROM want").fetchone()[0]
    if ng != nw:
        return f"rows {ng} != {nw}"
    extra = con.execute(f"SELECT {gsel} FROM got EXCEPT ALL "
                        f"SELECT {wsel} FROM want LIMIT 1").fetchall()
    return f"row not in the oracle: {extra[0]}" if extra else ""


def oracle_reads(source_dir: str, results: dict, ctes: str = "") -> dict:
    """Compares each dumped result with its oracle SQL run by DuckDB over
    `source_dir`. `results` maps a result directory to the oracle SQL
    by name of the results under it; returns {dir/name: reason} for the
    mismatches. Oracles that start with the shared CTE chain `ctes` run
    against it computed once."""
    con = connect(source_dir)
    if ctes:
        materialize(con, ctes)
    bad = {}
    for out_dir, oracle in results.items():
        for name, sql in sorted(oracle.items()):
            if ctes and sql.startswith(ctes):
                rest = sql[len(ctes):].lstrip()
                # A query that extends the chain continues its WITH.
                sql = "WITH " + rest[1:] if rest.startswith(",") else rest
            try:
                why = same(con, os.path.join(out_dir, name), sql)
            except Exception as e:  # a missing dump or oracle error
                why = f"{type(e).__name__}: {e}"
            if why:
                bad[f"{os.path.basename(out_dir)}/{name}"] = why
    return bad


def ann_recall(out_dir: str, source_dir: str, k: int = 5) -> float:
    """Mean recall@k of the IVF answer against exact cosine ranking."""
    con = connect(source_dir)
    emb = con.execute("SELECT vec_id, embedding FROM embeddings "
                      "ORDER BY vec_id").df()
    x = np.array(emb["embedding"].tolist(), dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    ids = emb["vec_id"].to_numpy()
    ann = con.execute("SELECT q_id, cand_id FROM read_parquet("
                      f"'{out_dir}/s6_ann_ivf_trained/*.parquet')").df()
    recalls = []
    for q, grp in ann.groupby("q_id"):
        qi = int(np.flatnonzero(ids == q)[0])
        sims = x @ x[qi]
        sims[qi] = -np.inf
        exact = set(ids[np.argsort(-sims, kind="stable")[:k]].tolist())
        recalls.append(len(exact & set(grp["cand_id"].tolist())) / k)
    return statistics.fmean(recalls) if recalls else 0.0


# ---- DML replay ----

CHECK = ("count(*) AS n, sum(l_orderkey * 8 + l_linenumber) AS k, "
         "sum(CAST(l_quantity AS BIGINT)) AS q")
PRICE = "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS p"


def _ints(rows):
    return [tuple(int(v) for v in r) for r in rows]


def dml_replay(source_dir: str, rounds: list, res: dict) -> list:
    """Replays the statements the run executed in DuckDB and compares
    every live, time-travel and change-feed read, the table left behind
    and the drained feed, up to the last version a drain reached. Returns (op kind, round) pairs whose output did
    not match; round -1 means the run's last op of that kind."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE VIEW lineitem_src AS SELECT * FROM "
                f"'{source_dir}/lineitem.parquet'")
    con.execute("CREATE TABLE t AS SELECT * FROM lineitem_src")
    v = int(res["v0"])
    snap = {}     # version -> (n, k, q, p)
    feed = {}     # (version, change_type) -> (n, k, q)

    def snapshot():
        snap[v] = _ints(con.execute(f"SELECT {CHECK}, {PRICE} FROM t")
                        .fetchall())[0]

    def record(kind, sql):
        r = _ints(con.execute(f"SELECT {CHECK} FROM ({sql})").fetchall())[0]
        if r[0]:
            feed[(v, kind)] = r

    def source(name, sql):
        con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS "
                    + sql.replace("{src}", "lineitem_src"))
        return name

    snapshot()
    bad = []
    on = "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"
    for ver in res["versions"]:
        rd = rounds[ver["round"] % len(rounds)]
        op = ver["op"]
        v += 1
        if int(ver["version"]) != v:
            bad.append((op, ver["round"]))
            v = int(ver["version"])
        if op == "delete":
            record("delete", f"SELECT * FROM t WHERE {rd['delete_pred']}")
            con.execute(f"DELETE FROM t WHERE {rd['delete_pred']}")
        elif op == "update":
            pred = rd["update_pred"]
            record("update_preimage", f"SELECT * FROM t WHERE {pred}")
            con.execute(f"UPDATE t SET {rd['update_set']} WHERE {pred}")
            record("update_postimage", f"SELECT * FROM t WHERE {pred}")
        elif op == "merge":
            src = source("msrc", rd["merge_src"])
            record("update_preimage",
                   f"SELECT t.* FROM t SEMI JOIN {src} s ON {on}")
            record("update_postimage",
                   f"SELECT s.* FROM {src} s SEMI JOIN t ON {on}")
            record("insert", f"SELECT s.* FROM {src} s ANTI JOIN t ON {on}")
            con.execute(f"DELETE FROM t USING {src} s WHERE {on}")
            con.execute(f"INSERT INTO t SELECT * FROM {src}")
        elif op == "insert":
            src = source("isrc", rd["insert_src"])
            record("insert", f"SELECT * FROM {src}")
            con.execute(f"INSERT INTO t SELECT * FROM {src}")
        snapshot()
    for r in res["reads"]:
        if r["kind"] in ("live", "timetravel"):
            if _ints(r["rows"]) != [snap.get(int(r["version"]))]:
                bad.append((r["kind"], r["round"]))
        else:
            a, b = int(r["from"]), int(r["to"])
            # The engine's bounds: the changes of versions a+1..b.
            want = {(kind, ver): val for (ver, kind), val in feed.items()
                    if a < ver <= b}
            got = {(row[0], int(row[1])): tuple(int(x) for x in row[2:])
                   for row in r["rows"]}
            if got != want:
                bad.append((r["kind"], r["round"]))
    live = {int(row[0]): tuple(int(x) for x in row[1:]) for row in res["live"]}
    want_live = {int(row[0]): tuple(int(x) for x in row[1:]) for row in
                 con.execute(f"SELECT l_orderkey // 1000 AS b, {CHECK}, "
                             f"{PRICE} FROM t GROUP BY 1").fetchall()}
    if live != want_live:
        bad.append(("final", -1))
    drained = {(int(row[0]), row[1]): tuple(int(x) for x in row[2:])
               for row in res["drained"]}
    upto = int(res["drained_to"])
    if drained != {key: val for key, val in feed.items() if key[0] <= upto}:
        bad.append(("drain", -1))
    return bad
