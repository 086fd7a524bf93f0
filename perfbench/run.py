#!/usr/bin/env python3
"""Benchmark of the graft medallion engine: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark mains from source with sbt (offline), then every run:

1. generates the workload's inputs from the seed,
2. starts one JVM (`graft.perfbench.Main`, Spark `local[nproc]`, one
   client thread, closed loop) that sets up, times whole rounds of the
   workload's operations for at least `--seconds`, and dumps what the
   checks need,
3. checks the outputs against DuckDB and a replay (untimed),
4. prints one detail line and, last, the result:
   `{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`
   with the end-to-end metrics (`--trace 0`) or the per-layer metrics of
   a traced run (`--trace 1`).

Everything a run writes stays under `.bench_build/perfbench/` in the
checkout; the run's own directory is removed when it ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

# Input sizes per workload (see README.md).
REFRESH_SF = 0.01
DML_SF = 0.02
CORPUS_DOCS = 1000
CORPUS_VECS = 2000
BI_ORDERS = 32

# The offline sbt flags of the repository's tier-1 build, used when
# SBT_OPTS is not set.
SBT_FLAGS = ("-Dsbt.override.build.repos=true "
             "-Dsbt.repository.config="
             + os.path.expanduser("~/.sbt/repositories") +
             " -Dsbt.offline=true -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
RUN_DEADLINE_S = 170

# Operation kinds that fail every round through an engine fault (see
# README.md). They count in `failed`; `correct` speaks of the rest.
# - live: a plain SQL scan after a DELETE still returns the deleted rows;
# - timetravel: `VERSION AS OF v` returns the current data files masked
#   by the deletes up to v, so later inserts and rewrites show through;
# - cdc_round: `table_changes` refuses a span holding a DELETE whose
#   masked files a later UPDATE rewrote;
# - drain_round: on restart the change-feed stream re-reads its last
#   committed batch, a span holding such a DELETE, and fails the same way.
KNOWN_FAULTS = {"table_dml_cdc": ("live", "timetravel", "cdc_round",
                                  "drain_round")}


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ----

def sources_digest() -> str:
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build() -> str:
    """Compiles engine and benchmark when their sources changed; returns
    the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the engine's sources (build.sbt, src/main/scala/graft) are not "
            "in this checkout")
    os.makedirs(BUILD, exist_ok=True)
    digest = sources_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BENCH, "target", "bench.classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", SBT_FLAGS)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (log: {log})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip()


# ---- inputs and the seeded operation streams ----

# The catalog entries that read the committed gold tables (g11 and g14
# derive from the source tables instead, so they are not gold reads).
BI_ENTRIES = ["g6_fact_order_items", "g9_revenue_rollup", "g10_category_kpis",
              "g12_delivery_sla"]


def bi_reads(rng) -> list:
    """Gold reads: catalog entries over the committed star, committed
    dims, and KPI SQL text with seeded date-key windows. `{fact}` and
    `{dim_*}` name the committed tables (the oracle's CTEs in DuckDB)."""
    reads = [{"name": e, "kind": "entry"} for e in BI_ENTRIES]
    reads.append({"name": "dim_products", "kind": "sql",
                  "sql": "SELECT * FROM {dim_products}"})
    reads.append({"name": "dim_date", "kind": "sql", "sql":
                  "SELECT date_key, CAST(date_actual AS STRING) AS date_actual,"
                  " year, quarter, month, day FROM {dim_date}"})
    a = int(rng.integers(1, 850))
    b = int(rng.integers(1, 850))
    reads += [
        {"name": "kpi_revenue_window", "kind": "sql", "sql":
         "SELECT d.year, d.month, CAST(count(*) AS BIGINT) AS n_items, "
         "CAST(sum(CAST(f.item_total_value AS DECIMAL(18,2))) AS DOUBLE) AS "
         "revenue FROM {fact} f JOIN {dim_date} d ON f.order_date_key = "
         f"d.date_key WHERE f.order_date_key BETWEEN {a} AND {a + 90} "
         "GROUP BY d.year, d.month"},
        {"name": "kpi_status_window", "kind": "sql", "sql":
         "SELECT o.order_status, CAST(count(*) AS BIGINT) AS n_items, "
         "CAST(sum(CASE WHEN o.is_on_time_delivery THEN 1 ELSE 0 END) AS "
         "BIGINT) AS on_time FROM {fact} f JOIN {dim_orders} o ON "
         f"f.order_key = o.order_key WHERE f.order_date_key BETWEEN {b} AND "
         f"{b + 60} GROUP BY o.order_status"},
        {"name": "kpi_seller_states", "kind": "sql", "sql":
         "SELECT s.seller_state, CAST(count(*) AS BIGINT) AS n_items, "
         "CAST(sum(CAST(f.item_price AS DECIMAL(18,2))) AS DOUBLE) AS price "
         "FROM {fact} f JOIN {dim_sellers} s ON f.seller_key = s.seller_key "
         "GROUP BY s.seller_state"},
        {"name": "kpi_review_categories", "kind": "sql", "sql":
         "SELECT p.product_category_name, CAST(count(*) AS BIGINT) AS n_items,"
         " CAST(sum(f.review_score) AS BIGINT) AS score_sum FROM {fact} f "
         "JOIN {dim_products} p ON f.product_key = p.product_key WHERE "
         "f.review_score IS NOT NULL GROUP BY p.product_category_name"},
        {"name": "kpi_fact_rows", "kind": "sql", "sql":
         "SELECT CAST(count(*) AS BIGINT) AS n FROM {fact}"},
        {"name": "kpi_fact_date_range", "kind": "sql", "sql":
         "SELECT min(order_date_key) AS lo, max(order_date_key) AS hi "
         "FROM {fact}"},
    ]
    return reads


LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"]


def _rekeyed(lo: int, n: int, to: int) -> str:
    """The lines of orders lo..lo+n-1 of the source table `{src}`, as new
    orders from key `to` on."""
    cols = ", ".join(f"l_orderkey - {lo} + {to} AS l_orderkey" if c ==
                     "l_orderkey" else c for c in LINEITEM_COLS)
    return (f"SELECT {cols} FROM {{src}} "
            f"WHERE l_orderkey BETWEEN {lo} AND {lo + n - 1}")


def dml_rounds(rng, sf: float) -> list:
    """Seeded DELETE/UPDATE/MERGE/INSERT rounds, one per 150-order slot of
    the key space in a seeded order, so no round deletes rows an earlier
    round deleted. A round deletes the middle 50 orders of its slot and
    updates the whole slot, so the UPDATE rewrites every file the DELETE
    masked. The MERGE matches 100 orders anywhere and brings 100 new
    ones; the INSERT brings 250 new orders. The MERGE and INSERT sources
    are SQL over the source table `{src}`."""
    orders = gen.Sizes(sf).orders
    tbl = "bench_lineitem"
    rounds = []
    for r, slot in enumerate(rng.permutation(orders // 150)):
        s = int(slot) * 150
        c = int(rng.integers(0, orders - 100))
        e = int(rng.integers(0, orders - 100))
        g = int(rng.integers(0, orders - 250))
        d = int(rng.integers(1, 6))
        fresh = 10 * orders + 1000 * r
        matched = ", ".join("l_quantity + 10 AS l_quantity" if x ==
                            "l_quantity" else x for x in LINEITEM_COLS)
        dpred = f"l_orderkey BETWEEN {s + 50} AND {s + 99}"
        upred = f"l_orderkey BETWEEN {s} AND {s + 149}"
        uset = (f"l_quantity = l_quantity + {d}, "
                f"l_extendedprice = l_extendedprice + {d}")
        rounds.append({
            "delete": f"DELETE FROM {tbl} WHERE {dpred}",
            "delete_pred": dpred,
            "update": f"UPDATE {tbl} SET {uset} WHERE {upred}",
            "update_pred": upred,
            "update_set": uset,
            "merge": f"MERGE INTO {tbl} USING bench_merge_src ON "
                     f"{tbl}.l_orderkey = bench_merge_src.l_orderkey AND "
                     f"{tbl}.l_linenumber = bench_merge_src.l_linenumber "
                     "WHEN MATCHED THEN UPDATE SET * "
                     "WHEN NOT MATCHED THEN INSERT *",
            "merge_src": f"SELECT {matched} FROM {{src}} WHERE l_orderkey "
                         f"BETWEEN {c} AND {c + 99} UNION ALL "
                         + _rekeyed(e, 100, fresh),
            "insert": f"INSERT INTO {tbl} SELECT * FROM bench_insert_src",
            "insert_src": _rekeyed(g, 250, fresh + 500),
        })
    return rounds


# The workloads, each made of one or more parts that share one JVM, one
# source directory and one round: set-ups first, then each part's round
# work in turn. DML and curation share a workload so that the runs a
# comparison of two commits takes fit its time budget (see README.md).
WORKLOADS = {"medallion_refresh": ["medallion_refresh"],
             "table_dml_cdc_llm_curation": ["table_dml_cdc", "llm_curation"]}


def make_spec(workload: str, seed: int, work: str) -> dict:
    if workload not in WORKLOADS:
        die(f"unknown workload {workload}")
    rng = np.random.default_rng([seed, 9])
    inputs = os.path.join(work, "inputs")
    source = os.path.join(inputs, "source")
    spec = {"workload": workload, "parts": WORKLOADS[workload],
            "dirs": {"source": source}}
    for part in WORKLOADS[workload]:
        if part == "medallion_refresh":
            base = gen.tables(seed, REFRESH_SF)
            gen.write(source, base)
            spec["dirs"]["changed"] = os.path.join(inputs, "changed")
            gen.write(spec["dirs"]["changed"],
                      gen.changed(seed, REFRESH_SF, base))
            reads = bi_reads(rng)
            spec["reads"] = reads
            spec["order"] = [[reads[i]["name"]
                              for i in rng.permutation(len(reads))]
                             for _ in range(BI_ORDERS)]
        elif part == "table_dml_cdc":
            gen.write(source, {"lineitem": gen.lineitem(seed, DML_SF)})
            spec["rounds"] = dml_rounds(rng, DML_SF)
            # Written as 16 files over disjoint l_orderkey ranges.
            spec["setup"] = [
                "CREATE TABLE bench_lineitem AS SELECT /*+ "
                "REPARTITION_BY_RANGE(16, l_orderkey) */ * FROM "
                "bench_lineitem_src",
                "ALTER TABLE bench_lineitem SET TBLPROPERTIES "
                "('delta.enableChangeDataFeed' = 'true')",
                "ALTER TABLE bench_lineitem CLUSTER BY (l_orderkey)"]
        elif part == "llm_curation":
            gen.write(source, gen.corpus(seed, CORPUS_DOCS, CORPUS_VECS))
    return spec


# ---- metrics ----

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


# The operation kinds of the curation stages.
CURATION_OPS = ("text", "dedup_exact", "dedup_minhash", "dedup_clusters",
                "similarity")


def detail(workload: str, res: dict) -> dict:
    """The workload's own user-visible figures (not gated)."""
    ms = {}
    for o in res["ops"]:
        ms.setdefault(o["kind"], []).append(o["ms"])
    chk = res["checks"]
    out = {}
    for part in WORKLOADS[workload]:
        if part == "medallion_refresh":
            q = ms.get("read", [])
            out.update({
                "refresh_full_s": median(ms.get("refresh_full", [])) / 1e3,
                "refresh_incremental_s":
                    median(ms.get("refresh_incremental", [])) / 1e3,
                "bi_query_p50_ms": median(q), "bi_query_p90_ms": pct(q, 0.9),
                "bi_queries": len(q),
                "bi_queries_per_s": len(q) / (sum(q) / 1e3) if q else 0.0})
        elif part == "table_dml_cdc":
            out.update({f"dml_{k}_p50_ms": median(ms.get(k, []))
                        for k in ("delete", "update", "merge", "insert")})
            drain_s = sum(ms.get("drain", [])) / 1e3
            out.update({
                "timetravel_read_p50_ms": median(ms.get("timetravel", [])),
                "cdc_read_p50_ms": median(ms.get("cdc", [])),
                "stream_drain_rows_per_s":
                    chk["drain_rows"] / drain_s if drain_s else 0.0,
                "dml_bytes_written_mb": chk["bytes_written"] / 1048576.0})
        elif part == "llm_curation":
            stages_s = sum(sum(ms.get(k, [])) for k in CURATION_OPS) / 1e3
            out["curation_docs_per_s"] = \
                CORPUS_DOCS * len(res["rounds"]) / stages_s
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()
    cp = build()
    t0 = time.time()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spec = make_spec(args.workload, args.seed, work)
        spec.update({"seconds": args.seconds, "trace": str(args.trace),
                     "cpus": len(os.sched_getaffinity(0)), "work": work,
                     "out": os.path.join(work, "out")})
        t_gen = time.time()
        spec_path = os.path.join(work, "spec.json")
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        java = shutil.which("java") or die("no java on PATH")
        cmd = [java] + [a for p in ADD_OPENS
                        for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            "-Xmx2g", "-cp", cp, "graft.perfbench.Main", spec_path]
        log = os.path.join(work, "jvm.log")
        budget = RUN_DEADLINE_S - (time.time() - started)
        with open(log, "w") as out:
            try:
                rc = subprocess.run(cmd, cwd=work, stdout=out,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL,
                                    timeout=max(budget, 30)).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        res_path = os.path.join(spec["out"], "result.json")
        if rc != 0 or not os.path.exists(res_path):
            sys.stderr.write(open(log).read()[-6000:])
            die(f"the benchmark JVM failed (exit {rc})")
        res = json.load(open(res_path))
        t_jvm = time.time()
        bad = run_checks(args.workload, spec, res)
        t_checks = time.time()
        ops = res["ops"]
        failed = {i for i, o in enumerate(ops) if not o["ok"]}
        dml = [i for i, o in enumerate(ops)
               if o["kind"] in ("delete", "update", "merge", "insert")]
        for kind, rnd in bad["ops"]:
            if ":" in kind:  # every run of a read whose output is wrong
                name = kind.split(":", 1)[1]
                idx = [i for i, o in enumerate(ops) if o["name"] == name]
            elif kind == "final":  # the table the DML ops left behind
                idx = dml[-1:]
            else:
                idx = [i for i, o in enumerate(ops) if o["kind"] == kind and
                       (rnd < 0 or o["round"] == rnd)]
                idx = idx[-1:] if rnd < 0 else idx
            failed.update(idx)
        bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        units = {m["name"]: m["unit"]
                 for m in bench["end_to_end"] + bench["per_layer"]}
        if args.trace:
            # Every layer metric; one this workload's calls never reach
            # reads 0.
            metrics = {m["name"]: {"value": float(res["layers"].get(
                m["name"], 0.0)), "unit": m["unit"]}
                for m in bench["per_layer"]}
            dump_trace(args, res)
        else:
            values = {
                "setup_s": res["first_op_ms"] / 1e3 - t0,
                "retained_mb": res["retained_mb"],
                "round_s": median(res["rounds"]) / 1e3,
            }
            metrics = {k: {"value": v, "unit": units[k]}
                       for k, v in values.items()}
        good = [o["ms"] for i, o in enumerate(ops) if i not in failed]
        print(json.dumps({"detail": detail(args.workload, res),
                          "op_p50_ms": median(good),
                          "peak_rss_mb": round(res["peak_rss_mb"], 1),
                          "checks": bad["why"], "rounds": len(res["rounds"]),
                          "op_ms": {o["name"]: round(o["ms"]) for o in ops},
                          "ops": len(ops),
                          "wall_s": {"gen": round(t_gen - t0, 2),
                                     "jvm": round(t_jvm - t_gen, 2),
                                     "checks": round(t_checks - t_jvm, 2)},
                          "errors": sorted({o["error"] for o in ops
                                            if o["error"]})[:5]}))
        # Operations of a kind that fails every time through a known
        # engine fault are counted in `failed`; `correct` speaks of the
        # rest.
        known = {k for part in WORKLOADS[args.workload]
                 for k in KNOWN_FAULTS.get(part, ())}
        correct = all(ops[i]["kind"] in known for i in failed)
        print(json.dumps({"correct": correct, "attempted": len(ops),
                          "failed": len(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def dump_trace(args, res: dict) -> None:
    """Traced runs keep their spans and layer metrics as JSON."""
    d = os.path.join(BUILD, "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{args.workload}-seed{args.seed}.json"),
              "w") as fh:
        json.dump({"layers": res["layers"], "spans": res["spans"],
                   "rounds": res["rounds"]}, fh)


# IVF recall@5 floor for s6 on the generated corpus (random unit vectors,
# no cluster structure): 0.34-0.68 over seeds 1000-1039.
RECALL_FLOOR = 0.2


def run_checks(workload: str, spec: dict, res: dict) -> dict:
    """Failed operations as (kind, round) pairs, and why."""
    out = spec["out"]
    src = spec["dirs"]["source"]
    bad, why = [], {}
    chk = res["checks"]
    for part in WORKLOADS[workload]:
        if part == "medallion_refresh":
            # Round 0's gold tables after each refresh, and the reads made
            # between them, against the oracle over the matching source.
            at = {d: os.path.join(out, d)
                  for d in ("full", "incremental", "reads")}
            got = checks.oracle_reads(
                src, {at["full"]: chk["gold"], at["reads"]: chk["reads"]},
                chk["ctes"])
            got.update(checks.oracle_reads(
                spec["dirs"]["changed"], {at["incremental"]: chk["gold"]},
                chk["ctes"]))
            for key in got:
                phase, name = key.split("/", 1)
                bad.append(("read:" + name, -1) if phase == "reads"
                           else ("refresh_" + phase, 0))
            why.update(got)
        elif part == "table_dml_cdc":
            for kind, rnd in checks.dml_replay(src, spec["rounds"], chk):
                bad.append((kind, rnd))
                why[f"{kind}@{rnd}"] = "differs from the DuckDB replay"
        elif part == "llm_curation":
            got = checks.oracle_reads(
                src, {os.path.join(out, "stages"): chk["oracle"]})
            for key in got:
                bad.append(("stage:" + key.split("/", 1)[1], -1))
            why.update(got)
            recall = checks.ann_recall(os.path.join(out, "stages"), src)
            why["ann_recall_at_5"] = recall
            if recall < RECALL_FLOOR:
                bad.append(("stage:s6_ann_ivf_trained", -1))
    return {"ops": bad, "why": why}


if __name__ == "__main__":
    main()
