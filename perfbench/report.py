"""Turns perfbench.Main's raw records into metrics, checks the engine's
outputs and records the host's condition. Used by perfbench/run.py."""
import importlib.util
import json
import os
import subprocess
import time
from pathlib import Path

import duckdb

import stats

WRITES = ("append", "delete", "upsert")
READS = ("read_point", "read_range", "read_version")
SNAPSHOT_CACHE = 40  # entries in ManifestStore's snapshot cache


# ---- host condition -------------------------------------------------------

def _proc_stat():
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def _calibrate():
    """Seconds for a fixed single-thread integer loop."""
    t = time.perf_counter()
    x = 1
    for _ in range(1_000_000):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    return time.perf_counter() - t


def host_probe():
    return {"stat": _proc_stat(), "calib_s": _calibrate(),
            "load1": os.getloadavg()[0]}


def host_condition(before, after, cpus, seed, sf, root):
    steal = None
    if before["stat"] and after["stat"] and len(before["stat"]) > 7:
        d = [b - a for a, b in zip(before["stat"], after["stat"])]
        steal = d[7] / sum(d) if sum(d) > 0 else 0.0
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {"steal_share": steal, "calib_before_s": before["calib_s"],
            "calib_after_s": after["calib_s"], "load1_before": before["load1"],
            "load1_after": after["load1"], "nproc": cpus, "seed": seed, "sf": sf,
            "commit": commit}


# ---- output checks --------------------------------------------------------

def _normalizer(root):
    spec = importlib.util.spec_from_file_location("graft_check", root / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def _check_catalog(raw, queries, data, out, root):
    normalize = _normalizer(root)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in Path(data).glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    res = {}
    for name in queries:
        qdir = out / "check" / name
        if not any(qdir.glob("*.parquet")):
            res[name] = "no output"
            continue
        rel = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        sql = raw["oracle"].get(name)
        if sql is None:  # rows-only check
            res[name] = "ok" if rows else "rows-only: no rows"
            continue
        try:
            orel = con.execute(sql)
        except duckdb.Error as e:
            res[name] = f"oracle failed: {str(e)[:200]}"
            continue
        ocols = [d[0] for d in orel.description]
        orows = orel.fetchall()
        if sorted(cols) != sorted(ocols):
            res[name] = f"columns {sorted(cols)} != oracle {sorted(ocols)}"
            continue
        s = normalize([tuple(r[cols.index(c)] for c in sorted(cols)) for r in rows])
        d = normalize([tuple(r[ocols.index(c)] for c in sorted(ocols)) for r in orows])
        res[name] = "ok" if s == d else f"{len(s)} rows != oracle {len(d)} rows, or values differ"
    return res


def _check_table(raw, data):
    """Replays the executed op log in DuckDB, with each row's version
    interval, and compares every read's fingerprint and the final table."""
    tdir = Path(data) / "table_rw"
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    inf = 2 ** 62

    def load(name, v):
        con.execute(f"INSERT INTO m SELECT *, {v}, {inf} FROM read_parquet('{tdir / name}')")

    con.execute(f"CREATE TABLE m AS SELECT *, 0::BIGINT vfrom, 0::BIGINT vto "
                f"FROM read_parquet('{tdir / 'base.parquet'}') LIMIT 0")
    load("base.parquet", raw["base_version"])
    fp_sql = ("SELECT count(*), coalesce(sum(k), 0), coalesce(sum(CAST(l_quantity AS BIGINT)), 0), "
              "coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 0) FROM m "
              "WHERE vfrom <= {v} AND {v} < vto AND k >= {lo} AND k < {hi}")
    bad = []
    for op in raw["ops"]:
        kind, v = op["name"], op.get("version")
        if not op["ok"]:
            continue
        if kind in ("delete", "upsert"):
            keys = (f"k >= {op['lo']} AND k < {op['hi']}" if kind == "delete" else
                    f"k IN (SELECT k FROM read_parquet('{tdir / op['batch']}'))")
            con.execute(f"UPDATE m SET vto = {v} WHERE vto = {inf} AND {keys}")
        if kind in ("append", "upsert"):
            load(op["batch"], v)
        if kind in READS:
            want = [int(x) for x in con.execute(fp_sql.format(v=v, lo=op["lo"], hi=op["hi"])).fetchone()]
            if want != op.get("fingerprint"):
                bad.append(op["id"])
    final = [int(x) for x in con.execute(fp_sql.format(
        v=raw["final_version"], lo=-inf, hi=inf)).fetchone()]
    return {"mismatched_ops": bad, "final_ok": final == raw["final_fingerprint"],
            "final_rows": final[0]}


def check(raw, queries, data, out, root):
    if queries is None:
        return _check_table(raw, data)
    return {"queries": _check_catalog(raw, queries, data, out, root)}


def failures(raw, checks):
    """(attempted, failed): operations run in the timed window plus the
    final-contents check, and those that failed or answered wrong."""
    ops = raw["ops"]
    if "queries" in checks:
        wrong = {q for q, r in checks["queries"].items() if r != "ok"}
        return len(ops), sum(1 for o in ops if not o["ok"] or o["name"] in wrong)
    bad = set(checks["mismatched_ops"])
    failed = sum(1 for o in ops if not o["ok"] or o["id"] in bad)
    return len(ops) + 1, failed + (0 if checks["final_ok"] else 1)


# ---- metrics --------------------------------------------------------------

def _tail(xs):
    v, pct, n = stats.tail(xs)
    return v, {"percentile": pct, "samples": n}


def end_to_end(raw, ops, passes):
    """The gated metrics. op_p50_s and op_tail_s are the median and the
    tail of each pass's operations (the same operations in every pass, so
    the same percentile), and their medians over the passes. Pooled over
    the passes, the median of `composite`'s two operations would be the
    mean of its slowest `m1_lstm` and its fastest `o25_manifest_stream`."""
    def walls(p):
        return [o["wall_s"] for o in ops if o["ok"] and o["name"] not in ("compact", "vacuum")
                and o["pass"] == p]
    tails = [stats.tail(walls(p["pass"])) for p in passes]
    m = {"setup_s": stats.median(raw["setup_s"]),
         "pass_s": stats.median(p["wall_s"] for p in passes),
         "pass_cpu_s": stats.median(p["cpu_s"] for p in passes),
         "op_p50_s": stats.median(stats.median(walls(p["pass"])) for p in passes),
         "op_tail_s": stats.median(t[0] for t in tails),
         "live_heap_mb": max(p["live_heap_mb"] for p in passes)}
    return m, {"op_tail_s": {"percentile": tails[0][1], "samples": tails[0][2],
                             "passes": len(passes)}}


def table_metrics(raw, ops, data):
    """The sources layer seen from outside, over the timed passes."""
    w = [o["wall_s"] for o in ops if o["ok"] and o["name"] in WRITES]
    r = [o["wall_s"] for o in ops if o["ok"] and o["name"] in READS]
    user = sum((Path(data) / "table_rw" / o["batch"]).stat().st_size
               for o in ops if o["name"] in ("append", "upsert"))
    written = sum(o["fs_bytes_written"] for o in ops)
    wt, wti = _tail(w)
    rt, rti = _tail(r)
    m = {"sources.write_p50_s": stats.median(w), "sources.write_tail_s": wt,
         "sources.read_p50_s": stats.median(r), "sources.read_tail_s": rt,
         "sources.write_amp": written / user if user else 0.0,
         "sources.space_amp": raw["table_bytes"] / raw["fresh_bytes"]}
    tt = [o for o in ops if o["ok"] and o["name"] == "read_version"]
    m.update({"time_travel_reads": len(tt),
              "time_travel_reads_beyond_cache": sum(o["back"] >= SNAPSHOT_CACHE for o in tt),
              "vacuum_dirs_removed": sum(o.get("dirs_removed", 0) for o in ops)})
    return m, {"sources.write_tail_s": wti, "sources.read_tail_s": rti}


def _spans(raw, ops, passes):
    """Benchmark spans (pass, op, build/resolve/execute, check) and
    listener spans (sql execution, job, stage), in ms, nested by time."""
    spans = []
    tr = raw["trace"]

    def add(layer, start, end, parent, op, **kw):
        sid = len(spans)
        spans.append({"id": sid, "layer": layer, "start": start, "end": end,
                      "parent": parent, "op": op, **kw})
        return sid

    by_pass = {}
    for p in passes:
        by_pass[p["pass"]] = add("pass", p["start_ms"], p["end_ms"], None, None, pass_=p["pass"])
    leaves = []  # (start, end, span id, op id) of the sub-spans listener spans nest under
    for o in ops:
        parent = by_pass.get(o["pass"])
        if parent is None:
            continue
        sid = add("op", o["start_ms"], o["end_ms"], parent, o["id"], name=o["name"])
        t = o["start_ms"]
        for part, key in (("resolve", "resolve_s"), ("build", "build_s"), ("execute", "exec_s")):
            if key in o:
                leaves.append((t, t + 1000 * o[key], add(part, t, t + 1000 * o[key], sid, o["id"]), o["id"]))
                t += 1000 * o[key]
        leaves.append((o["start_ms"], o["end_ms"], sid, o["id"]))  # fallback parent
        add("check", o["end_ms"], o["end_ms"] + 1000 * o.get("check_s", 0.0), parent, o["id"])

    def host(start, cands):
        for s, e, sid, op in cands:
            if s <= start <= e:
                return sid, op
        return None, None

    sql_c = []
    for x in sorted(tr["sql"], key=lambda x: x["start_ms"]):
        parent, op = host(x["start_ms"], leaves)
        if parent is not None and "end_ms" in x:
            sid = add("sql", x["start_ms"], x["end_ms"], parent, op)
            sql_c.append((x["start_ms"], x["end_ms"], sid, op))
    job_of_stage = {}
    for j in tr["jobs"]:
        parent, op = host(j["start_ms"], sql_c[::-1] + leaves)
        if parent is not None and "end_ms" in j:
            sid = add("job", j["start_ms"], j["end_ms"], parent, op, jid=j["id"])
            for st in j["stages"]:
                job_of_stage.setdefault(st, (sid, op))
    for st in tr["stages"]:
        if st["id"] in job_of_stage and "start_ms" in st and "end_ms" in st:
            parent, op = job_of_stage[st["id"]]
            add("stage", st["start_ms"], st["end_ms"], parent, op, sid_=st["id"])
    return spans


def per_layer(raw, ops, passes, out):
    """Per-layer metrics of the traced passes, summed per pass; the value
    reported is the median over the traced passes."""
    tr = raw["trace"]
    spans = _spans(raw, ops, passes)
    (out / "spans.json").write_text(json.dumps(spans))
    selfs = stats.self_times(spans)
    op_pass = {o["id"]: o["pass"] for o in ops}
    stage = {s["id"]: s for s in tr["stages"]}
    per = {p["pass"]: {} for p in passes}

    def acc(p, k, v):
        if p in per:
            per[p][k] = per[p].get(k, 0.0) + v

    for s in spans:  # self time per layer
        p = s["pass_"] if s["layer"] == "pass" else op_pass.get(s["op"])
        acc(p, f"self.{s['layer']}_s", selfs[s["id"]] / 1000)
    jobs_by_op = {}
    for s in spans:
        if s["layer"] == "job":
            jobs_by_op.setdefault(s["op"], []).append((s["start"], s["end"]))
    for o in ops:
        p, name, ml = o["pass"], o["name"], o["name"][:1] == "m" and o["name"][1:2].isdigit()
        jobs = jobs_by_op.get(o["id"], [])
        busy = stats.covered(jobs, o["start_ms"], o["end_ms"]) / 1000
        gap = stats.driver_gap((o["start_ms"], o["end_ms"]), jobs) / 1000
        acc(p, "spark.jobs", len(jobs))
        acc(p, "spark.job_busy_s", busy)
        acc(p, "spark.driver_gap_s", gap)
        acc(p, "plans.codegen_compile_s", o["codegen_s"])
        acc(p, "plans.codegen_classes", o["codegen_classes"])
        acc(p, "sources.fs_write_ops", o["fs_write_ops"])
        acc(p, "sources.fs_read_ops", o["fs_read_ops"])
        acc(p, "sources.fs_bytes_written", o["fs_bytes_written"])
        if raw["workload"] != "table_rw":
            acc(p, "queries.build_s", o.get("build_s", 0.0))
        if ml:
            acc(p, "ml.query_s", o["wall_s"])
            acc(p, "ml.jobs", len(jobs))
            acc(p, "ml.driver_gap_s", gap)
        if name in WRITES + ("compact", "vacuum"):
            acc(p, f"sources.{name}_s", o["wall_s"])
        if name in READS:
            acc(p, "sources.resolve_s", o.get("resolve_s", 0.0))
            acc(p, "sources.read_build_s", o.get("build_s", 0.0))
            acc(p, "sources.read_exec_s", o.get("exec_s", 0.0))
        if name in ("read_point", "read_range"):
            acc(p, "_files_read", o.get("files_read", 0))
            acc(p, "_files_live", o.get("files_live", 0))
    for s in spans:
        if s["layer"] == "sql":
            acc(op_pass.get(s["op"]), "plans.sql_executions", 1)
        if s["layer"] == "stage":
            p, st = op_pass.get(s["op"]), stage[s["sid_"]]
            acc(p, "spark.stages", 1)
            for k, v in (("spark.tasks", st["tasks"]), ("spark.failed_tasks", st["failed_tasks"]),
                         ("spark.task_wait_s", st["wait_ms"] / 1000),
                         ("spark.task_run_s", st["run_ms"] / 1000),
                         ("spark.task_cpu_s", st["cpu_ns"] / 1e9),
                         ("spark.task_gc_s", st["gc_ms"] / 1000),
                         ("spark.shuffle_write_bytes", st["shuffle_write_bytes"]),
                         ("spark.shuffle_read_bytes", st["shuffle_read_bytes"]),
                         ("spark.spill_bytes", st["spill_bytes"]),
                         ("spark.scan_bytes", st["scan_bytes"]),
                         ("spark.scan_rows", st["scan_rows"])):
                acc(p, k, v)

    def in_op(t):
        for o in ops:
            if o["start_ms"] <= t <= o["end_ms"]:
                return o["pass"]
        return None

    for ph in tr["phases"]:
        p = in_op(ph["start_ms"])
        for k in ("analysis", "optimization", "planning"):
            acc(p, f"plans.{k}_s", ph[f"{k}_ms"] / 1000)
    for b in tr["batches"]:
        p = in_op(b["start_ms"])
        acc(p, "streaming.batches", 1)
        acc(p, "streaming.trigger_s", b["trigger_ms"] / 1000)
        acc(p, "streaming.add_batch_s", b["add_batch_ms"] / 1000)
        acc(p, "streaming.wal_commit_s", b["wal_commit_ms"] / 1000)
    for p in passes:
        d = per[p["pass"]]
        wall = p["wall_s"]
        d["spark.driver_gap_share"] = d.get("spark.driver_gap_s", 0.0) / wall if wall else 0.0
        busy = d.get("spark.job_busy_s", 0.0)
        d["spark.core_busy_share"] = d.get("spark.task_run_s", 0.0) / (busy * raw["cpus"]) if busy else 0.0
        live = d.pop("_files_live", 0.0)
        read = d.pop("_files_read", 0.0)
        d["sources.files_read_share"] = read / live if live else 0.0
        d["sources.live_files"] = p.get("live_files", 0)
        d["sources.log_versions"] = p.get("log_versions", 0)
    keys = sorted({k for d in per.values() for k in d})
    return {k: stats.median(d.get(k, 0.0) for d in per.values()) for k in keys}


def summarize(raw, workload, checks, traced, out, data, metric_units):
    attempted, failed = failures(raw, checks)
    timed = [p for p in raw["passes"] if not p["warmup"]]
    untraced = [p for p in timed if not p["traced"]]
    passes = [p for p in timed if p["traced"] == traced]
    window = {p["pass"] for p in passes}
    ops = [o for o in raw["ops"] if o["pass"] in window]
    info = {}
    e2e, i1 = end_to_end(raw, ops, passes)
    info.update(i1)
    extra = {"failed_frac": failed / attempted, "passes": len(passes),
             "ops_in_window": len(ops)}
    if workload == "table_rw":
        t, i2 = table_metrics(raw, ops, data)
        extra.update(t)
        info.update(i2)
    if traced:
        layers = per_layer(raw, ops, passes, out)
        layers.update({k: v for k, v in extra.items() if k.startswith("sources.")})
        layers["trace.pass_untraced_s"] = stats.median(p["wall_s"] for p in untraced)
        layers["trace.pass_traced_s"] = e2e["pass_s"]
        layers["trace.overhead_s"] = e2e["pass_s"] - layers["trace.pass_untraced_s"]
        layers["plans.codegen_setup_s"] = raw["setup_codegen_s"]
        warm = {p["pass"] for p in raw["passes"] if p["warmup"]}
        layers["plans.codegen_first_pass_s"] = sum(o["codegen_s"] for o in raw["ops"]
                                                   if o["pass"] in warm)
        values = {k: layers.get(k, 0.0) for k in metric_units}
    else:
        values = {k: e2e[k] for k in metric_units}
    contract = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in metric_units.items()}}
    return {"contract": contract, "end_to_end": e2e, "extra": extra, "info": info,
            "per_layer": layers if traced else None}


def print_report(rec, units):
    h = rec["host"]
    print(f"workload {rec['workload']}  seed {rec['seed']}  trace {rec['trace']}")
    print("host: " + "  ".join(f"{k}={v}" for k, v in h.items()))
    for k, v in rec["end_to_end"].items():
        print(f"  {k:<28} {v:.6g} {units.get(k, 's')}")
    for k, v in rec["extra"].items():
        print(f"  {k:<28} {v:.6g} {units.get(k, '')}")
    for k, v in rec["info"].items():
        per_pass = f" per pass, median of {v['passes']} passes" if "passes" in v else ""
        print(f"  {k:<28} p{v['percentile']:.1f} over {v['samples']} samples{per_pass}")
    for k, v in (rec["per_layer"] or {}).items():
        if k not in rec["extra"]:
            print(f"  {k:<36} {v:.6g} {units.get(k, '')}")
    bad = {k: v for k, v in rec["checks"].get("queries", {}).items() if v != "ok"}
    for k, v in bad.items():
        print(f"  CHECK FAILED {k}: {v}")
    if rec["checks"].get("mismatched_ops"):
        print(f"  CHECK FAILED table_rw ops {rec['checks']['mismatched_ops']}")
    if "final_ok" in rec["checks"] and not rec["checks"]["final_ok"]:
        print("  CHECK FAILED table_rw final contents")
