#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client running one seeded workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and perfbench.Main from
source on first use (perfbench/build.sbt), generates the seeded inputs,
runs perfbench.Main (perfbench/src, one JVM at local[nproc]), checks every
output outside the timed window, prints a human-readable report and, as the
last line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from the traced run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import report  # noqa: E402

ROOT = HERE.parent
DEADLINE_S = 175.0  # a run must end within 180 s
FIRST_DEADLINE_S = 890.0  # ... or 900 s when it has to build first
SF = 0.01

# Fixed sub-lists of the catalog, sized so that one warm pass takes a few
# seconds on a 4-core host (README.md records why each query is in), each
# workload's nominal pass time and its untimed warm-up passes. A run does
# a fixed number of passes, the warm-up ones and then --seconds over the
# nominal pass time, so that it measures about --seconds and every run
# does the same work whatever the host's speed. composite keeps getting
# faster for several passes after its cold first one (in five runs its
# second pass was 7-40 % slower than its fifth), so it warms up for three.
# llm_curation runs by hand only: BENCHMARK.json leaves it out to fit the
# time budget of a full set of runs (README.md).
WORKLOADS = {
    "llm_curation": (["e5_text_stats", "e3_cosine_topk", "e1_dedup_exact"], 2.5, 2),
    "composite": (["m1_lstm", "o25_manifest_stream"], 6.0, 3),
    "table_rw": (None, 6.0, 1),
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    return Path(os.environ.get("CARGO_TARGET_DIR") or ROOT / ".bench_build").resolve()


def run_bounded(cmd, deadline, **kw):
    """Run `cmd` in its own process group; kill the group at `deadline`."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"timed out: {cmd[0]}", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def sources_digest():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(bdir, deadline):
    classes = HERE / "target" / "scala-2.13" / "classes"
    stamp = bdir / "classes.stamp"
    digest = sources_digest()
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes
    # keep sbt's state, temp files and native-library extraction inside
    # the build directory; -XX:-UsePerfData also covers the sbt script's
    # own java probes, which would write hsperfdata to the system temp dir
    tmp = bdir / "sbt-tmp"
    tmp.mkdir(exist_ok=True)
    opts = os.environ.get("SBT_OPTS", "-Dsbt.offline=true").split()
    opts += [f"-Dsbt.global.base={bdir / 'sbt-global'}", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    env = dict(os.environ, SBT_OPTS=" ".join(opts), JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               TMPDIR=str(tmp), SPARK_HOME=str(spark_home()))
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products"],
                            deadline, cwd=HERE, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    stamp.write_text(digest)
    return classes


def inputs(bdir, seed, table_passes=None):
    """The seeded fixture tables and, given `table_passes`, a table_rw op
    log of that many regular passes (after its history pass)."""
    data = bdir / "data" / (f"sf{SF}_seed{seed}" + (f"_table{table_passes}" if table_passes else ""))
    if not (data / "done").is_file():
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(str(data), seed, SF)
        if table_passes:
            gen.generate_table_rw(str(data), seed, table_passes)
        (data / "done").write_text("ok")
    return data


def spark_home():
    """SPARK_HOME, or the first Spark install (a bin/spark-submit next to
    a jars directory) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = Path(d).resolve().parent
        if (Path(d) / "spark-submit").is_file() and (home / "jars").is_dir():
            return home
    fail("set SPARK_HOME to a Spark install")


def java_cmd(classes, tmp):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    jars = spark_home() / "jars" / "*"
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return cmd + ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main"]


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "BENCHMARK.json").is_file():
        fail(f"no engine sources or BENCHMARK.json under {ROOT}; run from the root of a checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    bdir = build_dir()
    bdir.mkdir(parents=True, exist_ok=True)
    first = not (bdir / "classes.stamp").is_file()
    deadline = t_start + (FIRST_DEADLINE_S if first else DEADLINE_S)
    host_before = report.host_probe()
    classes = build(bdir, deadline)
    queries, nominal_pass_s, warmup = WORKLOADS[a.workload]
    passes = max(1, round(a.seconds / nominal_pass_s))
    if queries is None:
        data = inputs(bdir, a.seed, warmup + passes)
        warmup += 1  # the op log's history pass, untimed
    else:
        data = inputs(bdir, a.seed)

    out = bdir / "runs" / f"{a.workload}_seed{a.seed}_trace{a.trace}"
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    cmd = java_cmd(classes, out / "tmp") + [
        "--workload", "table_rw" if queries is None else "catalog",
        "--seed", str(a.seed), "--warmup", str(warmup), "--passes", str(passes),
        "--trace", str(a.trace),
        "--data", str(data), "--out", str(out), "--queries", ",".join(queries or [])]
    with open(out / "jvm.log", "w") as log:
        code, _ = run_bounded(cmd, deadline, stdout=log, stderr=subprocess.STDOUT,
                              env=dict(os.environ, TMPDIR=str(out / "tmp")))
    if code != 0 or not (out / "raw.json").is_file():
        sys.stderr.write((out / "jvm.log").read_text()[-4000:])
        fail(f"perfbench.Main exited with {code}", 4)
    raw = json.loads((out / "raw.json").read_text())

    checks = report.check(raw, queries, data, out, ROOT)
    host_after = report.host_probe()
    host = report.host_condition(host_before, host_after, raw["cpus"], a.seed, SF, ROOT)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    gated = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    result = report.summarize(raw, a.workload, checks, a.trace == 1, out, data,
                              {k: units[k] for k in gated})
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "host": host, "checks": checks, **result}
    (out / "result.json").write_text(json.dumps(record, indent=1))
    shutil.rmtree(out / "tmp", ignore_errors=True)
    shutil.rmtree(out / "work", ignore_errors=True)
    shutil.rmtree(out / "check", ignore_errors=True)
    report.print_report(record, units)
    print(json.dumps(result["contract"]))


if __name__ == "__main__":
    main()
