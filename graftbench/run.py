#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run, in a fresh JVM.

    python3 graftbench/run.py --workload etl --seed 1 --seconds 5 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
harness with sbt and caches the classpath under graftbench/.build; later
runs of the same sources reuse it. Inputs are generated from the seed
under graftbench/.work and removed when the run ends. The last line of
standard output is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. See graftbench/README.md.
"""
import argparse
import datetime
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # a run leaves nothing in the tree

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("etl", "operators")

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_geomean_s", "s"), ("peak_rss_mb", "MiB")]

PER_LAYER = [
    ("session.start_s", "s"), ("spark.job_cost_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_s", "s"), ("spark.driver_gap_s", "s"), ("spark.dispatch_share", "ratio"),
    ("spark.scan_mb", "MiB"), ("spark.shuffle_read_mb", "MiB"), ("spark.shuffle_write_mb", "MiB"),
    ("spark.spill_mb", "MiB"), ("jvm.gc_s", "s"),
    ("catalyst.actions", "count"), ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("trace.overhead", "ratio"),
]

# Module metrics, reported by the traced run of the workload that calls
# the module (printed, and kept in the run record; not in the JSON line).
MODULE_UNITS = {
    "relational.build_s": "s", "relational.exec_s": "s", "sql.build_s": "s", "sql.exec_s": "s",
    "ingest.read_s": "s", "ingest.rows": "count", "ingest.mb": "MiB",
    "tablestore.store_s": "s", "tablestore.upsert_s": "s", "manifest.publish_s": "s",
    "tablestore.files_written": "count", "tablestore.mb_written": "MiB", "sink.readback_s": "s",
    "pipeline.corpus_e2e_s": "s", "text.exec_s": "s", "dedup.exec_s": "s",
    "similarity.exec_s": "s", "dedup.pairs_out": "count",
    "graph.build_s": "s", "graph.exec_s": "s", "graph.jobs_per_round": "count",
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# A fixed-size heap: peak RSS then does not depend on when G1 decides to grow.
HEAP = "2g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
SETUP_REPEATS = 3


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft sources not found next to graftbench/ (run from a graft checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark")
    out = os.path.join(HERE, ".build")
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, f"classpath-{source_hash()}.txt")
    if os.path.isfile(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                                "export graftbench/Runtime/fullClasspath"],
                               cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
                               timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"build timed out (log: {log})")
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (log: {log})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def seeded_sql(seed):
    """etl's parameterized SQL: fixed shapes, constants from the seed.
    Each text runs unchanged on Spark and on DuckDB."""
    rng = random.Random(seed)

    def day(base, span):
        return (datetime.date.fromisoformat(base) + datetime.timedelta(days=rng.randint(0, span))).isoformat()

    def next_year(d):
        return (datetime.date.fromisoformat(d) + datetime.timedelta(days=365)).isoformat()

    seg_from, ship_from = day("1995-01-01", 1800), day("1995-03-01", 1500)
    seg_to, ship_to = next_year(seg_from), next_year(ship_from)
    qty = rng.randint(5, 45)
    return {
        "sql_segment_revenue": (
            "SELECT c_mktsegment AS segment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            f"WHERE o_orderdate >= TIMESTAMP '{seg_from} 00:00:00' AND o_orderdate < TIMESTAMP '{seg_to} 00:00:00' "
            "GROUP BY c_mktsegment ORDER BY segment"),
        "sql_ship_window": (
            "SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty, "
            "round(avg(l_discount), 4) AS avg_disc FROM lineitem "
            f"WHERE l_shipdate >= TIMESTAMP '{ship_from} 00:00:00' AND l_shipdate < TIMESTAMP '{ship_to} 00:00:00' "
            f"AND l_quantity > {qty} GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    }


def write_conf(path, items):
    def esc(s):
        return str(s).replace("\\", "\\\\").replace("\n", "\\n").replace("=", "\\=").replace(":", "\\:")
    with open(path, "w", encoding="utf-8") as fh:
        for k, v in items:
            fh.write(f"{esc(k)}={esc(v)}\n")


def run_jvm(cp, conf_path, work, inputs):
    """Run the harness. While it warms up, run the DuckDB oracle on the
    SQL it writes out; it waits for `oracle.done` before measuring."""
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-cp", cp, "graftbench.Harness", conf_path])
    sql_path = os.path.join(work, "verify", "oracle.json")
    rows = {}
    with open(os.path.join(work, "jvm.log"), "w") as log:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            while proc.poll() is None and not os.path.isfile(sql_path):
                time.sleep(0.02)
            if os.path.isfile(sql_path):
                try:
                    rows = oracle.expected(inputs, json.load(open(sql_path)))
                finally:
                    open(os.path.join(work, "verify", "oracle.done"), "w").close()
            code = proc.wait(timeout=max(1.0, JVM_TIMEOUT_S - (time.time() - launched)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return launched, code, rows


def tail(path, n=30):
    try:
        return "".join(open(path, errors="replace").readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-oracle", metavar="OP",
                    help="alter OP's DuckDB result before comparing, to show a mismatch fails the run")
    a = ap.parse_args()

    cp = build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        # set-up: inputs generated SETUP_REPEATS times, the median counts
        gen_times, slices = [], None
        for k in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            s = gen.generate(os.path.join(work, f"inputs{k}"), a.seed)
            gen_times.append(time.perf_counter() - t0)
            slices = slices or s
        for k in range(1, SETUP_REPEATS):
            shutil.rmtree(os.path.join(work, f"inputs{k}"))
        inputs = os.path.join(work, "inputs0")

        sql = seeded_sql(a.seed) if a.workload == "etl" else {}
        out_path = os.path.join(work, "result.json")
        items = [("workload", a.workload), ("seed", a.seed), ("seconds", a.seconds),
                 ("trace", a.trace), ("inputs", inputs), ("work", work), ("out", out_path),
                 ("min_passes", 3 if a.trace else 1)]
        if a.workload == "etl":
            for i, (path, rows, wh_rows) in enumerate(slices):
                items += [(f"slice.{i}.path", path), (f"slice.{i}.rows", rows),
                          (f"slice.{i}.warehouse_rows", wh_rows)]
        items += [(f"sql.{k}", v) for k, v in sql.items()]
        conf_path = os.path.join(work, "run.properties")
        write_conf(conf_path, items)

        launched, code, oracle_rows = run_jvm(cp, conf_path, work, inputs)
        if code != 0 or not os.path.isfile(out_path):
            fail(f"harness {'timed out' if code is None else f'exited with {code}'}:\n"
                 + tail(os.path.join(work, "jvm.log")), code=1)
        res = json.load(open(out_path))

        t0 = time.perf_counter()
        checks = oracle.compare(os.path.join(work, "verify"), oracle_rows, a.corrupt_oracle)
        oracle_s = res["oracle_wait_s"] + time.perf_counter() - t0
        keep_record(a, work)
        report(a, res, checks, launched, statistics.median(gen_times), oracle_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def keep_record(a, work):
    """The run record (and, traced, its spans) outlives the work directory."""
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    for src, suffix in (("result.json", ".json"), ("result.json.spans.json", ".spans.json")):
        if os.path.isfile(os.path.join(work, src)):
            shutil.copyfile(os.path.join(work, src), os.path.join(runs, stem + suffix))


def report(a, res, checks, launched, gen_s, oracle_s):
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + sum(1 for _, ok, _ in checks if not ok)
    for msg in res["errors"]:
        print(f"error: {msg}")
    for name, ok, detail in checks:
        print(f"oracle {name}: {'ok' if ok else 'MISMATCH'} {detail}")

    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    traced = [p["wall_s"] for p in res["passes"] if p["traced"]]
    jvm_s = res["entry_ms"] / 1000.0 - launched
    session_s = res["session_start_s"]
    setup_s = gen_s + jvm_s + session_s + res["warmup_s"] + oracle_s
    lat = res["op_latency_s"] or {}
    op_medians = {k: statistics.median(v) for k, v in lat.items()}
    geomean = statistics.geometric_mean(op_medians.values()) if op_medians else 0.0

    print(f"run {a.workload} seed={a.seed} trace={a.trace} passes={len(res['passes'])} "
          f"job_cost_ms={res['job_cost_ms']:.2f} agg_cost_ms={res['agg_cost_ms']:.2f} "
          f"loadavg_start=[{res['loadavg_start']}] loadavg_end=[{res['loadavg_end']}]")
    print(f"setup parts: gen_s={gen_s:.3f} jvm_s={jvm_s:.3f} session_s={session_s:.3f} "
          f"warmup_s={res['warmup_s']:.3f} oracle_s={oracle_s:.3f}")
    for k, v in op_medians.items():
        print(f"op {k}: {v * 1000:.1f} ms (median of {len(lat[k])})")

    metrics = {}
    if a.trace == 0:
        e2e = {"setup_s": setup_s, "pass_s": statistics.median(untraced), "op_geomean_s": geomean,
               "peak_rss_mb": res["peak_rss_mb"]}
        for name, unit in END_TO_END:
            metrics[name] = {"value": e2e[name], "unit": unit}
        print(f"pass_s samples={len(untraced)}; op_geomean_s over {len(op_medians)} ops")
        # pass time in units of this run's per-job cost: read it next to
        # pass_s when the box's job cost drifts between runs
        extra = [("error_rate", failed / attempted, "ratio"),
                 ("pass_jobcosts", e2e["pass_s"] * 1000 / res["job_cost_ms"], "count")]
        if a.workload == "etl":
            commits = sorted(res["commit_ms"])
            q = statistics.quantiles(commits, n=10, method="inclusive")
            extra += [("commit_p50_ms", statistics.median(commits), "ms"),
                      ("commit_p90_ms", q[8], "ms"),
                      ("bytes_per_input_byte", res["bytes_written"] / res["bytes_input"], "ratio")]
            print(f"commit samples={len(commits)}")
        for name, v, unit in extra:
            print(f"metric {name} = {v:.6g} {unit}")
    else:
        passes = res["layers"]
        per_pass = {k: statistics.median(p.get(k, 0.0) for p in passes) for k in passes[0]} if passes else {}
        per_pass["session.start_s"] = session_s
        per_pass["spark.job_cost_ms"] = res["job_cost_ms"]
        # the untraced passes sit on both sides of the traced one, so a
        # linear warm-up trend cancels; passes still speed up, less each
        # time, which biases the ratio down by a few percent
        per_pass["trace.overhead"] = statistics.median(traced) / statistics.mean(untraced) - 1
        for name, unit in PER_LAYER:
            metrics[name] = {"value": per_pass[name], "unit": unit}
        for name in sorted(per_pass):
            if name in MODULE_UNITS:
                print(f"metric {name} = {per_pass[name]:.6g} {MODULE_UNITS[name]}")
        for name in sorted(per_pass):
            if name.startswith("self."):
                print(f"self {name[5:-2]} = {per_pass[name]:.4f} s")
        print(f"traced passes={len(traced)} untraced passes={len(untraced)}; spans in "
              f"graftbench/.runs/{a.workload}-seed{a.seed}-trace1.spans.json")
    for name, m in metrics.items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")

    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
