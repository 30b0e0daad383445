"""The benchmark's one command. From the repository root:

    python3 perfbench/run.py --workload mop_monthly --seed 1 --seconds 10 --trace 0

Builds the program (build.py), makes the seed's raw field for the catalog
workloads (gen.py), runs the workload in one Spark driver process
(graftbench.Main), checks the outputs in DuckDB (check.py) and prints, as
its last stdout line, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones of
BENCHMARK.json, with --trace 1 its per-layer ones. The lines before it
give the same run in per-workload names (run_s or pass_s, task_p50_s or
query_p50_s, the tail percentile, rows_per_s, failed_share) and name
every failed operation, lost slices included.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# Query workloads: the committed table set (perfbench/testdata) that is
# timed and checked, the one the warm-up runs on, and the warm-up passes.
# The graph loops are bound by per-round jobs and JIT warm-up, not by rows
# (a pass takes about as long at sf0.001 as at sf0.01), so both workloads
# run at sf0.01. The first pass after a single warm-up pass is still 10-50%
# slower than later ones, and varies as much across runs, so the graph loops
# warm up twice.
TABLES = {
    "query_tail": ("sf0.01", "sf0.001", 1),
    "graph_loops": ("sf0.01", "sf0.01", 2),
}
WORKLOADS = ["mop_monthly", "mop_subdaily", *TABLES]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def tail(values):
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, samples), or None below eleven samples."""
    v = sorted(values)
    if len(v) < 11:
        return None
    return v[-11], 100.0 * (len(v) - 10) / len(v), len(v)


def run_jvm(classpath, args, root):
    tmp = os.path.join(root, build.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)

    def stop(*_):
        proc.kill()
        proc.wait()
        raise SystemExit("benchmark stopped")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"benchmark process exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        raise SystemExit(f"benchmark process failed ({rc})")


def log(msg):
    print(f"run.py [{time.time() - T0:.1f} s]: {msg}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        query_lists = json.load(f)

    classpath = build.build(root)
    inputs = os.path.join(root, build.BUILD, "inputs", f"seed{a.seed}")
    if a.workload in TABLES:
        data, warm = (os.path.join(HERE, "testdata", t) for t in TABLES[a.workload][:2])
    else:
        gen.generate(inputs, a.seed)
    out = os.path.join(root, build.BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    names = query_lists.get(a.workload, [])
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--inputs", inputs, "--out", out]
    if names:
        args += ["--queries", ",".join(names), "--data", data, "--warm", warm,
                 "--warm-passes", str(TABLES[a.workload][2])]
    log("inputs ready")
    run_jvm(classpath, args, root)
    log("benchmark process ended")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    # ---- correctness ----------------------------------------------------
    units = res["units"]
    ops = [o for u in units for o in u["ops"]]
    notes = [f"{o['name']}: {o['error']}" for o in ops if o["error"] is not None]
    lost = []
    c = res["check"]
    if c["kind"] == "mop":
        f2, lost, n2 = check.mop(c, inputs)
    else:
        f2, n2 = check.queries(c, data, names)
    notes += n2
    log("outputs checked")
    # A lost slice fails its task: the run did not leave that output behind.
    notes += [f"{t}: slice missing from the final DRS tree (Sink.writeDrs overwrites "
              f"the variable's directory per slice)" for t in lost]
    n_failed = sum(o["error"] is not None for o in ops) + len(f2) + len(lost)
    attempted = len(ops)

    # ---- metrics --------------------------------------------------------
    plain = [u for u in units if not u["traced"]]
    traced = [u for u in units if u["traced"]]
    op_walls = [o["wall"] for u in plain for o in u["ops"]]
    mop = c["kind"] == "mop"
    run_s = statistics.median(u["wall"] for u in plain)
    e2e = {"setup_s": res["setup_s"], "run_s": run_s, "retained_heap_mb": res["retained_heap_mb"]}
    layers = dict(res["layers"])
    layers["io.lost_slices"] = float(len(lost))
    layers["host.steal_s"] = res["host"]["steal_s"]
    layers["host.load1"] = res["host"]["load1"]
    if traced:
        layers["trace.overhead_s"] = (statistics.median(u["wall"] for u in traced) - run_s)

    # ---- report ---------------------------------------------------------
    op = "task" if mop else "query"
    print(f"# {a.workload} seed={a.seed} units={len(units)} (traced {len(traced)}) "
          f"attempted={attempted} failed={n_failed}")
    print(f"setup_s {e2e['setup_s']:.4f} s")
    print(f"{'run_s' if mop else 'pass_s'} {run_s:.4f} s")
    print(f"{op}_p50_s {statistics.median(op_walls):.4f} s")
    t = tail(op_walls)
    print(f"{op}_tail_s " + (f"{t[0]:.4f} s (p{t[1]:.1f} of {t[2]} samples, 10 beyond)" if t
                             else f"n/a ({len(op_walls)} samples, needs 11)"))
    if mop:
        rows = statistics.median(u["rows"] for u in plain)
        print(f"rows_per_s {rows / run_s:.1f} rows/s")
    print(f"failed_share {n_failed / attempted:.4f} ratio")
    print(f"retained_heap_mb {e2e['retained_heap_mb']:.1f} MB  (persisted RDDs left: {res['leftover']})")
    print(f"host steal {res['host']['steal_s']:.2f} s during the timed loop, load1 {res['host']['load1']}")
    for n in notes:
        print(f"FAILED {n}")
    if a.trace:
        for k in sorted(layers):
            print(f"layer {k} {layers[k]:.6g}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = layers if a.trace else e2e
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
