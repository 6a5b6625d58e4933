"""graft benchmark: one seeded closed-loop run of one workload.

    python3 perfbench/run.py --workload match_interactive --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Builds graft and the JVM driver (build.py),
generates the fixed base tables (gen_data.py), generates the workload's
queries from --seed (workloads.py), runs them in one JVM on
local[<cores>] with one client thread, checks every result against an
independent oracle, and prints each metric with its unit.
The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). A run with a wrong or failed query exits 1.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen_data  # noqa: E402
import workloads  # noqa: E402

HEAP = "-Xmx3g"
SETUPS = 3
# rounds generated per measured second; the loop stops at the first round
# boundary after --seconds, so this is a cap no round comes near
ROUNDS_PER_S = 4
RUN_LIMIT_S = 170
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# metric names and units, as the benchmark declares them
with open("BENCHMARK.json") as _f:
    _DECL = json.load(_f)
END_TO_END = [(m["name"], m["unit"]) for m in _DECL["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _DECL["per_layer"]]


def proc_stat_steal():
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return -1


def loadavg_1m():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return -1.0


def git_commit():
    """HEAD of the checkout, when it is a git work tree; else 'unknown'."""
    try:
        with open(os.path.join(".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(".git", ref)
        if os.path.exists(path):
            return open(path).read().strip()
        with open(os.path.join(".git", "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def tail_latency(lats):
    """Latency at the highest percentile with at least 10 samples beyond
    it: the 11th-slowest query. Returns (value, percentile, beyond)."""
    s = sorted(lats)
    if len(s) < 11:
        return s[-1], 100.0, 0
    return s[-11], 100.0 * (len(s) - 10) / len(s), 10


def artifact_path(workload, seed, trace):
    return os.path.join(build.BUILD, "results", f"{workload}-seed{seed}-trace{trace}.json")


def run_jvm(cp, tmp, spec_path, out_path, deadline):
    log_path = os.path.join(tmp, "jvm.log")
    # SoftRefLRUPolicyMSPerMB=0: a full GC also clears soft references, so
    # retained_heap_mb does not depend on allocation history
    cmd = ["java", HEAP, "-Xss4m", "-XX:-UsePerfData", "-XX:SoftRefLRUPolicyMSPerMB=0",
           f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS + \
        ["-cp", cp, "perfbench.Driver", spec_path, out_path]
    # keep Spark's scratch space inside the run's temp dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: driver JVM failed ({code})")


def verify(out, by_id, verify_path, data):
    """Checks every verified query against the oracle. Returns a reason
    for each bad query id, failed priming queries too."""
    oracle = workloads.Oracle(data)
    bad = {p["id"]: "priming run failed: " + p["error"]
           for p in out["primed"] if "error" in p}
    checked = set()
    with open(verify_path) as f:
        for line in f:
            v = json.loads(line)
            checked.add(v["id"])
            why = oracle.check(by_id[v["id"]], v["rows"])
            if why:
                bad[v["id"]] = why
    seen = {q["id"] for q in out["queries"] if q["ok"]}
    for key in seen - checked - set(bad):
        bad[key] = "not verified"
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    # SIGTERM unwinds like an exception: the JVM is killed and the temp
    # dir removed by the finally blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    cp = build.build()
    data = os.path.abspath(os.path.join(build.BUILD, f"data-v{gen_data.VERSION}"))
    gen_data.ensure(data)
    # a run killed earlier may have left its temp dir behind
    tmp_root = os.path.join(build.BUILD, "tmp")
    shutil.rmtree(tmp_root, ignore_errors=True)
    os.makedirs(tmp_root)
    tmp = os.path.abspath(tempfile.mkdtemp(prefix="run-", dir=tmp_root))
    try:
        rounds = ROUNDS_PER_S * max(1, round(a.seconds)) + 1
        pool, prime = workloads.generate(a.workload, a.seed, rounds)
        by_id = {q["id"]: q for q in pool + prime}
        spec = {"workload": a.workload, "data_dir": data,
                "tmp_dir": tmp, "seconds": a.seconds, "trace": bool(a.trace),
                "setups": SETUPS, "tables": workloads.TABLES[a.workload],
                "queries": pool, "round": len(workloads.ORDER[a.workload]),
                "prime": prime, "verify_path": os.path.join(tmp, "verify.jsonl")}
        spec_path, out_path = os.path.join(tmp, "spec.json"), os.path.join(tmp, "out.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        steal0, load0, t0 = proc_stat_steal(), loadavg_1m(), time.time()
        run_jvm(cp, tmp, spec_path, out_path, deadline)
        steal1, load1, t1 = proc_stat_steal(), loadavg_1m(), time.time()
        with open(out_path) as f:
            out = json.load(f)
        bad = verify(out, by_id, spec["verify_path"], data)
        t2 = time.time()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    qs = out["queries"]
    failed = sum(1 for q in qs if not q["ok"] or q["id"] in bad)
    lats = [q["lat_s"] for q in qs if q["ok"]]
    if not lats:
        sys.exit(f"perfbench: all {len(qs)} measured queries failed: {qs[0].get('error')}")
    tail, tail_pct, tail_beyond = tail_latency(lats)
    setups = out["setups"]
    n = len(qs)
    e2e = {
        "setup_s": statistics.median(s["total_s"] for s in setups),
        "query_p50_s": statistics.median(lats),
        "query_tail_s": tail,
        "throughput_qps": len(lats) / out["phase_s"],
        "cpu_s_per_query": out["cpu_s"] / n,
        "retained_heap_mb": out["heap_mb"],
    }
    context = {
        "workload": a.workload, "seed": a.seed, "traced": bool(a.trace),
        "seconds": a.seconds, "nproc": os.cpu_count(), "heap": HEAP,
        "git_commit": git_commit(), "steal_ticks": steal1 - steal0,
        "loadavg_1m_before": load0, "loadavg_1m_after": load1,
        "jvm_wall_s": t1 - t0, "oracle_wall_s": t2 - t1,
        "setups": setups, "setup_cold_s": setups[0]["total_s"],
        "tail_percentile": round(tail_pct, 2), "tail_samples_beyond": tail_beyond,
        "measured_queries": n, "measured_rounds": n // spec["round"],
        "repeated_queries": workloads.repeats(by_id[q["id"]] for q in qs),
        "failed_frac": failed / n, "prime_s": out["prime_s"],
        "mismatches": dict(sorted(bad.items())),
    }
    per_template = {}
    for q in qs:
        if q["ok"]:
            per_template.setdefault(by_id[q["id"]]["template"], []).append(q["lat_s"])
    context["template_p50_s"] = {k: statistics.median(v)
                                 for k, v in sorted(per_template.items())}
    if a.trace:
        layers = dict(out["layers"])
        layers.update({
            "setup.session_s": statistics.median(s["session_s"] for s in setups),
            "setup.ddl_s": statistics.median(s["ddl_s"] for s in setups),
            "setup.warm_s": statistics.median(s["warm_s"] for s in setups),
            "setup.cold_s": setups[0]["total_s"],
            "setup.prime_s": out["prime_s"],
            "jvm.gc_s": out["gc_s"] / n,
            "trace.query_p50_s": e2e["query_p50_s"],
        })
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
        context["call_sites"] = layers["call_sites"]
        context["unattributed_jobs"] = layers["unattributed_jobs"]
        untraced = artifact_path(a.workload, a.seed, 0)
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]["query_p50_s"]["value"]
            context["trace_overhead_p50_s"] = e2e["query_p50_s"] - base
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

    artifact = artifact_path(a.workload, a.seed, a.trace)
    os.makedirs(os.path.dirname(artifact), exist_ok=True)
    with open(artifact, "w") as f:
        json.dump({"metrics": metrics, "context": context}, f, indent=1)

    for k, m in metrics.items():
        print(f"{k:28s} {m['value']:.6g} {m['unit']}")
    print(f"tail = p{context['tail_percentile']} ({tail_beyond} samples beyond, "
          f"{n} measured in {context['measured_rounds']} rounds, "
          f"{context['repeated_queries']} repeated); "
          f"failed_frac {context['failed_frac']:.4f}")
    print(f"context: nproc {context['nproc']}, steal {context['steal_ticks']} ticks, "
          f"load {load0:.2f}->{load1:.2f}, commit {context['git_commit'][:12]}; "
          f"artifact {artifact}")
    if "trace_overhead_p50_s" in context:
        print(f"tracing overhead: query_p50_s {context['trace_overhead_p50_s']:+.4f} s "
              f"against the untraced run of seed {a.seed}")
    for key, why in context["mismatches"].items():
        print(f"MISMATCH {key}: {why}", file=sys.stderr)
    correct = not bad and failed == 0
    print(json.dumps({"correct": correct, "attempted": n, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
