#!/usr/bin/env python3
"""Steady-state benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the benchmark's
JVM program from source (once per source state), generates the workload's
inputs from the seed (cached per seed), launches one JVM directly on the
compiled classpath and measures a closed loop of whole passes over the workload's
query mix. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it
is the run's full record (context, per-pass series, steady-state guard).
See perfbench/README.md.
"""
import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from bench import build, gen, oracle, stats  # noqa: E402
from bench import workloads as W  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# the JVM flags of build.sbt: module opens for Spark on JDK 17, and its
# default driver heap
ADD_OPENS = [a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
             for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
HEAP = "8g"
# A fixed initial heap, touched when the JVM starts: left to grow from
# G1's default, the heap's expansion timing alone moved the peak RSS of
# identical runs 1.5-4.1 GB, and memory first touched inside the timed
# passes made them slower on some runs.
INITIAL_HEAP = "3g"
# where graft.sources.Formats writes its round-trips
ENGINE_SCRATCH = ["/tmp/graft_fmt", "/tmp/graft_derby"]
# JVM time allowed for set-up (session, first loads, warm-up passes)
SETUP_ALLOWANCE_S = 100
ORDERS = 64
MIN_SAMPLES = 30


def cores():
    return len(os.sched_getaffinity(0))


def steal_s():
    """CPU time the hypervisor gave to others, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def inputs(wl, seed):
    """The workload's input directory for this seed, generated on first use."""
    kind = wl["data"]
    size = "" if kind == "sf01" else f"_{W.LLM_DOCS}x{W.LLM_VECS}x{W.LLM_FILES}"
    d = os.path.join(WORK, "data", f"{kind}{size}_seed{seed}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if kind == "sf01":
            gen.sf01(tmp, seed)
        else:
            gen.llm(tmp, seed, W.LLM_DOCS, W.LLM_VECS, W.LLM_FILES)
        os.rename(tmp, d)
    return d


def private_tmp_ok():
    """True when the JVM can get a private mount namespace, so that the
    engine's fixed /tmp scratch paths land inside the run directory."""
    try:
        return subprocess.run(["unshare", "-m", "true"], stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, timeout=10).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False


def timed_passes(wl, seconds):
    """A fixed number of timed passes for this workload and `--seconds`:
    the pooled percentiles then fall on the same ranks in every run, which
    they would not if the pass count followed the machine's speed. At
    least enough passes for a tail percentile with ten samples beyond it."""
    return max(-(-MIN_SAMPLES // len(wl["queries"])), round(seconds / wl["pass_s_nominal"]))


def jvm_timeout_s(wl, passes):
    """Set-up allowance plus three times the nominal time of the timed passes."""
    return SETUP_ALLOWANCE_S + 3 * passes * wl["pass_s_nominal"]


def write_plan(path, entries):
    def esc(v):
        return str(v).replace("\\", "\\\\").replace("\n", "\\n")
    with open(path, "w") as f:
        for k, v in entries.items():
            f.write(f"{k}={esc(v)}\n")


def launch(classes, plan_path, record_path, run_dir, timeout_s):
    run_tmp = os.path.join(run_dir, "tmp")
    java = (["java"] + ADD_OPENS + [f"-Xmx{HEAP}", f"-Xms{INITIAL_HEAP}", "-XX:+AlwaysPreTouch",
                                    "-Dspark.ui.enabled=false",
                                    "-Dspark.sql.session.timeZone=UTC",
                                    f"-Djava.io.tmpdir={run_tmp}",
                                    f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
                                    "-cp", f"{classes}:{build.SPARK_JARS}/*",
                                    "perfbench.PerfBench", plan_path, record_path])
    if private_tmp_ok():
        cmd = ["unshare", "-m", "--propagation", "private", "sh", "-c",
               'mount --bind "$0" /tmp && exec "$@"', run_tmp] + java
    else:
        print("[perfbench] no private mount namespace: engine scratch goes to /tmp", file=sys.stderr)
        for d in ENGINE_SCRATCH:
            shutil.rmtree(d, ignore_errors=True)
        cmd = java
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    t_launch = time.time()
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        rc = p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        # also reached when the benchmark itself is interrupted or killed
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        log.close()
        if cmd is java:
            for d in ENGINE_SCRATCH:
                shutil.rmtree(d, ignore_errors=True)
    if rc != 0:
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        raise SystemExit(f"JVM exited with {rc}:\n{tail}")
    return t_launch


def check_outputs(wl, data, record, run_dir):
    """Oracle comparison of the check pass. Returns ({query: ok}, recall
    record). Exact queries must match the oracle row for row; banded
    routes are judged by their recall."""
    con = oracle.connect(data, wl["tables"])
    ok, recall = {}, {}
    check_passes = {p["pass"] for p in record["passes"] if p["phase"] == "check"}
    for e in record["executions"]:
        if e["pass"] not in check_passes:
            continue
        q = e["query"]
        sql = record["oracle_sql"].get(q)
        out = os.path.join(run_dir, "check", f"{q}.parquet")
        if not e["ok"] or sql is None:
            ok[q] = e["ok"]
            continue
        n_spark, n_ref, matched = oracle.compare(con, sql, out)
        if q in wl["lsh_routes"]:
            # a banded route may miss qualifying rows (that is its recall),
            # but every row it returns must be a row of the exact answer
            ok[q] = matched == n_spark
            recall[q] = {"found": matched, "exact": n_ref, "returned": n_spark}
        else:
            ok[q] = n_spark == n_ref == matched
        if not ok[q]:
            print(f"[perfbench] output check failed: {q} spark={n_spark} oracle={n_ref} matched={matched}",
                  file=sys.stderr)
    return ok, recall


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inputs", help="run on this directory of FIXTURES.md tables instead of generated ones")
    args = ap.parse_args()
    wl = W.WORKLOADS[args.workload]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # one run at a time per checkout: runs share the build, data and run
    # directories
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)

    classes = build.ensure_built(ROOT, BUILD)
    data = os.path.abspath(args.inputs) if args.inputs else inputs(wl, args.seed)

    # same starting state for every run: nothing left from an earlier run
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "check", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(run_dir, d))

    n = cores()
    conf = dict(W.BASE_CONF, **wl["conf"])
    conf.update({"spark.sql.shuffle.partitions": n,
                 "spark.local.dir": os.path.join(run_dir, "local"),
                 "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")})
    orders = stats.pass_orders(args.seed, len(wl["queries"]), ORDERS)
    passes = timed_passes(wl, args.seconds)
    plan = {
        "data_dir": data, "cores": n, "trace": args.trace,
        "queries": ",".join(wl["queries"]),
        "orders": ";".join(" ".join(map(str, o)) for o in orders),
        "tables": ",".join(wl["tables"]),
        "warmup_passes": wl["warmup_passes"],
        "timed_passes": passes,
        "check_dir": os.path.join(run_dir, "check"),
        "written_dirs": ENGINE_SCRATCH[0],
    }
    plan.update({f"conf.{k}": v for k, v in conf.items()})
    plan_path = os.path.join(run_dir, "plan.properties")
    record_path = os.path.join(run_dir, "record.json")
    write_plan(plan_path, plan)

    load_before, steal_before = os.getloadavg()[0], steal_s()
    t_launch = launch(classes, plan_path, record_path, run_dir, jvm_timeout_s(wl, passes))
    load_after, steal_after = os.getloadavg()[0], steal_s()
    with open(record_path) as f:
        record = json.load(f)

    ok_by_query, recall = check_outputs(wl, data, record, run_dir)
    print(json.dumps(summarize(args, wl, record, t_launch, ok_by_query, recall,
                               {"load1_before": load_before, "load1_after": load_after,
                                "steal_s": steal_after - steal_before,
                                "inputs": args.inputs or "generated"})))
    return 0


def summarize(args, wl, record, t_launch, ok_by_query, recall, load):
    """Builds the run's record line and the result line, prints the record
    and returns the result."""
    timed = [p for p in record["passes"] if p["phase"] == "timed"]
    plain = [p for p in timed if not p["traced"]]
    traced = [p for p in timed if p["traced"]]
    timed_nos = {p["pass"] for p in timed}
    execs = [e for e in record["executions"] if e["pass"] in timed_nos]

    # per-pass output check: row count and rounded checksum must repeat on
    # every timed pass, and the query must have passed the oracle check
    ref = {}
    for e in execs:
        if e["ok"]:
            key = (e["rows"], e["checksum"])
            ref.setdefault(e["query"], {}).setdefault(key, 0)
            ref[e["query"]][key] += 1
    mode = {q: max(c, key=c.get) for q, c in ref.items()}
    good = [e for e in execs if e["ok"] and ok_by_query.get(e["query"], False)
            and (e["rows"], e["checksum"]) == mode[e["query"]]]
    attempted = len(execs) + len(ok_by_query)
    n_ok = len(good) + sum(ok_by_query.values())

    samples = [s for p in plain for s in p["query_s"].values()]
    tail_p = stats.tail_percentile(len(samples))
    walls = [p["wall_s"] for p in plain]
    found = sum(r["found"] for r in recall.values())
    exact = sum(r["exact"] for r in recall.values())
    e2e = {
        "setup_s": record["setup_end_epoch_s"] - t_launch,
        "pass_s": stats.median(walls),
        "query_s_p50": stats.median(samples),
        "query_s_tail": stats.percentile(samples, tail_p) if tail_p else max(samples),
        "cpu_s_per_pass": stats.median([p["cpu_s"] for p in plain]),
        "peak_rss_mb": record["peak_rss_mb"],
        "peak_heap_mb": record["peak_heap_mb"],
        "ok_ratio": n_ok / attempted,
        "lsh_recall": found / exact if exact else 1.0,
    }
    bound = {name: b for name, _, _, b in W.END_TO_END}
    series = [{k: p[k] for k in ("pass", "phase", "traced", "wall_s", "cpu_s", "jit_s", "gc_s",
                                  "codegen_compiles", "rss_mb", "heap_committed_mb", "nonheap_committed_mb",
                                  "query_compiles")} for p in record["passes"]]
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "context": dict(record["context"], **load),
        "query_s_tail_percentile": tail_p, "query_s_samples": len(samples),
        "timed_passes": len(plain),
        "pass_s_quartiles": stats.quartiles(walls) if len(walls) > 1 else None,
        "steady": stats.halves_agree(walls, bound["pass_s"]),
        "passes": series,
        "lsh": recall,
        "output_check": ok_by_query,
        "failed_executions": [(e["query"], e["pass"]) for e in execs if e not in good],
    }
    if args.trace:
        layer = {"core.session_s": record["core.session_s"],
                 "core.tables_first_load_s": record["core.tables_first_load_s"],
                 "core.tables_cached_load_ms": record["core.tables_cached_load_ms"],
                 "trace.overhead_s": stats.median([p["wall_s"] for p in traced]) - stats.median(walls)}
        layer.update(record["expr"])
        renamed = {"codegen.compiles_per_pass": "codegen_compiles",
                   "codegen.compile_s_per_pass": "codegen_compile_s",
                   "jvm.jit_s_per_pass": "jit_s", "jvm.gc_s_per_pass": "gc_s",
                   "jvm.classes_loaded_per_pass": "classes_loaded"}
        for name, unit, _ in W.PER_LAYER:
            if name not in layer:
                key = renamed.get(name, name)
                layer[name] = stats.median([p[key] for p in traced])
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit, _ in W.PER_LAYER}
        details["traced_pass_s"] = stats.median([p["wall_s"] for p in traced])
        details["untraced_pass_s"] = stats.median(walls)
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit, _, _ in W.END_TO_END}
    details["end_to_end"] = e2e
    print(json.dumps({"record": details}))
    return {"correct": n_ok == attempted, "attempted": attempted,
            "failed": attempted - n_ok, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
