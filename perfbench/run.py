#!/usr/bin/env python3
"""Benchmark of the FinLogic API and the iterative graph queries.

    python3 perfbench/run.py --workload fin_session --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Builds the program and the harness
(perfbench/build.py), generates the workload's inputs from the seed,
runs the harness in one JVM, checks every output against DuckDB
(perfbench/check.py), and prints one JSON line last: correct,
attempted, failed and the metrics (end-to-end with --trace 0, per-layer
with --trace 1; the traced run also writes them to
.bench_build/trace/<workload>-<seed>.json). See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

HEAP = "3g"
HARNESS_LIMIT_S = 150     # the JVM is killed after this; checks follow, all within 180 s
FIN_SESSION_SCALE = 2.0   # x the reference's 755,635 served entries
FIN_SESSION_CATALOGUE = (2, 2, 2)  # search_segment, search_company, rank calls after info
FIN_SESSION_SESSIONS = 3  # analyst sessions of 4 Company calls each
WARM_FIN_TRADED = 10      # warm-up load: core codes of 10 traded companies
GRAPH_SF = 0.02
WARM_SF = 0.003           # the warm-up graph, Zipf-skewed and checked
GRAPH_QUERIES = ["q145_label_propagation", "q192_kcore", "q378_hyperball_nf",
                 "q380_effective_diameter"]
WORKLOADS = ("fin_session", "graph_sweeps")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

LAYER_OF = {"info": "fin_data.info", "search_segment": "fin_data.search_segment",
            "search_company": "fin_data.search_company", "rank": "fin_data.rank",
            "open": "company.open", "report": "company.report",
            "custom_report": "company.custom_report", "indicators": "company.indicators"}
CALL_QUANTITIES = ["construct_ms", "execute_ms", "planning_ms", "jobs", "driver_gap_ms",
                   "cache_rows_scanned", "rows_returned"]
LOAD_QUANTITIES = ["construct_ms", "financials_ms", "trades_ms", "jobs", "task_cpu_ms",
                   "shuffle_bytes", "gc_ms", "spill_bytes", "financials_mb", "indicators_mb"]
GRAPH_QUANTITIES = ["construct_ms", "execute_ms", "jobs", "task_cpu_ms", "driver_gap_ms",
                    "shuffle_bytes", "staged_mb"]
UNIT = {"ms": "ms", "mb": "MB", "bytes": "bytes", "jobs": "count", "scanned": "rows",
        "returned": "rows", "rdds": "count"}


def per_layer_names():
    names = [f"{layer}.{q}" for layer in LAYER_OF.values() for q in CALL_QUANTITIES]
    names.append("spark.cached_rdds")
    names += [f"fin_data.load.{q}" for q in LOAD_QUANTITIES]
    names.append("indicators.build.execute_ms")
    names += [f"graphs.{n}.{q}" for n in GRAPH_QUERIES for q in GRAPH_QUANTITIES]
    names.append("staging.release_ms")
    return names


def unit_of(name):
    return UNIT[name.rsplit(".", 1)[-1].rsplit("_", 1)[-1]]


def write_script(path, ops):
    with open(path, "w") as fh:
        fh.writelines("\t".join(op) + "\n" for op in ops)


def prepare(workload, seed, work):
    """Inputs and call lists for one run, all derived from the seed.
    Returns the harness arguments they imply."""
    data, warm = os.path.join(work, "data"), os.path.join(work, "warm")
    os.makedirs(data)
    os.makedirs(warm)
    script, warmscript = os.path.join(work, "script.tsv"), os.path.join(work, "warm.tsv")
    if workload == "fin_session":
        facts = gen.fin_tables(seed, FIN_SESSION_SCALE, data)
        gen.fin_tables(seed, 0.0, warm, traded_companies=WARM_FIN_TRADED)
        write_script(script, gen.session_script(seed, facts, FIN_SESSION_SESSIONS,
                                                FIN_SESSION_CATALOGUE))
        # set-up: a small load and unload takes the JVM's first-use cost
        # off the measured load; after it, every call kind once on other
        # companies
        write_script(warmscript, [["load", warm], ["unload"], ["load", data]] +
                     gen.session_script(seed, facts, 1, (1, 1, 1), stream=4))
    else:
        gen.graph_tables(seed, GRAPH_SF, data)
        gen.graph_tables(seed + 1, WARM_SF, warm, zipf_customers=True)
        # one pass: a second would take the benchmark's 48 runs past
        # their hour on a 4-CPU host
        write_script(script, [["query", q, data] for q in GRAPH_QUERIES])
        # q380 runs q378's census plus a read-off: warming q378 covers it.
        # The warm graph's skew makes the k-core peel remove nodes, and
        # its outputs are checked too.
        write_script(warmscript, [["query", q, warm] for q in GRAPH_QUERIES[:3]])
    return {"data": data, "warm": warm, "script": script, "warmscript": warmscript,
            "queries": ",".join(GRAPH_QUERIES)}


def run_harness(classpath, args, deadline):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={args['work']}/java-tmp"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-cp", ":".join(classpath), "perfbench.Harness"] +
           [f"{k}={v}" for k, v in args.items()])
    os.makedirs(f"{args['work']}/java-tmp")
    log = open(os.path.join(args["work"], "harness.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:  # also on SIGTERM: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if rc != 0:
        tail = open(log.name).read()[-4000:]
        sys.exit(f"harness failed ({rc}):\n{tail}")
    with open(args["out"]) as fh:
        return json.load(fh)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def call_medians(rounds):
    """Median wall time (construct + collect) of each call kind, or of
    each query, over the run's rounds."""
    kinds = {}
    for r in rounds:
        for op in r["ops"]:
            key = op["args"][0] if op["op"] == "query" else op["op"]
            kinds.setdefault(key, []).append(op["construct_ms"] + op["execute_ms"])
    return {k: median(v) for k, v in kinds.items()}


def end_to_end(out, setup_s):
    rounds = out["rounds"]
    vals = {
        "setup_s": (setup_s, "s"),
        "round_s": (median([r["round_ms"] for r in rounds]) / 1000.0, "s"),
        # every kind weighs the same, whatever its share of the round
        "call_gmean_ms": (statistics.geometric_mean(call_medians(rounds).values()), "ms"),
        "resident_mb": (median([r["resident_mb"] for r in rounds]), "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def per_layer(out):
    """Median per op of each layer quantity. The load is sampled from
    the set-up's last load, the one of the workload's data; layers a
    workload does not run read 0."""
    samples = {}

    def add(name, v):
        samples.setdefault(name, []).append(float(v))
    for op in out["setup_ops"][::-1]:
        if op["op"] == "load":
            st, ex = op.get("stats", {}), op["extra"]
            add("fin_data.load.construct_ms", op["construct_ms"])
            for q in ("financials_ms", "trades_ms", "financials_mb", "indicators_mb"):
                add(f"fin_data.load.{q}", ex[q])
            for q in ("jobs", "task_cpu_ms", "shuffle_bytes", "gc_ms", "spill_bytes"):
                add(f"fin_data.load.{q}", st.get(q, 0))
            add("indicators.build.execute_ms", ex["indicators_ms"])
            break
    for rnd in out["rounds"]:
        add("spark.cached_rdds", rnd["cached_rdds"])
        for op in rnd["ops"]:
            st, ex, label = op.get("stats", {}), op["extra"], op["op"]
            layer = LAYER_OF.get(label) or f"graphs.{op['args'][0]}"
            add(f"{layer}.construct_ms", op["construct_ms"])
            add(f"{layer}.execute_ms", op["execute_ms"])
            if label == "query":
                add(f"{layer}.staged_mb", ex["staged_mb"])
                add("staging.release_ms", ex["release_ms"])
                quantities = ("jobs", "task_cpu_ms", "driver_gap_ms", "shuffle_bytes")
            else:
                if "rows" in op:
                    add(f"{layer}.rows_returned", op["rows"])
                quantities = ("planning_ms", "jobs", "driver_gap_ms", "cache_rows_scanned")
            for q in quantities:
                add(f"{layer}.{q}", st.get(q, 0))
    return {n: {"value": median(samples.get(n, [])), "unit": unit_of(n)}
            for n in per_layer_names()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run.py: terminated"))
    start = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        sys.exit("run.py: no program sources under ./src/main/scala/graft; "
                 "run from the root of a checkout of the repository")
    classpath = build.build()

    work = os.path.join(root, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()   # set-up starts: inputs, JVM, session, load, warm-up
        args = prepare(a.workload, a.seed, work)
        args.update(workload=a.workload, work=work,
                    out=os.path.join(work, "out.json"), seconds=a.seconds,
                    trace=a.trace, cpus=len(os.sched_getaffinity(0)))
        inputs_s = time.time() - t0
        out = run_harness(classpath, args, t0 + HARNESS_LIMIT_S)
        setup_s = out["first_op_epoch_ms"] / 1000.0 - t0
        out["setup_phases"]["inputs_ms"] = inputs_s * 1000.0
        t_check = time.time()
        attempted, failed, wrong, messages = check.verify(
            a.workload, args, out["setup_ops"], out["rounds"], out["oracles"])
        print(f"run.py: build {t0 - start:.1f} s, set-up {setup_s:.1f} s "
              f"{ {k: round(v) for k, v in out['setup_phases'].items()} }, "
              f"rounds {[round(r['round_ms'] / 1000.0, 1) for r in out['rounds']]} s, "
              f"checks {time.time() - t_check:.1f} s, median ms "
              f"{ {k: round(v) for k, v in call_medians(out['rounds']).items()} }",
              file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for m in messages[:20]:
        print("FAILED " + m, file=sys.stderr)

    if a.trace:
        metrics = per_layer(out)
        trace_dir = os.path.join(root, ".bench_build", "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "host": out["host"],
                       "round_s": [r["round_ms"] / 1000.0 for r in out["rounds"]],
                       "setup_s": setup_s, "setup_phases": out["setup_phases"],
                       "metrics": metrics, "setup_ops": out["setup_ops"],
                       "ops": [[{k: op[k] for k in op if k != "result"} for op in r["ops"]]
                               for r in out["rounds"]]}, fh, indent=1)
    else:
        metrics = end_to_end(out, setup_s)
    print(json.dumps({"correct": wrong == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
