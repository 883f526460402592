"""perfbench: the KG-build benchmark of fastie_spark.

    python3 perfbench/run.py --seed N [--workload {infer,kg_build,kg_update,all}]
        [--seconds S] [--trace {0,1}]

Run from the root of a checkout.  ``--workload`` defaults to ``all``
(every workload, one result line each), ``--seconds`` to
``BENCHMARK.json``'s ``run_seconds``.  One run of one workload:

1. makes the workload's inputs from ``--seed`` (``gen.py``) under
   ``perfbench/out/``;
2. starts ``workloads.py`` as a fresh process at ``local[nproc]`` with
   ``SPARK_GRAFT_CPUS=nproc``; with ``--trace 1`` it starts two, an
   untraced one and a traced one, and reports their difference as the
   tracing overhead;
3. reaps every process of the run's tree (this process is their child
   subreaper) and reads the largest peak RSS among them;
4. writes the full record (provenance, input properties, samples,
   quartiles, per-layer table) to ``perfbench/out/results/`` and prints,
   as its last line, ``{"correct", "attempted", "failed", "metrics"}``
   with every end-to-end metric of ``BENCHMARK.json`` (``--trace 0``) or
   every per-layer metric (``--trace 1``).

``infer`` repeats its pass for ``--seconds`` (at least three passes);
``kg_build`` makes one build and ``kg_update`` folds its generated batch
sequence, whatever ``--seconds`` says: both have a fixed sample count.

It exits non-zero without printing a result when the package is missing
or a benchmark process fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKER = os.path.join(HERE, "workloads.py")
WORKLOADS = ("infer", "kg_build", "kg_update")
RUN_DEADLINE_S = 170      # a run ends within 180 s, kills included
REAP_GRACE_S = 20         # time a finished run's JVM gets to exit
PR_SET_CHILD_SUBREAPER = 36


def set_subreaper() -> None:
    """Orphans of the run (the JVM, Python workers) become our children,
    so they can be reaped, their peak RSS read, and none outlives us."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap(pid: int, deadline: float) -> tuple[int | None, int]:
    """Wait for ``pid`` and every other descendant; returns (exit code of
    ``pid`` or None if killed at the deadline, largest ru_maxrss in KB).
    Whatever is still alive at the deadline, or ``REAP_GRACE_S`` after
    ``pid`` exited, is killed with its process group; a child that is
    not the run's (a caller's own JVM) ends the wait 5 s later."""
    code, peak, killed = None, 0, None
    grace = None
    while True:
        try:
            got, status, ru = os.wait4(-1, os.WNOHANG)
        except ChildProcessError:
            return code, peak
        if got:
            peak = max(peak, ru.ru_maxrss)
            if got == pid:
                code = os.waitstatus_to_exitcode(status)
                grace = time.time() + REAP_GRACE_S
            continue
        now = time.time()
        if killed is None and (now > deadline or (grace and now > grace)):
            try:
                os.killpg(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            killed = now
        elif killed is not None and now > killed + 5:
            return code, peak
        time.sleep(0.02)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def run_child(args, inputs: str, work: str, trace: int,
              deadline: float) -> dict:
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
               TMPDIR=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = [sys.executable, WORKER, "--workload", args.workload,
           "--inputs", inputs, "--work", work, "--seconds",
           str(args.seconds), "--trace", str(trace), "--out", out]
    t_spawn = time.time()
    with open(os.path.join(work, "child.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=work, env=env, start_new_session=True)
    code, peak_kb = reap(p.pid, deadline)
    t_reaped = time.time()
    p.returncode = code
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "child.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"benchmark process exited with {code}:\n{tail}")
    with open(out) as f:
        res = json.load(f)
    res["setup_s"] = res["marks"]["first_arrow_job"] - t_spawn
    res["setup_parts"] = {
        "process_start_s": res["marks"]["start"] - t_spawn,
        "get_spark_s": res["marks"]["get_spark"] - res["marks"]["start"],
        "first_jvm_job_s":
            res["marks"]["first_jvm_job"] - res["marks"]["get_spark"],
        "first_arrow_job_s":
            res["marks"]["first_arrow_job"] - res["marks"]["first_jvm_job"],
    }
    res["timeline"] = {
        "workload_s": res["marks"]["workload_done"]
        - res["marks"]["first_arrow_job"],
        "stop_s": res["marks"]["stopped"] - res["marks"]["workload_done"],
        "exit_and_reap_s": t_reaped - res["marks"]["stopped"],
    }
    res["peak_rss_mb"] = peak_kb / 1024.0
    return res


def quartiles(xs: list[float]) -> dict:
    xs = sorted(xs)
    if len(xs) == 1:
        q = [xs[0]] * 3
    else:
        q = statistics.quantiles(xs, n=4, method="inclusive")
    return {"n": len(xs), "q1": q[0], "median": q[1], "q3": q[2],
            "min": xs[0], "max": xs[-1]}


def outcome(res: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, errors): an operation fails when it raised or
    its output did not match the generator's expectation."""
    ops = res["warm"] + res["timed"]
    failed = [x for x in ops if not x.get("ok")]
    final = res.get("final_check")
    if final is not None and not final.get("ok"):
        failed = ops  # a wrong final KG makes every fold's output wrong
    errors = [x["error"] for x in ops + [final or {}] if "error" in x]
    return len(ops), len(failed), errors


def end_to_end(workload: str, res: dict) -> tuple[dict, dict, dict]:
    """-> ({metric: value}, {wall diagnostic: value}, {name: sample
    summary}).  The bounded per-operation metrics count CPU seconds of
    the process tree: on a shared host with CPU steal the same run's wall
    moves by a fifth or more from run to run, its CPU time by ~5 %."""
    timed = [x for x in res["timed"] if "wall" in x]
    walls = [x["wall"] for x in timed]
    cpus = [x["cpu"] for x in timed]
    rates = [x["docs"] / x["wall"] for x in timed]
    w, c = quartiles(walls), quartiles(cpus)
    summary = {"batch_s": dict(w, samples=walls),
               "batch_cpu_s": dict(c, samples=cpus),
               "docs_per_s": quartiles(rates)}
    if workload == "kg_update":
        docs_per_s = statistics.median(rates)
    else:
        docs_per_s = timed[0]["docs"] / w["median"]
    wall = {"wall.docs_per_s": docs_per_s, "wall.batch_s_p50": w["median"],
            "wall.batch_s_p75": w["q3"]}
    return {
        "setup_s": res["setup_s"],
        "cpu_s_per_doc": sum(cpus) / sum(x["docs"] for x in timed),
        "batch_cpu_s_p50": c["median"],
        "batch_cpu_s_p75": c["q3"],
        "stored_bytes": res["stored_bytes"],
    }, wall, summary


def provenance(args) -> dict:
    import duckdb
    import pyarrow
    import pyspark
    commit = None  # a checkout without .git records no commit
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    with open("/proc/meminfo") as f:
        mem_kb = int(next(x for x in f if x.startswith("MemTotal")).split()[1])
    return {"nproc": nproc(), "mem_total_mb": mem_kb // 1024,
            "commit": commit, "python": sys.version.split()[0],
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "seed": args.seed,
            "SPARK_GRAFT_CPUS": nproc(), "master": f"local[{nproc()}]",
            "seconds": args.seconds, "trace": args.trace}


def measure(workload: str, seed: int, seconds: float, trace: int,
            bench: dict, sizes: dict | None = None) -> tuple[dict, dict]:
    """One run -> (full record, result line).  ``sizes`` overrides the
    generator's input sizes (tests only).  Raises RuntimeError when a
    benchmark process fails."""
    import gen

    args = argparse.Namespace(workload=workload, seed=seed, seconds=seconds,
                              trace=trace)
    t_start = time.time()
    work = os.path.join(OUT, f"work-{workload}-{os.getpid()}")
    deadline = t_start + RUN_DEADLINE_S
    try:
        inputs = os.path.join(work, "inputs")
        t0 = time.time()
        blob = gen.MAKERS[workload](seed, inputs, **(sizes or {}))
        gen_s = time.time() - t0
        children = [run_child(args, inputs, os.path.join(work, f"p{t}"), t,
                              deadline)
                    for t in ([0] if trace == 0 else [0, 1])]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = failed = 0
    errors: list[str] = []
    for res in children:
        a, f_, e = outcome(res)
        attempted, failed, errors = attempted + a, failed + f_, errors + e
    e2e, wall, summary = end_to_end(workload, children[0])
    setups = [r["setup_s"] for r in children]
    e2e["setup_s"] = statistics.median(setups)
    # a diagnostic, not an end-to-end metric: the JVM's heap growth makes
    # it vary by more than a tenth between runs of the same input
    peak_rss_mb = max(r["peak_rss_mb"] for r in children)
    record = {
        "workload": workload, "provenance": provenance(args),
        # what the generator planted, and what the run measured of it
        "input_properties": dict(blob["properties"],
                                 **children[0].get("measured", {})),
        "gen_s": gen_s,
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted, "errors": errors[:5],
        "end_to_end": e2e, "wall": wall, "peak_rss_mb": peak_rss_mb,
        "samples": summary,
        "setup": {"samples": setups,
                  "parts": [r["setup_parts"] for r in children]},
        "timeline": [r["timeline"] for r in children],
    }
    if trace:
        traced = children[1]
        layers = traced["layers"]
        untraced_walls = [x["wall"] for x in children[0]["timed"]
                          if "wall" in x]
        traced_walls = [x["wall"] for x in traced["timed"] if "wall" in x]
        overhead = statistics.median(traced_walls) \
            - statistics.median(untraced_walls)
        values = dict(layers["metrics"])
        values["session.start_s"] = traced["setup_s"]
        values["session.peak_rss_mb"] = peak_rss_mb
        values.update(wall)
        values["tracing.overhead_s"] = overhead
        record["per_layer"] = {"table": layers["table"],
                               "account": dict(layers["account"],
                                               tracing_overhead_s=overhead),
                               "metrics": values}
        specs = bench["per_layer"]
    else:
        values = e2e
        specs = bench["end_to_end"]
    record["wall_s"] = time.time() - t_start
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": values.get(m["name"], 0),
                                    "unit": m["unit"]} for m in specs}}
    return record, line


def main() -> int:
    p = argparse.ArgumentParser(description="fastie_spark KG-build benchmark")
    p.add_argument("--workload", choices=WORKLOADS + ("all",),
                   default="all",
                   help="'all' (default) runs every workload, one result "
                   "line each")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float,
                   help="default: BENCHMARK.json's run_seconds")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "fastie_spark", "__init__.py")):
        print("perfbench: no fastie_spark package next to perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    set_subreaper()
    sys.path.insert(0, HERE)
    todo = WORKLOADS if args.workload == "all" else (args.workload,)
    for workload in todo:
        try:
            record, line = measure(workload, args.seed, args.seconds,
                                   args.trace, bench)
        except RuntimeError as e:
            print(f"perfbench: {workload}: {e}", file=sys.stderr)
            return 1
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        path = os.path.join(OUT, "results", f"{workload}-seed{args.seed}"
                            f"-trace{args.trace}.json")
        with open(path, "w") as f:
            json.dump(record, f, indent=1, default=str)
        print(f"perfbench: full record in {os.path.relpath(path, ROOT)}",
              file=sys.stderr)
        if args.workload == "all":
            line = {"workload": workload, **line}
        print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
