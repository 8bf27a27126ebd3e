#!/usr/bin/env python3
"""Session benchmark: one command that drives a seeded workload through the
engine's public entry points and prints every metric with its unit.

  python3 sessionbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It compiles the engine and the harness
(build.py), writes the seeded inputs (gen.py), runs one JVM with one
closed-loop client, checks every output against its reference
(checks.py), prints a readable report, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"} holding the end-to-end
metrics of BENCHMARK.json, or its per-layer metrics with --trace 1.
Everything it writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("serve", "notebook", "build_refresh")
MAX_CORES = 4
DRIVER_MEM = "2g"
# seconds the JVM may run: serve and notebook must leave room for the
# checks inside a 180 s run; build_refresh builds every family three times
JVM_BUDGET_S = {"serve": 170, "notebook": 170, "build_refresh": 400}


def loadavg():
    with open("/proc/loadavg") as fh:
        return fh.read().strip()


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def host(cores):
    return {"cores_used": cores, "nproc": len(os.sched_getaffinity(0)),
            "driver_mem": DRIVER_MEM,
            "loadavg_before": loadavg()}


def jvm_command(cp, work, out, workload, seconds, trace):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch location (JVM perf data, temp files, Spark and Hadoop
    # local dirs) points inside the work directory
    return (["java", f"-Xmx{DRIVER_MEM}", "-XX:-UsePerfData"]
            + [a for o in build.ADD_OPENS for a in ("--add-opens", o)]
            + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, "graft.sessionbench.SessionBench",
               f"workload={workload}", f"work={work}", f"out={out}",
               f"seconds={seconds}", f"trace={trace}"])


def run_jvm(cmd, work, log_path, env, budget_s):
    """Run the harness, killing it (and waiting for it) past the budget."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log)
        try:
            return proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def span_summary(spans):
    """Per span name: count, total seconds and self seconds (duration minus
    the part of it that child spans cover)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], []))
        covered, reach = 0.0, s["start"]
        for a, b in iv:
            if b > reach:
                covered += b - max(a, reach)
                reach = b
        d = s["end"] - s["start"]
        o = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        o["count"] += 1
        o["total_s"] += d
        o["self_s"] += max(0.0, d - covered)
    return out


def report(workload, seed, trace, info, m, problems, attempted, summary):
    print(f"sessionbench {workload} seed={seed} trace={trace}")
    print("host: " + ", ".join(f"{k}={v}" for k, v in info.items()))
    for name in sorted(m):
        print(f"  {name:44s} {m[name]:>16.6g} {checks.unit(name)}")
    if summary:
        print("trace spans (name: count, total_s, self_s):")
        for name, o in sorted(summary.items()):
            print(f"  {name:44s} {o['count']:6d} {o['total_s']:12.4f} {o['self_s']:12.4f}")
    print(f"checks: {attempted - len(problems)}/{attempted} operations correct")
    for p in problems:
        print(f"  FAILED {p}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("src/main/scala", "tools/gen_sf_local.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"sessionbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build.build()

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    info = host(cores)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(build.OUT, "work", f"{tag}-{os.getpid()}")
    records = os.path.join(build.OUT, "records")
    os.makedirs(records, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = gen.generate(ROOT, args.workload, args.seed, work)
        input_bytes = sum(inputs["base"].values())
        out = os.path.join(work, "record.json")
        log = os.path.join(records, f"{tag}.log")
        cmd = jvm_command(cp, work, out, args.workload, args.seconds, args.trace)
        launch = time.time()
        steal0, total0 = cpu_ticks()
        code = run_jvm(cmd, work, log, env, JVM_BUDGET_S[args.workload])
        steal1, total1 = cpu_ticks()
        info["loadavg_after"] = loadavg()
        # CPU time the hypervisor gave to other guests while the JVM ran:
        # the host noise no setting here can remove
        info["steal_frac"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
        if code != 0 or not os.path.exists(out):
            why = "timed out" if code is None else f"exited {code}"
            print(f"sessionbench: harness {why}; log {log}:\n{tail(log)}", file=sys.stderr)
            return 1
        with open(out) as fh:
            rec = json.load(fh)

        def read(path):
            try:
                with open(path, "rb") as fh:
                    return fh.read()
            except (OSError, TypeError):
                return None

        corpus = os.path.join(work, "scratch" if args.workload == "build_refresh" else "base")
        oracle = checks.oracle_rows(rec.get("oracle_sql", {}), corpus,
                                    os.path.join(work, "tmp"))
        attempted, problems = checks.check(rec, oracle, [read(r) for r in rec.get("reports", [])],
                                           read(rec.get("reference_report")))
        m = checks.metrics(rec, launch, input_bytes, len(problems), attempted)
        spans_path = out[:-len(".json")] + ".spans.json"
        summary = None
        if os.path.exists(spans_path):
            with open(spans_path) as fh:
                summary = span_summary(json.load(fh))
            shutil.move(spans_path, os.path.join(records, f"{tag}.spans.json"))
        rec.update(host=info, inputs=inputs, metrics=m, problems=problems, spans=summary)
        with open(os.path.join(records, f"{tag}.json"), "w") as fh:
            json.dump(rec, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report(args.workload, args.seed, args.trace, info, m, problems, attempted, summary)
    names = [x["name"] for x in spec["per_layer" if args.trace else "end_to_end"]]
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": len(problems),
                      "metrics": {n: {"value": m[n], "unit": checks.unit(n)}
                                  for n in names}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
