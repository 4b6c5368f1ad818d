"""The benchmark's command.

    python3 perfbench/run.py --workload <query_mix|lake_trickle>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine from source (see
build.py), runs the workload over the corpus in perfbench/data in one JVM
(Spark local[4], fixed heap) for the given seconds, checks the outputs,
and prints one JSON line: `correct`, `attempted`, `failed` and the metrics
(end-to-end ones untraced, per-layer ones traced). A traced run
also writes its spans and every per-layer metric to
`.bench_out/trace-<workload>-<seed>.json`. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402

ROOT = os.path.dirname(HERE)
CORES = 4
HEAP = "3g"
TIMEOUT_S = 170
WORKLOADS = ("query_mix", "lake_trickle")
# the test corpus at sf0.01 (see README.md); the runs only read it
DATA = os.path.join(HERE, "data")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(classes, args, run_dir):
    tmp = f"{run_dir}/tmp"
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{build.JARS}/*", "graft.perfbench.Main"] + args
    log = open(f"{run_dir}/jvm.log", "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
    try:
        p.wait(timeout=max(10, TIMEOUT_S - (time.time() - T_PROCESS)))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise RuntimeError("the workload did not finish in time")
    finally:
        log.close()
    return p.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t_build = time.time()
    classes = build.build()
    build_s = time.time() - t_build

    run_dir = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        out = f"{run_dir}/out"
        code = run_jvm(classes, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(CORES), "--data", DATA, "--work", f"{run_dir}/work",
            "--out", out], run_dir)
        try:
            with open(f"{out}/result.json") as f:
                res = json.load(f)
        except (OSError, ValueError):
            res = {"ok": False, "error": f"no result (JVM exit code {code})"}
        if not res.get("ok"):
            with open(f"{run_dir}/jvm.log") as f:
                sys.stderr.write(f.read()[-6000:])
            raise RuntimeError(res.get("error", "workload failed"))

        checks = [tuple(c) for c in res["checks"]]
        checks += check.run(a.workload, DATA, out)
        bad = [c for c in checks if not c[1]]
        for name, _, detail in bad:
            sys.stderr.write(f"check failed: {name}: {detail}\n")
        correct = not bad
        n, failed = res["attempted"], res["failed"]
        if a.trace:
            correct = correct and res["bound_exec_cpu_le_process_cpu"] \
                and res["bound_job_union_le_op_wall"]
            metrics = {k: {"value": res["layers"][k], "unit": u}
                       for k, u in PER_LAYER.items()}
            write_trace(a, res, checks)
        else:
            lat = res["latencies_s"]
            setup_s = res["first_op_epoch_ms"] / 1e3 - T_PROCESS - build_s
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "ops_per_s": {"value": (n - failed) / res["wall_s"], "unit": "op/s"},
                "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
                "cpu_s_per_op": {"value": res["cpu_s"] / n, "unit": "s"},
            }
        print(json.dumps({"correct": correct, "attempted": n, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def load_per_layer():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


PER_LAYER = load_per_layer()


def write_trace(a, res, checks):
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    path = os.path.join(ROOT, ".bench_out", f"trace-{a.workload}-{a.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "attempted": res["attempted"], "failed": res["failed"],
            "op_p50_s": statistics.median(res["latencies_s"]),
            "per_layer": res["layers"],
            "bounds": {"executor_cpu_le_process_cpu": res["bound_exec_cpu_le_process_cpu"],
                       "job_union_le_op_wall": res["bound_job_union_le_op_wall"]},
            "checks": checks,
            "span_fields": ["id", "parent", "name", "start_ns", "end_ns"],
            "spans": res["spans"],
        }, f)


if __name__ == "__main__":
    try:
        main()
    except (RuntimeError, OSError) as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(1)
