"""The graft benchmark: one command per run.

    python3 perfbench/run.py --workload refresh_serve --seed 1 --seconds 30 --trace 0

Run from the repository root. It builds the library and the benchmark
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py) under .bench_work/, runs the workload in one JVM
(graftbench.Main), prints every metric by name with its unit, and ends
with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 registers the Spark
and streaming listeners and reports the per-layer metrics instead. The
full results of each run (including the environment it ran in) are kept
in .bench_work/results/.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 170
DEFAULT_READS = 3
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def die(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(args, log_path, timeout):
    mem = os.environ.get("SPARK_DRIVER_MEM", "2g")
    tmp = os.path.join(args.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap keeps the resident set from following the
    # collector's resizing decisions from run to run
    cmd = (["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", build.classpath(), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--reads", str(args.reads), "--plant", "1" if args.plant else "0",
            "--in", os.path.join(args.work, "in"), "--work", args.work,
            "--out", args.results])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=args.work,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def main():
    # a terminated run must take its JVM down with it (run_jvm's handler)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--reads", type=int, default=DEFAULT_READS,
                    help="read operations per cycle (star queries or verdict lookups)")
    ap.add_argument("--plant", action="store_true",
                    help="corrupt one expected value (the output checks must flag it)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no src/main/scala here: run from the root of a graft checkout")
    spec = load_spec()
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload!r}")

    source_digest = build.build()
    commit = None  # the checkout under test need not be a git repository
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True).stdout.split()
        if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
            commit = out[1]
    except OSError:
        pass
    t_setup = time.time()  # set-up starts once the program is built

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    args.work = os.path.join(WORK, run_id)
    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.work)
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    args.results = os.path.join(results_dir, run_id + ".json")
    log_path = os.path.join(results_dir, run_id + ".log")
    try:
        manifest = gen.generate(args.workload, args.seed, os.path.join(args.work, "in"))
        budget = JVM_TIMEOUT_S - (time.time() - T_START)
        rc = run_jvm(args, log_path, max(30.0, budget))
    except subprocess.TimeoutExpired:
        die(f"run exceeded its time budget; log: {log_path}", 3)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)
    if rc != 0 or not os.path.exists(args.results):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        die(f"benchmark JVM failed (exit {rc}); log tail:\n{tail}", 4)
    with open(args.results) as fh:
        res = json.load(fh)

    setup_s = res["first_op_epoch_ms"] / 1000.0 - t_setup
    res["end_to_end"]["setup_s"] = {"value": setup_s, "unit": "s"}
    res["source_digest"] = source_digest
    res["git_commit"] = commit
    res["inputs"] = [{k: f[k] for k in ("path", "rows", "mb")} for f in manifest["files"]]
    res["inputs_total"] = {"rows": sum(f["rows"] for f in manifest["files"]),
                           "mb": sum(f["mb"] for f in manifest["files"])}
    with open(args.results, "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)

    attempted, failed = res["attempted"], res["failed"]
    env = res["env"]
    print(f"graftbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cycles={res['cycles']} ops={res['ops']} measured_s={res['measured_s']:.1f} "
          f"nproc={env['nproc']} cores={env['local_cores']} steal={env['host.steal_frac']:.3f} "
          f"spark={env['spark_version']} java={env['java_version']} source={source_digest[:12]} "
          f"commit={(commit or 'none')[:12]}")
    for n in res["named"]:
        v = "n/a" if n["value"] is None else f"{n['value']:.4f}"
        print(f"  {n['name']:<16} {v:>12} {n['unit']}")
    print(f"  {'setup_s':<16} {setup_s:>12.4f} s")
    print(f"  {'failed_frac':<16} {failed / max(1, attempted):>12.4f} "
          f"({failed} of {attempted} operations)")
    for f in res["failures"]:
        print(f"  FAILED {f}")
    print(f"  results: {os.path.relpath(args.results, ROOT)}")

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        if args.trace:
            v = res["per_layer"].get(m["name"])
        else:
            v = res["end_to_end"].get(m["name"], {}).get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            die(f"metric {m['name']} missing from the results ({v!r})", 5)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
