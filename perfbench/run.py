"""The engine's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (perfbench/build.py), makes
the workload's inputs from the seed (perfbench/gen.py), runs one JVM
(`perfbench.Main`: set-up, an untimed warm pass whose outputs are checked,
then timed passes for S seconds), checks the outputs against independent
references (perfbench/checks.py), and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (see BENCHMARK.json and perfbench/README.md). Everything is
written under .bench_build/ in the checkout; the run directory is removed at
the end.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
HEAP = "3g"  # below the Tier-1 test heap on a 15 GB host
# The JVM's time limit: this allowance for start-up, set-up, the warm pass
# and the last timed pass, plus --seconds. A JVM stopped at the limit is
# reported as a timeout, with no result line.
JVM_ALLOWANCE_S = 150


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench = spec()
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit("perfbench: unknown workload " + a.workload)

    class_args, build_s = build.build()
    run_dir = os.path.join(ROOT, ".bench_build", "runs",
                           "%s-s%d-p%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        gen.make(a.workload, os.path.join(run_dir, "in"), a.seed)
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        cmd = build.jvm_base() + [
            "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=1g",
            "-Djava.io.tmpdir=" + tmp, "-Dderby.system.home=" + tmp,
            ] + class_args + ["perfbench.Main",
            "--workload", a.workload, "--dir", run_dir,
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            limit = JVM_ALLOWANCE_S + a.seconds
            try:
                code = proc.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0:
            with open(log_path, errors="replace") as fh:
                sys.stderr.write(fh.read()[-6000:])
            if code is None:
                raise SystemExit("perfbench: timeout: the JVM ran past its %.0f s limit "
                                 "and was stopped" % limit)
            raise SystemExit("perfbench: the JVM exited with %d" % code)
        with open(os.path.join(run_dir, "result.json")) as fh:
            res = json.load(fh)

        problems = checks.check_run(a.workload, run_dir, res)
        for p in problems:
            sys.stderr.write("perfbench check failed: %s\n" % p)

        setup_s = res["ready_ms"] / 1000.0 - T_START - build_s
        if a.trace:
            names = [m["name"] for m in bench["per_layer"]]
            layers = dict(res["per_layer"], **{"jvm.peak_rss_mb": res["peak_rss_mb"]})
            values = {n: layers.get(n, 0.0) for n in names}
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
            with open(os.path.join(ROOT, ".bench_build", "last_trace_%s.json" % a.workload),
                      "w") as fh:
                json.dump({"pass_s": res["pass_s"], "per_layer": res["per_layer"],
                           "summary": res["summary"]}, fh, indent=1)
                if os.path.exists(os.path.join(run_dir, "trace.json")):
                    shutil.copy(os.path.join(run_dir, "trace.json"),
                                os.path.join(ROOT, ".bench_build",
                                             "last_spans_%s.json" % a.workload))
        else:
            values = {
                "setup_s": setup_s,
                "pass_s": statistics.median(res["pass_s"]),
                "op_p50_ms": statistics.median(res["op_ms"]),
                "spark_jobs": statistics.median(res["pass_jobs"]),
            }
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        attempted = len(res["pass_s"]) + 1  # timed passes + the checked warm pass
        out = {
            "correct": not problems,
            "attempted": attempted,
            "failed": 0,
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
