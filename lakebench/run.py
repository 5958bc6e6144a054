"""graft benchmark: one run of one workload.

    python3 lakebench/run.py --workload cdc_cow|mor_serve|curation \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
benchmark (see build.py); later runs reuse that build. Each run starts one
JVM with a Spark local session, generates the workload's inputs from the
seed, loads the base table, times whole rounds of calls into graft, checks
every result against the benchmark's own model, and prints one JSON object
as the last line of standard output. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer metrics (and writes the spans to
.bench_tmp/spans-<workload>-<seed>.json).

Everything the run writes goes under .bench_build/ and .bench_tmp/ in the
current directory; the run's tables and inputs are deleted at the end.
"""
import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cdc_cow", "mor_serve", "curation")
UNITS = {"setup_s": "s", "run_s": "s", "write_rows_per_s": "rows/s",
         "read_ops_per_s": "ops/s", "service_s": "s", "table_bytes": "bytes",
         "peak_rss_mb": "MB"}
JVM_TIMEOUT_S = 170


def layer_units():
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "..", "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def run_jvm(cmd, log_path):
    """Runs the JVM to its end; returns its exit code (None on timeout)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    try:
        classpath, archive, built = build.ensure_built()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    # set-up starts after a build, which is not part of it
    start = time.time() if built else PROCESS_START

    tmp_root = os.path.abspath(".bench_tmp")
    work = os.path.join(tmp_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(tmp_root, f"jvm-{a.workload}-{a.seed}.log")
    try:
        code = run_jvm(build.java_cmd(classpath, work, "lakebench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work], ["-XX:SharedArchiveFile=" + archive]), log_path)
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            print(f"JVM ended with {code}; no result", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            r = json.load(fh)
        if a.trace:
            shutil.copyfile(os.path.join(work, "spans.json"), os.path.join(
                tmp_root, f"spans-{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        units = layer_units()
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in r["per_layer"].items()}
    else:
        e2e = dict(r["end_to_end"])
        # at the reference host's speed, like the other timings, taken
        # from the passes of the timed phase: the warm-up's first ones run
        # before the kernel is compiled
        e2e["setup_s"] = (r["phase_start_ms"] / 1e3 - start) * r["host_scale"]
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    if not r["correct"]:
        with open(log_path) as fh:
            sys.stderr.writelines(l for l in fh if l.startswith("CHECK FAILED"))
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
