"""Run one benchmark workload and print its metrics.

    python3 ncdbench/run.py --workload <ncd_ingest_sql|catalog_stream> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 ncdbench/run.py --selftest

Run from the repository root. Builds the library and the benchmark from
source (see build.py), runs the workload in one JVM, and prints every
metric as `metric <name> <value> <unit>`. The last line of standard output
is one JSON object: `correct`, `attempted`, `failed` and `metrics`, the
end-to-end metrics with `--trace 0` and the per-layer metrics with
`--trace 1`. A run with a failed op or check still prints that line,
with `correct` false, and exits with 1. The full report (`metrics.json`) and, when traced, the spans
(`spans.jsonl`) are kept in .bench_build/runs/<workload>-seed<n>-trace<t>/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ncd_ingest_sql", "catalog_stream")

# name -> unit, in report order; must match BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "op_ms": "ms",
    "op_cpu_s": "s",
}
PER_LAYER = {
    "ingest.json_write_s": "s",
    "ingest.mirror_write_s": "s",
    "ingest.convert_s": "s",
    "ingest.driver_share": "ratio",
    "ingest.text_bytes_read_per_input_byte": "ratio",
    "query.plan_ms": "ms",
    "query.exec_ms": "ms",
    "query.tasks_per_query": "count",
    "catalog.task_cpu_s": "s",
    "catalog.exchanges": "count",
    "catalog.max_task_ms": "ms",
    "catalog.shuffle_write_bytes": "bytes",
    "stream.state_commit_ms": "ms",
    "stream.add_batch_ms": "ms",
    "jvm.gc_s": "s",
    "trace.overhead_ratio": "ratio",
}

JVM_TIMEOUT_S = 170
JVM_HEAP = "3g"


def summary(report: dict, trace: bool) -> str:
    """The final line. An end-to-end metric that was not measured (no op
    succeeded) reads null; a per-layer metric the workload does not
    exercise reads 0."""
    wanted = PER_LAYER if trace else END_TO_END
    missing = 0.0 if trace else None
    have = report["metrics"]
    metrics = {
        name: {"value": have[name]["value"] if name in have and have[name]["value"] is not None else missing,
               "unit": unit}
        for name, unit in wanted.items()
    }
    return json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                       "failed": report["failed"], "metrics": metrics},
                      separators=(",", ":"))


def run_jvm(cmd: list, timeout: float) -> int:
    """Run the benchmark JVM, relaying its output; kill its whole process
    group on timeout and wait for it."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def selftest(root: Path) -> int:
    """The Scala tests of the benchmark's pure parts, then a check that the
    metric tables above match BENCHMARK.json."""
    classes = build.build(root, tests=True)
    code = subprocess.call([build.java(), "-XX:-UsePerfData",
                            "-cp", f"{classes}:{build.spark_jars() / '*'}",
                            "ncdbench.SelfTest"])
    spec = json.loads((root / "BENCHMARK.json").read_text())
    for key, table in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        if declared != table:
            print(f"FAIL BENCHMARK.json {key} differs from run.py: {declared} != {table}")
            code = code or 1
    if spec["workloads"] and [w["name"] for w in spec["workloads"]] != list(WORKLOADS):
        print("FAIL BENCHMARK.json workloads differ from run.py")
        code = code or 1
    return code


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    args = p.parse_args()

    root = Path.cwd()
    if args.selftest:
        return selftest(root)
    if not args.workload:
        p.error("--workload is required")

    classes = build.build(root)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = root / build.BUILD_DIR / "runs" / tag
    work = root / build.BUILD_DIR / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = [build.java(), *build.ADD_OPENS, f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
           "-cp", f"{classes}:{build.spark_jars() / '*'}",
           "ncdbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--out", str(out), "--bench", str(build.BENCH)]
    try:
        code = run_jvm(cmd, JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report_file = out / "metrics.json"
    if code != 0 or not report_file.exists():
        print(f"ncdbench: {args.workload} exited with {code}", file=sys.stderr)
        return code or 1
    report = json.loads(report_file.read_text())
    print(summary(report, bool(args.trace)))
    return 0 if report["correct"] and report["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
