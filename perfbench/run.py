"""Ingest-lifecycle benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness
(`perfbench/build.py`), runs one workload in one JVM at `local[nproc]`,
checks the program's outputs, and prints as its last stdout line one JSON
object: `correct`, `attempted`, `failed` and `metrics` — the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`, named
and with the units `BENCHMARK.json` declares. The line before it stamps
the host. The full record of the run (raw samples, host, and with
`--trace 1` the spans and jobs) is written to `.bench_build/results/`.
See `perfbench/README.md`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("stream_maintain", "batch_rerun")
TIME_LIMIT_S = 170
# fixed, so heap resizing does not vary between runs
HEAP = "3g"

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"]


def meminfo_kb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def cpu_ticks():
    """(steal, total) clock ticks of all cpus from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def git_commit():
    """The checked-out commit, or "unknown" outside a git repository
    (the build's source hash in the host stamp still names the code)."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def end_to_end(raw):
    fresh, fresh_p, fresh_n = stats.tail(raw["freshness_s"])
    reports = stats.report_latencies(raw["report_query"], raw["report_s"])
    rep, rep_p, rep_n = stats.tail(reports)
    m = {
        "setup_s": raw["session_s"] + stats.median(raw["seed_load_s"]) + raw["prep_s"],
        "freshness_p50_s": stats.median(raw["freshness_s"]),
        "freshness_tail_s": fresh,
        "batch_rows_per_s": raw["ingest_rows"] / raw["ingest_s"] if raw["ingest_s"] else 0.0,
        "report_p50_s": stats.median(reports),
        "report_tail_s": rep,
        "bytes_stored_per_input_byte":
            raw["store_bytes"] / raw["input_bytes"] if raw["input_bytes"] else 0.0,
        "heap_retained_mb": raw["heap_retained_mb"],
    }
    tails = {"freshness_tail_s": {"percentile": fresh_p, "samples": fresh_n},
             "report_tail_s": {"percentile": rep_p, "samples": rep_n}}
    return m, tails


def run_jvm(classes, args, work, out, deadline):
    inputs = os.path.join(build.BUILD, "inputs-" + os.path.basename(os.path.normpath(args.sf)))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd += JAVA_OPTS + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
                        "graft.perfbench.Main", args.workload, str(args.seed), str(args.seconds),
                        str(args.trace), args.sf, work, inputs, out]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, PERFBENCH_CORES=str(args.cores))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: {args.workload} exceeded its time limit")
    if p.returncode != 0 or not os.path.isfile(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {p.returncode}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=build.default_corpus(),
                    help="corpus directory the inputs are generated from "
                         "(default: the one graft.Bench reads)")
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()
    t_start = time.time()
    if not args.sf or not os.path.isdir(args.sf):
        raise SystemExit(f"perfbench: no corpus directory ({args.sf}); run from a checkout "
                         "or set SPARK_GRAFT_SF_DIR")
    host = {"nproc": os.cpu_count(), "cpus_honored": len(os.sched_getaffinity(0)),
            "cores_used": args.cores, "mem_total_kb": meminfo_kb(),
            "loadavg_start": loadavg(), "commit": git_commit()}
    classes = build.build()
    ticks0 = cpu_ticks()
    # the first run in a checkout compiles; the limit then covers the run
    deadline = max(t_start + TIME_LIMIT_S, time.time() + TIME_LIMIT_S - 20)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(build.BUILD, f"work-{tag}-{os.getpid()}")
    out = os.path.join(work, "raw.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_jvm(classes, args, work, out, deadline)
        with open(out) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ticks1 = cpu_ticks()
    host.update(loadavg_end=loadavg(), jdk=raw["jdk"], spark=raw["spark"],
                sources=os.path.basename(classes).split("-", 1)[1])
    # the share of cpu time the hypervisor gave to other guests while the
    # JVM ran: runs on a shared host slow down as it grows
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        host["steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])

    e2e, tails = end_to_end(raw)
    values = stats.per_layer(raw, len(raw["freshness_s"])) if args.trace else e2e
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    failed = int(raw["failed"])
    correct = failed == 0

    results = os.path.join(build.BUILD, "results")
    os.makedirs(results, exist_ok=True)
    record = dict(host=host, tails=tails, end_to_end=e2e, metrics=metrics, raw=raw)
    if args.trace:
        record["spans"] = stats.span_summary(raw)
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(record, f)
    for e in raw["errors"]:
        print("error:", e, file=sys.stderr)
    print(json.dumps({"host": host, "tails": tails}))
    print(json.dumps({"correct": correct, "attempted": int(raw["attempted"]),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
