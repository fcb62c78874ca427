#!/usr/bin/env python3
"""Benchmark launcher: one seeded run of one workload in one JVM.

    python3 perfbench/run.py --workload ingest_publish --seed 1 --seconds 10 --trace 0

Derives the Spark configuration from the host, builds the engine and the
harness (cached, see build.py), runs the harness JVM on a per-run temp
root inside the checkout, checks the outputs, and prints a report whose
last line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. See README.md for workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

REPO = build.REPO
SETUP_REPS = 3
RUN_LIMIT_S = 170  # the run must end within 180 s once built

# what `java -jar` would need for Spark 4 on JDK 17 outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def host_config():
    """local[min(nproc, 4)] with as many shuffle partitions, and the heap
    by the repo's test rule: half of MemTotal, clamped to [2, 8] GiB."""
    cores = min(len(os.sched_getaffinity(0)), 4)
    gib = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return cores, f"{gib}g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jvm(cores, heap, root, deadline, cds_flag, *main_args):
    """Run the harness JVM on `root` until it exits or `deadline` passes;
    return its exit code, or None if it was killed at the deadline."""
    cmd = ["java", f"-Xmx{heap}", "-XX:-UsePerfData", "-Xss8m", cds_flag,
           f"-Djava.io.tmpdir={root / 'tmp'}", *ADD_OPENS,
           "-cp", build.classpath(), "graft.perfbench.Main",
           "--cores", str(cores), "--root", str(root), *main_args]
    (root / "tmp").mkdir(parents=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def dump_archive(cores, heap):
    """Once per build: one short analyst_queries run (one set-up, one
    round) that dumps the classes it loaded into build.ARCHIVE. Without
    the archive runs are only slower, so a failed dump is not fatal."""
    root = REPO / ".bench_tmp" / f"archive-{os.getpid()}"
    try:
        rc = jvm(cores, heap, root, time.monotonic() + 600,
                 f"-XX:ArchiveClassesAtExit={build.ARCHIVE}",
                 "--workload", "analyst_queries", "--seed", "0", "--seconds", "0",
                 "--trace", "0", "--setup-reps", "1", "--out", str(root / "raw.json"))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if rc != 0:
        build.ARCHIVE.unlink(missing_ok=True)
        build.NO_ARCHIVE.touch()
        print(f"perfbench: class-data archive run exited with code {rc}", file=sys.stderr)


def run_jvm(args, cores, heap, root, deadline):
    raw_path = root / "raw.json"
    cds = f"-XX:SharedArchiveFile={build.ARCHIVE}" if build.ARCHIVE.is_file() else "-Xshare:auto"
    rc = jvm(cores, heap, root, deadline, cds,
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--setup-reps", str(SETUP_REPS), "--out", str(raw_path))
    if rc != 0 or not raw_path.exists():
        fail(f"harness exited with code {rc}")
    return json.loads(raw_path.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(metrics.PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (REPO / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {REPO / 'src/main/scala'}")
    if shutil.which("java") is None:
        fail("java not found")

    cores, heap = host_config()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build.build()
    if not build.ARCHIVE.is_file() and not build.NO_ARCHIVE.exists():
        dump_archive(cores, heap)
    deadline = time.monotonic() + RUN_LIMIT_S
    root = REPO / ".bench_tmp" / f"{args.workload}-{os.getpid()}"
    try:
        raw = run_jvm(args, cores, heap, root, deadline)
        checks = [(c["name"], c["ok"], c["detail"]) for c in raw["checks"]]
        if args.workload == "analyst_queries":
            import oracle
            checks += oracle.check(root / "results")
    finally:
        shutil.rmtree(root, ignore_errors=True)

    ops = [o for o in raw["ops"] if o["start"] >= raw["window_ms"][0] - 1e-6]
    print("[perfbench] window ops (kind:tag ms): " + " ".join(
        f"{o['kind']}:{o['tag']}:{o['end'] - o['start']:.0f}" for o in ops), file=sys.stderr)
    lo = raw["window_ms"][0]
    attempted = [o for o in raw["ops"] if o["start"] >= lo - 1e-6]
    failed = sum(1 for o in attempted if not o["ok"])
    correct = all(ok for _, ok, _ in checks) and len(attempted) > failed

    print(f"config: local[{cores}], shuffle partitions {cores}, heap {heap}, "
          f"workload {args.workload}, seed {args.seed}, trace {args.trace}")
    print(f"host_probe_s = {raw['host_probe_s']:.4f} s (diagnostic: fixed CPU work "
          f"on {cores} threads)")
    for name, ok, detail in checks:
        print(f"check {name}: {'PASS' if ok else 'FAIL'} ({detail})")
    for line in raw["failures"][:5]:
        print(f"failed op: {line}")
    for name, (value, unit) in metrics.named_end_to_end(raw).items():
        print(f"{name} = {value:.6g} {unit}")
    if args.trace:
        for name, (value, unit) in metrics.layer_times(raw).items():
            print(f"{name} = {value:.6g} {unit}")
        # no workload calls a StageCache path yet, so this reads 0
        print(f"ops.stage_cache_serves = {raw['stage_cache_serves']} count")
        chosen = metrics.per_layer(raw)
    else:
        chosen = metrics.end_to_end(raw)
    print(json.dumps({
        "correct": correct, "attempted": len(attempted), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))


if __name__ == "__main__":
    main()
