#!/usr/bin/env python3
"""graft benchmark: run one workload on one seed and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload ohlcv_metrics --seed 1 --seconds 15 --trace 0

It builds graft and the harness from source on first use (sbt, into
perfbench/harness/target), generates the seeded input (perfbench/gen.py),
runs the workload in a fresh JVM at local[nproc], checks every output
against its reference outside the timed passes, and prints one metric
per line followed by a JSON summary as the last line. --trace 1 runs
with Spark's listeners registered and reports the per-layer metrics.
"""
import argparse
import hashlib
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
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# the harness JVM must finish within this many seconds of its launch
JVM_LIMIT_S = 150

sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("ohlcv_metrics", "corpus_graph")
TWINS = ("ema", "sessionize", "vwap", "dedup", "bloom_dedup", "cms")
# each stream twin is fed one micro-batch of STREAM_BATCH_ROWS events per
# pass, the warm-up pass included
STREAM_BATCH_ROWS = 400
# the input table a query reads, where it is not events
QUERY_TABLE = {"q_minhash_lsh": "documents", "q_quality_gate": "documents",
               "q_ann_ivf": "embeddings", "q_bfs_layers": "embeddings"}
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg: str, code: int = 2) -> None:
    log(msg)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HARNESS, "src")]
    files = [os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def ensure_build() -> str:
    """Builds graft plus the harness if the sources changed; returns the
    runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("graft sources not found under src/main/scala: run from a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    stamp_path = os.path.join(BUILD, "build.stamp")
    cp_path = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                with open(cp_path) as g:
                    return g.read().strip()
    log("building graft and the harness (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=700)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        die("sbt build timed out", 3)
    cps = [ln for ln in out.splitlines() if "scala-2.13/classes" in ln and ":" in ln]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(out[-6000:])
        die("sbt build failed", 3)
    cp = cps[-1].strip()
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp: str, args: argparse.Namespace, input_dir: str, work: str) -> tuple:
    """Runs the harness; returns (result dict, launch epoch seconds)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g",
        "-XX:-UseDynamicNumberOfCompilerThreads",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        f"-Dspark.sql.streaming.checkpointLocation={os.path.join(work, 'checkpoints')}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--input", input_dir, "--work", work,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(cpus), "--seed", str(args.seed),
        "--batch_rows", str(STREAM_BATCH_ROWS),
    ]
    log_path = os.path.join(work, "jvm.log")
    launched = time.time()
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"harness exceeded the time limit; log: {log_path}", 4)
    res_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"harness failed with exit code {proc.returncode}", 4)
    with open(res_path) as f:
        return json.load(f), launched


def cpu_times() -> list:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def pct(xs, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))
    return s[k]


def op_rows(name: str, manifest: dict) -> int:
    """Input rows of one operation: the rows of the table a query reads,
    or the events of one micro-batch. The load leg reads no input."""
    if name in TWINS:
        return STREAM_BATCH_ROWS
    if name == "etl_load":
        return 0
    return manifest["tables"][QUERY_TABLE.get(name, "events")]["rows"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = ensure_build()
    input_dir, manifest = gen.ensure(args.seed, os.path.join(BUILD, "inputs"))
    for t, m in manifest["tables"].items():
        log(f"input {t}: {m['rows']} rows, {m['bytes']} bytes")
    work = os.path.join(BUILD, "work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpu0 = cpu_times()
    res, launched = run_jvm(cp, args, input_dir, work)
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    # time the hypervisor ran other guests on this host's CPUs: the
    # source of run-to-run drift no benchmark setting removes
    print(f"host cpu steal during the run: {cpu[7] / max(1, sum(cpu)):.4f} ratio")

    # ---- correctness (untimed) -------------------------------------------
    bad = {}  # name -> reason
    for f in res["failures"]:
        bad.setdefault(f["name"], f"{f['phase']}: {f['error']}")
    for c in res["checks"]:
        if c["ok"] != True:  # noqa: E712
            bad.setdefault(c["name"], f"check: {c['detail']}")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sqls = json.load(f)
    verdicts = oracle.compare_all(input_dir, os.path.join(work, "dumps"), sqls)
    for name, (ok, detail) in verdicts.items():
        if not ok:
            bad.setdefault(name, f"oracle: {detail}")
    self_ok, self_detail = oracle.self_check(input_dir, os.path.join(work, "dumps"), sqls)
    print(f"gate self-check: {'ok' if self_ok else 'FAILED'} ({self_detail})")

    # ---- metrics -----------------------------------------------------------
    ops = [o for o in res["samples"] if not o["traced"]]
    attempted = len(ops)
    failed = sum(1 for o in ops if (not o["ok"]) or o["name"] in bad)
    good = [o for o in ops if o["ok"] and o["name"] not in bad]
    correct = failed == 0 and not bad and self_ok and len(good) > 0
    print(f"fail_ratio: {failed}/{attempted} = {failed / max(1, attempted):.6f} ratio")
    for name, why in sorted(bad.items()):
        print(f"FAILED {name}: {why}")

    setup_s = res["setup_end_epoch_s"] - launched
    walls = res["untraced_pass_walls"]
    pass_cpu = statistics.median(res["untraced_pass_cpu"])
    rows_per_pass = sum(op_rows(n, manifest) for n in {o["name"] for o in ops})
    print(f"samples: {len(good)} operations in {len(walls)} passes")
    if good:
        # not gated: run-to-run spread beyond any bound (see README)
        for unit in ("wall", "cpu"):
            xs = [o[f"{unit}_s"] for o in good]
            print(f"operation {unit} time: p50 {statistics.median(xs)} s, p90 {pct(xs, 0.9)} s")
        print(f"pass wall time: {statistics.median(walls)} s; "
              f"{rows_per_pass} input rows per pass, {rows_per_pass / pass_cpu} rows per cpu-second")
    if args.trace == 0:
        metrics = {"setup_s": (setup_s, "s"), "pass_cpu_s": (pass_cpu, "s")}
    else:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        layers = res["layers"]
        missing = sorted(set(units) - set(layers))
        if missing:
            die(f"traced run did not produce: {missing}", 5)
        metrics = {k: (layers[k], u) for k, u in units.items()}
        print("self time per traced pass:")
        for k, v in res["self_time"].items():
            print(f"  {k:<20} {v:.4f} s")
        print(f"tracing overhead: traced pass {statistics.median(res['traced_pass_walls']):.4f} s "
              f"vs untraced {statistics.median(walls):.4f} s "
              f"(ratio {layers['trace.overhead_ratio']:.4f}); spans: {work}/spans.jsonl")
    for k, (v, u) in metrics.items():
        print(f"{k}: {v} {u}")
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
