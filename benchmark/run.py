#!/usr/bin/env python3
"""geckospark benchmark: one run of one seeded workload.

Usage (from the repository root):

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark runner from source on first use
(cached in .bench_build/ until a source file changes), runs the runner in
one JVM with a local Spark session on every core, turns its result and
trace files into metrics, prints every metric by name with its unit, and
prints one JSON object as the last line of standard output. Exits 1 when
an output check fails. See benchmark/README.md for the workloads and
metrics.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("linkage_roundtrip", "corpus_curation")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = [("job_s", "s"), ("setup_s", "s")]

EXPR_KERNELS = ["minhash_signature", "cosine_similarity", "ngram_hashes",
                "simhash64", "deflate_length", "hyperplane_buckets",
                "pq_encode", "kmv_sketch", "gk_sketch"]


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build
def source_files():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files += ROOT.glob("project/*.sbt")
    files += (ROOT / "src" / "main").rglob("*")
    files += (BENCH / "src").rglob("*")
    return sorted(f for f in files if f.is_file())


def build():
    """Returns the runner's classpath, compiling first if any source
    changed since the cached build."""
    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ROOT}")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "build.stamp"
    if cp_file.is_file() and stamp_file.is_file() and \
            stamp_file.read_text() == stamp:
        return cp_file.read_text()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    log = BUILD / "build.log"
    with open(log, "w") as out:
        code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "export bench/Runtime/fullClasspath"],
            BENCH, env, out, BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    cp = next((l.strip() for l in reversed(lines)
               if "scala-2.13" in l and not l.startswith("[")), None)
    if code != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def run_bounded(cmd, cwd, env, out, timeout):
    """Runs `cmd` in its own process group, killing the whole group if it
    outlives `timeout` seconds or this script is interrupted; always waits
    for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                            stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


# ------------------------------------------------------------------ trace
def self_times(spans):
    """Self time of each span: its duration minus the union of its
    children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, last = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], last), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def layer_metrics(result, spans):
    """Per-layer metrics of a traced run, from its trace file: medians over
    the detailed-metrics iterations of per-iteration sums."""
    selfs = self_times(spans)
    its = [i for i in result["iterations"] if i["timed"] and i["ok"]]
    traced = [i["iter"] for i in its if i["traced"]]
    by_iter = {i: [s for s in spans if s["iter"] == i] for i in traced}
    probes = {s["name"]: s for s in spans if s["name"].startswith("probe.")}
    rows = result["probes"]

    def per_iter(pred, f):
        return median(sum(f(s) for s in by_iter[i] if pred(s["name"]))
                      for i in traced)

    def self_of(pred):
        return per_iter(pred, lambda s: selfs[s["id"]])

    def count_of(pred, key):
        return per_iter(pred, lambda s: s[key])

    def prefix(p):
        return lambda n: n.startswith(p)

    def exact(n0):
        return lambda n: n == n0

    gen_self = self_of(prefix("gen."))
    gen_rows = result["report"].get("gen_rows", 0.0)
    m = {}
    m["session.start_s"] = median(s["session_start_s"] for s in result["setups"])
    m["session.warmup_s"] = median(s["warmup_s"] for s in result["setups"])
    m["stage.inputs_s"] = median(s["stage_s"] for s in result["setups"])
    m["gen.self_s"] = gen_self
    m["gen.rows_per_s"] = gen_rows / gen_self if gen_self > 0 else 0.0
    m["gen.cpu_s"] = count_of(prefix("gen."), "cpu_s")
    m["gen.gc_s"] = count_of(prefix("gen."), "gc_s")
    m["mut.stats_s"] = self_of(exact("mut.mutate_data_frame"))
    m["mut.stats_jobs"] = count_of(exact("mut.mutate_data_frame"), "jobs")
    m["mut.rewrite_self_s"] = self_of(exact("mut.rewrite"))
    m["mut.cpu_s"] = count_of(prefix("mut."), "cpu_s")
    m["mut.warnings"] = median(i["warnings"] for i in its if i["traced"])
    m["link.self_s"] = self_of(prefix("link."))
    m["link.candidate_pairs"] = rows.get("link.candidate_pairs", 0.0)
    m["link.true_pair_share"] = rows.get("link.true_pair_share", 0.0)
    m["link.shuffle_write_bytes"] = count_of(prefix("link."),
                                             "shuffle_write_bytes")
    m["link.spill_bytes"] = count_of(prefix("link."), "spill_bytes")
    m["dedup.cluster_self_s"] = self_of(exact("dedup.cluster_pairs"))
    m["dedup.minhash_self_s"] = self_of(exact("dedup.minhash_lsh"))
    m["dedup.containment_self_s"] = self_of(exact("dedup.containment"))
    m["dedup.shuffle_write_bytes"] = count_of(prefix("dedup."),
                                              "shuffle_write_bytes")
    m["dedup.spill_bytes"] = count_of(prefix("dedup."), "spill_bytes")
    m["sim.ann_self_s"] = self_of(prefix("sim."))
    m["text.self_s"] = self_of(prefix("text."))
    m["text.shuffle_write_bytes"] = count_of(prefix("text."),
                                             "shuffle_write_bytes")
    for k in EXPR_KERNELS:
        p = probes.get(f"probe.expr.{k}")
        secs = p["end"] - p["start"] if p else 0.0
        n = rows.get(f"probe.expr.{k}", 0.0)
        m[f"expr.{k}.rows_per_s"] = n / secs if secs > 0 else 0.0
    every = lambda n: True  # noqa: E731
    m["spark.jobs"] = count_of(every, "jobs")
    m["spark.tasks"] = count_of(every, "tasks")
    m["spark.sched_wait_s"] = count_of(every, "sched_wait_s")
    m["spark.result_bytes"] = count_of(every, "result_bytes")
    m["trace.overhead_s"] = \
        median(i["job_s"] for i in its if i["traced"]) - \
        median(i["job_s"] for i in its if not i["traced"])
    m["trace.unattributed_s"] = self_of(exact("job"))
    for k, v in result["controls"].items():
        m[f"host.{k}"] = v
    rep = result["report"]
    m["peak_rss_mb"] = result["peak_rss_mb"]
    m["linkage_precision"] = rep.get("linkage_precision", 0.0)
    m["linkage_recall"] = rep.get("linkage_recall", 0.0)
    return m


# ------------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops and waits for its child processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = BUILD / "runs" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={run_dir / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "-cp", cp, "geckobench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", str(run_dir), "--cores", str(cores), "--run-id", run_id]
    t0 = time.time()
    with open(run_dir / "runner.log", "w") as out:
        code = run_bounded(cmd, ROOT, os.environ, out, RUN_TIMEOUT_S)
    result_file = run_dir / "result.json"
    if code != 0 or not result_file.is_file():
        log = (run_dir / "runner.log").read_text().splitlines()
        sys.stderr.write("\n".join(log[-40:]) + "\n")
        fail(f"runner exited {code} after {time.time() - t0:.0f} s; "
             f"log in {run_dir / 'runner.log'}")
    result = json.loads(result_file.read_text())
    spans = [json.loads(l) for l in
             (run_dir / "trace.jsonl").read_text().splitlines() if l]
    for d in ("tmp", "spark-local", "warehouse", "stage-1", "stage-2",
              "stage-3"):
        shutil.rmtree(run_dir / d, ignore_errors=True)

    plain = [i["job_s"] for i in result["iterations"]
             if i["timed"] and i["ok"] and not i["traced"]]
    checks_failed = [c for c in result["checks"] if not c["ok"]]
    # a failed call already counts in `failed`; a failed check that ran
    # after the loop marks one more call as failed
    attempted = max(1, result["attempted"])
    failed = min(attempted, result["failed"] + sum(
        1 for c in checks_failed if not c["name"].startswith("iteration_")))
    correct = not checks_failed and failed == 0 and bool(plain)

    e2e = {
        "job_s": median(plain, float("nan")),
        "setup_s": median(s["total_s"] for s in result["setups"]),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    mode = "traced" if args.trace else "untraced"
    print(f"{args.workload} seed {args.seed}: {mode}, {cores} cores, "
          f"{args.seconds:g} s window, closed loop with one client")
    print(f"  job_s              {e2e['job_s']:.4f} s   "
          f"(median of {len(plain)} iterations)")
    print(f"  setup_s            {e2e['setup_s']:.4f} s   "
          f"(median of {len(result['setups'])} set-ups)")
    print(f"  peak_rss_mb        {e2e['peak_rss_mb']:.1f} MB")
    print(f"  ops_failed_share   {failed / attempted:.4f} ratio "
          f"({failed} of {attempted} calls)")
    for k, v in sorted(result["report"].items()):
        if k.startswith("linkage_"):
            print(f"  {k:<18} {v:.6f} ratio")
    c = result["controls"]
    print(f"  host controls      codegen {c['codegen_pre_s']:.3f}/"
          f"{c['codegen_post_s']:.3f} s, shuffle {c['shuffle_pre_s']:.3f}/"
          f"{c['shuffle_post_s']:.3f} s (before/after; context, not gated)")
    for ch in checks_failed:
        print(f"  CHECK FAILED {ch['name']}: {ch['detail'][:500]}")
    print(f"  trace: {run_dir / 'trace.jsonl'}")

    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in layer_metrics(result, spans).items()}
        for k, v in metrics.items():
            print(f"  {k:<36} {v['value']:.6g} {v['unit']}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share") or name.startswith("linkage_"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    main()
