#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload hive_sql --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while no source file changes. Each run generates its inputs from the
seed (perfbench/gen.py), starts one JVM that sets graft up several times and
then runs the workload's ops in a closed loop for --seconds seconds, checks
the outputs (perfbench/checks.py) and prints one JSON line last.

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics of a traced run and writes its spans beside the run's result. The
metrics are defined in perfbench/README.md. Exit code 1 means an output
check failed; 2 means the checkout or the build is unusable.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import gen  # noqa: E402

SETUPS = 3          # set-ups per run; setup_s is their median
LIMIT_S = {"hive_sql": 15.0}  # per-op latency limit (see README.md)
SAFETY_LIMIT_S = 150.0
HEAP = "2g"
JVM_TIMEOUT_S = 170
PER_TEXT = {"hive_sql"}  # workloads whose warm figures are per-text medians
END_TO_END = ["setup_s", "ops_per_s", "op_p50_s", "cold_mean_s"]
UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "cold_mean_s": "s"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of every source and build file the build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in tops:
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness once per source state; return the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("not inside a graft checkout: ../build.sbt and ../src/main/scala/graft are missing")
    stamp = os.path.join(WORK, "build.json")
    fp = fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("fingerprint") == fp and all(os.path.exists(p) for p in s["classpath"]):
            return s["classpath"], fp
    print("[perfbench] building graft and the harness with sbt", file=sys.stderr)
    # offline: every dependency comes from the image's caches
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "-Dsbt.offline=true", "perfbench/compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850, env=dict(os.environ, COURSIER_MODE="offline"))
    sys.stderr.write("\n".join(ln[:300] for ln in p.stdout.splitlines()[-40:]) + "\n")
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"sbt build failed (exit {p.returncode})")
    cp = lines[-1].strip().split(os.pathsep)
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp, fp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, seed, seconds, trace, data, extra=(), setups=SETUPS,
            timeout=JVM_TIMEOUT_S):
    """One JVM run; returns the harness's result document."""
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "graftbench.Main", workload, data, run_dir, out,
            str(seconds), str(trace), str(cores()), str(setups),
            str(LIMIT_S.get(workload, SAFETY_LIMIT_S)), *extra]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        die(f"{workload} JVM exceeded {timeout} s")
    if rc != 0 or not os.path.isfile(out):
        die(f"{workload} JVM exited with {rc}")
    with open(out) as f:
        res = json.load(f)
    spans = out + ".spans.jsonl"
    if os.path.isfile(spans):
        res["spans_file"] = spans
    res["run_dir"] = run_dir
    return res


def save_untraced(path, fp, res):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"fingerprint": fp, "lat_s": [o["lat_s"] for o in res["ops"]]}, f)


def end_to_end(workload, res):
    """Warm ops give the throughput and the median; each distinct op's first
    execution gives the cold mean, which keeps the one-time costs of every
    op in it. On hive_sql each text counts once in the warm figures, with
    the median of its warm runs. None when failed ops left no warm or no
    cold op to measure."""
    ok = [o for o in res["ops"] if not o["failed"]]
    warm = [o["lat_s"] for o in ok if not o["cold"]]
    cold = [o["lat_s"] for o in ok if o["cold"]]
    if not warm or not cold:
        return None
    if workload in PER_TEXT:
        runs = {}
        for o in ok:
            if not o["cold"]:
                runs.setdefault(o["key"], []).append(o["lat_s"])
        warm = [statistics.median(v) for v in runs.values()]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "ops_per_s": len(warm) / sum(warm),
        "op_p50_s": statistics.median(warm),
        "cold_mean_s": statistics.mean(cold),
        "peak_heap_mb": res["peak_heap_mb"],
    }


def tail(xs):
    """Highest percentile with at least 10 samples beyond it."""
    xs = sorted(xs)
    if len(xs) < 11:
        return None, None
    k = len(xs) - 11
    return xs[k], round(100.0 * (k + 1) / len(xs), 1)


def report(workload, res, m, chk):
    """Human-readable table of the workload's end-to-end view (stderr)."""
    ok = [o for o in res["ops"] if not o["failed"]]
    lat = [o["lat_s"] for o in ok]
    t, pct = tail(lat)
    rows = [("setup_s", m["setup_s"], "s"), ("ops", len(res["ops"]), "count"),
            ("cold_ops", sum(o["cold"] for o in res["ops"]), "count"),
            ("ops_per_s", m["ops_per_s"], "1/s"), ("op_p50_s", m["op_p50_s"], "s"),
            ("op_tail_s", t, f"s (p{pct})" if pct else "s (<11 ops)"),
            ("cold_mean_s", m["cold_mean_s"], "s"), ("peak_heap_mb", m["peak_heap_mb"], "MB"),
            ("failed_frac", sum(o["failed"] for o in res["ops"]) / len(res["ops"]), "ratio")]
    rows += [(k, v, u) for k, (v, u) in chk.get("metrics", {}).items()]
    print(f"[perfbench] {workload}: load {res['load'][0]:.2f} -> {res['load'][1]:.2f}, "
          f"steal {res['steal_s']:.1f} s, warm-up {res['warmup_s']:.1f} s, "
          f"window {res['window_s']:.1f} s", file=sys.stderr)
    for k, v, u in rows:
        print(f"[perfbench]   {k:<18} {'-' if v is None else round(v, 4):>12} {u}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, fp = build()
    data = os.path.join(WORK, "data", f"{a.workload}-{a.seed}")
    if not os.path.isfile(os.path.join(data, "truth.json")):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(a.workload, a.seed, data)
    with open(os.path.join(data, "truth.json")) as f:
        truth = json.load(f)

    # The tracing overhead compares a traced run with the untraced run of
    # the same build and seed, which is made first unless it already exists.
    ref = os.path.join(WORK, "results", f"{a.workload}-{a.seed}-untraced.json")
    if a.trace == 1 and not (os.path.isfile(ref) and json.load(open(ref))["fingerprint"] == fp):
        print("[perfbench] untraced reference run for the tracing overhead", file=sys.stderr)
        untraced = run_jvm(cp, a.workload, a.seed, a.seconds, 0, data)
        save_untraced(ref, fp, untraced)
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data)
    if a.trace == 0:
        save_untraced(ref, fp, res)
    chk = checks.check(a.workload, res, truth, data)
    failed = sum(o["failed"] for o in res["ops"])
    m = end_to_end(a.workload, res)
    if m is None:
        chk["errors"].append("failed ops left no warm or no cold op to measure")
        metrics = {}
    elif a.trace == 0:
        metrics = {k: {"value": m[k], "unit": UNITS[k]} for k in END_TO_END}
    else:
        with open(ref) as f:
            base = json.load(f)["lat_s"]
        traced = [o["lat_s"] for o in res["ops"]]
        n = min(len(base), len(traced))
        metrics = checks.per_layer(res, m)
        metrics["trace.overhead_frac"] = {"value": sum(traced[:n]) / sum(base[:n]) - 1,
                                          "unit": "ratio"}
    if m is not None:
        report(a.workload, res, m, chk)
    for e in chk["errors"][:20]:
        print(f"[perfbench] CHECK FAILED: {e}", file=sys.stderr)
    for d in os.scandir(res["run_dir"]):  # keep the result and spans, drop Spark's files
        if d.is_dir():
            shutil.rmtree(d.path, ignore_errors=True)
    correct = not chk["errors"]
    print(json.dumps({"correct": correct, "attempted": len(res["ops"]), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
