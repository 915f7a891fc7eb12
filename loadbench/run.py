#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 loadbench/run.py --workload tsdb_ingest --seed 1 --seconds 25 --trace 0

Builds the engine and the benchmark with sbt on first use (offline, cached
by a hash of the sources), then runs one JVM that hosts the engine, its HTTP
server on loopback and a single closed-loop client. With --trace 1 the same
JVM then runs the registry batch over a seeded corpus (its answers are
checked here against DuckDB) and repeats the seed's TSDB phase traced, and
the per-layer metrics (tracing overhead included) replace the end-to-end
ones in the result line. Everything a run writes lives in
loadbench/work/<run>/, which is deleted on every exit.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. The exit code is 0 only if every operation succeeded
and every answer was correct.
"""
import argparse
import decimal
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
WORKLOADS = ("tsdb_ingest", "tsdb_dashboard")
END_TO_END = [
    ("setup_s", "s"), ("first_op_s", "s"), ("write_points_per_s", "points/s"),
    ("write_p50_ms", "ms"), ("write_tail_ms", "ms"),
    ("query_p50_ms", "ms"), ("query_tail_ms", "ms"),
    ("queries_per_s", "1/s"), ("stored_bytes_per_point", "B"),
    ("peak_rss_mb", "MB"), ("heap_live_mb", "MB"),
]
# Free space a run needs in the checkout: the work directory's measured
# peak (storage.disk_peak_bytes of a traced run plus the registry batch's
# few MB, rounded up) with 25% headroom, plus room for the class files
# when it has to build first.
DISK_PEAK_BYTES = {"tsdb_ingest": 16 << 20, "tsdb_dashboard": 48 << 20}
BUILD_BYTES = 32 << 20
RUN_BUDGET_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"loadbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return (runtime classpath, built now)."""
    out = BENCH / "target"
    cp_file, stamp_file = out / "classpath.txt", out / "source.stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    print("loadbench: building engine and benchmark with sbt ...", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export loadbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    out.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    print(f"loadbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1], True


class Child:
    """The one JVM a run starts; always stopped and reaped on exit."""
    proc = None

    @classmethod
    def stop(cls):
        p = cls.proc
        if p is not None and p.poll() is None:
            p.terminate()
            try:
                p.wait(timeout=15)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        cls.proc = None


def run_jvm(cp, args, workdir, deadline):
    workdir.mkdir(parents=True)
    (workdir / "tmp").mkdir()
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    # a fixed, pre-touched heap keeps peak RSS from following the
    # collector's resizing: what varies is the memory outside the heap
    cmd = [java, "-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch",
           # C1 only: C2's profile-driven code differs from JVM to JVM and
           # moved same-seed latencies by about 12%; C1 keeps them within 3%
           "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={workdir / 'tmp'}", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "loadbench.Main", "--workdir", str(workdir)] + args
    env = dict(os.environ)
    # one closed-loop client holds no concurrent readers, so superseded
    # generations are collected at the next flip rather than after the
    # default two-minute grace (keeps a short run's disk use bounded)
    env["SPARK_GRAFT_GEN_GRACE_MS"] = "0"
    Child.proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=subprocess.PIPE,
                                  stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = Child.proc.communicate(timeout=max(5.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        Child.stop()
        fail("run exceeded its time budget")
    code = Child.proc.returncode
    Child.proc = None
    result = None
    for line in out.splitlines():
        if line.startswith("LOADBENCH_RESULT "):
            result = json.loads(line[len("LOADBENCH_RESULT "):])
    if result is None:
        fail(f"JVM exited with code {code} without a result")
    return result, code


def canon(v):
    """A value as the answer check compares it: numbers as floats rounded
    to 9 significant digits (the engine and DuckDB may add in another
    order), lists and structs as tuples."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return "nan" if f != f else float(f"{f:.9g}") + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(canon(x) for x in v.values())
    return str(v)


def answer(columns, rows):
    """Columns sorted by name, rows sorted: the comparison ignores order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ([columns[i] for i in order],
            sorted((tuple(canon(r[i]) for i in order) for r in rows), key=repr))


def check_batch(res):
    """Checks every registry answer against its DuckDB oracle on the same
    corpus file and marks a wrong one failed (and out of the samples)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{res['corpus']}/*.parquet')")
    t0 = time.time()
    for b in res["batch"]:
        if not b["ok"]:
            continue
        error = None
        if b["oracle"] is None:
            error = "no oracle to check against"
        else:
            cur = con.execute(b["oracle"])
            want = answer([d[0] for d in cur.description], cur.fetchall())
            got = answer(b["columns"], b["rows"])
            if got[0] != want[0]:
                error = f"columns {got[0]}, oracle has {want[0]}"
            elif len(got[1]) != len(want[1]):
                error = f"{len(got[1])} rows, oracle has {len(want[1])}"
            elif got[1] != want[1]:
                i = next(i for i, (g, w) in enumerate(zip(got[1], want[1])) if g != w)
                error = f"row {i}: {got[1][i]}, oracle has {want[1][i]}"
        if error:
            b["ok"] = False
            res["failed"] += 1
            res["wrong"] += 1
            res["errors"].append(f"batch/{b['name']}: wrong answer: {error}")
            print(f"loadbench: batch/{b['name']}: wrong answer: {error}", file=sys.stderr)
    res["batch_check_s"] = time.time() - t0
    res["error_rate"] = res["failed"] / res["attempted"]


def batch_metrics(res):
    """Figures of the registry batch, over the queries whose answers were
    accepted. They are per-layer metrics: across runs of one workload they
    spread more than the end-to-end bounds allow (see README.md)."""
    ok = [b for b in res["batch"] if b["ok"]]
    if not ok:
        fail("the registry batch completed no query")
    ms = [b["ms"] for b in ok]
    res["batch_total_s"] = sum(ms) / 1000.0
    res["batch_query_p50_ms"] = statistics.median(ms)
    if "per_layer" in res:
        n = len(ok)
        rows = [
            ("registry.build_ms", sum(b["build_ms"] for b in ok) / n, "ms",
             "per batch query (q.build: eager jobs and memo builds)"),
            ("registry.exec_ms", sum(b["exec_ms"] for b in ok) / n, "ms",
             "per batch query (collect of the built DataFrame)"),
            ("registry.heavy_s", sum(b["ms"] for b in ok if b["heavy"]) / 1000.0, "s",
             "heavy half of the batch"),
            ("registry.tail_s", sum(b["ms"] for b in ok if not b["heavy"]) / 1000.0, "s",
             "tail of the batch"),
            ("registry.query_p50_ms", res["batch_query_p50_ms"], "ms", "per batch query (median)"),
            ("registry.memo_builds", float(sum(b["memo_builds"] for b in ok)), "count",
             "memo entries built by the batch"),
        ]
        for name, v, unit, base in rows:
            res["per_layer"][name] = {"value": v, "unit": unit, "base": base}


def print_summary(res):
    print(f"workload {res['workload']} seed {res['seed']}: {res['cycles']} cycles in "
          f"{res['wall_s']:.2f} s; jvm+spark start {res['startup_s']:.2f} s; "
          f"first timed op at {res['first_op_s']:.2f} s after process start")
    print(f"  set-up runs (s): {', '.join(f'{x:.3f}' for x in res['setup_s_runs'])}")
    if res["batch"]:
        print_batch(res)
    print(f"  samples: {res['write_samples']} writes (tail = p{res['write_tail_percentile']}), "
          f"{res['query_samples']} queries (tail = p{res['query_tail_percentile']}); "
          f"stored bytes and live heap measured after cycle "
          f"{res['stored_bytes_measured_after_cycle']}")
    for name, unit in END_TO_END:
        print(f"  {name:<24} {res['metrics'][name]['value']:>14.4f} {unit}")
    print(f"  {'error_rate':<24} {res['error_rate']:>14.4f} ratio "
          f"({res['failed']} of {res['attempted']} operations; {res['wrong']} wrong)")
    for e in res["errors"]:
        print(f"  error: {e}")


def print_batch(res):
    warm = f"warm pass {res['registry_warm_ms'] / 1000:.2f} s" if res["registry_warm_ms"] else "cold"
    print(f"  registry batch ({warm}, corpus written in {res['corpus_gen_ms']:.0f} ms, "
          f"answers checked against DuckDB in {res['batch_check_s']:.2f} s): "
          f"{res['batch_total_s']:.3f} s in all, median query {res['batch_query_p50_ms']:.1f} ms")
    for b in res["batch"]:
        print(f"    {b['name']:<34} {b['ms']:>9.1f} ms (build {b['build_ms']:.1f}, "
              f"collect {b['exec_ms']:.1f}; {b['memo_builds']} memo builds; "
              f"{len(b['rows'])} rows){'' if b['ok'] else ' FAILED'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; choose one of {', '.join(WORKLOADS)}")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources at {ROOT} (build.sbt and src/main/scala are required)")
    free = shutil.disk_usage(ROOT).free
    need = DISK_PEAK_BYTES[a.workload] * 5 // 4 + BUILD_BYTES
    if free < need:
        fail(f"{free >> 20} MB free in the checkout, {need >> 20} MB needed")
    cp, built = build()
    # a run that had to build first gets its full budget after the build
    deadline = (time.time() if built else started) + RUN_BUDGET_S

    work_root = BENCH / "work"
    workdir = work_root / f"{a.workload}-{a.seed}-{os.getpid()}"
    # two task slots leave the other cores to the driver, the HTTP server
    # and the collector: one closed-loop client keeps few tasks in flight
    cores = str(min(2, os.cpu_count() or 1))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--cores", cores, "--trace", str(a.trace)]

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        trace_file = BENCH / "out" / f"trace_{a.workload}_{a.seed}.json"
        if a.trace:
            args += ["--trace-file", str(trace_file)]
        res, code = run_jvm(cp, args, workdir, deadline)
        if res["batch"]:
            check_batch(res)
            batch_metrics(res)
        print_summary(res)
        if a.trace:
            print(f"per-layer metrics (trace written to {trace_file}):")
            for name, m in res["per_layer"].items():
                print(f"  {name:<36} {m['value']:>16.4f} {m['unit']:<6} {m['base']}")
            metrics = {n: {"value": m["value"], "unit": m["unit"]}
                       for n, m in res["per_layer"].items()}
        else:
            metrics = {n: res["metrics"][n] for n, _ in END_TO_END}
    finally:
        Child.stop()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            work_root.rmdir()
        except OSError:
            pass
    correct = code == 0 and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
