#!/usr/bin/env python3
"""Run one benchmark workload and print its report.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the benchmark's JVM harness from source with sbt (into .bench_build/) and
writes the synthetic fixtures; later runs reuse both while the sources
are unchanged. One JVM runs the workload on local[<nproc>]; this script
prints a table of every metric with its unit and sample count, a
`record` line (seed, machine, versions, load), and as its last line
the JSON result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end-to-end metrics,
with --trace 1 its per-layer metrics. A traced run also writes its span
file and self-time table under .bench_build/trace/.

    python3 perfbench/run.py --record

re-records perfbench/golden.json: it runs fixture_ops once, checks each
result against the program's DuckDB oracle SQL and keeps the digests of
the results that match (or have no oracle).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main")
GOLDEN = os.path.join(HERE, "golden.json")
SCALE = 0.01
XMX = "3g"
RUN_LIMIT_S = 175      # one run, after any build
BUILD_LIMIT_S = 840
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
WORKLOAD_METRIC_ORDER = [
    "query_total_s", "query_p50_s", "query_p90_s", "merge_total_s",
    "refresh_query_s", "compact_s", "write_amp"]
sys.path.insert(0, HERE)


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile program + harness once per source state; returns the classpath."""
    stamp = tree_digest([PROGRAM, os.path.join(HERE, "src"),
                         os.path.join(HERE, "build.sbt")])
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), stamp, False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    cmd = ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "compile", "export Compile/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_child(cmd, HERE, env, out, BUILD_LIMIT_S)
    lines = [l.strip() for l in open(log) if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {rc}); see {log}")
    archive(lines[-1], stamp)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1], stamp, True


def archive(cp, stamp):
    """Archive the classes a Spark session loads (JVM class-data sharing),
    so every run's JVM starts faster. Every run uses the archive, so that
    `setup_s` always measures the same start-up path; a build whose
    archive step fails fails."""
    jsa = os.path.join(BUILD, f"classes-{stamp}.jsa")
    work = tempfile.mkdtemp(dir=BUILD)
    cmd = java_cmd(work) + [f"-XX:ArchiveClassesAtExit={jsa}", "-cp", cp,
                            "perfbench.Main", "--archive", work]
    log = os.path.join(BUILD, "archive.log")
    with open(log, "w") as out:
        rc = run_child(cmd, ROOT, dict(os.environ), out, 300)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(jsa):
        if os.path.exists(jsa):
            os.remove(jsa)
        fail(f"class-data archive not created (exit {rc}); see {log}")


def java_cmd(work):
    return (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            # no hsperfdata file in the system temp directory
            + [f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
               # a fixed set of JIT compiler threads, whose CPU time the
               # harness subtracts from the process's
               "-XX:-UseDynamicNumberOfCompilerThreads"])


def fixtures():
    """The synthetic fixture tables, generated once per generator version."""
    with open(os.path.join(HERE, "fixtures.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(BUILD, "fixtures", f"sf{SCALE}-{tag}")
    if not os.path.isdir(out):
        import fixtures as gen
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = tempfile.mkdtemp(dir=os.path.dirname(out))
        gen.generate(tmp, SCALE)
        os.rename(tmp, out)
    return out


def run_child(cmd, cwd, env, out, limit):
    """Run `cmd` in its own process group; kill the group after `limit` s."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, limit))
    except BaseException:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(p.pid, sig)
                p.wait(timeout=10)
                break
            except (ProcessLookupError, subprocess.TimeoutExpired):
                continue
        raise


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(cp, stamp, workload, seed, seconds, trace, fx, limit, record=None):
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(BUILD, "runs"))
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = java_cmd(work)
    cmd.append(f"-XX:SharedArchiveFile={os.path.join(BUILD, f'classes-{stamp}.jsa')}")
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--fixtures", fx, "--work", work, "--out", out,
            "--cores", str(cores()), "--golden", GOLDEN]
    if record:
        cmd += ["--record", record]
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as f:
            rc = run_child(cmd, ROOT, dict(os.environ), f, limit)
    except subprocess.TimeoutExpired:
        fail(f"{workload} did not finish within {limit:.0f} s; log in {log}")
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"{workload} failed (exit {rc}); log in {log}")
    with open(log) as f:
        sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))
    with open(out) as f:
        res = json.load(f)
    return res, work


def keep_trace(work, workload, seed):
    dst = os.path.join(BUILD, "trace", f"{workload}-seed{seed}")
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(os.path.join(work, "trace"), dst)
    return dst


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(res, metrics, workload, trace, trace_dir):
    print(f"== {workload}: {res['attempted']} operations, {res['failed']} failed, "
          f"{res['measured_s']:.1f} s measured")
    for f in res["failures"]:
        print(f"   FAILED {f['op']}: {f['reason']}")
    print(f"   {'metric':28} {'value':>14} {'unit':8} {'n':>5}")
    for k, m in metrics:
        print(f"   {k:28} {fmt(m['value']):>14} {m['unit']:8} {m['n']:>5}")
    if trace:
        print(f"   spans and self times in {trace_dir}")
        print(f"   {'layer (self time)':28} {'spans':>6} {'total_s':>10} {'self_s':>10}")
        for r in json.load(open(os.path.join(trace_dir, "self_time.json"))):
            print(f"   {r['layer']:28} {r['spans']:>6} {r['total_s']:>10.3f} {r['self_s']:>10.3f}")
        base = os.path.join(BUILD, "results", f"{workload}-untraced.json")
        if os.path.exists(base):
            untraced = json.load(open(base))
            for k in ("total_s", "cpu_total_s"):
                traced = res["per_layer"][f"trace.{k}"]["value"]
                print(f"   tracing overhead: {k} {traced:.4f} s traced vs "
                      f"{untraced[k]['value']:.4f} s in the last untraced run "
                      f"({(traced / untraced[k]['value'] - 1) * 100:+.1f}%)")


def benchmark(a):
    t0 = time.time()
    load_before = os.getloadavg()
    if not os.path.isdir(os.path.join(PROGRAM, "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found; "
             "run from the root of a full checkout", 2)
    bench = spec()
    cp, stamp, built = build()
    fx = fixtures()
    start = time.time() if built else t0
    res, work = run_jvm(cp, stamp, a.workload, a.seed, a.seconds, a.trace, fx,
                        RUN_LIMIT_S - (time.time() - start))
    load_after = os.getloadavg()
    e2e = dict(res["end_to_end"])
    e2e["setup_s"] = {"value": res["first_op_ms"] / 1000.0 - start, "unit": "s", "n": 1}
    attempted, failed = res["attempted"], res["failed"]
    wl = dict(res["workload_metrics"])
    wl["fail_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio", "n": attempted}
    names = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = res["per_layer"] if a.trace else e2e
    chosen = {m["name"]: source.get(m["name"]) for m in names}
    missing = [k for k, v in chosen.items() if v is None]
    if missing:
        fail(f"metrics not produced: {missing}")
    trace_dir = keep_trace(work, a.workload, a.seed) if a.trace else None
    if a.trace:
        shown = sorted(res["per_layer"].items())
    else:
        gated = [m["name"] for m in names]
        shown = [(k, e2e[k]) for k in gated] + \
            [(k, v) for k, v in sorted(e2e.items()) if k not in gated] + \
            [(k, wl[k]) for k in WORKLOAD_METRIC_ORDER + ["fail_ratio", "peak_rss_mb"] if k in wl]
    report(res, shown, a.workload, a.trace, trace_dir)
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "source_digest": stamp,
        "nproc": cores(), "master": res["master"], "xmx": XMX,
        "xmx_mb": res["xmx_mb"], "spark": res["spark_version"],
        "java": res["java_version"], "fixture_scale": SCALE,
        "loadavg_before": list(load_before), "loadavg_after": list(load_after),
        "n": {k: v["n"] for k, v in (res["per_layer"] if a.trace else {**e2e, **wl}).items()},
    }
    print("record " + json.dumps(record, sort_keys=True))
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    if not a.trace:
        with open(os.path.join(BUILD, "results", f"{a.workload}-untraced.json"), "w") as f:
            json.dump(e2e, f)
    shutil.rmtree(work, ignore_errors=True)
    metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in chosen.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def record_golden():
    import duckdb
    cp, stamp, _ = build()
    fx = fixtures()
    out = tempfile.mkdtemp(dir=BUILD)
    res, work = run_jvm(cp, stamp, "fixture_ops", 0, 0, 0, fx, 600, record=out)
    digests = json.load(open(os.path.join(out, "digests.json")))
    oracle = json.load(open(os.path.join(out, "oracle.json")))
    con = duckdb.connect()
    for p in glob.glob(os.path.join(fx, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    keep = {}
    for name, digest in sorted(digests.items()):
        got = con.execute(
            f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetch_arrow_table()
        sql = oracle.get(name)
        if sql is None:
            print(f"NO ORACLE {name}: {got.num_rows} rows recorded")
            keep[name] = digest
            continue
        # oracle text may pin a fixture file (the TPC-DS customer source)
        # to one scale's path: read this benchmark's fixtures instead
        sql = re.sub(r"read_parquet\('[^']*/(\w+\.parquet)'\)",
                     lambda m: f"read_parquet('{fx}/{m.group(1)}')", sql)
        exp = con.execute(sql).fetch_arrow_table()
        cols = sorted(got.schema.names)
        if sorted(exp.schema.names) == cols and \
                got.select(cols).to_pylist() == exp.select(cols).to_pylist():
            print(f"PASS {name}: {got.num_rows} rows")
            keep[name] = digest
        else:
            print(f"FAIL {name}: differs from the DuckDB oracle; not recorded")
    golden = json.load(open(GOLDEN)) if os.path.exists(GOLDEN) else {}
    golden["fixture_ops"] = keep
    with open(GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)


def main():
    # a terminated run must not leave its build or JVM behind: turn
    # SIGTERM into an exception, which run_child answers by killing the
    # child's process group and waiting for it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if a.record:
        record_golden()
    elif not a.workload:
        fail("--workload is required", 2)
    else:
        benchmark(a)


if __name__ == "__main__":
    main()
