"""Repo benchmark: builds the program from source, runs one workload in a
fresh JVM, checks its outputs and prints every metric.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload daily_backfill --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --check-layers

Workloads: daily_backfill, query_mix (see perfbench/README.md).
With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced run. Every run also
saves its full record under .bench_build/records/ for perfbench/compare.py.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("daily_backfill", "query_mix")
SCALA_VERSION = "2.13.17"
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
END_TO_END = {"setup_s": "s", "wall_s": "s"}  # must match BENCHMARK.json
LAYERS = ("pipeline", "io", "store", "dq", "queries", "operators", "spark")
COUNTERS = ("jobs", "stages", "tasks", "job_ms", "cpu_ms", "planning_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
            "output_bytes", "single_task_stages")
# untimed query_mix probes (QueryMix.Probes): the LSH bands x rows of
# graft.queries.DedupQueries, for the expected-miss figure
PROBES = {"dedup_minhash_lsh": (12, 4)}
KERNELS = ("minhash_sig", "simhash", "sorted_jaccard", "vector_dot",
           "vector_l2sq", "token_stats")


def per_layer_units():
    units = {}
    for layer in LAYERS:
        for c in COUNTERS:
            units[f"{layer}.{c}"] = (
                "bytes" if c.endswith("bytes") else
                "ms" if c.endswith("_ms") else "count")
    units.update({"driver_gap_ms": "ms", "fs.read_ops": "count",
                  "fs.write_ops": "count", "fs.bytes_read": "bytes",
                  "fs.bytes_written": "bytes", "jvm.gc_ms": "ms",
                  "spark.job_share": "ratio", "trace.wall_s": "s"})
    for k in KERNELS:
        units[f"functions.{k}.rows_per_s"] = "rows/s"
    return units


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against
    (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("no Spark jars: set SPARK_HOME or run from a checkout whose "
             "build.sbt sets unmanagedBase")
    return m.group(1)


def scalac(jars, classpath, out_dir, sources):
    os.makedirs(out_dir, exist_ok=True)
    compiler = [os.path.join(jars, f"scala-{p}-{SCALA_VERSION}.jar")
                for p in ("compiler", "library", "reflect")]
    argfile = out_dir + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
           "-usejavacp:false", "-classpath", classpath, "-d", out_dir,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])


def sources_under(d, ext):
    out = []
    for root, _, files in os.walk(d):
        out += [os.path.join(root, f) for f in files if f.endswith(ext)]
    return sorted(out)


def build(build_dir):
    """Compiles src/main/scala and the benchmark sources with the Scala
    compiler that ships in the Spark jars; skipped when no source
    changed since the last build in this checkout. Returns the class
    path of a run."""
    main_src = os.path.join("src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(main_src):
        fail("run from the root of a checkout: src/main/scala not found")
    jars = spark_jars()
    if not os.path.isdir(jars):
        fail(f"Spark jars not found at {jars}")
    resources = os.path.join("src", "main", "resources")
    main_files = sources_under(main_src, ".scala")
    bench_files = sources_under(bench_src, ".scala")
    h = hashlib.sha256()
    for p in main_files + bench_files + sources_under(resources, ""):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(build_dir, "stamp")
    main_out = os.path.join(build_dir, "main-classes")
    bench_out = os.path.join(build_dir, "bench-classes")
    classpath = [bench_out, main_out, os.path.join(jars, "*")]
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath
    shutil.rmtree(main_out, ignore_errors=True)
    shutil.rmtree(bench_out, ignore_errors=True)
    t = time.time()
    scalac(jars, classpath[2], main_out, main_files)
    if os.path.isdir(resources):
        shutil.copytree(resources, main_out, dirs_exist_ok=True)
    scalac(jars, classpath[2] + ":" + main_out, bench_out, bench_files)
    print(f"perfbench: built in {time.time() - t:.1f} s", file=sys.stderr)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath


def run_jvm(classpath, work, args):
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-cp",
            ":".join(classpath),
            "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        with open(log) as f:
            tail = [ln for ln in f.read().splitlines()
                    if not ln.startswith(("\tat ", "\t..."))][-40:]
        fail(f"benchmark JVM exited with {code}:\n" + "\n".join(tail))


def probe(name, verdicts, frames):
    """The oracle verdict of a probe, with its pair recall when its result
    could be read as (a_id, b_id, jac) pairs."""
    out = {"verdict": verdicts.get(name, "missing")}
    try:
        out.update(oracle.pair_recall(*frames[name], *PROBES[name]))
    except (KeyError, TypeError, ValueError):
        pass
    return out


def tail_percentile(n):
    """Highest percentile with at least ten samples beyond it, when that
    is above the median."""
    return None if n < 20 else int(100 * (n - 10) / n)


def quantile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q / 100 * len(s)))]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def main():
    # turn SIGTERM into SystemExit so the finally blocks stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-layers", action="store_true")
    a = ap.parse_args()
    if not a.check_layers and not a.workload:
        ap.error("--workload is required")
    build_dir = os.path.abspath(".bench_build")
    classpath = build(build_dir)
    name = "layer_check" if a.check_layers else a.workload
    work = os.path.join(build_dir, "work", f"{name}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load0 = loadavg()
    try:
        extra, gen_s = [], []
        if name in ("query_mix", "layer_check"):
            for r in range(3):  # set up three times, report the median
                d = os.path.join(work, f"tables-{r}")
                t = time.perf_counter()
                gen_tables.main(d, a.seed)
                gen_s.append(time.perf_counter() - t)
            extra = ["--tables", d]
        out = os.path.join(work, "record.json")
        run_jvm(classpath, work, ["--workload", name, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace",
                                str(a.trace), "--work", work, "--out", out]
                + extra)
        with open(out) as f:
            rec = json.load(f)
        if name == "query_mix":
            results = os.path.join(work, "results")
            verdicts, frames = oracle.check(extra[1], results)
            rec["oracle"] = verdicts
            for op in rec["ops"]:
                if verdicts.get(op["name"], "missing") != "PASS":
                    op["ok"] = False
                    op["note"] = "oracle: " + verdicts.get(op["name"],
                                                           "missing")
            rec["probes"] = {p: probe(p, verdicts, frames) for p in PROBES}
        rec["generate_py_s"] = gen_s
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec["loadavg"] = {"start": load0, "end": loadavg()}
    if a.check_layers:
        report_layer_check(rec)
        return
    report(rec, a, gen_s, build_dir)


def report_layer_check(rec):
    bad = rec["checks"]
    for line in rec.get("layer_check", []):
        print(line)
    print("layer attribution:", "OK" if not bad else "FAILED")
    for m in bad:
        print("  " + m)
    sys.exit(1 if bad else 0)


def report(rec, a, gen_s, build_dir):
    ops = rec["ops"]
    ms = [o["ms"] for o in ops]
    failed = [o for o in ops if not o["ok"]]
    attempted = len(ops)
    correct = not failed and not rec["checks"]
    laps = [x / 1000 for x in rec["lap_ms"]]
    setup = rec["setup"]["setup_s"] + (statistics.median(gen_s) if gen_s else 0)
    wall = statistics.median(laps)
    e2e = {"setup_s": setup, "wall_s": wall}
    extra = {"op_p50_ms": f"{statistics.median(ms):.1f} ms",
             "peak_rss_mb": f"{rec['peak_rss_mb']:.1f} MB"}
    p = tail_percentile(len(ms))
    extra["op_tail_ms"] = (f"p{p} = {quantile(ms, p):.1f} ms of {len(ms)} ops"
                           if p else f"n/a ({len(ms)} ops; compare.py pools runs)")
    extra["error_rate"] = f"{len(failed) / attempted:.4f} ({len(failed)}/{attempted})"
    extra["laps"] = str(len(laps))

    if a.trace:
        units = per_layer_units()
        m = {k: rec["layers"].get(k, 0.0) for k in units}
        jobs_ms = sum(m[f"{layer}.job_ms"] for layer in LAYERS)
        m["spark.job_share"] = m["spark.job_ms"] / jobs_ms if jobs_ms else 0.0
        m["trace.wall_s"] = wall
        metrics = {k: {"value": v, "unit": units[k]} for k, v in m.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"nproc {rec['nproc']}  loadavg {rec['loadavg']}")
    for k, v in e2e.items():
        print(f"  {k:28s} {v:14.4f} {END_TO_END[k]}")
    for k, v in extra.items():
        print(f"  {k:28s} {v}")
    if a.trace:
        for k, v in metrics.items():
            if v["value"]:
                print(f"  {k:28s} {v['value']:14.2f} {v['unit']}")
    print("  correct:", "yes" if correct else "NO")
    for o in failed:
        print(f"  failed op {o['name']} (lap {o['lap']}): {o['note']}")
    for c in rec["checks"]:
        print(f"  failed check: {c}")
    for p, r in rec.get("probes", {}).items():
        if "returned" not in r:
            print(f"  probe {p} (untimed, not an op): {r['verdict']}")
            continue
        print(f"  probe {p} (untimed, not an op): {r['verdict']}; returned "
              f"{r['returned']} of {r['exact_pairs']} exact pairs, "
              f"{len(r['wrong'])} not in the oracle or scored differently; "
              f"missed (a_id, b_id, jac) {r['missed']}; independent hashes "
              f"would miss {r['ideal_missed']:.4f}")

    rec["metrics"] = {k: v["value"] for k, v in metrics.items()}
    rec["end_to_end"] = e2e
    records = os.path.join(build_dir, "records")
    os.makedirs(records, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(records, f"{stamp}-{a.workload}-s{a.seed}"
                           f"-t{a.trace}-{os.getpid()}.json"), "w") as f:
        json.dump(rec, f)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
