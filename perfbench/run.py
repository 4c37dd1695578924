#!/usr/bin/env python3
"""graft benchmark: whole-database sync, keyed upsert stream and analytics
queries, with a traced per-layer run over sources, streaming and operators.

Usage (from the repository root):

    python3 perfbench/run.py --workload sync_full|upsert_stream|analytics \
        --seed N --seconds S --trace 0|1

Builds the program (src/main/scala) and the harness (perfbench/scala) with
the Scala compiler shipped in Spark's jars into .bench_build/, then runs the
workload in a fresh JVM on local[nproc]. The last line of standard output is
one JSON object: correct, attempted, failed and metrics. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 the run
is the traced layer pass and the metrics are its per-layer metrics. Lines
before it (`metric <name> <value> <unit>`) give the workload-specific
end-to-end figures by name. See perfbench/README.md.

Environment: SPARK_HOME for the jars (default: the `unmanagedBase` jars
directory of build.sbt, the jars the project builds against) and
GRAFT_BENCH_DATA for the root of the read-only sf parquet directories
(default: the root of the sf0.001 directory graft.SparkEntry.entry reads).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

WORKLOADS = ("sync_full", "upsert_stream", "analytics")
END_TO_END = {"setup_s": "s", "op_s": "s", "peak_heap_mb": "MB"}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def layer_unit(name):
    """Unit of a per-layer metric, from its name."""
    parts = name.split(".")
    if name.endswith("_rows_per_s"):
        return "rows/s"
    if any(p == "s" or p.endswith("_s") for p in parts):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("cpu_over_wall") or name.endswith("_ratio"):
        return "ratio"
    return "count"


# ------------------------------------------------------------------ build

def repo_setting(path, pattern, what):
    """One value the repository itself declares, read from its sources."""
    f = ROOT / path
    m = re.search(pattern, f.read_text()) if f.exists() else None
    if not m:
        die(f"cannot find {what} in {path}; run from the repository root")
    return m.group(1)


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        jars = Path(repo_setting("build.sbt", r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                 "the Spark jars directory"))
    if not (jars / "scala-compiler-2.13.17.jar").exists() or \
            not list(jars.glob("derby-*.jar")):
        die(f"no Spark jars with scalac and Derby under {jars}")
    return jars


def test_data():
    if "GRAFT_BENCH_DATA" in os.environ:
        data = Path(os.environ["GRAFT_BENCH_DATA"])
    else:
        data = Path(repo_setting("src/main/scala/graft/SparkEntry.scala",
                                 r'"([^"]+)/sf0\.001"', "the test data directory"))
    for sf in ("sf0.01", "sf0.1"):
        if not (data / sf / "orders.parquet").exists():
            die(f"test data {data / sf} not found (set GRAFT_BENCH_DATA)")
    return data


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((HERE / "scala").glob("*.scala"))
    if not main:
        die("program sources src/main/scala not found; run from the repository root")
    if not bench:
        die("harness sources perfbench/scala not found")
    return main, bench


def scalac(jars, classpath, out, files):
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(tmp)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die(f"compile of {out.name} failed", 3)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build(jars):
    """Compile program and harness unless the sources are unchanged since
    the last build. Returns the run classpath."""
    main, bench = sources()
    build_dir = ROOT / ".bench_build"
    build_dir.mkdir(exist_ok=True)
    prev = str(jars) + "/*"
    for name, files in (("program", main), ("harness", bench)):
        h = hashlib.sha256(prev.encode())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
        stamp = build_dir / f"{name}.stamp"
        cls = build_dir / f"{name}-classes"
        if not (cls.is_dir() and stamp.exists() and stamp.read_text() == h.hexdigest()):
            stamp.unlink(missing_ok=True)
            scalac(jars, prev, cls, files)
            stamp.write_text(h.hexdigest())
        prev = f"{cls}:{prev}"
    return prev


# ------------------------------------------------------------------ run

def run_jvm(args, classpath, data):
    run_dir = ROOT / ".bench_build" / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        (run_dir / d).mkdir(parents=True)
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    # task slots, loader threads and JDBC connections: half the vCPUs. The
    # other half absorbs the JVM's own threads (driver, JIT, GC) and other
    # load on the host. On a 4-vCPU VM, local[2] ran the sf0.01 workloads as
    # fast as local[4]; beside one CPU-bound process, local[2] kept its
    # analytics time and local[4] lost 10-25%.
    cpus = max(1, cpus // 2)
    out = run_dir / "result.json"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a heap floor: the full collections between operations (Env.reset)
    # would otherwise shrink the heap, and the next operation ran up to 40%
    # slower. The parallel collector has no concurrent threads to compete
    # with the tasks; in alternating runs it ran analytics no slower than G1.
    cmd = (["java", "-XX:-UsePerfData"] + opens + [
        "-XX:+UseParallelGC", "-Xms1g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dderby.system.home={run_dir}",
        f"-Dderby.stream.error.file={run_dir}/derby.log",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dspark.local.dir={run_dir}/local",
        f"-Dperfbench.dir={HERE}",
        "-cp", classpath, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(data), "--cpus", str(cpus), "--out", str(out)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    p = None
    try:
        with open(run_dir / "jvm.log", "w") as log:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT, env=env)
            try:
                p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                die(f"workload did not finish within {JVM_TIMEOUT_S} s", 4)
        log_text = (run_dir / "jvm.log").read_text(errors="replace")
        if p.returncode != 0 or not out.exists():
            sys.stderr.write(log_text[-4000:])
            die(f"JVM exited with {p.returncode}", 4)
        fails = [ln for ln in log_text.splitlines() if "[perfbench" in ln]
        if fails:
            sys.stderr.write("\n".join(fails[:200]) + "\n")
        return json.loads(out.read_text())
    finally:
        # never leave the JVM behind, also when this process is stopped
        if p is not None and p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def end_to_end(workload, raw):
    """The BENCHMARK.json end-to-end metrics, plus the workload-specific
    figures printed by name."""
    ops = [o for o in raw["ops"] if o["ok"]]
    if not ops:
        die("no operation completed", 5)
    setup = sum(raw["setup_once"])
    times = [o["s"] for o in ops]
    if workload == "analytics":
        # a pass's time: the sum over its queries of each query's median
        per_set = {}
        for g in sorted({o["group"] for o in ops}):
            keys = sorted({o["key"] for o in ops if o["group"] == g})
            per_set[g] = sum(stats.median([o["s"] for o in ops if o["key"] == k])
                             for k in keys)
        op = sum(per_set.values())
    else:
        op = stats.median(times)
    heap = stats.median(raw["heap_windows_mb"])
    metrics = {"setup_s": setup, "op_s": op, "peak_heap_mb": heap}
    named = [("setup_s", setup, "s"), ("peak_heap_mb", heap, "MB"),
             ("failed_frac", stats.failed_frac(raw["failed"], raw["attempted"]), "ratio")]
    if workload == "sync_full":
        named.append(("sync_rows_per_s", ops[0]["rows"] / op, "rows/s"))
    elif workload == "upsert_stream":
        named.append(("upsert_batch_s", op, "s"))
        t = stats.tail(times)
        if t:
            named.append(("upsert_batch_tail_s", t[1], f"s(p{t[0]:.0f},n={t[2]})"))
        else:
            print(f"note upsert_batch_tail_s unsupported: n={len(times)} batches, "
                  f"need at least 11; max={max(times):.4f} s")
        named.append(("upsert_rows_per_s",
                      sum(o["rows"] for o in ops) / raw["loop_wall_s"], "rows/s"))
    else:
        named += [(f"{g}_s", v, "s") for g, v in per_set.items()]
    named.append(("samples", len(times), "count"))
    keys = sorted({o["key"] for o in ops})
    print("note setup parts " + " ".join(f"{x:.3f}" for x in raw["setup_once"]) +
          "; heap windows " + " ".join(f"{x:.1f}" for x in raw["heap_windows_mb"]) +
          "; op samples " + "; ".join(
              (f"{k} " if len(keys) > 1 else "") +
              " ".join(f"{o['s']:.3f}" for o in ops if o["key"] == k) for k in keys))
    return metrics, named


def spec():
    path = ROOT / "BENCHMARK.json"
    return json.loads(path.read_text()) if path.exists() else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, default=None)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the harness's digest self-test and exit")
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda n, _: sys.exit(128 + n))

    jars = spark_jars()
    classpath = build(jars)
    if args.selftest:
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath, "graftbench.SelfTest"],
                           timeout=120)
        sys.exit(r.returncode)
    if args.workload is None:
        die("--workload is required")

    raw = run_jvm(args, classpath, test_data())
    if args.trace:
        metrics = {k: stats.median(v) if isinstance(v, list) else v
                   for k, v in raw["layer"].items()}
        units = {k: layer_unit(k) for k in metrics}
        for name, value in raw["named"].items():
            print(f"metric {name} {value:.6g} s")
        expected = spec() and {m["name"] for m in spec()["per_layer"]}
    else:
        metrics, named = end_to_end(args.workload, raw)
        for name, value, unit in named:
            print(f"metric {name} {value:.6g} {unit}")
        units = END_TO_END
        expected = spec() and {m["name"] for m in spec()["end_to_end"]}
    if expected and expected != set(metrics):
        die(f"metrics differ from BENCHMARK.json: missing {sorted(expected - set(metrics))}, "
            f"extra {sorted(set(metrics) - expected)}", 6)
    for f in raw["failures"]:
        print(f"failure {f}")
    print(json.dumps({
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
