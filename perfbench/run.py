"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload battery|serve|lake_rw|all \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --make-expected   # rewrite perfbench/expected

Run from the repository root. The first run compiles the engine and the
benchmark (perfbench/build.py) and generates the fixed sf0.1 corpus
(perfbench/gen_data.py) under `.bench_build/`; later runs reuse both.

Every run prints a human-readable report (workload-specific figures and
machine facts) and, as its last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
they are its per-layer metrics, including the tracing overhead against
this checkout's untraced runs of the same workload.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_data  # noqa: E402

WORKLOADS = ("battery", "serve", "lake_rw")
HEAP = "4g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def corpus():
    """The fixed sf0.1 corpus, generated once per checkout."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    out = os.path.join(build.build_dir(), "corpus", f"sf0.1-{digest}")
    if not os.path.exists(os.path.join(out, "DONE")):
        shutil.rmtree(out, ignore_errors=True)
        gen_data.generate(out, 0.1)
        open(os.path.join(out, "DONE"), "w").close()
    return out


def java_cmd(classes, jars, work, main, args, cds=None):
    """The JVM command line; `cds` is a class-data-sharing archive to
    use, or a path to record one at exit (`cds=("dump", path)`)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    share = []
    if isinstance(cds, tuple):
        share = [f"-XX:ArchiveClassesAtExit={cds[1]}"]
    elif cds:
        share = [f"-XX:SharedArchiveFile={cds}"]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + share + opens +
            [f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             f"-Dderby.system.home={os.path.join(work, 'derby')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", build.classpath(jars, classes), main] + args)


def run_jvm(cmd, log):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: stopped by signal {signum}")
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise SystemExit(f"perfbench: JVM failed ({rc}); log: {log}")


def cds_archive(classes, jars, digest):
    """A class-data-sharing archive of the classes the workloads load,
    recorded once per build: it cuts JVM and Spark start-up by several
    seconds per run. None when the JVM cannot record one."""
    bd = build.build_dir()
    jsa = os.path.join(bd, f"perfbench-{digest[:16]}.jsa")
    if os.path.exists(jsa):
        return jsa
    for old in glob.glob(os.path.join(bd, "perfbench-*.jsa*")):
        os.remove(old)
    work = os.path.join(bd, "work", f"train-{os.getpid()}")
    try:
        run_jvm(java_cmd(classes, jars, work, "graft.bench.Train", [corpus(), work],
                         cds=("dump", jsa + ".tmp")),
                os.path.join(bd, "last-train.log"))
        os.replace(jsa + ".tmp", jsa)
        return jsa
    except (SystemExit, OSError):
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)


def result_name(workload, trace, seed, seconds, digest):
    """File name of a stored result, keyed by the build and the window
    length so runs of other code or other settings never mix."""
    return f"{workload}-t{trace}-s{seed}-{digest[:16]}-{seconds:g}s.json"


def run_workload(workload, seed, seconds, trace, classes, jars, cds, digest):
    """Run one workload in a fresh JVM; return its result object."""
    bd = build.build_dir()
    work = os.path.join(bd, "work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        run_jvm(java_cmd(classes, jars, work, "graft.bench.Main",
                         [workload, str(seed), str(seconds), str(trace), corpus(), work,
                          os.path.join(HERE, "expected"), out], cds),
                os.path.join(bd, f"last-{workload}.log"))
        with open(out) as f:
            res = json.load(f)
        results = os.path.join(bd, "results")
        os.makedirs(results, exist_ok=True)
        for t in glob.glob(os.path.join(work, "trace-*.jsonl")):
            shutil.move(t, os.path.join(results, os.path.basename(t)))
        with open(os.path.join(results, result_name(workload, trace, seed, seconds, digest)),
                  "w") as f:
            json.dump(res, f)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def untraced_baseline(workload, seed, seconds, classes, jars, cds, digest):
    """End-to-end figures of the untraced runs of `workload` made by this
    build with the same window length (one is made with this seed when
    there is none)."""
    pattern = result_name(workload, 0, "*", seconds, digest)
    runs = []
    for p in glob.glob(os.path.join(build.build_dir(), "results", pattern)):
        with open(p) as f:
            runs.append(json.load(f))
    if not runs:
        runs = [run_workload(workload, seed, seconds, 0, classes, jars, cds, digest)]
    e2e = [r["end_to_end"] for r in runs]
    return {k: statistics.median(x[k]["value"] for x in e2e)
            for k in ("latency_p50_ms", "throughput_ops_s")}


def source_id(digest):
    """The git commit of the checkout, or a digest of its sources."""
    if not os.path.isdir(".git"):
        return "sources-sha256:" + digest[:16]
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "sources-sha256:" + digest[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--make-expected", action="store_true")
    a = ap.parse_args()
    if not (a.selftest or a.make_expected or a.workload):
        ap.error("--workload is required")
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes, jars, digest = build.build()
    if a.make_expected:
        work = os.path.join(build.build_dir(), "work", f"expected-{os.getpid()}")
        try:
            run_jvm(java_cmd(classes, jars, work, "graft.bench.MakeExpected",
                             [corpus(), os.path.join(HERE, "expected")]),
                    os.path.join(build.build_dir(), "last-expected.log"))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print("wrote perfbench/expected; cross-check with perfbench/oracle_check.py")
        return
    if a.selftest:
        work = os.path.join(build.build_dir(), "work", f"selftest-{os.getpid()}")
        log = os.path.join(build.build_dir(), "last-selftest.log")
        try:
            run_jvm(java_cmd(classes, jars, work, "graft.bench.SelfTest", [work]), log)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        with open(log) as f:
            print("".join(line for line in f if line[:5] in ("ok   ", "FAIL ", "all s")), end="")
        return

    cds = cds_archive(classes, jars, digest)
    source = source_id(digest)
    workloads = WORKLOADS if a.workload == "all" else (a.workload,)
    runs = [one(spec, w, a, classes, jars, cds, digest, source) for w in workloads]
    if a.workload == "all":
        print(json.dumps({
            "correct": all(r["failed"] == 0 for r, _ in runs),
            "attempted": sum(r["attempted"] for r, _ in runs),
            "failed": sum(r["failed"] for r, _ in runs),
            "metrics": {f"{w}.{k}": v for w, (_, m) in zip(workloads, runs) for k, v in m.items()}}))
    else:
        res, metrics = runs[0]
        print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))


def one(spec, workload, a, classes, jars, cds, digest, source):
    """Run `workload`, print its report; return (result, gated metrics)."""
    res = run_workload(workload, a.seed, a.seconds, a.trace, classes, jars, cds, digest)
    if a.trace:
        base = untraced_baseline(workload, a.seed, a.seconds, classes, jars, cds, digest)
        traced = res["end_to_end"]
        res["per_layer"]["trace.latency_overhead_pct"] = {"value": 100.0 * (
            traced["latency_p50_ms"]["value"] / base["latency_p50_ms"] - 1), "unit": "%"}
        res["per_layer"]["trace.throughput_overhead_pct"] = {"value": 100.0 * (
            base["throughput_ops_s"] / traced["throughput_ops_s"]["value"] - 1), "unit": "%"}
    wanted, measured = ((spec["per_layer"], res["per_layer"]) if a.trace
                        else (spec["end_to_end"], res["end_to_end"]))
    metrics = {m["name"]: {"value": measured[m["name"]]["value"], "unit": m["unit"]}
               for m in wanted}

    print(f"perfbench {workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print("facts: " + json.dumps(dict(res["facts"], source=source), sort_keys=True))
    print(f"ops: {res['ops']} in {res['window_s']:.2f} s  kinds: "
          + json.dumps(res["op_kinds"], sort_keys=True))
    print(f"  {'error_rate':32s} {res['failed'] / res['attempted']:14.6f} ratio")
    for group in ("end_to_end", "report") + (("per_layer",) if a.trace else ()):
        for name, m in sorted(res[group].items()):
            print(f"  {name:32s} {m['value']:14.4f} {m['unit']}")
    for q, t in sorted(res["notes"].get("count_noop_gap", {}).items()):
        print(f"  count/noop gap > 1.5x: {q} count {t['count_ms']:.0f} ms, "
              f"noop {t['noop_ms']:.0f} ms")
    for fl in res["failures"] + res["notes"].get("check_failures", []):
        print("  FAILED " + fl)
    return res, metrics


if __name__ == "__main__":
    main()
