#!/usr/bin/env python3
"""graft benchmark runner.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --all [--seed N] [--seconds S]   listed workloads, plain then traced
  python3 perfbench/run.py --selftest                       input generator determinism test (gen.py)
  python3 perfbench/run.py --make-digest                    rebuild digests.tsv, cross-checked in DuckDB

Run from the root of a graft checkout. The first run builds the program
and the benchmark harness from source with scalac (from the Spark jars)
into .bench_build/; later runs reuse the build while the sources are
unchanged. The last line of stdout is the result JSON.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
from build import BUILD, build, die, log, module_map, spark_jars  # noqa: E402

WORKLOADS = ["capture_tick", "ingest_day"]
# a guard against a hung JVM only: a slow program must still give slow
# numbers, so this is many times the longest run seen
JVM_HANG_S = 1800
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def inputs(root, workload, seed=0):
    key = "lake" if workload == "lake" else "%s-seed%d" % (workload, seed)
    return gen.write(os.path.join(root, BUILD, "inputs", "%s-v%s" % (key, gen.VERSION)),
                     workload, seed)


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return v[7] if len(v) > 7 else 0, sum(v[:8])


def disk_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def run_jvm(root, workload, seed, seconds, trace, extra=()):
    """Run the harness JVM; returns (result dict, hygiene failures)."""
    b = os.path.join(root, BUILD)
    tmp_root = os.path.join(b, "tmp")
    run_tmp = os.path.join(tmp_root, "run-%d-%s" % (os.getpid(), workload))
    shutil.rmtree(run_tmp, ignore_errors=True)
    state = os.path.join(b, "state")
    for d in (tmp_root, state, os.path.join(b, "logs")):
        os.makedirs(d, exist_ok=True)
    before = disk_bytes(tmp_root)
    ticks0 = cpu_ticks()
    out = os.path.join(b, "result-%d.json" % os.getpid())
    if os.path.exists(out):
        os.remove(out)
    jvm_tmp = os.path.join(run_tmp, "jvm")
    os.makedirs(jvm_tmp)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + jvm_tmp, "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(b, "classes") + os.pathsep + os.path.join(spark_jars(), "*"),
            "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--inputs", inputs(root, workload, seed), "--tmp", os.path.join(run_tmp, "work"),
            "--bench", HERE, "--modules", module_map(root),
            "--lake", inputs(root, "lake"),
            "--out", out, "--spans", os.path.join(b, "logs", "spans-%s.jsonl" % workload)
            ] + list(extra)
    logf = os.path.join(b, "logs", "%s-seed%d-trace%d.log" % (workload, seed, int(trace)))

    def stop(signum, _frame):
        raise SystemExit(128 + signum)
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=root,
                             start_new_session=True)
        for s in (signal.SIGTERM, signal.SIGINT):
            signal.signal(s, stop)
        try:
            rc = p.wait(timeout=JVM_HANG_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # a runner stopped from outside, or a JVM over time, stops its
            # JVM and waits for it
            for s in (signal.SIGTERM, signal.SIGINT):
                signal.signal(s, signal.SIG_DFL)
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                shutil.rmtree(run_tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        shutil.rmtree(run_tmp, ignore_errors=True)
        sys.stderr.write("".join(open(logf).readlines()[-40:]))
        die("benchmark JVM failed (%s); log: %s" % (rc, logf), 1)
    with open(out) as f:
        result = json.load(f)
    os.remove(out)
    hygiene = []
    work = os.path.join(run_tmp, "work")
    leaked = disk_bytes(tmp_root) - before
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests during the run:
        # timings carry it, since there is no calibration division
        result["notes"]["host_steal_share"] = "%.3f" % (
            (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]))
    if leaked != 0:
        hygiene.append("%d bytes left under the temp root by the run" % leaked)
        for d, _, fs in os.walk(work):
            for f in fs[:5]:
                hygiene.append("left: " + os.path.relpath(os.path.join(d, f), b))
    shutil.rmtree(run_tmp, ignore_errors=True)
    return result, hygiene


def declared():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def report(workload, seed, trace, result, hygiene, spec, root):
    e2e_spec = {m["name"]: m for m in spec["end_to_end"]}
    layer_spec = {m["name"]: m for m in spec["per_layer"]}
    attempted = result["attempted"]
    failed = result["failed"] + (1 if hygiene else 0)
    out = sys.stdout
    out.write("workload %s  seed %d  trace %d\n" % (workload, seed, int(trace)))
    out.write("  attempted ops %d  failed ops %d  failed_op_share %.4f\n"
              % (attempted, failed, failed / max(1, attempted)))
    for k, v in result["named"].items():
        out.write("  %-24s %12.6g %s\n" % (k, v["value"], v["unit"]))
    for k, v in result["e2e"].items():
        out.write("  %-24s %12.6g %s\n" % (k, v["value"], v["unit"]))
    for k, v in result["notes"].items():
        out.write("  %-24s %s\n" % (k, v))
    for msg in result["failures"] + hygiene:
        out.write("  FAILED: %s\n" % msg)
    last = os.path.join(root, BUILD, "state", "last-%s.json" % workload)
    if trace:
        for k, v in result["layer"].items():
            out.write("  %-52s %14.6g %s\n" % (k, v["value"], v["unit"]))
        if os.path.exists(last):
            with open(last) as f:
                plain = json.load(f)
            for k, v in result["e2e"].items():
                if k in plain and plain[k]:
                    out.write("  tracing overhead on %-16s %+.1f%%\n"
                              % (k, 100.0 * (v["value"] / plain[k] - 1)))
        else:
            out.write("  tracing overhead: run --trace 0 of this workload first\n")
    else:
        with open(last, "w") as f:
            json.dump({k: v["value"] for k, v in result["e2e"].items()}, f)

    if trace:
        metrics = {k: {"value": result["layer"].get(k, {"value": 0.0})["value"],
                       "unit": m["unit"]} for k, m in layer_spec.items()}
    else:
        metrics = {}
        for k, m in e2e_spec.items():
            v = result["e2e"].get(k, {}).get("value")
            if v is None:
                die("end-to-end metric %s missing from the run" % k, 1)
            metrics[k] = {"value": v, "unit": m["unit"]}
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
    out.write(json.dumps(line) + "\n")
    out.flush()


def make_digest(root):
    """Dump every headline result on the fixed lake, cross-check it
    against SparkEntry.oracleSql in DuckDB (the tools/check.py method),
    and keep the digests of the results that agree."""
    import duckdb
    import glob
    import pandas as pd
    dump = os.path.join(root, BUILD, "digest")
    shutil.rmtree(dump, ignore_errors=True)
    run_jvm(root, "capture_tick", 1, 1, False, ["--dump", dump])
    lake = inputs(root, "lake")
    con = duckdb.connect()
    for t in sorted(f[:-len(".parquet")] for f in os.listdir(lake) if f.endswith(".parquet")):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(lake, t + ".parquet")))
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    keep, bad = [], 0
    for line in open(os.path.join(dump, "digests.tsv")):
        q = line.split("\t")[0]
        files = sorted(glob.glob(os.path.join(dump, q, "*.parquet")))
        s = norm(pd.concat([pd.read_parquet(f) for f in files]))
        try:
            d = norm(con.execute(oracle[q]).df())
            pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=True)
            keep.append(line)
            print("PASS %s (%d rows)" % (q, len(s)))
        except Exception as e:  # noqa: BLE001 - report any mismatch
            bad += 1
            print("FAIL %s: %s" % (q, str(e)[:300]))
    with open(os.path.join(HERE, "digests.tsv"), "w") as f:
        f.writelines(keep)
    print("%d queries cross-checked, %d disagree with the oracle" % (len(keep) + bad, bad))
    shutil.rmtree(dump, ignore_errors=True)
    return bad == 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--make-digest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(0 if gen.selftest() else 1)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("run from the root of a graft checkout (src/main/scala/graft not found)")
    if not os.path.exists(os.path.join(root, "BENCHMARK.json")):
        die("BENCHMARK.json not found in the working directory")
    spec = declared()
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    build(root)
    if a.make_digest:
        sys.exit(0 if make_digest(root) else 1)
    if a.all:
        for w in [x["name"] for x in spec["workloads"]]:
            for trace in (False, True):
                res, hyg = run_jvm(root, w, a.seed, seconds, trace)
                report(w, a.seed, trace, res, hyg, spec, root)
        return
    if not a.workload:
        die("--workload is required")
    res, hyg = run_jvm(root, a.workload, a.seed, seconds, bool(a.trace))
    report(a.workload, a.seed, bool(a.trace), res, hyg, spec, root)


if __name__ == "__main__":
    main()
