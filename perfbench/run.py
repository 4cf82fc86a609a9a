#!/usr/bin/env python3
"""The graft engine's benchmark.

    python3 perfbench/run.py --workload sql --seed 1 --seconds 15 --trace 0

One run: build the engine and the harness from source (once per source
state), write the seeded inputs, time the workload's queries in one JVM
(`Runner.scala`), check every result against the DuckDB oracle, and print
the metrics. The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones (see
`metrics.py`; `spec.json` lists the workloads and what each metric should
move). Lines before it report the machine stamp, the fail rate and the
query-tail percentile.

Everything the run writes stays under `perfbench/.work` and the sbt target
directories of the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import metrics  # noqa: E402

# the heap committed at launch (-Xms = -Xmx) and a fixed young generation:
# G1's adaptive heap and young sizing made peak RSS swing by a third
# between identical runs
HEAP = "3g"
YOUNG = "512m"
# steady passes an untraced run takes at the least
MIN_PASSES = 3
# traced passes (each after an untraced one) a traced run takes at the least
TRACED_PASSES = 2
# per-query samples an untraced run takes at the least: with ten beyond the
# tail, the tail is then at p50 or above
TAIL_SAMPLES = 20
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 150
# Spark on JDK 17 needs these outside spark-submit (JavaModuleOptions)
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_spec():
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def _sources():
    """Every file the build reads: the engine's and the harness's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """The runtime classpath, compiling with sbt when any source changed."""
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f2:
                    return f2.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def steady_passes(seconds, pass_s, n_queries, traced):
    """Steady passes of a run: `seconds` at the workload's nominal pass time
    `pass_s`. The count follows from the arguments, not from the clock, so
    every run of a workload -- of this engine or of a faster one -- takes the
    same number of samples, and its p50 and tail sit at the same ranks."""
    if traced:
        return max(TRACED_PASSES, round(seconds / pass_s / 2))
    return max(MIN_PASSES, -(-TAIL_SAMPLES // n_queries), round(seconds / pass_s))


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_jvm(cp, args, log):
    """Run the harness JVM to completion; its stdout and stderr go to `log`."""
    jvm_dir = os.path.join(WORK, "jvm")
    shutil.rmtree(jvm_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(jvm_dir, d))
    # -UsePerfData: no hsperfdata file outside the work directory
    cmd = ["java", *ADD_OPENS, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-XX:NewSize={YOUNG}", f"-XX:MaxNewSize={YOUNG}",
           f"-Djava.io.tmpdir={jvm_dir}/tmp", f"-Dspark.local.dir={jvm_dir}/local",
           f"-Dspark.sql.warehouse.dir={jvm_dir}/warehouse", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Runner", *args]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=WORK, stdin=subprocess.DEVNULL, stdout=out,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    shutil.rmtree(jvm_dir, ignore_errors=True)
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM failed ({code}); log in {log}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    engine = ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/localcheck.py"]
    if not all(os.path.exists(os.path.join(ROOT, f)) for f in engine):
        fail(f"no engine sources next to the benchmark (looked in {ROOT})")
    import oracle  # imports the engine's canonicalisation from tools/localcheck.py
    spec = load_spec()
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(spec['workloads'])}")
    load_start = loadavg()
    os.makedirs(WORK, exist_ok=True)
    cp = build()

    data = os.path.join(WORK, "inputs")
    shutil.rmtree(data, ignore_errors=True)
    inputs.write_inputs(data, a.seed)
    inputs.check_layout(data)
    workload = spec["workloads"][a.workload]
    queries = list(workload["queries"])
    cores = len(os.sched_getaffinity(0))

    passes = steady_passes(a.seconds, workload["pass_s"], len(queries), a.trace)
    out = os.path.join(WORK, "record.json")
    results = os.path.join(WORK, "results")
    shutil.rmtree(results, ignore_errors=True)
    launch = time.time()
    run_jvm(cp, ["--data", data, "--cpus", str(cores), "--queries", ",".join(queries),
                 "--seed", str(a.seed), "--passes", str(passes),
                 "--trace", str(a.trace), "--out", out, "--results", results],
            os.path.join(WORK, "run.log"))
    with open(out) as f:
        record = json.load(f)

    checker = oracle.Oracle(data, inputs.fingerprint(data), os.path.join(WORK, "oracle"))
    verdicts = oracle.check(results, record["results"], record["oracle_sql"], checker)
    shutil.rmtree(results, ignore_errors=True)
    attempted, failed = metrics.fail_counts(record["runs"], verdicts)
    load_end = loadavg()

    print(f"workload {a.workload}, seed {a.seed}: {len(queries)} queries ({','.join(queries)}), "
          f"one closed-loop client at local[{cores}], each pass in its own seeded order")
    print(f"machine: nproc {cores}, loadavg {load_start:.2f} at start, {load_end:.2f} at end, "
          f"JVM heap {record['heap_max_mb']} MB, Spark {record['spark_version']}")
    print(f"fail_rate {failed}/{attempted} = {failed / attempted:.4f}")
    for q, v in sorted(verdicts.items()):
        if v is not None:
            print(f"  FAIL {q}: {v}")
    for r in record["runs"]:
        if not r["ok"]:
            print(f"  ERROR {r['query']} (pass {r['pass']}): {r['error']}")
    if a.trace:
        values = metrics.per_layer(record)
        units = metrics.PER_LAYER
    else:
        values, extra = metrics.end_to_end(record, launch)
        units = metrics.END_TO_END
        print(f"query_tail_s is p{extra['tail_percentile']:.1f} of {extra['tail_samples']} "
              f"samples over {extra['steady_passes']} steady passes (10 beyond it)")
    for k in units:
        print(f"  {k} = {values[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
