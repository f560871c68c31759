"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness
(`perfbench/build.py`), generates the inputs (the fixed star-schema
corpus once per checkout, the `etl_jobs` inputs from the seed), runs the
harness in one JVM at local[nproc] with one closed-loop client, checks
every result, prints each metric by name with its unit, and ends with
one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer metrics (and the tracing overhead; its span tree is kept in
`perfbench/.work/traces/`). All files live under `perfbench/.work` and each
run's directory is removed when it ends.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_corpus  # noqa: E402
import gen_etl  # noqa: E402
from oracle import Oracle  # noqa: E402

WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def corpus(sf):
    """The fixed star-schema corpus, generated once per checkout."""
    d = os.path.join(WORK, f"corpus-sf{sf}")
    want = f"{gen_corpus.VERSION} sf={sf} seed={gen_corpus.SEED}"
    v = os.path.join(d, "VERSION")
    if os.path.exists(v) and open(v).read().strip() == want:
        return d
    tmp = f"{d}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    log(f"generating the sf{sf} corpus")
    gen_corpus.generate(tmp, sf)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def run_jvm(cfg_path, run_dir, cores, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the engine reads its tuning knobs from SPARK_GRAFT_* variables; every
    # run gets the engine's defaults, and only the core count is set
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR") and not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(cores)
    cmd = (["java", "-Xms4g", "-Xmx4g", "-Xmn1g", "-Xss4m", "-XX:-UsePerfData"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}/hadoop",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", build.classpath(), "graft.perfbench.Harness", cfg_path])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    with open(os.path.join(run_dir, "jvm.log")) as f:
        lines = f.read().splitlines()
    for line in lines:
        if line.startswith("[perfbench]"):
            log(line[len("[perfbench] "):])
    return code, lines


def tail(values):
    """Nearest-rank 90th percentile op wall, with the sample count and the
    number of samples beyond it (a run holds tens of op samples, too few
    for a percentile with ten samples beyond it to be a tail)."""
    xs = sorted(values)
    idx = max(math.ceil(0.9 * len(xs)) - 1, 0)
    return xs[idx], len(xs), len(xs) - idx - 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    w = spec["workloads"][a.workload]
    build.build()
    cores = os.cpu_count() or 4
    sf_dir = corpus(spec["sf"])

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return measure(a, spec, w, cores, sf_dir, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(a, spec, w, cores, sf_dir, run_dir, deadline):
    cfg = {"workload": a.workload, "kind": w["kind"], "ops": w.get("ops", []),
           "provision": w.get("provision", []), "sf_dir": sf_dir, "seconds": a.seconds,
           "seed": a.seed, "trace": bool(a.trace),
           "warmup_passes": max(w["warmup_passes"], a.trace),
           "min_passes": w["min_passes"] + a.trace, "cores": cores, "run_dir": run_dir,
           "result": os.path.join(run_dir, "result.json")}
    expected = None
    if w["kind"] == "etl":
        inputs, expected = gen_etl.generate(os.path.join(run_dir, "etl_in"), a.seed, w["sizes"])
        cfg["etl"] = dict(inputs, out=os.path.join(run_dir, "etl_out"))
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)

    code, lines = run_jvm(cfg_path, run_dir, cores, deadline)
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: harness exited with {code}")
    with open(cfg["result"]) as f:
        res = json.load(f)

    # ---- correctness: failed ops in any pass, then the output checks
    attempted = sum(len(p["ops"]) for p in res["passes"])
    failed = sum(not o["ok"] for p in res["passes"] for o in p["ops"])
    mismatches = []
    if w["kind"] == "queries":
        attempted += len(res["checks"])
        with open(os.path.join(run_dir, "check", "oracle_sql.json")) as f:
            sqls = json.load(f)
        oracle = Oracle(sf_dir, os.path.join(WORK, "oracle-cache"))
        for name, ok in sorted(res["checks"].items()):
            why = "check execution failed" if not ok else oracle.compare(
                name, sqls[name], os.path.join(run_dir, "check", name))
            if why:
                mismatches.append(f"{name}: {why}")
    else:
        attempted += len(gen_etl.OUTPUTS)
        for job, why in gen_etl.check(os.path.join(run_dir, "etl_out"), expected).items():
            if why:
                mismatches.append(f"{job}: {'; '.join(why)}")
    for m in mismatches:
        log(f"MISMATCH {m}")
    failed += len(mismatches)
    correct = failed == 0 and res["setup_ok"]

    # ---- metrics
    timed = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    walls = [o["wall_ms"] for p in timed for o in p["ops"]]
    tail_ms, tail_n, tail_beyond = tail(walls)
    med = statistics.median
    e2e = {
        "setup_s": (res["setup_ms"] / 1e3, "s"),
        "pass_s": (med([p["wall_s"] for p in timed]), "s"),
        "op_p50_ms": (med(walls), "ms"),
        "op_tail_ms": (tail_ms, "ms"),
        "cpu_s": (med([p["cpu_s"] for p in timed]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    layers = {}
    if traced:
        mb = 1024.0 * 1024.0
        for k in traced[0]["layers"]:
            layers[k] = med([p["layers"][k] for p in traced])
        layers["session.start_ms"] = res["session_start_ms"]
        layers["io.provision_ms"] = sum(res["provision_calls"].values())
        layers["io.warehouse_mb"] = res["warehouse_bytes"] / mb
        layers["io.warehouse_files"] = float(res["warehouse_files"])
        for job, key in (("cases_time", "jobs.cases_time_ms"), ("clinical", "jobs.clinical_ms"),
                         ("research", "jobs.research_ms"),
                         ("radiography", "jobs.radiography_ms")):
            vals = [o["wall_ms"] for p in traced for o in p["ops"] if o["name"] == job]
            layers[key] = med(vals) if vals else 0.0
        layers["jobs.outputs"] = float(sum(
            len(names) for job, names in gen_etl.OUTPUTS.items()
            if w["kind"] == "etl" and not any(m.startswith(job + ":") for m in mismatches)))
        layers["trace.overhead_s"] = (med([p["wall_s"] for p in traced]) -
                                      med([p["wall_s"] for p in timed]))

    units = {m["name"]: m["unit"] for m in spec_metrics("per_layer")}
    print(f"workload {a.workload}: {res['ops']} ops, {len(res['passes'])} timed passes "
          f"({len(traced)} traced), failed_frac {failed / max(attempted, 1):.4f} "
          f"({failed}/{attempted})")
    for k, (v, u) in e2e.items():
        extra = f"  (p90 of n={tail_n}, {tail_beyond} beyond)" if k == "op_tail_ms" else ""
        print(f"  {k:28s} {v:12.4f} {u}{extra}")
    for k in sorted(layers):
        print(f"  {k:28s} {layers[k]:12.4f} {units.get(k, '')}")
    if traced:
        print(f"  tracing overhead: {layers['trace.overhead_s']:+.4f} s per pass")
        trace = os.path.join(WORK, "traces", f"{a.workload}-s{a.seed}.json")
        os.makedirs(os.path.dirname(trace), exist_ok=True)
        shutil.copy(os.path.join(run_dir, "trace.json"), trace)
        print(f"  spans: {os.path.relpath(trace)}")

    if a.trace:
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec_metrics("per_layer")}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec_metrics("end_to_end")}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def spec_metrics(kind):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)[kind]


if __name__ == "__main__":
    sys.exit(main())
