"""Pipeline benchmark for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the JVM harness from source (perfbench/build.py), writes
seeded inputs under one per-run root inside the checkout, drives them
through graft's public entry points in fresh JVMs, checks every output
against the facts the generator planted (check.py), deletes the run root,
and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import collections
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

CORES = 3
# fresh JVMs that only set up, before the one that measures: setup_s is the
# median over all of them
SETUP_JVMS = 1
JVM_TIMEOUT_S = 165
# Seconds one measured cycle (each pipeline of the workload run once)
# takes on a 4-core box. A run measures
# round(--seconds / this) cycles after the unmeasured warm-up cycles: a
# fixed amount of work sized from --seconds, so two commits are measured
# on identical runs and a faster program simply finishes sooner. The
# warm-up cycles take the steepest part of the JIT's settling: etl_enrich's
# run time falls from 2.2 s toward a 1.4-1.6 s plateau over its first
# fifteen or so warm runs, many_small's over three or four cycles; the rest
# of the trend is the same in every run.
NOMINAL_CYCLE_S = {"etl_enrich": 1.75, "curate_docs": 2.2, "many_small": 1.85}
WARMUP_CYCLES = {"etl_enrich": 6, "curate_docs": 6, "many_small": 4}
# runnable by name but not in BENCHMARK.json: the time limit of a full
# two-commit comparison fits two workloads measured long enough to be steady
EXTRA_WORKLOADS = ("curate_docs",)
# examples under examples/ whose sources the generator writes, run in this
# order: the first one is the cold run
MANY_SMALL = [
    "quickstart-1-sales-aggregation",
    "quickstart-14-dimension-history",
    "quickstart-10-streaming-window",
]
# input path names in the examples -> the generated file or directory
GENERATED = {"orders.parquet": "orders.parquet", "lineitem.parquet": "lineitem.parquet",
             "quickstart-10-in": "events"}
# step attribution runs on these workloads' pipelines
PREFIX_WORKLOADS = {"etl_enrich", "curate_docs"}


def bench_spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def pipeline_files(workload, root):
    """Write the workload's YAMLs into the run root with every path pointed
    inside it; `__RUN__` stays for the harness to fill in per run."""
    data, out, ydir = (os.path.join(root, d) for d in ("data", "out", "yaml"))
    os.makedirs(ydir, exist_ok=True)
    if workload == "many_small":
        sources = [(n, os.path.join(REPO, "examples", n + ".yaml")) for n in MANY_SMALL]
    else:
        sources = [(workload, os.path.join(HERE, "pipelines", workload + ".yaml"))]
    files = []
    for name, src in sources:
        with open(src) as f:
            text = f.read()
        def repoint(m):
            base = os.path.basename(m.group(2).rstrip("/"))
            target = (os.path.join(data, GENERATED[base]) if base in GENERATED
                      else os.path.join(out, name, "__RUN__", base))
            return m.group(1) + target
        # shipped examples name absolute input and output paths: inputs go
        # to the generated files, everything they write under the run root
        text = re.sub(r"^(\s*(?:path|quarantinePath|checkpointLocation|checkpointDir):\s*)(/\S+)",
                      repoint, text, flags=re.M)
        text = text.replace("__DATA__", data).replace("__OUT__", os.path.join(out, name))
        path = os.path.join(ydir, name + ".yaml")
        with open(path, "w") as f:
            f.write(text)
        files.append(path)
    return files


def run_jvm(classpath, root, tag, mode, workload, yamls, cycles, trace):
    out = os.path.join(root, f"result-{tag}.json")
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xms1g", "-Xmx1g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness", "--root", root, "--tag", tag,
            "--mode", mode,
            "--pipelines", ",".join(yamls), "--cycles", str(cycles),
            "--warmup", str(WARMUP_CYCLES[workload]),
            "--trace", str(trace), "--cores", str(CORES), "--out", out]
    if trace and workload in PREFIX_WORKLOADS:
        cmd += ["--prefixes", workload]
    log_path = os.path.join(root, f"jvm-{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as log:
            sys.stderr.write(log.read()[-3000:])
        raise RuntimeError(f"harness JVM {tag} exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def tail(values):
    """The highest percentile with at least ten samples beyond it (the
    11th-largest sample), but never below the upper quartile: up to about
    40 samples no percentile above p75 has ten samples beyond it, and the
    maximum of a dozen samples reads one stray pause. Returns (value,
    percentile label)."""
    s = sorted(values)
    upper_quartile = statistics.quantiles(s, n=4)[2] if len(s) > 1 else s[0]
    if len(s) > 10 and s[-11] >= upper_quartile:
        return s[-11], f"p{100.0 * (len(s) - 10) / len(s):.1f}(n={len(s)})"
    return upper_quartile, f"p75(n={len(s)})"


def run_p50(runs, per_cycle):
    """Median over warm cycles of the mean run time in the cycle. A cycle
    runs each of the workload's pipelines once, so with one pipeline this
    is the median run; with several it does not jump between pipelines
    the way the median of a mixed sample does."""
    cycles = [runs[i:i + per_cycle] for i in range(0, len(runs), per_cycle)]
    return statistics.median(statistics.mean(r["wall_s"] for r in c) for c in cycles)


def sink_size(path):
    n_files = n_bytes = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return n_files, n_bytes


def _terminate(signum, frame):
    # turn SIGTERM into SystemExit so the finally blocks stop the JVM and
    # delete the run root
    raise SystemExit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = bench_spec()
    if args.workload not in [w["name"] for w in spec["workloads"]] + list(EXTRA_WORKLOADS):
        ap.error(f"unknown workload {args.workload}")

    classpath = build.build()
    root = os.path.join(REPO, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        result = measure(args, spec, classpath, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass
    print(json.dumps(result))


def measure(args, spec, classpath, root):
    facts = gen.generate(args.workload, os.path.join(root, "data"), args.seed)
    yamls = pipeline_files(args.workload, root)
    # a traced run pairs every measured run with the same run traced
    cycle_s = NOMINAL_CYCLE_S[args.workload] * (2 if args.trace else 1)
    cycles = max(1, round(args.seconds / cycle_s))
    jvms = [run_jvm(classpath, root, f"s{k}", "setup", args.workload, yamls, 0, 0)
            for k in range(SETUP_JVMS)]
    main_jvm = run_jvm(classpath, root, "m", "full", args.workload, yamls, cycles, args.trace)
    jvms.append(main_jvm)
    warm = main_jvm["runs"]
    traced = main_jvm.get("traced_runs", [])
    runs = [main_jvm["cold"]] + main_jvm["warmup_runs"] + warm + traced

    checker = check.Checker(args.workload, os.path.join(root, "data"), facts)
    problems = []
    for r in runs:
        problems += [f"{r['id']}: {p}" for p in checker.check(r)]
    failed_ids = {p.split(":")[0] for p in problems}
    for p in problems[:20]:
        print(f"# WRONG {p}")

    wall = [r["wall_s"] for r in warm]
    run_tail, run_pct = tail(wall)
    e2e = {
        "setup_s": statistics.median(j["setup_s"] for j in jvms),
        "cold_run_s": main_jvm["cold"]["wall_s"],
        "run_p50_s": run_p50(warm, len(yamls)),
        "run_tail_s": run_tail,
        "peak_rss_mb": main_jvm["rss_mb"],
    }
    ext = main_jvm["external_cpu_end"]
    contended = ext > main_jvm["external_cpu_threshold"]
    print(f"# workload={args.workload} seed={args.seed} setups={len(jvms)} warm_runs={len(wall)} "
          f"run_tail={run_pct}")
    print("# cold run (s): %.3f; warm runs (s): %s" % (
        main_jvm["cold"]["wall_s"], " ".join(f"{w:.3f}" for w in wall)))
    print(f"# contention: load_avg_1m_start={main_jvm['load_avg_1m_start']:.2f} "
          f"load_avg_1m_end={main_jvm['load_avg_1m_end']:.2f} external_cpu_end={ext:.3f} "
          f"contended={'true' if contended else 'false'}")
    if contended:
        print("# CONTENDED: another process held more than "
              f"{main_jvm['external_cpu_threshold']:.0%} of the CPUs at the end of the run")
    print(f"# failed_frac={len(failed_ids) / len(runs):.4f} ({len(failed_ids)}/{len(runs)})")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in e2e.items():
        print(f"# {k} = {v:.4f} {units.get(k, '')}")

    if args.trace:
        metrics = layer_metrics(spec, main_jvm, traced, args.workload, root)
        for k in sorted(metrics):
            print(f"# {k} = {metrics[k]:.4f} {units.get(k, '')}")
    else:
        metrics = e2e
    return {"correct": not problems, "attempted": len(runs), "failed": len(failed_ids),
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in [m["name"] for m in
                                  spec["per_layer" if args.trace else "end_to_end"]]}}


def layer_metrics(spec, main_jvm, traced, workload, root):
    layers = dict(main_jvm["layers"])
    with open(os.path.join(root, "spans-m.jsonl")) as f:
        names = collections.Counter(json.loads(line)["name"] for line in f)
    print("# spans: " + ", ".join(f"{n} {c}" for n, c in sorted(names.items())))
    sizes = [sink_size(r["sink_path"]) for r in traced if r["sink_path"]]
    layers["sinks.files"] = statistics.mean(s[0] for s in sizes) if sizes else 0.0
    layers["sinks.bytes"] = statistics.mean(s[1] for s in sizes) if sizes else 0.0
    layers["jvm.jit_ms"] = main_jvm["jit_ms_cold"]
    layers["jvm.gc_ms"] = main_jvm["gc_ms_cold"]
    for st in main_jvm.get("steps", []):
        layers[f"operators.{workload}.{st['step']}.self_s"] = st["self_s"]
        layers[f"operators.{workload}.{st['step']}.rows_out"] = st["rows_out"]
        # BENCHMARK.json names only its own workloads' steps
        print(f"# step {st['step']}: self_s = {st['self_s']:.4f} s, rows_out = {st['rows_out']}")
    print(f"# unexplained: {layers['trace.unexplained_s']:.4f} s per run "
          f"({layers['trace.unexplained_frac']:.1%} of run wall time) lies outside the "
          "source reads, transform applies, quality gate and sink write of batch runs "
          "and outside the micro-batches of stream runs")
    print(f"# tracing overhead: traced minus untraced run_p50_s = "
          f"{layers['trace.overhead_s']:+.4f} s")
    # a layer the workload does not exercise did no work: it reads 0
    return {m["name"]: float(layers.get(m["name"], 0.0)) for m in spec["per_layer"]}


if __name__ == "__main__":
    main()
