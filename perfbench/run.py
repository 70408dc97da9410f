#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload signal_plate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into perfbench/target; later runs reuse
the build while the sources are unchanged. One JVM runs Spark at
local[nproc] with one client in a closed loop. With --trace 0 the last
stdout line holds the end-to-end metrics, with --trace 1 the per-layer
ones. Every output is checked against the DuckDB oracle. See README.md.
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
sys.path.insert(0, HERE)

from benchlib import frame, gen, oracle, stats  # noqa: E402

DEADLINE_S = 150          # the engine's share of a run, which ends within 180 s
BUILD_DEADLINE_S = 840    # the first run also builds
SETUPS = 2                # set-ups per run; setup_s is their median
# Timed passes every run makes, however few fit in --seconds (a traced
# run makes twice as many, half of them traced). op_tail_s and
# heap_retained_mb are taken over these passes only, so they do not
# depend on how many passes a run's speed lets in.
MIN_PASSES = 2
PROBES = 2                # stage-probe repetitions in a traced run
HEAP = "3g"
# Generated-class cache entries: graft.Bench's declared setting. Spark's
# default of 100 is smaller than one signal pass (about 100 classes), so
# every pass would recompile and re-JIT all of its code.
CODEGEN_CACHE = 4096

# Workload shapes. Inputs derive from the seed alone: it generates the
# plate or the tables and sets the order of the operations.
PLATE = {"recordings": 2, "samples": 2500}
TABLES_SF = 0.01          # generated star schema, TPC-H scale factor
MIX_OPS = 9               # query_mix: one representative pick per module

WORKLOADS = ("signal_plate", "query_mix")
MODULE_LAYERS = ("relational", "dedup", "similarity", "graph", "textanalysis",
                 "signal", "pipeline", "streaming", "other")

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    return len(os.sched_getaffinity(0))


# ---- build ------------------------------------------------------------------

def sources_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness when the sources changed; return the classpath."""
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "bench.classpath"), os.path.join(target, "bench.stamp")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-Dsbt.global.base=" + os.path.join(ROOT, ".bench_build", "sbt")]
    if os.path.exists(repo_cfg):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               timeout=BUILD_DEADLINE_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if r.returncode != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read()


# ---- one run ----------------------------------------------------------------

def prepare(workload, seed, work):
    """Generate the run's inputs; return the JVM config entries."""
    if workload == "signal_plate":
        path = os.path.join(work, "inputs", "plate.parquet")
        gen.signal_plate(seed, path, **PLATE)
        return {"kind": "plate", "plate": path}, None
    data = os.path.join(work, "inputs")
    gen.tables(seed, data, TABLES_SF)
    ops = frame.order(frame.pick(frame.load(), MIX_OPS), seed)
    return {"kind": "queries", "ops": ",".join(ops), "data": data}, data


def run_jvm(cp, cfg_path, work, budget):
    cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "graft.perfbench.Main", cfg_path]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("engine run exceeded its deadline")
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = [l for l in f.read().splitlines() if " INFO " not in l][-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"engine exited with {code}")


def end_to_end(res, passes, ops, bad):
    walls = [o["wall_s"] for o in ops]
    first = sorted({o["pass"] for o in ops})[:MIN_PASSES]
    tail_v, tail_p, beyond, n = stats.tail([o["wall_s"] for o in ops if o["pass"] in first])
    m = {
        "setup_s": (stats.median(res["setups_s"]), "s"),
        "pass_wall_s": (stats.median([p["wall_s"] for p in passes]), "s"),
        "op_p50_s": (stats.median(walls), "s"),
        "op_tail_s": (tail_v, "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }
    notes = {"op_tail": f"p{tail_p:g} of {n} operations (the first {len(first)} passes), {beyond} beyond it",
             "pass_cpu_s": stats.median([p["cpu_s"] for p in passes]),
             "heap_peak_mb": res["heap_peak_mb"],
             "failed_frac": f"{sum(1 for o in ops if o['error'] or o['op'] in bad) / len(ops):.4f}"}
    timed = {p_i for p_i, p in enumerate(res["passes"]) if p["kind"] == "timed"}
    trig = [b["trigger_ms"] for b in res["batches"] if b["pass"] in timed]
    if trig:
        bv, bp, bb, bn = stats.tail(trig)
        notes["batch_p50_ms"] = stats.median(trig)
        notes["batch_tail_ms"] = f"{bv} (p{bp:g} of {bn} micro-batches, {bb} beyond it)"
    return m, notes


COUNT_LAYERS = ("exec.jobs", "exec.stages", "exec.tasks", "materialize.rdds_peak")
# Measured on every run but kept out of the metrics object: zero by
# construction on some workloads (module and micro-batch times), or, for
# analysis, on every workload (see README.md). They print on one line.
EXTRA_LAYERS = ("plan.analysis_s",)


def per_layer(res, spans, untraced, traced_idx, modules):
    """Per-layer metrics of a traced run: listener counters as a mean per
    traced pass, storage as the peak, stage times from the probe."""
    traced = [res["passes"][i] for i in traced_idx]
    m, extra = {}, {}
    for k in traced[0]["layers"]:
        vals = [p["layers"][k] for p in traced]
        v = max(vals) if k.startswith("materialize.") else sum(vals) / len(vals)
        unit = "bytes" if "bytes" in k else "count" if k in COUNT_LAYERS else "s"
        if k in EXTRA_LAYERS:
            extra[k] = v
        else:
            m[k] = (v, unit)
    # driver.self_s: operation time not covered by any Spark job it started
    kids = {}
    for sid, parent, name, s, e in spans:
        kids.setdefault(parent, []).append((sid, s, e))
    driver = []
    for sid, _, name, _, _ in spans:
        if name.startswith("pass "):
            driver.append(sum(stats.self_time((s, e), [(cs, ce) for _, cs, ce in kids.get(oid, [])])
                              for oid, s, e in kids.get(sid, [])) / 1e3)
    m["driver.self_s"] = (sum(driver) / len(driver), "s")
    # codegen: per pass, the warm passes' cold compiles included
    allp = res["passes"]
    m["codegen.compile_s"] = (sum(p["codegen_ms"] for p in allp) / 1e3 / len(allp), "s")
    m["codegen.classes"] = (sum(p["codegen_classes"] for p in allp) / len(allp), "count")
    pr = res["probes"]
    stages = ("smoothing", "envelopes", "peakdetect", "beatmetrics")
    for st in stages:
        m[f"{st}.self_s"] = (stats.median([p[st] for p in pr]), "s")
    m["signal.recompute_s"] = (stats.median([p["single"] - sum(p[s] for s in stages) for p in pr]), "s")
    m["peakdetect.candidates"] = (pr[0]["candidates"], "count")
    m["peakdetect.peaks"] = (pr[0]["peaks"], "count")
    m["peakdetect.yield"] = (pr[0]["peaks"] / max(pr[0]["candidates"], 1), "ratio")
    bt = [b for b in res["batches"] if b["pass"] in set(traced_idx)]
    m["stream.batches"] = (len(bt) / len(traced), "count")
    m["stream.state_rows"] = (max([b["state_rows"] for b in bt], default=0), "count")
    m["stream.state_bytes"] = (max([b["state_bytes"] for b in bt], default=0), "bytes")
    m["codegen.classes_per_batch"] = (sum(p["codegen_classes"] for p in traced) / max(len(bt), 1), "count")
    m["trace.overhead_s"] = (stats.median([p["wall_s"] for p in traced]) -
                             stats.median([p["wall_s"] for p in untraced]), "s")
    tops = [o for o in res["ops"] if o["pass"] in set(traced_idx)]
    for mod in MODULE_LAYERS:
        extra[f"{mod}.op_s"] = sum(o["wall_s"] for o in tops
                                   if modules.get(o["op"], "signal") == mod) / len(traced)
    for k in ("planning_ms", "add_batch_ms", "commit_ms"):
        extra[f"stream.{k}"] = stats.median([b[k] for b in bt]) if bt else 0
    return m, extra


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    for need in ("src/main/scala/graft/SparkEntry.scala", "scripts/oracle_check.py", "fixtures/signal"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout of the engine", 2)
    cp = build()
    t0 = time.time()  # set-up starts here: the build is not part of it
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cfg, data = prepare(a.workload, a.seed, work)
        cfg.update(out=work, tmp=os.path.join(work, "tmp"), fixtures=os.path.join(ROOT, "fixtures"),
                   cpus=str(nproc()), trace=str(a.trace), seconds=str(a.seconds),
                   setups=str(SETUPS), min_passes=str(MIN_PASSES * (2 if a.trace else 1)), probes=str(PROBES), codegen_cache=str(CODEGEN_CACHE), t0_ms=str(int(t0 * 1000)))
        cfg_path = os.path.join(work, "config")
        with open(cfg_path, "w") as f:
            f.write("".join(f"{k}={v}\n" for k, v in cfg.items()))
        run_jvm(cp, cfg_path, work, DEADLINE_S - (time.time() - t0))
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        t_oracle = time.time()
        bad = {k: v for k, v in oracle.check(ROOT, res["check"]["dir"], res["check"]["sql"], data).items() if v}
        marks = res["marks_ms"]
        phases = {b[0]: round((b[1] - a[1]) / 1e3, 2) for a, b in zip(marks, marks[1:])}
        walls = [(p["kind"], round(p["wall_s"], 2), p["codegen_classes"], round(p["cpu_s"], 1)) for p in res["passes"]]
        print(f"timing: build {t0 - start:.1f} s, jvm {phases}, oracle {time.time() - t_oracle:.1f} s, passes {walls}")
        for k, v in sorted(bad.items()):
            print(f"oracle mismatch: {k}: {v}")
        kind = "traced" if a.trace else "timed"
        timed_ops = [o for o in res["ops"] if o["kind"] in ("timed", kind)]
        errors = [o for o in res["ops"] if o["error"]]
        for o in errors[:5]:
            print(f"operation failed: {o['op']}: {o['error'][:200]}")
        failed = sum(1 for o in timed_ops if o["error"] or o["op"] in bad)
        untraced = [p for p in res["passes"] if p["kind"] == "timed"]
        print(f"workload {a.workload} seed {a.seed}: local[{nproc()}], one client, closed loop; "
              f"{len(untraced)} timed passes of {cfg['ops'].count(',') + 1 if 'ops' in cfg else 1} operations")
        if a.trace:
            traced_idx = [i for i, p in enumerate(res["passes"]) if p["kind"] == "traced"]
            with open(os.path.join(work, "spans.json")) as f:
                spans = json.load(f)
            modules = {name: module for name, module, _ in frame.load()}
            metrics, extra = per_layer(res, spans, untraced, traced_idx, modules)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(base, "traces", f"{a.workload}-{a.seed}.spans.json"))
            print("other layers: " + json.dumps(extra))
        else:
            metrics, notes = end_to_end(res, untraced, [o for o in res["ops"] if o["kind"] == "timed"], bad)
            print("notes: " + json.dumps(notes))
        for k, (v, u) in metrics.items():
            print(f"{k} = {v} {u}")
        print(json.dumps({"correct": not bad and not errors, "attempted": len(timed_ops), "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
