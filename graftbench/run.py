#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine plus the benchmark
harness from source (first run only), generates the workload's inputs from
the seed (cached by seed), runs the workload in one JVM for S seconds,
checks the outputs, prints one line per metric (value, unit, sample count)
and, last, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). Everything it writes stays under
.bench_build/ in the checkout; the run's own work dirs are deleted.

    python3 graftbench/run.py --record SEEDS

records the output checks of the pipeline workload (per batch query: row
count plus order-insensitive hash; per ingest delta: kept count plus id
hash) for SEEDS (e.g. 0-40) into expected.json.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources

import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
EXPECTED = os.path.join(HERE, "expected.json")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 800

# workload -> (input kind, amplification factor)
WORKLOADS = {
    "sql_stmt_stream": ("sql", 1),
    "corpus_pipeline_10x": ("pipeline", 10),
}
RECORDED = ("corpus_pipeline_10x",)
INGEST_OPS = ("cross_dedup", "ingest_write")

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect",
             "java.io", "java.net", "java.nio", "java.util",
             "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action",
             "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _sources():
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def _stamp():
    return json.dumps(sorted((os.path.relpath(p, ROOT), os.path.getsize(p),
                              int(os.path.getmtime(p)))
                             for p in _sources()))


def build():
    """Compile engine + harness with sbt when any source changed; returns the
    runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = _stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("[graftbench] building engine + benchmark harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        raise SystemExit(f"[graftbench] build failed ({p.returncode})")
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    cp = lines[-1].strip()
    if "classes" not in cp:
        log(p.stdout[-4000:])
        raise SystemExit("[graftbench] could not read the classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"[graftbench] built in {time.time() - t0:.1f} s")
    return cp


# ------------------------------------------------------------------ JVM

def run_jvm(cp, args, work, deadline):
    """Runs graftbench.Main; its stderr goes to a log under .bench_build.
    Kills it (and waits) if it outlives `deadline`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx2g"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main"] + args
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, "last-run.log")
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=err, stderr=err,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("[graftbench] run exceeded its time limit")
        except BaseException:   # interrupted or terminated: no orphan JVM
            p.kill()
            p.wait()
            raise
    if rc != 0:
        with open(log_path) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"[graftbench] JVM exited with {rc}")


def load_expected():
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            return json.load(f)
    return {}


# ------------------------------------------------------------------ one run

def ingest_truth(seed):
    """Fresh-original ids and exact re-crawl-copy ids per delta."""
    initial, deltas = gen.ingest_inputs(seed)
    seen = {t for _, t in initial}
    fresh, exact = [], []
    for rows in deltas:
        fresh.append({i for i, _ in rows if i < gen.RECRAWL_ID0})
        exact.append({i for i, t in rows
                      if i >= gen.RECRAWL_ID0 and t in seen})
        seen |= {t for i, t in rows if i < gen.RECRAWL_ID0}
    return fresh, exact


def check(workload, seed, rec):
    """(wrong op count, reference used, messages)."""
    if workload == "sql_stmt_stream":
        stream = gen.sql_stream(seed)
        wrong = metrics.check_sql(
            rec, stream, gen.sql_checksum_after(seed, rec["check"]["executed"]))
        return len(wrong), "shadow model", wrong
    expected = load_expected().get(workload, {}).get(str(seed))
    ref = "recorded values" if expected is not None else \
        "invariants only (seed not recorded)"
    if rec["check"].get("last_pass"):
        ref += f"; last timed pass re-run ({len(rec['check']['last_pass'])}" \
               " ops)"
    bad = metrics.check_batch(rec, expected and expected["outputs"])
    bad_deltas = metrics.check_ingest(rec, ingest_truth(seed),
                                      expected and expected["ingest"])
    # timed pass p ingests delta first_timed_delta + p
    first = rec["check"]["first_timed_delta"]
    n = sum(1 for o in rec["ops"]
            if o["kind"] in bad or (o["kind"] in INGEST_OPS and
                                    o["round"] + first in bad_deltas))
    return n, ref, [f"{k}: {v}" for k, v in bad.items()] + \
        [f"delta {k}: {v}" for k, v in bad_deltas.items()]


def spec():
    with open(SPEC) as f:
        s = json.load(f)
    return ([(m["name"], m["unit"]) for m in s["end_to_end"]],
            [(m["name"], m["unit"]) for m in s["per_layer"]])


def one_run(a):
    t_start = time.time()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("[graftbench] no engine sources at src/main/scala "
                         "— run from the root of a graft checkout")
    e2e_spec, layer_spec = spec()
    kind, factor = WORKLOADS[a.workload]
    cp = build()
    deadline = t_start + RUN_LIMIT_S
    if time.time() > deadline - 60:   # a first run that built: a fresh limit
        deadline = time.time() + RUN_LIMIT_S
    t0 = time.time()
    inputs, generated = gen.ensure(os.path.join(BUILD, "inputs"), kind,
                                   a.seed, factor)
    gen_s = time.time() - t0
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    spans = os.path.join(BUILD, "traces",
                         f"{a.workload}-s{a.seed}.spans.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    try:
        run_jvm(cp, ["--workload", a.workload, "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--inputs", inputs,
                     "--work", work, "--out", out, "--spans", spans],
                work, deadline)
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wrong, ref, msgs = check(a.workload, a.seed, rec)
    e2e, attempted, failed = metrics.summarize(rec, wrong)
    correct = failed == 0 and attempted > 0
    print(f"# graftbench {a.workload} seed={a.seed} trace={a.trace} "
          f"threads={rec['threads']} window={rec['window_s']:.2f}s "
          f"gen_s={gen_s:.3f} ({'generated' if generated else 'cached'}) "
          f"check={ref}")
    for m in msgs[:20]:
        print(f"# WRONG {m}")
    print(f"{'metric':<32}{'value':>16}  {'unit':<8}{'n':>5}  note")
    for name, (v, unit, n, note) in e2e.items():
        print(f"{name:<32}{v:>16.6g}  {unit:<8}{n:>5}  {note}")
    for k, v in rec.get("detail", {}).items():
        if isinstance(v, (int, float)):
            print(f"{'detail.' + k:<32}{v:>16.6g}")
    kinds = {}
    for o in rec["ops"]:
        kinds.setdefault(o["kind"], []).append(o["s"])
    for k, xs in kinds.items():
        print(f"# op {k}: n={len(xs)} median={statistics.median(xs):.4f} s "
              f"min={min(xs):.4f} max={max(xs):.4f}")
    values = {k: v[0] for k, v in e2e.items()}

    results = a.results or os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    saved = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
             "seconds": a.seconds, "correct": correct,
             "e2e": values, "layers": rec.get("layers", {})}
    with open(os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}"
                                    ".json"), "w") as f:
        json.dump(saved, f)

    if a.trace:
        layers = rec["layers"]
        print(f"{'per-layer metric':<32}{'value':>16}")
        for name, unit in layer_spec:
            print(f"{name:<32}{layers[name]:>16.6g}  {unit}")
        for d in rec.get("detail_by_kind", []):
            print(f"# span {d['layer']}.{d['name']}[{d['kind']}] "
                  f"median={d['median_s']:.4f}s n={d['n']} "
                  f"first_round_jobs={d['first_round_jobs']} "
                  f"op_executions={d['first_round_op_executions']} "
                  f"op_execution_s={d['first_round_op_execution_s']:.4f}")
        untraced = os.path.join(results, f"{a.workload}-s{a.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            for k in sorted(set(base) & set(values)):
                print(f"# tracing overhead {k}: traced {values[k]:.6g} - "
                      f"untraced {base[k]:.6g} = {values[k] - base[k]:+.6g}")
        else:
            print("# tracing overhead: run --trace 0 with this seed first")
        line = metrics.result_line(correct, attempted, failed, layers,
                                   layer_spec)
    else:
        line = metrics.result_line(correct, attempted, failed, values,
                                   e2e_spec)
    print(json.dumps(line), flush=True)


# ------------------------------------------------------------------ record

def parse_seeds(s):
    out = []
    for part in s.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def record(seeds):
    cp = build()
    expected = load_expected()
    for workload in RECORDED:
        kind, factor = WORKLOADS[workload]
        dirs = [gen.ensure(os.path.join(BUILD, "inputs"), kind, s, factor)[0]
                for s in seeds]
        work = os.path.join(BUILD, f"work-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(work, "record.json")
        try:
            run_jvm(cp, ["--workload", workload, "--seconds", "0",
                         "--record", "1", "--inputs", ",".join(dirs),
                         "--work", work, "--out", out],
                    work, time.time() + 60 * len(seeds) + 120)
            with open(out) as f:
                checks = json.load(f)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        got = expected.setdefault(workload, {})
        for s, d in zip(seeds, dirs):
            got[str(s)] = metrics.signature(checks[d])
        log(f"[graftbench] recorded {workload} for {len(seeds)} seeds")
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM child is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--results", metavar="DIR",
                   help="where to save this run's result for compare.py "
                        "(default .bench_build/results)")
    p.add_argument("--record", metavar="SEEDS")
    a = p.parse_args()
    if a.record:
        record(parse_seeds(a.record))
    elif a.workload:
        one_run(a)
    else:
        p.error("--workload or --record is required")


if __name__ == "__main__":
    main()
