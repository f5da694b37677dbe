#!/usr/bin/env python3
"""Contest-shaped benchmark: one command builds the program from source,
generates seeded inputs, runs one workload, checks its outputs and prints
every metric with its unit.

    python3 contestbench/run.py --workload contest-batch --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. --trace 0 reports the end-to-end metrics; --trace 1
reports the per-layer metrics, each layer's self time and the tracing
overhead, and writes the spans to contestbench/.work/results/.
See contestbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import stats  # noqa: E402

WORK_DIR = os.path.join(BENCH_DIR, ".work")
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Input sizes (rows). Why each workload exists is in README.md; the other
# workload constants (k, ef, nlist, recall floor, ...) are in Main.scala.
WORKLOADS = {
    "contest-batch": {"base": 4000, "queries": 400, "delta": 800},
    "sql-serving": {"base": 4000, "queries": 256, "delta": 0},
}

# name: (unit, which direction is better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "batch_qps": ("1/s", "higher"),
    "recall_at_100": ("ratio", "higher"),
    "stmt_p50_ms": ("ms", "lower"),
    "stmt_p99_ms": ("ms", "lower"),
    "store_bytes_ratio": ("ratio", "lower"),
}

STORES = ("label", "label_ts", "range", "ivf", "hash")
ROUTES = ("full_graph", "bruteforce", "category_graph", "interval_graph")
# span layers: `sql` is the Spark SQL front end (the DataFrame reader and
# statement build), `bench` the benchmark's own code between calls
LAYERS = ("sources", "store", "tuner", "operators", "sql", "ann_topk", "bench")
SPARK = ("jobs", "stages", "tasks", "executor_cpu_ms", "executor_run_ms", "gc_ms",
         "shuffle_write_bytes", "spill_bytes", "driver_only_ms")
MAIN_OP = {"contest-batch": "batch", "sql-serving": "stmt"}

PER_LAYER = dict(
    [("sources.ingest_s", "s"), ("sources.ingest_rows_per_s", "1/s"),
     ("simd.l2sq_ns", "ns"), ("simd.l2sq_i8_ns", "ns"),
     ("hnsw.add_us", "us"), ("hnsw.search_us", "us"), ("hnsw.deser_ms", "ms")]
    + [(f"store.build_s.{s}", "s") for s in STORES]
    + [(f"store.bytes.{s}", "bytes") for s in STORES]
    + [(f"store.search_s.t{t}", "s") for t in range(4)]
    + [(f"store.qps.t{t}", "1/s") for t in range(4)]
    + [("store.append_ms", "ms"), ("store.delta_fraction_ms", "ms"),
       ("store.search_with_delta_ms", "ms"), ("store.compact_s", "s"),
       ("store.delta_recall_at_100", "ratio"),
       ("tuner.bands_s", "s"), ("tuner.nprobe_s", "s"), ("tuner.ivf_ef_s", "s"),
       ("tuner.nprobe_chosen", "count"), ("tuner.ivf_ef_chosen", "count"),
       ("tuner.nlist", "count"),
       ("cache.hits", "count"), ("cache.misses", "count"), ("cache.hit_ratio", "ratio"),
       ("cache.used_mb", "MB"), ("operators.route_s", "s")]
    + [(f"operators.route.{r}", "count") for r in ROUTES]
    + [("operators.oracle_s", "s"),
       ("ann_topk.plan_ms", "ms"), ("ann_topk.exec_ms", "ms"),
       ("ann_topk.routed_ratio", "ratio")]
    + [(f"spark.{m}", "bytes" if m.endswith("bytes") else "ms" if m.endswith("ms") else "count")
       for m in SPARK]
    + [("jvm.heap_peak_mb", "MB")]
    + [(f"stmt_p50_ms.t{t}", "ms") for t in range(4)]
    + [(f"recall_at_100.t{t}", "ratio") for t in range(4)]
    + [(f"self_ms.{layer}", "ms") for layer in LAYERS]
    + [("trace.overhead_pct", "%")]
)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def program_root():
    return os.path.abspath(os.environ.get("BENCH_PROGRAM_ROOT", os.path.join(BENCH_DIR, "..")))


def build_dir():
    return os.path.abspath(os.environ.get("BENCH_BUILD_DIR", os.path.join(BENCH_DIR, "target")))


def source_files(root):
    """Every file the build reads from one tree, build outputs excluded."""
    picked = []
    for rel in ("build.sbt", os.path.join("project", "build.properties")):
        if os.path.isfile(os.path.join(root, rel)):
            picked.append(os.path.join(root, rel))
    for top in ("src",):
        for dirpath, dirnames, files in os.walk(os.path.join(root, top)):
            dirnames.sort()
            picked += [os.path.join(dirpath, f) for f in sorted(files)]
    return picked


def source_stamp(roots):
    h = hashlib.sha256()
    for root in roots:
        for path in source_files(root):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:  # timeout, SIGTERM (see main) or Ctrl-C
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def ensure_built():
    """Build the program and the benchmark with sbt when their sources
    changed; return (classpath, jvm_options) from the launcher file."""
    root = program_root()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        raise SystemExit(f"error: no program source tree at {root} (build.sbt and src/main)")
    out = build_dir()
    launcher = os.path.join(out, "launcher.txt")
    stamp_file = os.path.join(out, "launcher.stamp")
    stamp = source_stamp([root, BENCH_DIR])
    fresh = os.path.isfile(launcher) and os.path.isfile(stamp_file) \
        and open(stamp_file).read() == stamp
    if not fresh:
        if shutil.which("sbt") is None:
            raise SystemExit("error: sbt not found on PATH")
        log(f"building {root} (sbt launcher) ...")
        t0 = time.time()
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "launcher"],
                       BUILD_TIMEOUT_S, cwd=BENCH_DIR, stdout=sys.stderr, stderr=sys.stderr,
                       env=dict(os.environ, BENCH_PROGRAM_ROOT=root, BENCH_BUILD_DIR=out))
        if rc != 0 or not os.path.isfile(launcher):
            raise SystemExit(f"error: build failed (sbt exit {rc})")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.0f} s")
    with open(launcher) as f:
        lines = f.read().splitlines()
    opts = [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    return lines[0], opts


# ------------------------------------------------------------------ run

def run_jvm(cp, opts, workload, seconds, trace, input_dir, work, raw_path):
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                              "contestbench.Main", workload, str(seconds), str(trace),
                              input_dir, work, raw_path])
    rc = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.isfile(raw_path):
        raise SystemExit(f"error: benchmark JVM exited {rc}")
    with open(raw_path) as f:
        return json.load(f)


def samples(raw, name, traced=False):
    return raw["samples"].get(("traced:" if traced else "") + name, [])


def med(raw, name, traced=False):
    xs = samples(raw, name, traced)
    return stats.median(xs) if xs else 0.0


def end_to_end(raw):
    workload = raw["workload"]
    stmt = samples(raw, "stmt_ms")
    if workload == "contest-batch":
        qps = stats.median(samples(raw, "batch_qps"))
    else:
        qps = raw["values"]["batch_qps"]
    return {
        "setup_s": raw["values"]["setup_s"],
        "batch_qps": qps,
        "recall_at_100": raw["values"]["recall_at_100"],
        "stmt_p50_ms": stats.median(stmt),
        "stmt_p99_ms": stats.percentile(stmt, 99),
        "store_bytes_ratio": raw["values"]["store_bytes_ratio"],
    }


def per_layer(raw):
    v = raw["values"]
    workload = raw["workload"]
    out = {name: 0.0 for name in PER_LAYER}
    for name in PER_LAYER:
        if name in v:
            out[name] = float(v[name])
        elif samples(raw, name):
            out[name] = stats.median(samples(raw, name))
    ingest = med(raw, "sources.ingest_s")
    rows = WORKLOADS[workload]["base"]
    out["sources.ingest_rows_per_s"] = rows / ingest if ingest else 0.0
    for t in range(4):
        ms = med(raw, f"stmt_ms.t{t}", traced=True)
        out[f"stmt_p50_ms.t{t}"] = ms
        if workload == "contest-batch" and ms:
            out[f"store.search_s.t{t}"] = ms / 1e3
            out[f"store.qps.t{t}"] = v[f"queries.t{t}"] / (ms / 1e3)
    out["operators.route_s"] = med(raw, "operators.route_s", traced=True)
    out["ann_topk.plan_ms"] = med(raw, "ann_topk.plan_ms", traced=True)
    out["ann_topk.exec_ms"] = med(raw, "ann_topk.exec_ms", traced=True)
    routed = samples(raw, "ann_topk.routed", True) + samples(raw, "ann_topk.routed")
    out["ann_topk.routed_ratio"] = sum(routed) / len(routed) if routed else 0.0
    lookups = out["cache.hits"] + out["cache.misses"]
    out["cache.hit_ratio"] = out["cache.hits"] / lookups if lookups else 0.0
    ops = [o for o in raw["ops"] if o["kind"] == MAIN_OP[workload]]
    if ops:
        for m in SPARK[:-1]:
            out[f"spark.{m}"] = stats.median([o[m] for o in ops])
        out["spark.driver_only_ms"] = stats.median(
            [stats.driver_only(o["wall_ms"], o["job_spans"]) for o in ops])
    traced_ops = {o["op"] for o in ops}
    selfs = stats.layer_self_times(raw["spans"], keep=lambda s: s[2] in traced_ops)
    for layer in LAYERS:
        out[f"self_ms.{layer}"] = selfs.get(layer, 0) / 1e6 / max(1, len(traced_ops))
    plain, traced = samples(raw, "stmt_ms"), samples(raw, "stmt_ms", True)
    if plain and traced:
        out["trace.overhead_pct"] = 100.0 * (stats.median(traced) / stats.median(plain) - 1.0)
    return out


def report_context(raw):
    ctx = raw["context"]
    canary = json.dumps(ctx["canary"], sort_keys=True) if ctx["canary"] else "traced runs only"
    print(f"context: nproc={ctx['nproc']} heap_max_mb={ctx['heap_max_mb']} "
          f"kernel={ctx['kernel']} canary={canary}")
    knobs = ctx["non_default_knobs"]
    if knobs:
        print("WARNING: NON-DEFAULT KNOBS IN EFFECT: " + ", ".join(knobs))
        print("  env=" + json.dumps(ctx["env"], sort_keys=True)
              + " props=" + json.dumps(ctx["props"], sort_keys=True)
              + " confs=" + json.dumps(ctx["confs"], sort_keys=True))
    else:
        print("knobs: all defaults (no GRAFT_* env, graft.* property or spark.graft.* conf set)")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run stops its build or JVM instead of orphaning it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec = WORKLOADS[args.workload]
    cp, opts = ensure_built()
    os.makedirs(WORK_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=WORK_DIR)
    try:
        input_dir = os.path.join(work, "inputs")
        os.makedirs(input_dir)
        gen.write_inputs(input_dir, args.seed, spec["base"], spec["queries"], spec["delta"])
        raw = run_jvm(cp, opts, args.workload, args.seconds, args.trace, input_dir, work,
                      os.path.join(work, "raw.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks_ok = all(c["ok"] for c in raw["checks"])
    attempted, failed = raw["attempted"], raw["failed"]
    correct = checks_ok and failed == 0 and attempted > 0
    units = PER_LAYER if args.trace else {n: u for n, (u, _b) in END_TO_END.items()}
    values = per_layer(raw) if args.trace else end_to_end(raw)

    report_context(raw)
    stmt = samples(raw, "stmt_ms")
    print(f"samples: recall={raw['values'].get('recall_sample')} stmt={len(stmt)} "
          f"(p99 has {stats.beyond(stmt, 99) if stmt else 0} samples beyond it) "
          f"reps={raw['values'].get('reps')}")
    detail = {k: v for k, v in raw["values"].items()
              if k.startswith(("tuner.", "operators.route.", "reps", "statements", "setup_s"))}
    detail.update({k: round(stats.median(x), 1) for k, x in raw["samples"].items()
                   if k.startswith("stmt_ms.t")})
    print("detail: " + json.dumps(detail, sort_keys=True))
    for c in raw["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for msg in raw["failures"]:
        print(f"failed operation: {msg}")
    print(f"error_rate: {failed}/{attempted} = {failed / max(1, attempted):.6f}")
    for name in units:
        print(f"{name}: {values[name]:.6g} {units[name]}")
    if args.trace:
        os.makedirs(os.path.join(WORK_DIR, "results"), exist_ok=True)
        spans_path = os.path.join(WORK_DIR, "results",
                                  f"{args.workload}-seed{args.seed}-spans.json")
        with open(spans_path, "w") as f:
            json.dump({"columns": ["id", "parent", "op", "name", "start_ns", "end_ns"],
                       "spans": raw["spans"], "ops": raw["ops"]}, f)
        print(f"spans: {len(raw['spans'])} written to {os.path.relpath(spans_path)}")
    if not correct:
        print("OUTPUT CHECK FAILED: see the check/failed lines above", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": values[n], "unit": units[n]} for n in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
