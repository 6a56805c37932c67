#!/usr/bin/env python3
"""The project's benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness (perfbench/build.sbt) with sbt; later runs reuse the build while no
source changed. A run makes its inputs from the seed, starts one JVM on
local[<all cores>], sets up several times, runs timed passes for the given
seconds, checks the outputs and prints the metrics, the last line being one
JSON object. --trace 1 times alternate passes with listeners and spans on and
reports per-layer metrics; the spans go to .bench_build/perfbench/.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import clickgen  # noqa: E402
import stats  # noqa: E402

T_START = time.monotonic()
LIMIT_S = 170  # a run must end within 180 s
SETUPS = 3
HEAP = "2g"

WORKLOADS = {
    "batch_intent": {"events": 30000},
    "stream_intent": {"events": 6000, "file_events": 3000},
    # The two contract sets run by hand only (see README.md): a pass takes
    # several seconds to tens of seconds, too long for the gated run budget.
    "contract_iterative": {"sf": "data/sf0.01", "queries": [
        "q_tokenizer_compare", "q_cluster_nmi", "q_bpe_merges", "q_facility_select",
        "q_semantic_dedup_det", "q_knn_ivf_det", "q_als_det", "q_sgd_det"]},
    "contract_kernels": {"sf": "data/sf0.01", "queries": [
        "q_dedup_method_overlap", "q_similarity_join", "q_sliding_windows", "q_substring_spans",
        "q_winnow_stats", "q_lm_score", "q_minhash_pairs", "q_session_features"]},
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_ms", "ms"), ("peak_heap_mb", "MB")]
ENGINE = ["jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_mb",
          "shuffle_write_mb", "spill_mb", "scan_mb", "result_mb", "peak_exec_mem_mb"]
UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "load": "ratio",
         "loadavg": "ratio", "steal_frac": "ratio", "overhead_frac": "ratio"}

# Spark on JDK 17 outside spark-submit needs these (as in the program's build.sbt).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def remaining():
    return LIMIT_S - (time.monotonic() - T_START)


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the one the program's
    build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(os.path.join(root, "build.sbt")).read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jars: set SPARK_HOME")
    return m.group(1)


def build(root, jars):
    """Compile program + harness unless the sources are unchanged since the
    last build. Returns the classes directory."""
    program = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(program):
        fail("program sources not found under src/main/scala; run from the repository root")
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (program, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    env = dict(os.environ, SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(root, ".bench_build", "perfbench", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=840).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def run_jvm(root, classes, jars, work, args):
    # A fixed, pre-touched heap: no heap resizing or first page touches inside
    # the timed passes; with a growing heap whole runs differed more.
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", *ADD_OPENS,
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=root, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(5, remaining() - 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(args["out"]):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    with open(args["out"]) as f:
        return json.load(f)


def oracle_checks(root, sf, dump):
    """DuckDB oracle compare of each query's dumped result, through the
    project's own canonical compare (scripts/local_verify.py)."""
    script = os.path.join(root, "scripts", "local_verify.py")
    p = subprocess.run([sys.executable, script, sf, dump], cwd=root, capture_output=True,
                       text=True, stdin=subprocess.DEVNULL, timeout=max(5, remaining() - 3))
    names = json.load(open(os.path.join(dump, "oracle_sql.json")))
    lines = p.stdout.splitlines()
    checks = []
    for name in sorted(names):
        line = next((l for l in lines if re.match(r"^\S+\s+%s\b" % re.escape(name), l)), "")
        checks.append({"name": "oracle " + name, "ok": line.startswith("OK"), "detail": line.strip()})
    return checks


def store_checks(stores):
    """Every metrics-store document parses, keeps at most 1000 history
    entries, and holds one entry per store update."""
    checks = []
    for s in stores:
        ok, detail = False, ""
        try:
            doc = json.load(open(s["path"]))
            hist = doc["history"]
            ok = isinstance(doc["current"], dict) and len(hist) <= 1000 and \
                len(hist) == min(s["updates"], 1000)
            detail = f"history={len(hist)} updates={s['updates']}"
        except (OSError, ValueError, KeyError, TypeError) as e:
            detail = repr(e)
        checks.append({"name": "store " + os.path.basename(os.path.dirname(s["path"])),
                       "ok": ok, "detail": detail})
    return checks


def engine_metrics(p, cores):
    e = p["engine"]
    window_s = (p["end_ms"] - p["start_ms"]) / 1e3
    busy_s = stats.union_length(e["stage_intervals"]) / 1e3
    out = {k: e[k] for k in ENGINE}
    out["idle_s"] = max(0.0, window_s - busy_s)
    out["planning_s"] = p["planning_s"]
    out["load"] = e["task_s"] / p["wall_s"] / cores
    return out


def summarize(raw, trace):
    passes = raw["passes"]
    timed = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    ops = [x for p in timed for x in p["ops_ms"]]
    pct, tail_ms, n_ops = stats.tail(ops)
    e2e = {
        "setup_s": stats.median([s["total_s"] for s in raw["setups"]]),
        "pass_s": stats.median([p["wall_s"] for p in timed]),
        "op_p50_ms": stats.median(ops),
        "peak_heap_mb": raw["peak_heap_mb"],
    }
    notes = {"op_samples": n_ops, "op_tail_percentile": pct, "op_tail_ms": tail_ms,
             "passes": len(timed),
             "pass_walls": [round(p["wall_s"], 3) for p in timed],
             "loadavg": [p["loadavg"] for p in passes],
             "steal": [round(p["steal_frac"], 3) for p in passes],
             "setups": [round(s["total_s"], 2) for s in raw["setups"]]}
    if not trace:
        return e2e, {}, {}, notes

    per_pass = [engine_metrics(p, raw["cores"]) for p in traced]
    layer = {"session.build_s": stats.median([s["build_s"] for s in raw["setups"]]),
             "session.warmup_s": stats.median([s["warmup_s"] for s in raw["setups"]]),
             "session.codegen_compile_s": raw["setups"][0]["codegen_s"]}
    for k in per_pass[0]:
        layer["spark." + k] = stats.median([m[k] for m in per_pass])
    layer["host.loadavg"] = stats.median([p["loadavg"] for p in passes])
    layer["host.steal_frac"] = stats.median([p["steal_frac"] for p in passes])
    layer["trace.overhead_frac"] = \
        stats.median([p["wall_s"] for p in traced]) / stats.median([p["wall_s"] for p in timed]) - 1
    specific = {}
    for k in traced[0]["layers"]:
        specific[k] = stats.median([p["layers"][k] for p in traced])
    specific.update(raw["layers"])
    counts = {}
    for k in ("jobs", "stages", "tasks"):
        counts["spark." + k] = [m[k] for m in per_pass]
    for k in traced[0]["layers"]:
        if k.endswith(".jobs"):
            counts[k] = [p["layers"][k] for p in traced]
    for k in traced[0]["counts"]:
        counts[k] = [p["counts"][k] for p in passes]
    repeat = {k: {"exact": len(set(v)) == 1, "values": v} for k, v in counts.items()}
    return e2e, layer, specific, dict(notes, repeatability=repeat, per_pass=[
        {"index": p["index"], "loadavg": p["loadavg"], "steal_frac": p["steal_frac"],
         "spark.load": m["load"], "wall_s": p["wall_s"]}
        for p, m in zip(traced, per_pass)])


def span_check(raw):
    """Per traced pass: the self times of its spans sum to the pass wall."""
    spans = raw["spans"]
    st = stats.self_times(spans)
    worst = 0.0
    for p in raw["passes"]:
        if p["traced"]:
            tree = stats.subtree(spans, p["root_span"])
            root = next(s for s in tree if s["id"] == p["root_span"])
            gap = abs(sum(st[s["id"]] for s in tree) - (root["end_ns"] - root["start_ns"]))
            worst = max(worst, gap / 1e6)
    return {"name": "span self times sum to pass wall", "ok": worst < 1.0,
            "detail": f"largest gap {worst:.3f} ms"}, st


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    jars = spark_jars(root)
    classes = build(root, jars)
    global T_START
    T_START = time.monotonic()  # a first run's build has its own, longer allowance

    cfg = WORKLOADS[a.workload]
    out_dir = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(out_dir, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace, "seed": a.seed,
            "cores": len(os.sched_getaffinity(0)), "setups": SETUPS, "work": work,
            "out": os.path.join(work, "raw.json")}
    gen = None
    try:
        if "events" in cfg:
            csv = os.path.join(work, "events.csv")
            gen = clickgen.generate(a.seed, cfg["events"], csv)
            args.update(csv=csv, events=gen["events"], sessions=gen["sessions"])
            if "file_events" in cfg:
                args["file_events"] = cfg["file_events"]
        else:
            sf = os.path.join(HERE, cfg["sf"])
            queries = list(cfg["queries"])
            random.Random(a.seed).shuffle(queries)
            args.update(sf=sf, queries=",".join(queries))
        raw = run_jvm(root, classes, jars, work, args)
        checks = list(raw["checks"])
        if "dump" in raw:
            checks += oracle_checks(root, args["sf"], raw["dump"])
        if "stores" in raw:
            checks += store_checks(raw["stores"])
        if a.trace:
            sc, self_ns = span_check(raw)
            checks.append(sc)
        e2e, layer, specific, notes = summarize(raw, a.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed_checks = [c for c in checks if not c["ok"]]
    attempted = raw["ops_attempted"] + len(checks)
    failed = raw["ops_failed"] + len(failed_checks)
    if a.trace:
        spans = [dict(s, self_ns=self_ns[s["id"]]) for s in raw["spans"]]
        trace_file = os.path.join(out_dir, f"trace-{a.workload}-seed{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "per_layer": layer,
                       "workload_layers": specific, "notes": notes, "spans": spans}, f, indent=1)

    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    if gen:
        print("input: %d events, %d sessions, mix %s, sha256 %s" % (
            gen["events"], gen["sessions"],
            " ".join(f"{k}={v * 100:.2f}%" for k, v in gen["mix"].items()), gen["sha256"]))
    print(f"{a.workload}: {notes['passes']} passes, set-ups {notes['setups']} s, "
          f"{notes['op_samples']} op samples, op p{notes['op_tail_percentile']} "
          f"{notes['op_tail_ms']:.1f} ms (the highest percentile with 10 samples beyond it, "
          f"else the median)")
    print(f"  pass walls {notes['pass_walls']} s, loadavg at pass start {notes['loadavg']}, "
          f"host steal share {notes['steal']}")
    for k, unit in END_TO_END:
        print(f"  {k:<16} {e2e[k]:12.4f} {unit}")
    print(f"  {'failed_frac':<16} {failed / attempted:12.4f} ({failed} of {attempted})")
    if "events" in cfg:
        print(f"  {'events_per_s':<16} {cfg['events'] / e2e['pass_s']:12.1f} 1/s")
    if a.trace:
        for k, v in list(layer.items()) + list(specific.items()):
            print(f"  {k:<40} {v:14.4f}")
        for k, r in notes["repeatability"].items():
            print(f"  repeat {k:<36} {'exact' if r['exact'] else 'varies'} {r['values']}")
        print(f"  spans and per-layer values: {os.path.relpath(trace_file, root)}")

    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_mb", "MB"), ("_s", "s"), ("_ms", "ms")):
        if last.endswith(suffix):
            return unit
    return UNITS.get(last, "ratio")


if __name__ == "__main__":
    main()
