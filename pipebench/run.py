#!/usr/bin/env python3
"""Pipeline benchmark of graft: one command per workload.

    python3 pipebench/run.py --workload search_index --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. It builds the program from source
(pipebench/build.py, skipped when unchanged), generates the inputs
from the seed (pipebench/gen.py), runs the workload in one JVM on
Spark local[N] as a single closed-loop client (pipebench/src), checks
every output against an independent DuckDB reference
(pipebench/reference.py), keeps the run's artifacts under
.bench_build/runs/<run id>/ and prints the result as the last stdout
line. --trace 1 runs the traced variant and reports the per-layer
metrics instead of the end-to-end ones. See pipebench/README.md.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory

import build  # noqa: E402

ROOT = build.ROOT
RUNS = os.path.join(build.BUILD, "runs")
# Spark local[1]: the ops are small, so a second core makes none of
# them faster (measured on a 4-core box), while every busy thread more
# makes the run share cores with other tenants of a shared host
CORES = 1

# Input sizes per workload (see README.md). listing_store generates
# 4 + seconds rounds: a round takes several seconds, so the loop never
# runs out of staged input.
SCALE = {
    "search_index": {"deposits": 50_000, "row_group": 4096},
    "corpus_curation": {"docs": 5000, "vecs": 2000, "row_group": 1024},
    "listing_store": {"per_round": 500, "files_per_round": 6},
}

# work_cpu_s and p50_cpu_ms are CPU time, not wall time: on a shared
# host the wall time of whole runs moves by up to a quarter with the
# time the hypervisor steals and with co-tenants, which CPU time leaves
# out (see README.md); the wall times are in the summary line beside them
E2E = {"setup_s": "s", "peak_rss_mb": "MB", "work_cpu_s": "s", "p50_cpu_ms": "ms"}
# units of each workload's named metrics (summary line and result.json)
NAMED_UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "rebuild_s": "s", "incremental_s": "s",
    "lookup_p50_ms": "ms", "lookup_p90_ms": "ms", "corpus_docs_per_s": "docs/s",
    "ingest_rows_per_s": "rows/s", "commit_p50_ms": "ms", "snapshot_scan_s": "s",
    "filtered_read_p50_ms": "ms", "time_travel_s": "s", "change_feed_s": "s",
    "store_bytes_per_row": "B/row", "round_s": "s"}

OP_METRICS = {"build_s": "s", "plan_s": "s", "exec_s": "s",
              "build_jobs": "count", "exec_jobs": "count",
              "shuffle_bytes": "B", "task_cpu_s": "s"}
OPS = {
    "search_index": ["rebuild", "incremental", "lookup"],
    "listing_store": ["merge", "delete", "compact", "scan", "filtered_read",
                      "time_travel", "change_feed"],
    "corpus_curation": ["gopher", "perplexity", "lsh_dedup", "semdedup"],
}
EXTRA_LAYER = {
    "search_index": {"rebuild.tables_s": "s", "incremental.tables_s": "s",
                     "lookup.tables_s": "s", "rebuild.spill_bytes": "B",
                     "rebuild.core_util": "ratio"},
    "listing_store": {"scan.files_read_ratio": "ratio",
                      "filtered_read.files_read_ratio": "ratio",
                      "store.bytes_written_per_commit": "B",
                      "store.versions": "count", "store.dv_files": "count",
                      "stream.batch_p50_ms": "ms", "stream.state_rows": "count",
                      "stream.dup_drop_ratio": "ratio"},
    "corpus_curation": {"perplexity.core_util": "ratio"},
}


def layer_names(workloads) -> dict:
    out = {}
    for w in workloads:
        out.update({f"{o}.{m}": u for o in OPS[w] for m, u in OP_METRICS.items()})
        out.update(EXTRA_LAYER[w])
    out["trace.overhead_ratio"] = "ratio"
    return out


# the workloads BENCHMARK.json names; corpus_curation runs on request only
BENCHMARKED = ("search_index", "listing_store")
PER_LAYER = layer_names(BENCHMARKED)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, p):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def generate(workload: str, seed: int, seconds: float, data: str) -> dict:
    import gen
    sc = SCALE[workload]
    if workload == "search_index":
        return gen.gen_star(data, seed, sc["deposits"], sc["row_group"])
    if workload == "corpus_curation":
        return gen.gen_corpus(data, seed, sc["docs"], sc["vecs"], sc["row_group"])
    return gen.gen_listings(data, seed, 4 + int(seconds), sc["per_round"],
                            sc["files_per_round"])


def run_jvm(args, run_dir: str, data: str, budget_s: float) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # a fixed, pre-touched heap keeps the resident set the same from run
    # to run; the serial collector runs no GC threads beside the client,
    # and a small young generation spreads its pauses evenly over the
    # ops instead of landing long ones on a few; a fixed set of JIT
    # compiler threads lets the CPU metrics leave their time out
    # (Probe.workCpuS); -XX:-UsePerfData writes no hsperfdata file
    # outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xmn64m",
           "-Xss8m", "-XX:+AlwaysPreTouch", "-XX:+UseSerialGC",
           "-XX:-UseDynamicNumberOfCompilerThreads"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "graft.pipebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--out", run_dir, "--cores", str(CORES)]
    if args.workload == "search_index":
        cmd += ["--deposits", str(SCALE["search_index"]["deposits"])]
    with open(os.path.join(run_dir, "jvm.stdout"), "w") as out, \
            open(os.path.join(run_dir, "jvm.stderr"), "w") as err:
        p = subprocess.Popen(cmd, cwd=tmp, stdout=out, stderr=err)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"run: the JVM did not finish within {budget_s:.0f} s")
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        tail = open(os.path.join(run_dir, "jvm.stderr")).read()[-3000:]
        raise SystemExit(f"run: the JVM failed (exit {rc}):\n{tail}")
    with open(os.path.join(run_dir, "jvm.json")) as f:
        return json.load(f)


def check(workload: str, data: str, jvm: dict) -> list:
    import gen
    import reference
    if workload == "search_index":
        res = reference.check_search_index(data, jvm, gen.FIELD_GROUPS)
    elif workload == "corpus_curation":
        res = reference.check_corpus(data, jvm)
    else:
        res = reference.check_listing_store(data, jvm)
    # every timed op must reproduce the digest of the output that was
    # checked against the reference
    dump_digest = {d["key"]: d["digest"] for d in jvm["dumps"]}
    for o in jvm["ops"]:
        want = dump_digest.get(o["key"])
        if want is not None and o["digest"] != want:
            res.append((o["key"], False, f"digest {o['digest']} != checked output {want}"))
    return res


def e2e_metrics(workload: str, jvm: dict, gen_s: float) -> tuple:
    ops = [o for o in jvm["ops"] if o["ok"] and not o["traced"]]

    def walls(*names):
        return [o["wall"] for o in ops if o["op"] in names]

    def cpus(*names):
        return [o["cpu"] for o in ops if o["op"] in names]

    named = {"setup_s": gen_s + jvm["setup_s"], "peak_rss_mb": jvm["peak_rss_mb"]}
    if workload == "search_index":
        look = [w * 1e3 for w in walls("lookup")]
        named.update(rebuild_s=median(walls("rebuild")),
                     incremental_s=median(walls("incremental")),
                     lookup_p50_ms=median(look), lookup_p90_ms=pct(look, 90))
        work, lat = median(cpus("rebuild")), cpus("lookup")
    elif workload == "corpus_curation":
        passes = jvm["pass_walls"]
        named.update(corpus_docs_per_s=SCALE[workload]["docs"] / median(passes))
        work = median(jvm["pass_cpus"])
        lat = cpus("gopher", "perplexity", "lsh_dedup", "semdedup")
    else:
        drains = [o for o in ops if o["op"] == "drain"]
        lines = sum(int(o["rows"][0]) for o in drains)
        store = jvm["store"]
        named.update(
            ingest_rows_per_s=lines / sum(o["wall"] for o in drains),
            commit_p50_ms=median([w * 1e3 for w in walls("merge", "delete")]),
            snapshot_scan_s=median(walls("scan")),
            filtered_read_p50_ms=median([w * 1e3 for w in walls("filtered_read")]),
            time_travel_s=median(walls("time_travel")),
            change_feed_s=median(walls("change_feed")),
            store_bytes_per_row=store["bytes"] / max(1, store["live_rows"]))
        named.update(round_s=median([r["wall"] for r in jvm["rounds"] if r["timed"]]))
        work = median([r["cpu"] for r in jvm["rounds"] if r["timed"]])
        lat = cpus("merge", "delete")
    generic = {"setup_s": named["setup_s"], "peak_rss_mb": named["peak_rss_mb"],
               "work_cpu_s": work, "p50_cpu_ms": median(lat) * 1e3}
    named = {k: {"value": v, "unit": NAMED_UNITS[k]} for k, v in named.items()}
    named["samples"] = {}
    for o in ops:
        named["samples"][o["op"]] = named["samples"].get(o["op"], 0) + 1
    return generic, named


def layer_metrics(workload: str, jvm: dict) -> dict:
    traced = [o for o in jvm["ops"] if o["ok"] and o["traced"]]
    out = {k: 0.0 for k in (PER_LAYER if workload in BENCHMARKED
                            else layer_names([workload]))}

    def jobs(o, segs):
        return sum(o["counters"].get(s, {}).get("jobs", 0) for s in segs)

    def total(o, field):
        return sum(c.get(field, 0) for c in o["counters"].values())

    for op in OPS[workload]:
        xs = [o for o in traced if o["op"] == op]
        if not xs:
            continue
        out[f"{op}.build_s"] = median([o["segs"].get("build", 0.0) for o in xs])
        out[f"{op}.plan_s"] = median([o["segs"].get("plan", 0.0) for o in xs])
        out[f"{op}.exec_s"] = median([o["segs"].get("exec", 0.0) for o in xs])
        out[f"{op}.build_jobs"] = median([jobs(o, ("tables", "build")) for o in xs])
        out[f"{op}.exec_jobs"] = median([jobs(o, ("plan", "exec")) for o in xs])
        out[f"{op}.shuffle_bytes"] = median([total(o, "shuffle_bytes") for o in xs])
        out[f"{op}.task_cpu_s"] = median([total(o, "task_cpu_s") for o in xs])
        if f"{op}.tables_s" in out:
            out[f"{op}.tables_s"] = median([o["segs"].get("tables", 0.0) for o in xs])
        if f"{op}.spill_bytes" in out:
            out[f"{op}.spill_bytes"] = median([total(o, "spill_bytes") for o in xs])
        if f"{op}.core_util" in out:
            out[f"{op}.core_util"] = median([
                o["counters"].get("exec", {}).get("task_run_s", 0.0)
                / (o["segs"]["exec"] * jvm["cores"]) for o in xs])
        if f"{op}.files_read_ratio" in out:
            out[f"{op}.files_read_ratio"] = median(
                [o["extra"].get("files_read_ratio", 0.0) for o in xs])
    if workload == "listing_store":
        st = jvm["store"]
        # every version is one commit; files carried over are hard links
        out["store.bytes_written_per_commit"] = st["bytes"] / max(1, st["versions"])
        out["store.versions"] = st["versions"]
        out["store.dv_files"] = st["dv_files"]
        b = jvm["batches"]
        out["stream.batch_p50_ms"] = median([p["batchDuration"] for p in b])
        out["stream.state_rows"] = median([
            sum(s["numRowsTotal"] for s in p["stateOperators"]) for p in b])
        rows_in = sum(p["numInputRows"] for p in b)
        rows_out = sum(sum(s["numRowsUpdated"] for s in p["stateOperators"]) for p in b)
        out["stream.dup_drop_ratio"] = 1 - rows_out / rows_in if rows_in else 0.0
    # tracing overhead: per op kind, median traced wall over median
    # untraced wall, summed over the kinds timed both ways
    kinds = {o["op"] for o in traced}
    plain = [o for o in jvm["ops"] if o["ok"] and not o["traced"]]
    num = den = 0.0
    for k in kinds:
        a = [o["wall"] for o in traced if o["op"] == k]
        b = [o["wall"] for o in plain if o["op"] == k]
        if a and b:
            num += median(a)
            den += median(b)
    out["trace.overhead_ratio"] = num / den if den else 0.0
    return out


def attribution(jvm: dict) -> dict:
    """Per op kind: median share of the op wall covered by its
    tables + build + plan + exec segments (traced ops)."""
    cov = {}
    for o in jvm["ops"]:
        if o["traced"] and o["ok"] and o["wall"] > 0:
            s = sum(o["segs"].get(k, 0.0) for k in ("tables", "build", "plan", "exec"))
            cov.setdefault(o["op"], []).append(s / o["wall"])
    return {k: median(v) for k, v in cov.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a caller's SIGTERM (say, a timeout) unwinds like an error, so the
    # JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run: terminated"))
    t_start = time.time()
    build.build()

    run_id = (time.strftime("%Y%m%dT%H%M%S", time.gmtime())
              + f"-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    run_dir = os.path.join(RUNS, run_id)
    os.makedirs(run_dir)
    data = os.path.join(run_dir, "data")
    t0 = time.time()
    sizes = generate(args.workload, args.seed, args.seconds, data)
    gen_s = time.time() - t0

    budget = 160 - (time.time() - t_start)  # leaves time for the checks
    jvm = run_jvm(args, run_dir, data, budget)
    checks = check(args.workload, data, jvm)
    failed_keys = {k for k, ok, _ in checks if not ok}
    timed = jvm["ops"]
    failed = [o for o in timed if not o["ok"] or o["key"] in failed_keys]
    correct = not failed and not failed_keys
    if correct:
        generic, named = e2e_metrics(args.workload, jvm, gen_s)
        layers = layer_metrics(args.workload, jvm) if args.trace else {}
    else:
        generic, named, layers = {}, {}, {}

    artifact = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": CORES,
        "input_sizes": sizes, "generate_s": gen_s,
        "jvm_setup_s": jvm["setup_s"], "measure_s": jvm["measure_s"],
        "cycles": jvm["cycles"], "master": jvm["master"],
        "evidence": jvm["evidence"],
        "metrics": generic, "workload_metrics": named, "per_layer": layers,
        "attribution_coverage": attribution(jvm),
        "ops_attempted": len(timed), "ops_failed": len(failed),
        "failed_checks": [c for c in checks if not c[1]][:50],
        "checks_passed": sum(1 for c in checks if c[1]),
        "op_errors": [o["error"] for o in timed if not o["ok"]][:20],
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    if correct:  # a failed run keeps its inputs and outputs for inspection
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "dumps"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    if not correct:
        for c in artifact["failed_checks"][:5]:
            print(f"check failed: {c}", file=sys.stderr)
        for e in artifact["op_errors"][:5]:
            print(f"op failed: {e}", file=sys.stderr)
    units = dict(E2E) if not args.trace else (
        PER_LAYER if args.workload in BENCHMARKED else layer_names([args.workload]))
    vals = generic if not args.trace else layers
    print(json.dumps({"run_id": run_id, "workload_metrics": named,
                      "evidence": jvm["evidence"],
                      "ops_attempted": len(timed), "ops_failed": len(failed)}))
    print(json.dumps({
        "correct": correct, "attempted": len(timed), "failed": len(failed),
        "metrics": {k: {"value": vals[k], "unit": u}
                    for k, u in units.items() if k in vals}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
