#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload, timed, checked.

    python3 perfbench/run.py --workload frame_analytics --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine and the
benchmark's Scala side into .bench_build/ (see build.py). Each run then:

1. set-up, repeated in ROUNDS rounds: generate the workload's inputs
   from --seed (every round must write byte-identical files) and start
   a Spark session on local[N]; the first round also pays JVM start.
   Then the warm-up (JIT, codegen), not timed: one pass of the frame
   mix, or the ingest of the base corpus;
2. runs ops in a closed loop with one client for --seconds and at least
   MIN_OPS ops, ending on a whole pass of the workload's mix;
3. checks every output (DuckDB oracle, one-shot ingest twin, duplicate,
   recall and quality checks); a wrong or failed op counts in `failed`;
4. prints a provenance line, a summary line with sample counts and the
   error rate, and as the last line one JSON object with the end-to-end
   metrics (--trace 0) or the per-layer metrics (--trace 1).

The traced run alternates untraced and traced units of work, records a
span around every public call into the engine, attributes Spark jobs to
spans through a thread-local property, and writes the spans to
.bench_build/trace/<workload>-seed<seed>-spans.json. Layers that only
build lazy frames (the Gopher gates, exact dedup) are also evaluated
once on their own per traced op, in probe spans outside the op's time.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402

ROUNDS = 3
CORES = min(4, os.cpu_count() or 1)
HEAP = "2g"
# the engine run's time limit: this much for set-up, warm-up and checks,
# plus twice the measured time
JVM_SETUP_S = 120

# Input sizes; BENCHMARK.json states them in each workload's `why`.
FRAME_SF = 0.05
INGEST_BATCH_DOCS = 250
# the base corpus, in batches, ingested in the warm-up
INGEST_BASE_BATCHES = 2
# Ops a run times at least: two passes of the frame mix; three ingest
# batches (each takes ~6 s on a 4-core host, and 4 + 22 runs per workload
# must fit the benchmark's time budget).
MIN_OPS = {"frame_analytics": 20, "ingest_incremental": 3}
# Ingest batches after the base: the traced run settles for one op, then
# times whole groups of four (untraced, traced, traced, untraced).
INGEST_BATCHES = 1 + 4 * -(-MIN_OPS["ingest_incremental"] // 4)
# Planted near duplicates whose source is committed must be dropped at
# least this often (MinHash with 8 bands of 4 rows finds a Jaccard-0.9
# pair with probability above 0.99).
RECALL_FLOOR = 0.9

WORKLOADS = ["frame_analytics", "ingest_incremental"]

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s"}

LAYERS = ["queries.CoreQueries", "queries.JoinQueries", "queries.AsofQueries",
          "queries.ResampleQueries", "queries.WindowQueries",
          "queries.SelectionQueries", "queries.GroupByQueries",
          "queries.ExtrasQueries", "llm.TextStatsOps", "llm.TextDedupOps",
          "llm.ClassifierOps", "llm.IngestCommit", "sink", "unattributed"]
LAYER_METRICS = {"build_ms": "ms", "plan_ms": "ms", "exec_ms": "ms",
                 "jobs": "count", "task_cpu_ms": "ms", "gc_ms": "ms",
                 "sched_delay_ms": "ms", "shuffle_write_mb": "MB"}
EXTRA_LAYER = {"llm.TextStatsOps.keep_ratio": "ratio",
               "llm.TextDedupOps.pairs_per_doc": "ratio",
               "llm.IngestCommit.bytes_written_mb": "MB",
               "llm.IngestCommit.files_written": "count",
               "llm.IngestCommit.storage_bytes_per_input_byte": "ratio",
               "jvm.heap_peak_mb": "MB",
               "uncovered_pct": "%",
               "tracing_overhead_pct": "%"}


def per_layer_units():
    """Every per-layer metric name with its unit. `unattributed` has no
    span of its own, so no build_ms; `uncovered_pct` is its share."""
    out = {f"{layer}.{m}": u for layer in LAYERS
           for m, u in LAYER_METRICS.items()
           if not (layer == "unattributed" and m == "build_ms")}
    out.update(EXTRA_LAYER)
    return out


JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def generate(workload, out_dir, seed):
    if workload == "frame_analytics":
        return gen.frame_tables(out_dir, seed, FRAME_SF)
    return gen.ingest_inputs(out_dir, seed, INGEST_BATCHES,
                             INGEST_BATCH_DOCS, INGEST_BASE_BATCHES)


def set_up_inputs(workload, work, seed):
    """Generates the inputs once per round; returns (dir, seconds, sizes)."""
    secs, digests, sizes = [], set(), None
    for r in range(ROUNDS):
        d = os.path.join(work, f"inputs_r{r}")
        t0 = time.perf_counter()
        sizes = generate(workload, d, seed)
        secs.append(time.perf_counter() - t0)
        digests.add(gen.tree_digest(d))
        if r:
            shutil.rmtree(d)
    if len(digests) != 1:
        raise RuntimeError("input generation is not deterministic")
    return os.path.join(work, "inputs_r0"), secs, sizes


def run_jvm(cp, workload, inputs, work, seconds, trace):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    timeout = JVM_SETUP_S + 2 * seconds
    cmd = [build.java(), f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           *JVM_OPENS, "-cp", cp, "perfbench.Main",
           "--workload", workload, "--inputs", inputs, "--work", work,
           "--seconds", str(seconds), "--min-ops", str(MIN_OPS[workload]),
           "--trace", str(trace),
           "--rounds", str(ROUNDS), "--cores", str(CORES), "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"engine run exceeded {timeout} s")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"engine run failed ({code}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def normalize(text):
    """The engine's dedup normalization, restated independently."""
    t = re.sub(r"[^a-z0-9 ]", "", text.lower())
    return re.sub(r" +", " ", t).strip()


def check_outputs(workload, res, inputs, work):
    """Returns (set of wrong op indices, list of problems)."""
    ops = res["ops"]
    checks = res["checks"]
    problems = []
    if workload == "frame_analytics":
        import oracle  # needs the repository's tools/check.py
        diffs = oracle.check(inputs, checks["oracle_dir"],
                             checks["oracle_sql"], os.path.join(work, "tmp"))
        bad = {n for n, d in diffs.items() if d}
        problems += [f"{n}: {diffs[n]}" for n in sorted(bad)]
        return {o["i"] for o in ops if o["name"] in bad}, problems

    import pyarrow.parquet as pq
    with open(os.path.join(inputs, "manifest.json")) as f:
        manifest = json.load(f)
    table = pq.read_table(checks["committed_dir"])
    twin = pq.read_table(checks["twin_dir"])
    rows = sorted(zip(table.column("doc_id").to_pylist(),
                      table.column("text").to_pylist()))
    if rows != sorted(zip(twin.column("doc_id").to_pylist(),
                          twin.column("text").to_pylist())):
        problems.append("committed corpus differs from its one-shot twin")
    if checks["hwm"] != checks["last_batch"]:
        problems.append(f"high-water-mark {checks['hwm']} != last batch "
                        f"{checks['last_batch']}")
    ids = {i for i, _ in rows}
    norm = [normalize(t) for _, t in rows]
    if len(set(norm)) != len(norm):
        problems.append("two committed documents share normalized text")
    # the base file and one file per op
    offered = manifest["file_docs"][len(ops)]
    near = [(c, s) for c, s in manifest["near_dups"] if s in ids and c < offered]
    recall = sum(c not in ids for c, _ in near) / max(1, len(near))
    if recall < RECALL_FLOOR:
        problems.append(f"near-duplicate recall {recall:.3f} < {RECALL_FLOOR}")
    if any(d in ids for d in manifest["low_quality"]):
        problems.append("a planted low-quality document was committed")
    # for the traced run's storage ratio
    checks["input_text_bytes"] = sum(
        manifest["file_text_bytes"][:len(ops) + 1])
    return ({o["i"] for o in ops} if problems else set()), problems


def tracing_overhead_pct(ops, unit):
    """Traced against untraced wall time, per whole unit of work, with
    the probes' time taken out of the traced units. The traced run's first
    unit only settles the JIT and is left out; the rest run untraced,
    traced, traced, untraced."""
    walls = {True: [], False: []}
    for k in range(unit, len(ops) - unit + 1, unit):
        part = ops[k:k + unit]
        walls[part[0]["traced"]].append(
            sum(o["ms"] - o.get("probe_ms", 0.0) for o in part))
    if not walls[True] or not walls[False]:
        return 0.0
    return 100.0 * (statistics.mean(walls[True]) /
                    statistics.mean(walls[False]) - 1.0)


def setup_rounds(res, gen_secs):
    """Seconds of each set-up round: generation plus session start."""
    return [g + s / 1000.0 for g, s in zip(gen_secs, res["session_ms"])]


def end_to_end(res, gen_secs):
    ms = [o["ms"] for o in res["ops"]]
    setups = setup_rounds(res, gen_secs)
    return {
        "setup_s": (statistics.median(setups) + res["warm_up_ms"] / 1000.0,
                    len(setups)),
        "op_p50_ms": (statistics.median(ms), len(ms)),
        "ops_per_s": (1000.0 * len(ms) / sum(ms), len(ms)),
    }


def per_layer(workload, res):
    checks = res["checks"]
    m = {k: 0.0 for k in per_layer_units()}
    m.update({k: v for k, v in res["layers"].items() if k in m})
    if workload == "ingest_incremental":
        n_batches = len(res["ops"]) + 1  # the base corpus is batch 0
        c = res["counts"]
        m["llm.TextStatsOps.keep_ratio"] = c["kept"] / c["batch"]
        m["llm.TextDedupOps.pairs_per_doc"] = c["candidate_pairs"] / c["exact"]
        m["llm.IngestCommit.bytes_written_mb"] = \
            checks["bytes_written"] / 1048576.0 / n_batches
        m["llm.IngestCommit.files_written"] = \
            checks["files_written"] / n_batches
        m["llm.IngestCommit.storage_bytes_per_input_byte"] = \
            checks["bytes_written"] / checks["input_text_bytes"]
    m["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    m["tracing_overhead_pct"] = tracing_overhead_pct(res["ops"], res["unit"])
    traced = sum(o["traced"] for o in res["ops"])
    return {k: (v, traced) for k, v in m.items()}


def record(values, units, attempted, failed, problems):
    """The last line of a run: every metric of `units` with its value."""
    return {"correct": not problems and not failed,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k][0], "unit": units[k]}
                        for k in units}}


def provenance(args, res, source_digest, load0):
    commit = None
    if os.path.isdir(".git"):
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True)
        commit = r.stdout.strip() or None
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": os.cpu_count(), "master": res["master"],
            "max_heap_mb": round(res["max_heap_mb"], 1),
            "spark": res["spark_version"],
            "loadavg_start": load0, "loadavg_end": list(os.getloadavg()),
            "git_commit": commit, "source_sha256": source_digest}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    load0 = list(os.getloadavg())
    try:
        cp, digest = build.ensure_built()
    except build.BuildError as e:
        log(str(e))
        return 2

    work = os.path.join(build.BUILD, "work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, gen_secs, sizes = set_up_inputs(args.workload, work,
                                                args.seed)
        res = run_jvm(cp, args.workload, inputs, work, args.seconds,
                      args.trace)
        wrong, problems = check_outputs(args.workload, res, inputs, work)
        if args.trace:
            spans_dir = os.path.join(build.BUILD, "trace")
            os.makedirs(spans_dir, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(
                spans_dir, f"{args.workload}-seed{args.seed}-spans.json"))
    except Exception as e:  # noqa: BLE001 - report and fail the run
        log(f"run failed: {e}")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if res["inputs_exhausted"]:
        log(f"the loop ran out of inputs after {len(res['ops'])} ops, "
            f"before --seconds {args.seconds} had passed")
    failed = {o["i"] for o in res["ops"] if not o["ok"]} | wrong
    for p in problems:
        log(f"check failed: {p}")
    if args.trace:
        values, units = per_layer(args.workload, res), per_layer_units()
    else:
        values, units = end_to_end(res, gen_secs), END_TO_END
    print(json.dumps({"provenance": provenance(args, res, digest, load0),
                      "inputs": sizes}))
    print(json.dumps({
        "samples": ({"traced_ops": sum(o["traced"] for o in res["ops"])}
                    if args.trace else {k: n for k, (_, n) in values.items()}),
        "op_ms": [round(o["ms"], 1) for o in res["ops"]],
        "setup_rounds_s": setup_rounds(res, gen_secs),
        "warm_up_s": res["warm_up_ms"] / 1000.0,
        "engine_check_s": res["check_ms"] / 1000.0,
        "error_rate": len(failed) / len(res["ops"]),
        "problems": problems}))
    print(json.dumps(record(values, units, len(res["ops"]), len(failed),
                            problems)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
