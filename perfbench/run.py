#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

run from the repository root. It builds the program and the harness
from source (``perfbench/build.py``), generates the workload's inputs
from the seed (``perfbench/gen.py``), runs one Spark JVM at
``local[4]`` (``perfbench/scala/perfbench/Main.scala``), checks the
outputs, prints every metric as ``name value unit`` at column 0 and,
last, one JSON line with ``correct``, ``attempted``, ``failed`` and
``metrics``. Untraced runs report the end-to-end metrics, traced runs
the per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

XMX = "3g"
TIME_LIMIT_S = 170.0

# The catalogue: one query or more of eleven of the twelve query
# families, four nightly shapes (q07 window dedup, q08 top-k, q23 MERGE
# upsert, q42 citation explode+count) and q150, whose constructor lands
# Materialize boundaries. The pipeline family is left to the DAG, which
# calls the same SourceMatcher and SourcesApi code; its cheapest query
# (q72, about 1.1 s) would lengthen every run. A pass takes about 6 s
# on 4 CPUs at sf0.01.
CATALOG = [
    "q07_window_dedup_latest_order", "q08_window_topk_orders",
    "q23_merge_upsert_stats", "q42_citation_counts_by_year",
    "q26_id_minting", "q58_sources_legacy_snapshot", "q62_merge_key_normalize",
    "q150_sft_pack_tail", "q79_aer_author_embeddings",
    "q113_authors_snapshot_doc", "q68_award_norm_keys",
    "q132_sparse_award_mints", "q76_award_topics",
]

WORKLOADS = {
    # the catalogue times three passes at least, so that each query's
    # median drops one slow pass; the DAG's one measured pass is its cold
    # night
    "catalog-sf0.01": {"kind": "catalog", "sf": 0.01, "ops": CATALOG, "min_passes": 3},
    "nightly-dag": {"kind": "dag", "works": 2500, "min_passes": 1},
}
FIXTURE_SEED = 42   # the query workloads read fixed tables; --seed orders the queries


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(b, f))
               for b, _, fs in os.walk(path) for f in fs)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else (xs or [0.0])[0]


def generate(spec, seed, data):
    """Write the workload's inputs; return (records, bytes, truth)."""
    if spec["kind"] == "dag":
        n = gen.crossref(data, seed, spec["works"])
        with open(os.path.join(data, "truth.json")) as f:
            truth = json.load(f)
        return n, truth["raw_bytes"], truth
    n = gen.tables(data, FIXTURE_SEED, spec["sf"])
    return n, dir_bytes(data), None


def run_jvm(cp, run_dir, argv, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + build.JAVA_OPENS +
           ["-cp", cp, "perfbench.Main"] + argv)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def dag_check(outcome, truth, guard_failures):
    """Per-layer row conservation, unique snapshot ids, green guardrails.
    Returns {layer: reason} for the layers that failed."""
    want = {
        "ingest": [("ingest.rows_out", truth["parsed"])],
        "resolve": [("resolve.rows_out", truth["parsed"])],
        "works": [("works.rows_out", truth["works"]),
                  ("works.adopted_rows", truth["adopted_works"])],
        "authors": [("authors.matched_rows", truth["authorships"]),
                    ("authors.rows_out", truth["works_with_authors"])],
        "entities": [("entities.rows_out", truth["sources"]),
                     ("entities.enriched_rows", truth["works"])],
        "serve": [("serve.rows_out", truth["works"]),
                  ("serve.distinct_ids", truth["works"]),
                  ("serve.export_lines", truth["works"])],
    }
    bad = {}
    for layer, pairs in want.items():
        for key, expect in pairs:
            got = outcome.get(key)
            if got != expect:
                bad[layer] = f"{key}={got} expected {expect}"
                break
    if guard_failures:
        bad["serve"] = "guardrails failed: " + ",".join(guard_failures)
    return bad


def main():
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_begin = time.time()
    deadline = t_begin + TIME_LIMIT_S
    spec = WORKLOADS[args.workload]
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        declared = json.load(f)

    cp = build.build(".")
    run_dir = os.path.abspath(os.path.join(
        build.BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    try:
        t = time.time()
        records, in_bytes, truth = generate(spec, args.seed, data)
        gen_s = time.time() - t
        argv = ["--workload", spec["kind"], "--data", data,
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--min-passes", str(spec["min_passes"]),
                "--run", run_dir, "--seed", str(args.seed),
                "--out", os.path.join(run_dir, "result.json"),
                "--check", os.path.join(run_dir, "check")]
        if truth:
            argv += ["--churn-ceiling", str(truth["churn_ceiling"])]
        else:
            ops = list(spec["ops"])
            random.Random(args.seed).shuffle(ops)
            argv += ["--ops", ",".join(ops)]
        rc = run_jvm(cp, run_dir, argv, deadline)
        if rc != 0:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}")
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        if args.trace:
            traces = os.path.join(build.BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "result.json.spans.json"),
                        os.path.join(traces, f"{args.workload}-{args.seed}.spans.json"))
        report(args, spec, declared, res, records, in_bytes, gen_s, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, spec, declared, res, records, in_bytes, gen_s, run_dir):
    passes = res["passes"]
    execs = [o for p in passes for o in p["ops"]]
    # correctness, outside the timed region
    if spec["kind"] == "dag":
        with open(os.path.join(run_dir, "data", "truth.json")) as f:
            truth = json.load(f)
        wrong = dag_check(res["outcome"], truth, res["guard_failures"])
    else:
        wrong = {q: why for q, why in oracle.check(
            os.path.join(run_dir, "data"), os.path.join(run_dir, "check")).items() if why}
    failures = dict(res["failures"])
    failures.update(wrong)
    failed = sum(1 for o in execs if not o["ok"] or o["name"] in failures)
    attempted = len(execs)

    by_op = {}
    for o in execs:
        by_op.setdefault(o["name"], []).append(o)
    # a pass's wall and CPU as the sum over its operations of each
    # operation's median across the passes: one stalled execution does
    # not move the figure, and with one pass it is the pass itself
    wall = sum(median([o["s"] for o in xs]) for xs in by_op.values())
    op_times = [o["s"] for o in execs]
    e2e = {
        "setup_s": res["setup_s"],
        "cpu_s": sum(median([o["cpu_s"] for o in xs]) for xs in by_op.values()),
        "write_amp": median([p["landed_bytes"] for p in passes]) / in_bytes,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layers = dict(res["layers"])
    layers["gen.wall_s"] = gen_s
    layers["wall_s"] = wall
    layers["op_p50_s"] = median(op_times)
    layers["op_p90_s"] = p90(op_times)
    layers["records_per_s"] = records / wall
    layers["error_rate"] = failed / attempted
    for k, v in res["outcome"].items():
        if k.endswith("_ratio") or k.endswith(".rows_out"):
            layers[k] = v

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"nproc {os.cpu_count()} jvm_cpus {res['cpus']} xmx_mb {res['xmx_mb']}")
    print(f"loadavg_start {res['loadavg_start']}")
    print(f"loadavg_end {res['loadavg_end']}")
    print(f"cpu_steal_share {res['steal_share']:.4f} pass_wall_s {wall!r}")
    print(f"passes {len(passes)} ops_per_pass {len(passes[0]['ops'])} "
          f"op_samples {len(execs)}")
    print(f"setup jvm_start_s {res['jvm_start_s']:.3f} session_s {res['session_s']:.3f} "
          f"scan_s {res['scan_s']:.3f} warm_pass_s {res['warm_s']:.3f}")
    print(f"phases gen_s {gen_s:.3f} measured_s {res['run_wall_s']:.3f} "
          f"check_s {res['check_s']:.3f} jvm_s {res['jvm_uptime_s']:.3f}")
    for name, xs in by_op.items():
        print(f"op {name} median_s {median([o['s'] for o in xs]):.4f} runs {len(xs)}")
    for q, why in sorted(failures.items()):
        print(f"failure {q}: {why}")
    section = "per_layer" if args.trace else "end_to_end"
    source = layers if args.trace else e2e
    metrics = {}
    for m in declared[section]:
        v = float(source.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']} {v!r} {m['unit']}")
    if args.trace:
        extra = {k: v for k, v in layers.items() if k not in metrics}
        for k in sorted(extra):
            print(f"{k} {extra[k]!r}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
