"""The entity-resolution benchmark.

    python3 perfbench/run.py --workload resolve_then_append --seed 42 --seconds 30 --trace 0
    python3 perfbench/run.py --smoke

Workloads (both on the corpus `fixtures.generate_corpus(seed=...)` makes
at SIZE; see workloads.py):

    resolve_then_append  the paper's path, where blocking, score and train do
                         most of the work, then the O(increment) append that
                         reads and rewrites the stores it left
    curate_funnel        no ER layer runs; text statistics, quality, dedup
                         and connected components on a near-dup graph do

Load model: a closed loop with one client. Each sample is one fresh driver
process (child.py) with a fresh workdir, run one at a time; samples are
taken back to back while the next one is expected to end within
--seconds, and at least one is always taken. Metrics are medians over the
samples: setup_s from process spawn to the timed call, wall_s of the timed
call, records_per_s as input pages (documents) per second of wall_s, and
peak_pss_mb of the driver's process tree during the call. A sample that
fails a correctness gate makes the run incorrect and reports no metric.

--trace 0 prints the end-to-end metrics. --trace 1 takes one traced sample
and prints its per-layer metrics, among them the time the span bookkeeping
added to the timed call; its spans are written to .bench_out/ when the run
ends.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, procinfo  # noqa: E402

SIZE = inputs.Size(entities=1000, hot_entities=3, hot_size=120, max_pages=6500)
SMOKE_SIZE = inputs.Size(entities=200, hot_entities=1, hot_size=30, max_pages=1200)
WORKLOADS = ("resolve_then_append", "curate_funnel")
CHILD_TIMEOUT_S = 170
# Driver JVM heap, set as both -Xmx (SPARK_DRIVER_MEM) and a pre-touched
# -Xms (child.py). The workloads' live data is a few hundred MB; 1.5 GB
# leaves room for broadcasts and GC while staying far below the RAM of any
# box that runs Spark.
DRIVER_HEAP = "1536m"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "records_per_s": "1/s",
    "peak_pss_mb": "MB",
}
LAYERS = ("normalize", "vectors", "blocking", "train", "score", "cluster", "append", "curate")
LAYER_COUNTERS = {
    "wall_s": "s",
    "cpu_s": "s",
    "run_s": "s",
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "rows_out": "count",
}
LAYER_EXTRAS = {
    "normalize.pages_in": "count",
    "blocking.candidate_pairs": "count",
    "blocking.pairs_per_record": "ratio",
    "blocking.pair_completeness": "ratio",
    "blocking.pair_quality": "ratio",
    "score.pairs_per_s": "1/s",
    "score.gate_pass_ratio": "ratio",
    "cluster.match_edges": "count",
    "cluster.clusters": "count",
    "append.new_records": "count",
    "append.merges": "count",
    "append.input_bytes": "B",
    "curate.kept_docs": "count",
    "catalog.bytes_on_disk": "B",
    "trace.overhead_s": "s",
}
PER_LAYER = {
    **{f"{l}.{c}": u for l in LAYERS for c, u in LAYER_COUNTERS.items()},
    **LAYER_EXTRAS,
}


def _child_env(out_dir: str) -> dict:
    local = os.path.join(out_dir, "spark-local")
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_DRIVER_MEM=DRIVER_HEAP,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
    )
    return env


def _sample(workload: str, inp: str, fp: dict, trace: bool, out_dir: str, n: int) -> dict:
    """Run one child process; returns its result (ok False on any failure)."""
    tag = f"{workload}-{os.getpid()}-{n}"
    workdir = os.path.join(out_dir, "work", tag)
    req_path = os.path.join(out_dir, f"{tag}.request.json")
    log_path = os.path.join(out_dir, f"{tag}.log")
    req = {
        "workload": workload,
        "inputs_dir": inp,
        "fingerprint": fp,
        "workdir": workdir,
        "trace": trace,
        "tmp_dir": os.path.join(out_dir, "tmp"),
        "heap": DRIVER_HEAP,
        "result": os.path.join(out_dir, f"{tag}.result.json"),
    }
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    env = _child_env(out_dir)
    req["spawn_ts"] = time.time()
    with open(req_path, "w") as f:
        json.dump(req, f)
    started = time.perf_counter()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "child.py"), req_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # The JVM and its Python workers share the child's session;
            # take the whole group down and wait for it.
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    elapsed = time.perf_counter() - started
    try:
        with open(req["result"]) as f:
            res = json.load(f)
    except (OSError, json.JSONDecodeError):
        with open(log_path) as f:
            tail = f.read()[-2000:]
        res = {"ok": False, "error": f"child exited {proc.returncode}", "traceback": tail}
    res["elapsed_s"] = elapsed
    if not res["ok"]:
        print(f"[perfbench] {tag} failed: {res['error']}\n{res.get('traceback', '')}",
              file=sys.stderr)
    for path in (req_path, req["result"], log_path):
        if os.path.exists(path):
            os.remove(path)
    shutil.rmtree(workdir, ignore_errors=True)
    return res


def _end_to_end(ok: list[dict]) -> dict:
    med = lambda k: statistics.median(r[k] for r in ok)  # noqa: E731
    vals = {
        "setup_s": med("setup_s"),
        "wall_s": med("wall_s"),
        "records_per_s": statistics.median(r["records"] / r["wall_s"] for r in ok),
        "peak_pss_mb": med("peak_pss_mb"),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def _per_layer(traced: dict) -> dict:
    vals = dict.fromkeys(PER_LAYER, 0)
    for sp in traced["spans"]:
        for c in LAYER_COUNTERS:
            src = sp["wall_s"] if c == "wall_s" else sp["counters"][c]
            vals[f"{sp['layer']}.{c}"] += src
        if sp["layer"] == "append":
            vals["append.input_bytes"] += sp["counters"]["input_bytes"]
    vals.update(traced.get("layers", {}))
    if vals["blocking.candidate_pairs"]:
        vals["score.pairs_per_s"] = vals["blocking.candidate_pairs"] / vals["score.wall_s"]
    vals["trace.overhead_s"] = traced["trace_overhead_s"]
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in vals.items()}


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: inputs.Size) -> tuple[dict, list[dict]]:
    """(result line, samples) of one benchmark run."""
    out_dir = os.path.join(ROOT, ".bench_out")
    host_before = procinfo.host_facts()
    inp, fp = inputs.ensure(ROOT, size, seed)
    want = inputs.pinned(size, seed)
    if want is not None and want != fp:
        raise SystemExit(
            f"inputs for {size.key} seed {seed} changed: {fp} != pinned {want}; "
            "re-pin perfbench/inputs.json only if the change is intended"
        )
    samples: list[dict] = []
    t_start = time.perf_counter()
    while True:
        samples.append(_sample(workload, inp, fp, trace, out_dir, len(samples)))
        spent = time.perf_counter() - t_start
        if trace or spent + samples[-1]["elapsed_s"] > seconds:
            break
    ok = [s for s in samples if s["ok"]]
    correct = len(ok) == len(samples)
    if not correct:
        metrics = {}
    elif trace:
        metrics = _per_layer(samples[0])
        with open(os.path.join(out_dir, f"trace-{workload}-seed{seed}.json"), "w") as f:
            json.dump(samples[0]["spans"], f, indent=1)
    else:
        metrics = _end_to_end(ok)
    detail = {
        "workload": workload,
        "seed": seed,
        "size": size.key,
        "inputs": fp,
        "failed_ratio": (len(samples) - len(ok)) / len(samples),
        "host_before": host_before,
        "host_after": procinfo.host_facts(),
        "samples": [
            {k: s.get(k) for k in ("ok", "error", "setup_s", "wall_s", "peak_pss_mb",
                                   "records", "en_records", "pair_f1", "stages",
                                   "elapsed_s")}
            for s in samples
        ],
    }
    print(json.dumps(detail))
    result = {"correct": correct, "attempted": len(samples),
              "failed": len(samples) - len(ok), "metrics": metrics}
    return result, samples


def smoke() -> int:
    """Every workload at a tiny size, untraced then traced: each run must
    pass its gates and print every metric BENCHMARK.json names for its
    mode, with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, want in ((False, want_e2e), (True, want_layer)):
            res, _ = run(w, 42, 0, trace, SMOKE_SIZE)
            print(json.dumps(res))
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if not res["correct"]:
                problems.append(f"{w} trace={int(trace)}: incorrect")
            elif got != want:
                problems.append(
                    f"{w} trace={int(trace)}: printed {sorted(got.items())}, "
                    f"BENCHMARK.json names {sorted(want.items())}"
                )
    print(json.dumps({"smoke_ok": not problems, "problems": problems}))
    return 0 if not problems else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny all-workload self-test")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    res, _ = run(args.workload, args.seed, args.seconds, bool(args.trace), SIZE)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
