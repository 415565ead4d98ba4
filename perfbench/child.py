"""One benchmark sample: a fresh driver process, as a spark-submit batch job
pays JVM start, Python-worker spawn and code generation on every run.

    python3 perfbench/child.py <request.json>

The request names the workload, the input and work directories, whether to
trace, the parent's spawn timestamp and where to write the JSON result.
`setup_s` runs from that spawn to the start of the timed call; `wall_s` is
the timed call; `peak_pss_mb` is the peak summed resident memory (PSS) of
this process, its JVM and the JVM's Python workers during the timed call.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import procinfo  # noqa: E402


class Ctx:
    def __init__(self, spark, req: dict, tracer):
        self.spark = spark
        self.inputs_dir = req["inputs_dir"]
        self.workdir = req["workdir"]
        self.fingerprint = req["fingerprint"]
        self.tracer = tracer
        self._spawn_ts = req["spawn_ts"]
        self.call_start = self.setup_s = self.wall_s = self.peak_pss_mb = None

    @contextlib.contextmanager
    def timed(self):
        self.call_start = time.time()
        self.setup_s = self.call_start - self._spawn_ts
        with procinfo.PeakPss(os.getpid()) as mem:
            t0 = time.perf_counter()
            yield
            self.wall_s = time.perf_counter() - t0
        self.peak_pss_mb = mem.peak_mb

    def span(self, layer: str, call: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, call)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def main(req: dict) -> dict:
    from entity_matching_in_online_retail_spark.session import get_spark
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    cores = procinfo.cores()
    spark = get_spark(
        f"perfbench-{req['workload']}",
        cores=cores,
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # Traced spans read every job and stage back from the status
            # store; keep all of them so none is evicted mid-run. Set in
            # untraced runs too, so both run the same configuration.
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            # The heap is committed and touched at start: a JVM holds its
            # heap once it has grown, and letting G1 grow it adaptively made
            # peak memory swing +-15% from run to run for the same input.
            # What remains to vary is off-heap, metaspace and the Python side.
            "spark.driver.extraJavaOptions": (
                "-Dio.netty.tryReflectionSetAccessible=true -XX:-UsePerfData "
                f"-Xms{req['heap']} -XX:+AlwaysPreTouch -Djava.io.tmpdir={req['tmp_dir']}"
            ),
        },
    )
    try:
        tracer = Tracer(spark) if req["trace"] else None
        ctx = Ctx(spark, req, tracer)
        out = WORKLOADS[req["workload"]](ctx)
        out.update(setup_s=ctx.setup_s, wall_s=ctx.wall_s, peak_pss_mb=ctx.peak_pss_mb)
        if tracer is not None:
            tracer.collect()
            out["spans"] = tracer.spans
            out["trace_overhead_s"] = tracer.overhead_s
            out.setdefault("layers", {})["catalog.bytes_on_disk"] = _dir_bytes(ctx.workdir)
        return out
    finally:
        spark.stop()


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        request = json.load(f)
    try:
        result = {"ok": True, **main(request)}
    except Exception as e:  # any failure is a failed sample, reported by the parent
        result = {
            "ok": False,
            "error": f"{type(e).__name__}: {e}",
            "traceback": traceback.format_exc(),
        }
    with open(request["result"], "w") as f:
        json.dump(result, f)
