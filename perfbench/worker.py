"""One benchmark process: either build a workload's fixture
(``--role prepare``) or measure the workload (``--role measure``).  The
measuring process times set-up from the launch time the parent passes in
to its first timed call: imports, the engine's Spark session, index opens.
The result goes to ``--out`` as JSON.

Run through ``perfbench/run.py``, which sets the environment.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", choices=("prepare", "measure"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--launched-at", type=float, default=0.0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    sys.path[:0] = [ROOT, HERE]

    from pyspark import SparkContext

    from fixtures import source_fingerprint
    from lucene_solr_old_spark.session import get_spark
    from stats import Ledger
    from tracing import Tracer
    from workloads import WORKLOADS, Run, fixtures_for, prepare

    wl = WORKLOADS[a.workload]
    fxs = fixtures_for(wl, a.work, a.seed, source_fingerprint(ROOT))
    if a.role == "prepare":
        try:
            prepare(wl, lambda: get_spark("perfbench-prepare"), fxs)
        finally:
            _stop_gateway(SparkContext._gateway)
        with open(a.out, "w") as f:
            json.dump({}, f)
        return 0

    tracer = Tracer()
    with tracer.span("session.get_spark") as sp_session:
        spark = get_spark("perfbench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    if a.trace:
        tracer.sc = sc
    ledger = Ledger()
    result = {}
    spans, unattributed = [], 0
    try:
        run = Run(spark, tracer, ledger, fxs, a.seed, a.seconds, a.work)
        wl.open(run)
        result["setup_s"] = time.time() - a.launched_at
        t_measure = tracer.now()
        result["detail"] = wl.measure(run)
        result["measure_s"] = tracer.now() - t_measure
        spans = tracer.since(t_measure)
        if a.trace:
            unattributed = tracer.count_jobs()
    except Exception as exc:  # reported as a failed run, never swallowed
        ledger.attempt()
        ledger.error(f"measure {a.workload}", exc)
        traceback.print_exc()
    app_id = sc.applicationId
    gateway = SparkContext._gateway
    spark.stop()
    if a.trace and "detail" in result:
        result["per_layer"] = _per_layer(run, spans, a.work, app_id)
        result["per_layer"]["session.get_spark_s"] = sp_session.wall
        result["per_layer"]["unattributed.jobs"] = unattributed
        os.makedirs(os.path.join(a.work, "traces"), exist_ok=True)
        tracer.dump(os.path.join(a.work, "traces",
                                 f"{a.workload}-s{a.seed}.spans.json"))
    result.update(attempted=ledger.attempted, failed=ledger.failed,
                  failures=ledger.failures[:50])
    with open(a.out, "w") as f:
        json.dump(result, f)
    _stop_gateway(gateway)
    return 0


def _per_layer(run, spans, work: str, app_id: str) -> dict:
    """Every per-layer metric the benchmark declares (zero where this
    workload has no such call): medians of the workload's own per-call
    samples, and span/job/event-log figures per layer."""
    from stats import median
    from tracing import layer_metrics, read_event_log
    from workloads import LAYER_SAMPLES

    out = {name: median(run.samples[name]) if run.samples.get(name) else 0.0
           for name in LAYER_SAMPLES}
    path = os.path.join(work, "eventlog", app_id)
    out.update(layer_metrics(spans, read_event_log(path)))
    return out


def _stop_gateway(gateway) -> None:
    """End the Spark JVM this process launched and wait for it."""
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()   # the JVM exits when its stdin closes
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
