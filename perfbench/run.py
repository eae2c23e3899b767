"""The repository's benchmark: one seeded workload against the engine's
public API at ``local[nproc/2]``, answers checked, metrics printed.

    python3 perfbench/run.py --workload serve --seed 1 --trace 0

Workloads and metrics are declared in ``BENCHMARK.json`` and explained in
``perfbench/METRICS.md``.  A run first makes any fixture that is missing
or stale (kept under ``.perfbench/fixtures`` and re-checked on every
run): the seed's corpus and queries here, the index fixtures in a Spark
process of their own.  It then measures in a fresh Python + Spark JVM
process, which times set-up from its launch to its first timed call.

The last line of standard output is the result, with every end-to-end
metric (``--trace 0``) or every per-layer metric (``--trace 1``; spans
under ``.perfbench/traces``, the Spark event log under
``.perfbench/eventlog``).  The line before it records the host, the
configuration and the detailed figures.  The exit code is 0 only when
every operation succeeded and every answer was right.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 175            # a run whose index fixtures exist
FIRST_PREPARE_LIMIT_S = 600  # building the index fixtures (first run)
MEASURE_LIMIT_S = 170        # the measuring process of a first run
# program knobs the benchmark must not inherit from the caller, so that it
# measures the shipped defaults; SPARK_GRAFT_CPUS is set below
SCRUBBED_ENV = ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_WARMUP",
                "SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task slots: half the cores.  Each task of the engine's Arrow
    stages keeps a JVM task thread and a Python worker busy, so nproc
    slots would run about twice as many busy processes as cores (plus the
    driver, GC and JIT threads), and the timings would measure the
    scheduler of a shared host rather than the engine."""
    return max(1, nproc() // 2)


def child_env(trace: bool) -> dict:
    env = {k: v for k, v in os.environ.items() if k not in SCRUBBED_ENV}
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        # the default local[32] oversubscribes a small host
        SPARK_GRAFT_CPUS=str(task_slots()),
        # keep every file the run writes inside the checkout
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    if trace:
        conf = os.path.join(WORK, "conf")
        os.makedirs(conf, exist_ok=True)
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
            f.write("spark.eventLog.enabled true\n"
                    f"spark.eventLog.dir file://{WORK}/eventlog\n"
                    "spark.eventLog.compress false\n"
                    "spark.eventLog.rolling.enabled false\n")
        env["SPARK_CONF_DIR"] = conf
    return env


def host_record(env: dict) -> dict:
    from importlib.metadata import version

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    try:
        out = subprocess.run([java, "-version"], capture_output=True,
                             text=True, timeout=30, env=env).stderr
        jv = next(line for line in out.splitlines() if " version " in line)
    except (OSError, StopIteration, subprocess.TimeoutExpired) as exc:
        jv = f"unknown ({exc!r})"
    return {"nproc": nproc(), "mem_total_gb": round(mem_kb / 2**20, 1),
            "pyspark": version("pyspark"), "java": jv,
            "python": platform.python_version(),
            "master": f"local[{task_slots()}]",
            "machine": platform.machine()}


def _group_alive(pgid: int) -> bool:
    """Any non-zombie process left in process group ``pgid``?"""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _end_group(pgid: int, graceful: bool) -> None:
    """Stop every process the child left behind and wait until none runs;
    ``graceful`` first gives them time to exit on their own."""
    steps = ((None, 20),) if graceful else ()
    for sig, wait_s in steps + ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        t_end = time.time() + wait_s
        while time.time() < t_end:
            if not _group_alive(pgid):
                return
            time.sleep(0.2)


def launch(role: str, args, env: dict, timeout: float) -> tuple[dict | None,
                                                                 str]:
    """Run one worker process to completion -> (its result or None, log)."""
    tag = f"{role}-{args.workload}-s{args.seed}-t{args.trace}"
    for d in ("results", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    out = os.path.join(WORK, "results", tag + ".json")
    log = os.path.join(WORK, "logs", tag + ".log")
    if os.path.exists(out):
        os.remove(out)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--role", role,
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", WORK, "--out", out, "--launched-at", repr(time.time())]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        finished = False
        try:
            proc.wait(timeout=max(1.0, timeout))
            finished = True
        except subprocess.TimeoutExpired:
            print(f"perfbench: {role} exceeded {timeout:.0f}s",
                  file=sys.stderr)
        finally:
            _end_group(proc.pid, graceful=finished)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        return None, log
    with open(out) as f:
        return json.load(f), log


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    help="measuring time (default: BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "lucene_solr_old_spark")):
        print("perfbench: engine package lucene_solr_old_spark not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = float(spec["run_seconds"])
    sys.path.insert(0, HERE)
    from fixtures import source_fingerprint
    from workloads import WORKLOADS, fixture_ok, fixtures_for, prepare

    wl = WORKLOADS[args.workload]
    t0 = time.time()
    env = child_env(bool(args.trace))
    fxs = fixtures_for(wl, WORK, args.seed, source_fingerprint(ROOT))
    attempted = failed = 0
    failures: list[str] = []
    meas = None
    missing = [k for k in wl.kinds if not fixture_ok(fxs[k.name])]
    first_run = any(k.needs_spark for k in missing)
    error = None
    if first_run:
        prep, log = launch("prepare", args, env, FIRST_PREPARE_LIMIT_S)
        error = None if prep is not None else f"log: {log}"
    elif missing:
        # pure-Python fixtures (the seed's corpus and queries): made here
        sys.path.insert(0, ROOT)
        try:
            prepare(wl, None, fxs)
        except Exception as exc:  # reported as a failed preparation below
            error = repr(exc)
    if not all(fixture_ok(fx) for fx in fxs.values()):
        attempted, failed = 1, 1
        failures.append(f"fixture preparation failed: {error}")
    else:
        wl.reset(fxs)
        # the run that builds the index fixtures may take longer; any
        # other ends within RUN_LIMIT_S
        limit = MEASURE_LIMIT_S if first_run \
            else RUN_LIMIT_S - (time.time() - t0)
        meas, log = launch("measure", args, env, limit)
        if meas is None:
            attempted, failed = attempted + 1, failed + 1
            failures.append(f"measuring process failed; log: {log}")
        else:
            attempted += meas["attempted"]
            failed += meas["failed"]
            failures += meas["failures"]

    meas = meas or {}
    detail = dict(meas.get("detail") or {})
    if args.trace:
        names = spec["per_layer"]
        values = dict(meas.get("per_layer") or {})
    else:
        names = spec["end_to_end"]
        values = {e2e: detail.get(key) for e2e, key in wl.e2e.items()}
        values["setup_s"] = meas.get("setup_s")
    metrics = {}
    for m in names:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            failures.append(f"metric {m['name']} was not measured")
            attempted, failed, v = attempted + 1, failed + 1, 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = failed == 0 and attempted > 0

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host": host_record(env),
              "config": {"SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
                         "unset": list(SCRUBBED_ENV)},
              "setup_s": meas.get("setup_s"),
              "measure_s": meas.get("measure_s"), "detail": detail,
              "error_rate": failed / attempted if attempted else 1.0,
              "failures": failures[:20], "wall_s": time.time() - t0}
    last = os.path.join(WORK, "results",
                        f"last-{args.workload}-s{args.seed}-t0.json")
    if args.trace and os.path.exists(last):
        with open(last) as f:
            untraced = json.load(f)["detail"]
        record["tracing_overhead"] = {
            k: detail[k] / untraced[k] - 1 for k in wl.e2e.values()
            if detail.get(k) and untraced.get(k)}
    elif not args.trace and correct:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(record, f)
    print("# perfbench " + json.dumps(record, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
