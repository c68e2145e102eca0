"""Benchmark entry point: run one workload by name and seed in this fresh
Python+JVM process and print one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 30 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the
span wrappers, enables Spark's event log and prints the per-layer metrics
(plus, on an earlier line, the end-to-end metrics measured under tracing).
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the exit code is non-zero when an operation raised or a correctness check
failed. All scratch files live under ``.perfbench/`` in the working
directory and are removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SCRATCH = ".perfbench"
DRIVER_MEM = "1g"          # inputs are a few MB; leave the shared box alone


def _parents() -> dict[int, int]:
    """pid -> parent pid of every live process (from /proc)."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    return out


def _children(pid: int, parent_of: dict[int, int]) -> list[int]:
    """All descendants of ``pid``."""
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> float:
    """Peak RSS of the driver: this Python process plus its JVM child
    (py4j does not expose the JVM pid, so it is found among our direct
    children)."""
    me = os.getpid()
    kids = [c for c, pp in _parents().items() if pp == me]
    return _hwm_mb(me) + sum(_hwm_mb(c) for c in kids)


def _stop_all(spark) -> None:
    """Stop Spark, then the py4j JVM (it outlives ``spark.stop()``) and
    any worker it left, and wait until every one has exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    tree = _children(os.getpid(), _parents())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except (Py4JError, OSError):     # the JVM side is already gone
                pass
        if proc is not None:                # the JVM exits when stdin closes
            try:
                proc.stdin.close()
                proc.wait(timeout=20)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            alive = [p for p in tree if os.path.exists(f"/proc/{p}")
                     and not _zombie(p)]
            for p in alive:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
            while alive and time.monotonic() < deadline:
                time.sleep(0.1)
                alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                         and not _zombie(p)]
            if not alive:
                break


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def end_to_end(run, rss: float) -> dict:
    def p50(slot):
        return statistics.median(run.samples[slot])
    return {
        "setup_s": (run.setup_s, "s"),
        "events_per_s": (run.events / run.write_s, "1/s"),
        "commit_p50_s": (p50("commit"), "s"),
        "delta_p50_s": (p50("delta"), "s"),
        "read_p50_s": (p50("read"), "s"),
        "peak_rss_mb": (rss, "MB"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    src = os.path.join(root, "src")
    if not os.path.isdir(os.path.join(src, "cdc")):
        print(f"perfbench: no engine sources at {src}; run from the "
              f"repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    scratch = os.path.join(root, SCRATCH, f"run-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    events_dir = os.path.join(scratch, "events")
    for d in (tmp, events_dir, os.path.join(scratch, "work")):
        os.makedirs(d)
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
                       "CDC_DRIVER_MEM": DRIVER_MEM})
    sys.path.insert(0, src)
    import tempfile
    tempfile.tempdir = tmp

    from cdc.session import get_spark
    import spans
    cores = min(4, os.cpu_count() or 1)
    # the run writes only inside its working directory, so Spark's local
    # dir is there too, not on get_spark's /dev/shm default
    conf = {"spark.local.dir": tmp,
            # fixed heap: a growing heap made peak RSS vary by 20%;
            # no perf-data file, which the JVM would write under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} "
                "-XX:-UsePerfData"),
            "spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = None
    result = None
    try:
        spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        print(f"perfbench: {time.monotonic() - T_PROCESS:7.2f}s spark up",
              file=sys.stderr, flush=True)
        tracer = (spans.Tracer(spark.sparkContext) if args.trace
                  else spans.NullTracer())
        if args.trace:
            tracer.install()
        run = workloads.Run(spark, tracer, os.path.join(scratch, "work"),
                            args.seed, args.seconds, T_PROCESS)
        try:
            workloads.WORKLOADS[args.workload](run)
        except Exception as e:          # counted by Run.op; reported below
            traceback.print_exc()
            if not run.errors:
                run.failed += 1
                run.errors.append(f"{type(e).__name__}: {e}"[:500])
        rss = peak_rss_mb()
        _stop_all(spark)
        spark = None
        for err in run.errors:
            print(f"perfbench: {err}", file=sys.stderr)
        if not all(run.samples[s] for s in ("commit", "delta", "read")):
            return 1
        e2e = {k: {"value": v, "unit": u}
               for k, (v, u) in end_to_end(run, rss).items()}
        metrics = e2e
        if args.trace:
            print("traced_end_to_end " + json.dumps(e2e))
            layer, calls = spans.per_layer_metrics(
                tracer.spans, spans.read_event_log(events_dir))
            units = dict(spans.per_layer_names())
            metrics = {k: {"value": layer[k], "unit": units[k]}
                       for k in units}
            print("traced_calls " + json.dumps(calls))
        result = {"correct": not run.failed, "attempted": run.attempted,
                  "failed": run.failed, "metrics": metrics}
    finally:
        if spark is not None:
            _stop_all(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, SCRATCH))
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
