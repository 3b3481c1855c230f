"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 1 --trace 0

Runs one workload at ``local[<cores>]`` from this process as a single
closed-loop client and prints, as the last line of standard output, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones in BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones.  Run it from the root of
a source checkout: it imports ``srag_spark`` from there and writes only
under ``.perfbench/`` in it.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def start_session(cores: int):
    from srag_spark.session import get_spark

    tmp = WORK / "tmp"
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            # keep every job, stage, task and SQL execution of a run for
            # the traced reader (the same settings untraced, so the two
            # runs differ only by the tracing itself)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "10000000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def become_subreaper() -> None:
    """Adopt every orphan below this process (Linux ``prctl``), so a
    process whose parent ends first — a Python worker after the JVM — is
    still this process's to wait for."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_session(spark, grace_s: float = 60.0) -> None:
    """Stop ``spark`` (or a session that failed half-way through start-up),
    end the driver JVM and wait until every process started under this one
    has exited.  ``SparkSession.stop`` alone returns while the JVM still
    runs its shutdown hooks, and the JVM only exits when its stdin closes."""
    import subprocess

    from pyspark import SparkContext

    from perfbench.trace import children_map

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            SparkContext._gateway = SparkContext._jvm = None
            try:
                gateway.shutdown()
            finally:
                proc = gateway.proc
                proc.stdin.close()  # the JVM exits at end of file on its stdin
                try:
                    proc.wait(timeout=grace_s)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        # what is left (the Python daemon and its workers) is this process's
        # child, directly or by adoption: ask it to end, force it after 10 s,
        # and reap it
        deadline, sent = time.monotonic() + 10.0, None
        while True:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                return  # no child left
            sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
            if sig != sent or sig == signal.SIGKILL:
                kids, todo = children_map(), [os.getpid()]
                while todo:
                    for pid in kids.get(todo.pop(), ()):
                        todo.append(pid)
                        try:
                            os.kill(pid, sig)
                        except ProcessLookupError:
                            pass
                sent = sig
            time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-tests")
    args = ap.parse_args(argv)

    # fail fast, before any Spark start-up, outside a source checkout
    if not (ROOT / "srag_spark" / "__init__.py").is_file():
        print(f"no srag_spark package under {ROOT}", file=sys.stderr)
        return 2
    # keep Spark's, the JVMs' and Python's scratch files inside the
    # checkout (-XX:-UsePerfData: no hsperfdata file under /tmp)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        (os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")).strip()
    sys.path.insert(0, str(ROOT))

    from perfbench.trace import RssSampler, SparkWork
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.seed, args.size, WORK)
    # every way out, a termination signal too, passes the finally below,
    # which ends each process this run started and waits for it
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    spark = None
    try:
        # built the first time for this workload, seed and size; not part
        # of set-up, which then costs the same whether the cache was cold
        # or warm
        wl.ensure_inputs()
        with RssSampler() as rss:
            # set-up: start the session and load the inputs.  There is no
            # warm-up round: the first measured round is each call's first
            # in the session, as a batch user or a newly opened engine sees
            # it (the time budget of a full measurement allows no more)
            t0 = time.perf_counter()
            spark = start_session(cores)
            wl.attach(spark)
            t1 = time.perf_counter()
            wl.load()
            setup_s = time.perf_counter() - t0
            print(f"set-up: session {t1 - t0:.2f} s, inputs {setup_s - (t1 - t0):.2f} s",
                  file=sys.stderr)

            # a traced run traces every round; the tracer adds up the time
            # its own bookkeeping takes, which is the tracing overhead
            wl.tracer.active = bool(args.trace)
            rounds = []
            t_end = time.perf_counter() + args.seconds
            i = 0
            while time.perf_counter() < t_end or i < 1:
                wl.tracer.op = i
                with wl.tracer.span("round"):
                    rnd = wl.round(i)
                t_check = time.perf_counter()
                wl.tracer.active = False
                wl.check(i)
                wl.tracer.active = bool(args.trace)
                if time.perf_counter() < t_end:
                    # start the next round from a collected heap, so a
                    # collection this round left pending is not charged to it
                    spark.sparkContext._jvm.System.gc()
                t_check = time.perf_counter() - t_check
                rounds.append(rnd)
                print(f"round {i}: {rnd.seconds:.2f} s {[(k, round(s, 2)) for k, s in rnd.calls]}, "
                      f"check {t_check:.2f} s", file=sys.stderr)
                i += 1
            wl.tracer.active = False
            rss.sample()
            t_final = time.perf_counter()
            wl.final_check(counts=bool(args.trace))
            print(f"final check {time.perf_counter() - t_final:.2f} s", file=sys.stderr)
        print(f"peak RSS {rss.peak_mb:.0f} MB, by process: "
              + ", ".join(f"{b / 2**20:.0f}" for b in rss.at_peak), file=sys.stderr)

        attempted = sum(r.attempted for r in rounds)
        failed = sum(r.failed for r in rounds)
        calls = wl.call_metrics(rounds)
        if calls:
            print("calls: " + ", ".join(f"{k} {v:.3f}" for k, v in calls.items()),
                  file=sys.stderr)
        if args.trace:
            work = SparkWork.read(spark)
            metrics = layer_metrics(wl, work, rounds, {**calls, "peak_rss_mb": rss.peak_mb})
        else:
            metrics = end_to_end(setup_s, rounds)
    finally:
        stop_session(spark)
        wl.cleanup()
    for e in wl.errors:
        print(f"GATE FAILED: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": not wl.errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def with_units(values: dict[str, float], kind: str) -> dict:
    """``values`` as BENCHMARK.json's ``kind`` metrics with their units."""
    units = {m["name"]: m["unit"] for m in SPEC[kind]}
    unknown = set(values) - set(units)
    assert not unknown, f"metrics not in BENCHMARK.json {kind}: {sorted(unknown)}"
    return {k: {"value": float(v), "unit": units[k]} for k, v in sorted(values.items())}


def end_to_end(setup_s: float, rounds) -> dict:
    docs = sum(r.docs for r in rounds)
    secs = sum(r.seconds for r in rounds)
    return with_units({"docs_per_s": docs / secs, "setup_s": setup_s}, "end_to_end")


def layer_metrics(wl, work, rounds, extra: dict[str, float]) -> dict:
    """Every per-layer metric of BENCHMARK.json; one a workload does not
    exercise reads 0."""
    from perfbench.trace import median

    t = wl.tracer
    ops = sorted({s.op for s in t.spans})
    per_round = [work.session_figures({s.sid for s in t.spans if s.op == op}) for op in ops]
    out = {m["name"]: 0.0 for m in SPEC["per_layer"]}
    out.update({k: median(f[k] for f in per_round) for k in per_round[0]})
    out.update(wl.layer_metrics(work, ops))
    out.update({k: v for k, v in extra.items() if k in out})
    out["trace.overhead_frac"] = t.overhead_s / sum(r.seconds for r in rounds)
    return with_units(out, "per_layer")


if __name__ == "__main__":
    sys.exit(main())
