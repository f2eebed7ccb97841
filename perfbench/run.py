"""Repository benchmark: run one workload in one process and print one JSON line.

    python3 perfbench/run.py --workload snapshot_cycle --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): ``snapshot_cycle`` and
``history_queries`` (listed in BENCHMARK.json), and ``corpus_curation``
(runnable here, left out of BENCHMARK.json to fit its run-time budget).
Each is a closed loop with one client on
``local[$SPARK_GRAFT_CPUS or nproc]``: set-up (session, inputs from the
seed, warm-up), then operations back to back until ``--seconds`` have
passed (history queries finish their round of five), then every output is
checked. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
alternates untraced and traced operations and prints the per-layer
metrics, including the tracing overhead. Human-readable lines come first;
the last line of stdout is the JSON result.

Everything the run writes (Spark scratch, temp files, stores, corpus)
lives under ``.perfbench_work/`` in the checkout and is removed on exit;
traced runs leave their spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit, better): printed with --trace 0 on every workload. Must
# match BENCHMARK.json. peak_rss_mb and the tail are printed on the
# human-readable lines only: peak resident memory moved by 15-40 % between
# seeds (JVM heap growth, Python worker count), too wide for a bound.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("items_per_s", "1/s", "higher"),
]

QUERIES = ("argmax_rows", "snapshot_delta", "moving_agg", "top_k_per_group", "group_agg")

# (name, unit, better): printed with --trace 1 on every workload. These are
# the per-layer metrics every workload in BENCHMARK.json measures; a count
# a workload does not make reads 0. Must match BENCHMARK.json.
PER_LAYER = [
    ("session.get_spark_s", "s", "lower"),
    ("sources.rest_calls", "count", "lower"),
    ("sources.rpc_calls", "count", "lower"),
    ("sources.useful_call_ratio", "ratio", "higher"),
    ("sources.quarantined_pairs", "count", "lower"),
    ("plans.build_snapshot_s", "s", "lower"),
    ("plans.stages", "count", "lower"),
    ("plans.tasks", "count", "lower"),
    ("sinks.append_snapshot_s", "s", "lower"),
    ("sinks.files_per_append", "count", "lower"),
    ("sinks.bytes_per_row", "B/row", "lower"),
    ("sinks.read_snapshots_s", "s", "lower"),
    ("sinks.store_files", "count", "lower"),
    *[(f"operators.{q}.{c}", "count", "lower") for q in QUERIES for c in ("stages", "tasks")],
    ("trace.overhead_s", "s", "lower"),
    ("trace.coverage", "ratio", "higher"),
]
# Layer times that only one workload exercises (sources.fetch_s,
# plans.execute_s, operators.<query>_s, ...) would read exactly 0 on every
# run of the others, so they are printed on the human-readable lines and
# kept in the spans file instead of the JSON result.

# Workload-specific names of the end-to-end metrics, for the human-readable lines.
ALIASES = {
    "snapshot_cycle": {"op_p50_s": "cycle_p50_s", "op_tail_s": "cycle_tail_s", "items_per_s": "pairs_per_s"},
    "history_queries": {"op_p50_s": "query_p50_s", "op_tail_s": "query_tail_s", "items_per_s": "queries_per_s"},
    "corpus_curation": {"op_p50_s": "pass_p50_s", "op_tail_s": "pass_tail_s", "items_per_s": "docs_per_s"},
}


def workload_class(name: str):
    if name == "snapshot_cycle":
        from cycle import SnapshotCycle

        return SnapshotCycle, 1
    if name == "history_queries":
        from history import NAMES, HistoryQueries

        return HistoryQueries, len(NAMES)
    from curation import CorpusCuration

    return CorpusCuration, 1


# --- process tree ------------------------------------------------------------

PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def tree_rss(root: int) -> int:
    total = 0
    for p in descendants(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree (driver, JVM, Python
    workers), sampled every 50 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(0.05):
            self.peak = max(self.peak, tree_rss(me))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - kill below whatever went wrong
            proc.kill()
            proc.wait(timeout=30)


def reap_children() -> None:
    """Terminate anything still running below this process and wait for it."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p in descendants(me) if p != me]
        if not left:
            return
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and [p for p in descendants(me) if p != me]:
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)


def confine_to(workdir: str) -> None:
    """Point every scratch location (Python, Spark, JVM) into ``workdir``
    and make the benchmark's modules importable by the Python workers."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    confs = {
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [*(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()), "pyspark-shell"]
    )
    # The largest input here is a few hundred MB; a 2 GB driver heap keeps
    # the JVM's resident size (part of peak_rss_mb) bounded and repeatable.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    paths = [HERE, ROOT, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    sys.path[:0] = [HERE, ROOT]


# --- the run -----------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when the sample is too small."""
    n = len(values)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


def measure(args, workdir: str, sampler: RssSampler, state: dict) -> tuple[dict, list[str]]:
    from traderjoe_etl_spark.session import get_spark

    from spans import Tracer

    t = time.perf_counter()
    spark = state["spark"] = get_spark("perfbench")
    session_s = time.perf_counter() - t
    # A traced run also records the set-up's calls into the program.
    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    cls, n_kinds = workload_class(args.workload)
    wl = cls(spark, args.seed, workdir, tracer)
    wl.setup()
    spark.catalog.clearCache()
    setup_s = time.perf_counter() - T0

    # (traced, kind, seconds) per operation; traced runs pair each untraced
    # operation with a traced one of the same kind.
    ops: list[tuple[bool, int, float]] = []
    started = time.perf_counter()
    i = 0
    while time.perf_counter() - started < args.seconds or i % (2 * n_kinds if args.trace else n_kinds):
        traced = bool(args.trace) and i % 2 == 1
        kind = (i // 2 if args.trace else i) % n_kinds
        tracer.enabled = traced
        t = time.perf_counter()
        with tracer.span(args.workload, i):
            wl.op(i, kind)
        ops.append((traced, kind, time.perf_counter() - t))
        spark.catalog.clearCache()
        i += 1

    tracer.enabled = bool(args.trace)
    failed_ops, errors = wl.check()
    plain = [d for traced, _, d in ops if not traced]
    result = {
        "correct": not failed_ops,
        "attempted": len(ops),
        "failed": len([o for o in failed_ops if o >= 0]),
    }
    lines = [
        f"perfbench {args.workload} seed={args.seed} trace={args.trace} ops={len(ops)} "
        f"nproc={os.cpu_count()} SPARK_GRAFT_CPUS={os.environ.get('SPARK_GRAFT_CPUS', 'unset')} "
        f"master={spark.sparkContext.master}",
        *[f"  error: {e}" for e in errors[:20]],
    ]
    alias = ALIASES[args.workload]
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(plain),
        "items_per_s": wl.items_per_op * len(plain) / sum(plain),
    }
    units = {n: u for n, u, _ in END_TO_END}
    for name, value in e2e.items():
        lines.append(f"  {alias.get(name, name)} = {value:.6g} {units[name]}")
    lines.append(f"  peak_rss_mb = {sampler.peak / 2**20:.6g} MB")
    lines.append(f"  error_ratio = {result['failed'] / result['attempted']:.6g} ratio")
    tl = tail(plain)
    lines.append(
        f"  {alias['op_tail_s']} = {tl[1]:.6g} s (p{tl[0]:.1f}, n={len(plain)})" if tl
        else f"  {alias['op_tail_s']} = n/a (n={len(plain)} < 11: no percentile has 10 samples beyond it)"
    )
    lines.append("  op_s = [" + ", ".join(f"{d:.3f}" for _, _, d in ops) + "]")
    for name, (value, unit) in wl.summary().items():
        lines.append(f"  {name} = {value:.6g} {unit}")

    if not args.trace:
        result["metrics"] = {n: {"value": e2e[n], "unit": u} for n, u, _ in END_TO_END}
        return result, lines

    pairs = [(ops[j][2], ops[j + 1][2]) for j in range(0, len(ops) - 1, 2)]
    root = [s for s in tracer.spans if s.name == args.workload]
    layer = {n: 0.0 for n, _, _ in PER_LAYER}
    layer.update(wl.per_layer())
    layer["session.get_spark_s"] = session_s
    layer["trace.overhead_s"] = median(t - u for u, t in pairs)
    layer["trace.coverage"] = median(1 - tracer.self_time(s) / (s.end - s.start) for s in root)
    result["metrics"] = {n: {"value": layer[n], "unit": u} for n, u, _ in PER_LAYER}
    listed = {n for n, _, _ in PER_LAYER}
    for name, value in layer.items():
        if name not in listed:
            lines.append(f"  {name} = {value:.6g} (this workload only)")
    lines.append(f"  traced {alias['op_p50_s']} = {median(d for tr_, _, d in ops if tr_):.6g} s")
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"))
    return result, lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ALIASES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for needed in ("traderjoe_etl_spark", os.path.join("tools", "make_testdata.py")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found in {ROOT}; run from a full checkout", file=sys.stderr)
            return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    sampler = RssSampler()
    state: dict = {}
    try:
        confine_to(workdir)
        sampler.start()
        result, lines = measure(args, workdir, sampler, state)
    finally:
        if "spark" in state:
            stop_spark(state["spark"])
        sampler.stop()
        reap_children()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run still owns a sibling directory
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
