"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload registry-mix --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. It generates the
workload's inputs from ``--seed`` under ``.perfbench_work/`` (outside every
timed window), starts Spark on ``local[<nproc>]``, measures set-up, runs the
workload from one client, checks the outputs, stops every process it started
and prints one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run also writes a Spark event log and reports the
per-layer metrics read from it. The exit code is 0 only when every output
check passed. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SIZES = {
    # what the benchmark measures
    "full": {"sf": 0.001, "queries_per_s": 1.8, "extract_files": 200,
             "corpus_docs": 400, "top_n": 50, "min_reps": 1, "max_reps": 3},
    # the smoke test's size: every code path, a fraction of the time
    "tiny": {"sf": 0.001, "queries_per_s": 0.6, "extract_files": 200,
             "corpus_docs": 400, "top_n": 50, "min_reps": 2, "max_reps": 2},
}
SETUP_SAMPLES = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class MemorySampler:
    """Peak memory of this process and all its descendants (the Python
    driver, the JVM and the Python workers), sampled from /proc. Each
    process counts its proportional set size: pages shared with other
    processes, like those forked Python workers share with their daemon,
    are split among the sharers instead of counted once per process."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def tree_pss_kb(root: int) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        stat = f.read()
                    parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {root}, [root]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass  # the process ended between the two reads
        return total

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.tree_pss_kb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def stop(self) -> int:
        """Stop sampling; returns the peak in KiB."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
        return self.peak_kb

    def __exit__(self, *exc):
        self.stop()


def prepare_env(root: str, work: str, trace: bool) -> str:
    """Everything Spark, the JVM and the engine write goes under ``work``."""
    from tracing import submit_args

    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_DRIVER_MEMORY": "1g",
        "PYSPARK_SUBMIT_ARGS": submit_args(events, trace),
        # every JVM, the spark-submit launcher included, keeps its temp
        # files in the work directory and writes no hsperfdata under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = tmp
    return events


def generate(workload: str, work: str, seed: int, size: dict) -> dict:
    import gen
    import workloads

    if workload == "registry-mix":
        rows = gen.tables(os.path.join(work, "tables"), seed, size["sf"])
        pdf = gen.pdf(os.path.join(work, "pdf", "doc.pdf"), seed, workloads.PDF_PAGES)
        return {"rows": sum(rows.values()), "lineitem": rows["lineitem"], **pdf}
    if workload == "extract-dir":
        return gen.markdown_dir(os.path.join(work, "md"), seed, size["extract_files"])
    return gen.corpus(os.path.join(work, "corpus"), seed, size["corpus_docs"])


def first_python_action(spark) -> None:
    cpus = os.cpu_count() or 1
    spark.range(0, cpus, 1, cpus).mapInPandas(lambda it: it, "id long").count()


def set_up(n: int) -> tuple[object, list[dict]]:
    """``session.get_spark`` plus the first Python-worker action, ``n``
    times: the first in a cold JVM (package import included), the rest
    after stopping the previous session."""
    samples = []
    spark = None
    for _ in range(n):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        from ai_knowledge_etl_spark.session import get_spark

        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        first_python_action(spark)
        t2 = time.perf_counter()
        samples.append({"get_spark_s": t1 - t0, "first_action_s": t2 - t1, "setup_s": t2 - t0})
    spark.sparkContext.setLogLevel("ERROR")
    return spark, samples


def shut_down(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - already gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def end_to_end(workload: str, ops, inputs: dict, setup: list[dict], mem_kb: int) -> dict:
    walls = [op.wall_s for op in ops]
    ok = sum(op.ok for op in ops)
    if workload == "registry-mix":
        throughput = ok / sum(walls)
    elif workload == "extract-dir":
        throughput = inputs["distinct"] / statistics.median(walls)
    else:
        throughput = inputs["docs"] / statistics.median(walls)
    return {
        "setup_s": (statistics.median(s["setup_s"] for s in setup), "s"),
        "throughput_per_s": (throughput, "1/s"),
        "peak_pss_mb": (mem_kb / 1024.0, "MB"),
    }


def write_golden(path: str, workload: str, seed: int, size: dict, ctx) -> None:
    with open(path) as f:
        golden = json.load(f)
    if workload == "registry-mix":
        old = golden.get("registry", {})
        fps = old.get("fp", {}) if (old.get("seed"), old.get("sf")) == (seed, size["sf"]) else {}
        fps.update(ctx.extra["registry_fp"])
        golden["registry"] = {"seed": seed, "sf": size["sf"], "fp": dict(sorted(fps.items()))}
    elif workload == "extract-dir":
        golden["extract"] = {"seed": seed, "files": size["extract_files"], "fp": ctx.extra["extract_fp"]}
    else:
        golden["corpus"] = {"seed": seed, "docs": size["corpus_docs"], "fp": ctx.extra["corpus_fp"]}
    with open(path, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"wrote golden fingerprints for {workload} seed {seed} to {path}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("registry-mix", "extract-dir", "corpus-build"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    p.add_argument("--golden", default=os.path.join(HERE, "golden.json"),
                   help="expected outputs for the golden seed (JSON)")
    p.add_argument("--write-golden", action="store_true",
                   help="record this run's output fingerprints as the golden ones for its seed")
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ai_knowledge_etl_spark", "__init__.py")):
        log(f"no ai_knowledge_etl_spark package under {root}: run from a checkout root")
        return 2
    sys.path.insert(0, root)
    size = SIZES[args.size]
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    events = prepare_env(root, work, bool(args.trace))
    try:
        return run(args, root, work, events, size)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there


def run(args, root: str, work: str, events: str, size: dict) -> int:
    import workloads

    t0 = time.perf_counter()
    inputs = generate(args.workload, work, args.seed, size)
    log(f"generated inputs in {time.perf_counter() - t0:.2f}s: {inputs}")
    golden = {}
    if not args.write_golden:  # a run that records goldens checks only the invariants
        with open(args.golden) as f:
            golden = json.load(f)

    with MemorySampler() as mem:
        spark, setup = set_up(SETUP_SAMPLES)
        import ai_knowledge_etl_spark

        pkg = os.path.dirname(os.path.abspath(ai_knowledge_etl_spark.__file__))
        if os.path.dirname(pkg) != root:
            log(f"imported the engine from {pkg}, not from {root}")
            shut_down(spark)
            return 2
        log("setup samples: " + ", ".join(f"{s['setup_s']:.2f}s" for s in setup))
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, size, golden, log,
                            inputs=dict(inputs))
        try:
            ops, check = workloads.WORKLOADS[args.workload](ctx)
            # the peak covers the program only: the checks run after it
            peak_kb = mem.stop()
            check()
        finally:
            shut_down(spark)
    stamp = {"cpus": os.cpu_count(), "seed": args.seed, "sf": size["sf"], **ctx.inputs}
    attempted = len(ops)
    failed = sum(not op.ok for op in ops)
    if ctx.problems and failed == 0:
        failed = attempted
    e2e = end_to_end(args.workload, ops, ctx.inputs, setup, peak_kb)
    record = {"stamp": stamp, "ops": [[op.name, round(op.wall_s, 4), op.ok] for op in ops]}
    if args.trace:
        from layers import per_layer

        metrics, extra = per_layer(args.workload, ctx, ops, setup, events, e2e)
        record.update(extra)
    else:
        metrics = e2e
    for k, (v, u) in sorted(metrics.items()):
        log(f"{k:32s} {v:14.6f} {u}")
    log(f"{attempted} operations attempted, {failed} failed; "
        f"process wall so far {time.perf_counter() - T_START:.1f}s")
    correct = failed == 0 and not ctx.problems
    if args.write_golden and correct:
        write_golden(args.golden, args.workload, args.seed, size, ctx)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
