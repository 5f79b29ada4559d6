"""Repository benchmark: one workload per invocation, on local[2].

    python3 perfbench/run.py --workload kg_batch --seed 42 --seconds 10 \
        --trace 0

One run starts a Spark session, generates the workload's inputs from the
seed, runs one cold iteration, then untraced warm iterations until
``--seconds`` have passed and at least ``MIN_WARM`` have run.
``--trace 1`` adds one traced iteration that calls each layer's public
functions itself (see workloads.py) and reports per-layer metrics from its
spans and the session's Spark event log.  Every
iteration's output is checked against an independent reference computed
after Spark has stopped, outside every timing.

The last stdout line is the result,
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
``{"context": ...}`` with host state, the setup split, per-iteration
walls, per-stage walls and stage bytes.  Scratch space (inputs, stage
tables, Spark local dirs, event log) lives under ``.perfbench_work/`` in
the checkout and is removed when the run ends; traced runs leave their
spans in ``.perfbench_out/``.

``--size tiny`` and ``--wrong-expected`` exist for selftest.py.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent

# warm iterations per run, whatever --seconds says: a single one follows
# every hiccup of a shared host, and a third would bring the 48 runs of a
# benchmark check close to their time limit on a loaded host
MIN_WARM = 2

# task slots (and shuffle partitions): half the host's 4 vCPUs, so that
# task threads, their Python workers, GC and JIT threads together do not
# outnumber the vCPUs, and a vCPU the host takes away for a while does
# not stall a stage.  At this input size an iteration is bound by job and
# task latency, not by parallelism: local[4] was no faster.
SLOTS = 2

END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
              "results_per_s": "1/s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in BENCHMARK.json order."""
    from workloads import LEAVES
    units = {"wall_s": "s", "task_s": "s", "write_s": "s",
             "task_wait_s": "s", "gc_s": "s", "total_s": "s",
             "rows_out": "count", "residues_in": "count",
             "links_out": "count", "evidence_in": "count",
             "triples_out": "count", "jobs": "count", "tasks": "count",
             "failed_tasks": "count", "files_written": "count",
             "calls": "count", "candidates": "count", "verified": "count",
             "skew": "ratio", "link_yield": "ratio", "triple_yield": "ratio",
             "overhead": "ratio"}
    groups = {
        "mention": ["wall_s", "task_s", "rows_out", "python_in_mb", "skew"],
        "bm25": ["wall_s", "task_s", "shuffle_write_mb"],
        "linking": ["wall_s", "task_s", "shuffle_read_mb",
                    "shuffle_write_mb", "spill_mb", "residues_in",
                    "links_out", "link_yield"],
        "canonicalize": ["wall_s", "jobs", "task_s"],
        "materialize": ["wall_s", "task_s", "shuffle_write_mb", "spill_mb",
                        "evidence_in", "triples_out", "triple_yield",
                        "skew"],
        "pipeline": ["write_s", "files_written", "bytes_written_mb"],
        "lineage": ["wall_s", "calls", "jobs"],
    }
    for q in LEAVES:
        groups[f"leaf.{q}"] = ["wall_s", "task_s", "tasks",
                               "shuffle_write_mb", "skew"]
    groups["leaf.near_dup_clusters"] += ["candidates", "verified"]
    groups["spark"] = ["jobs", "tasks", "failed_tasks", "task_wait_s",
                       "gc_s"]
    groups["trace"] = ["total_s", "overhead"]
    return {f"{g}.{m}": units.get(m, "MB")
            for g, ms in groups.items() for m in ms}


# -- host context ---------------------------------------------------------

def steal_s() -> float | None:
    """Accumulated host vCPU-steal seconds."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def calib_ratio() -> float | None:
    """scripts/calib.py probe against its recorded reference (read only)."""
    import calib
    return calib.degradation(calib.cpu_calib_s())


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(pid: int) -> float:
    """Summed kernel high-water RSS (VmHWM) of a process and its
    descendants: the Spark driver JVM and its Python workers."""
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                total += next(int(line.split()[1]) for line in fh
                              if line.startswith("VmHWM:"))
        except (OSError, StopIteration, ValueError):
            pass
    return total / 1024


# -- Spark session ----------------------------------------------------------

def start_spark(work: Path, trace: bool):
    from apt_bron_re_spark.session import get_spark
    # C1 only: a run lasts about a minute, and under C2 the timed
    # iterations would still sit on the JIT warm-up slope (the third
    # iteration 10-20% faster than the second, by a varying amount); C1
    # reaches its steady speed within the cold iteration.  A fixed 1 GB
    # heap is filled in every run, so peak RSS does not follow when G1
    # chose to grow the heap.  GC threads are capped like the task slots.
    conf = {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1 -Xms1g -XX:ParallelGCThreads=2 "
            "-XX:ConcGCThreads=1",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{SLOTS}]",
                     shuffle_partitions=SLOTS,
                     extra_conf=conf)


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    Python worker it started have exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    tree = process_tree(gw.proc.pid)
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    deadline = time.time() + 30
    alive = [p for p in tree if running(p)]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if running(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -- run ----------------------------------------------------------------------

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg_batch", "dedup_leaves"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--wrong-expected", action="store_true",
                    help="compare against a wrong digest (self-test)")
    return ap.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark and Python write inside ``work``, and let the
    Python workers import the package from the checkout."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the short-lived launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    # one numeric thread per Python worker, for the same reason as SLOTS
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    for p in (ROOT, ROOT / "scripts", BENCH):
        sys.path.insert(0, str(p))


def run_iteration(wl, work: Path, k: int):
    """One untraced iteration in a fresh base dir that is removed after;
    None if it raised.  Between iterations, outside the timing, the
    session is brought back to the same state: cached tables dropped and
    both heaps collected, so an iteration does not pay for what the one
    before it left behind."""
    base = work / f"iter{k}"
    try:
        return wl.iterate(base)
    except Exception:
        traceback.print_exc()
        return None
    finally:
        shutil.rmtree(base, ignore_errors=True)
        wl.spark.catalog.clearCache()
        wl.spark.sparkContext._jvm.System.gc()
        gc.collect()


def layer_metrics(tr, per_desc: dict, wall_s: float, root: str) -> dict:
    from tracing import empty_metrics, sum_metrics
    from workloads import LEAVES

    def d(name):
        return per_desc.get(name) or empty_metrics()

    def ratio(a, b):
        return a / b if b else 0.0

    c = tr.counters.get
    v = {}
    for g in ("mention", "bm25", "linking", "canonicalize", "materialize",
              "lineage") + tuple(f"leaf.{q}" for q in LEAVES):
        v[f"{g}.wall_s"] = tr.self_time(g)
        for k in ("task_s", "tasks", "jobs", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb", "python_in_mb", "skew"):
            v[f"{g}.{k}"] = d(g)[k]
    for k in ("rows_out",):
        v[f"mention.{k}"] = c(f"mention.{k}", 0)
    for k in ("residues_in", "links_out"):
        v[f"linking.{k}"] = c(f"linking.{k}", 0)
    v["linking.link_yield"] = ratio(v["linking.links_out"],
                                    v["linking.residues_in"])
    for k in ("evidence_in", "triples_out"):
        v[f"materialize.{k}"] = c(f"materialize.{k}", 0)
    v["materialize.triple_yield"] = ratio(v["materialize.triples_out"],
                                          v["materialize.evidence_in"])
    v["pipeline.write_s"] = tr.self_time("pipeline")
    for k in ("files_written", "bytes_written_mb"):
        v[f"pipeline.{k}"] = c(f"pipeline.{k}", 0)
    v["lineage.calls"] = c("lineage.calls", 0)
    for k in ("candidates", "verified"):
        v[f"leaf.near_dup_clusters.{k}"] = c(f"leaf.near_dup_clusters.{k}", 0)
    traced = {k: a for k, a in per_desc.items() if k != "untraced"}
    tot = sum_metrics(traced)
    for k in ("jobs", "tasks", "failed_tasks", "task_wait_s", "gc_s"):
        v[f"spark.{k}"] = tot[k]
    total = sum(s["end"] - s["start"] for s in tr.spans if s["name"] == root)
    v["trace.total_s"] = total
    v["trace.overhead"] = ratio(total, wall_s)
    return v


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    prepare_env(work)
    try:
        try:
            import apt_bron_re_spark
            from workloads import WORKLOADS
        except ImportError as exc:
            print(f"perfbench: cannot import the program: {exc}",
                  file=sys.stderr)
            return 2
        if ROOT not in Path(apt_bron_re_spark.__file__).resolve().parents:
            print("perfbench: the program is not in this checkout",
                  file=sys.stderr)
            return 2
        return measure(args, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass


def measure(args, work: Path, workload_cls) -> int:
    host = {"calib_ratio": calib_ratio(), "steal_s": steal_s()}
    spark = tracer = None
    iters, iter_steal, traced_digest = [], [], None
    split = {}
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, args.trace)
        split["session_s"] = time.perf_counter() - t0
        wl = workload_cls(spark, work, args.seed, args.size)
        t1 = time.perf_counter()
        wl.setup()
        split["inputs_s"] = time.perf_counter() - t1
        t1 = time.perf_counter()
        iters.append(run_iteration(wl, work, 0))
        split["cold_s"] = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0
        t_start = time.perf_counter()
        while (len(iters) <= MIN_WARM
               or time.perf_counter() - t_start < args.seconds):
            s0 = steal_s()
            iters.append(run_iteration(wl, work, len(iters)))
            if s0 is not None:
                iter_steal.append(steal_s() - s0)
        if args.trace:
            from tracing import Tracer
            tracer = Tracer(spark)
            try:
                traced_digest = wl.traced(tracer, work / "traced")
            except Exception:
                traceback.print_exc()
        rss_mb = peak_rss_mb(jvm_pid())
    finally:
        if spark is not None:
            stop_spark(spark)
    if host["steal_s"] is not None:
        host["steal_s"] = steal_s() - host["steal_s"]

    expected = "0" * 64 if args.wrong_expected else wl.expected()
    outputs = [it.digest if it else None for it in iters]
    if args.trace:
        outputs.append(traced_digest)
    attempted = len(outputs)
    failed = sum(o != expected for o in outputs)
    bad = next((o for o in outputs if o != expected), None)
    warm = [it for it in iters[1:] if it is not None]
    if not warm:
        print("perfbench: no warm iteration completed", file=sys.stderr)
        return 1
    med = statistics.median
    wall_s = med([it.wall_s for it in warm])

    context = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "host": host, "setup_split_s": split,
        "iterations_s": [it.wall_s if it else None for it in iters],
        "warm_steal_s": iter_steal,
        "failed_ratio": failed / attempted,
        "mismatched": (sorted(q for q in expected if bad.get(q) != expected[q])
                       if isinstance(bad, dict) and isinstance(expected, dict)
                       else None),
        "inputs": warm[0].n_in, "outputs": warm[0].n_out,
    }
    if "stage_mb" in warm[0].info:
        context["stage_mb"] = med([it.info["stage_mb"] for it in warm])
        context["stage_wall_s"] = {
            s: med([it.info["stage_wall_s"].get(s, 0.0) for it in warm])
            for s in warm[0].info["stage_wall_s"]}
    else:
        context.update(warm[0].info)

    if args.trace:
        from tracing import job_metrics
        log = next((work / "eventlog").iterdir())
        values = layer_metrics(tracer, job_metrics(log), wall_s,
                               wl.name)
        units = per_layer_units()
        out = ROOT / ".perfbench_out" / (
            f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(out)
        context["spans"] = str(out.relative_to(ROOT))
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "docs_per_s": med([it.n_in / it.wall_s for it in warm]),
            "results_per_s": med([it.n_out / it.wall_s for it in warm]),
            "peak_rss_mb": rss_mb,
        }
        units = END_TO_END
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
