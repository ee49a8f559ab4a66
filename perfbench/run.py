"""The repository benchmark: one command, one workload per process.

    python3 perfbench/run.py --workload {bot_stream,dashboard} \
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. Spark runs at ``local[nproc]``
(``SPARK_GRAFT_CPUS`` is pinned to the CPUs this process may use) over
the sf0.1 tables that ``bench.py`` reads (``SPARK_GRAFT_SF_DIR``).

Every run gets its own scratch root under ``.perfbench/`` for
``TMPDIR``, ``SPARK_LOCAL_DIRS``, checkpoints, the sink and staged
chunks; it is removed at exit. nproc and the load average before and
after the run go to stderr.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the ``end_to_end`` metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its ``per_layer`` metrics, and the spans go to
``.perfbench/traces/``. A per-layer metric of a layer the workload
does not exercise (the panels' query layers on ``bot_stream``, the
streaming layers on ``dashboard``) reads 0: no work was done there.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bot_stream", "dashboard")


def host() -> dict:
    """CPUs available, load average, and the host's cumulative CPU
    jiffies (``/proc/stat``) so a run can report the share stolen by
    other guests while it ran."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg(),
            "jiffies": sum(cpu), "steal_jiffies": cpu[7] if len(cpu) > 7 else 0}


def isolate(root: str, cpus: int) -> None:
    """Point every scratch location of Python, Spark and the JVM at ``root``."""
    os.environ.update(
        TMPDIR=root,
        SPARK_LOCAL_DIRS=root,
        SPARK_GRAFT_CPUS=str(cpus),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={root} -XX:-UsePerfData",
    )
    tempfile.tempdir = None
    os.chdir(root)


def stop_spark() -> None:
    """Stop the SparkContext and wait for the JVM process to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def declared_metrics() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {0: spec["end_to_end"], 1: spec["per_layer"]}


def run(args) -> dict:
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    import bench  # the repo's bench: sf0.1 location and the noop-sink force

    if not os.path.exists(os.path.join(bench.SF_DIR, "events.parquet")):
        raise FileNotFoundError(f"no sf0.1 tables at {bench.SF_DIR}")
    from spans import Tracer

    workload = __import__(args.workload)
    tracer = Tracer(bool(args.trace))
    ctx = SimpleNamespace(
        seed=args.seed, seconds=args.seconds, tracer=tracer, root=os.getcwd(),
        sf_dir=bench.SF_DIR, t_start=T_START,
    )
    out = workload.run(ctx)
    if args.trace:
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(
            os.path.join(traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"),
            workload=args.workload, seed=args.seed, metrics=out["metrics"],
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: the repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        declared = declared_metrics()[args.trace]
    except (OSError, KeyError, ValueError) as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    before = host()
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=os.path.join(ROOT, ".perfbench"))
    isolate(root, before["nproc"])
    try:
        out = run(args)
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2
    finally:
        try:
            stop_spark()
        except ImportError:
            pass
        os.chdir(ROOT)
        shutil.rmtree(root, ignore_errors=True)
    after = host()
    steal = (after["steal_jiffies"] - before["steal_jiffies"]) / max(1, after["jiffies"] - before["jiffies"])
    print(json.dumps({"workload": args.workload, "host_before": before, "host_after": after,
                      "steal_share": round(steal, 4)}), file=sys.stderr)

    metrics = {}
    for m in declared:
        value = out["metrics"].get(m["name"], 0)
        if value is None or (args.trace == 0 and m["name"] not in out["metrics"]):
            raise RuntimeError(f"{args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    failed = out["failed"]
    print(json.dumps({"correct": failed == 0, "attempted": out["attempted"], "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
