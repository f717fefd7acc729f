"""Workload benchmark for ontology_graph_etl_spark.

Run from the repository root:

    python3 perfbench/run.py --workload ontology_build --seed 0 \\
        --seconds 5 --trace 0

Workloads (closed loop, one caller, a fresh process at
``local[$(nproc)]``): ``ontology_build``, ``ingest_loop`` and
``event_stream`` -- see ``perfbench/README.md``.

One run: start the session, generate the seed's inputs and build the
stores, run one untimed warm-up unit where the workload has one, then
repeat the workload's timed unit until ``--seconds`` have passed (at
least once), checking every unit's outputs. The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run (after a warm-up,
each unit runs untraced and then again traced from the same state; the
difference of their medians is the tracing overhead). The run record --
set-up phases, per-unit walls, checks, plan fingerprints, load average --
and the spans are written under ``.perfbench/records/``. Exits 2 without
a result when run outside the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading

ROOT = os.getcwd()
WORKLOADS = ("ontology_build", "ingest_loop", "event_stream")
#: the reference's seed; digests are pinned for it in pins.json
DEFAULT_SEED = 0
#: a run must exit within 180 s; killing the run takes under a second
WATCHDOG_S = 175


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "small"), default="full",
        help="input scale; 'small' is for the exact-repeat self-check",
    )
    return ap.parse_args(argv)


def _abort(work: str) -> None:
    """Watchdog: a run must end within 180 s. Kill every process this
    one started (the driver JVM and its Python workers), then exit."""
    me = os.getpid()
    children = {me}
    for _ in range(3):  # JVM -> python daemon -> workers
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid in children:
                children.add(int(entry))
    for pid in children - {me}:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: run exceeded {WATCHDOG_S} s, aborted", file=sys.stderr)
    os._exit(3)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _git_sha() -> str | None:
    """HEAD's commit, read from ``.git`` in the checkout (None outside a
    git checkout); no git process, nothing read outside the checkout."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.isfile(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                sha, _, name = line.strip().partition(" ")
                if name == ref:
                    return sha
    except OSError:
        pass
    return None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ontology_graph_etl_spark", "__init__.py")):
        print(
            "perfbench: ontology_graph_etl_spark/ not found; run from the "
            "repository root",
            file=sys.stderr,
        )
        return 2
    base = os.path.join(ROOT, ".perfbench")
    # per process, so a second run in the same checkout cannot delete
    # this one's files
    work = os.path.join(base, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)
    cpus = _nproc()
    # set before the package is imported: session.py reads it at import
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher and the driver) keeps its
    # scratch in the checkout and writes no hsperfdata file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)

    from perfbench.bench import run_workload

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "git_sha": _git_sha(),
        "loadavg_before": os.getloadavg(),
    }
    watchdog = threading.Timer(WATCHDOG_S, _abort, args=(work,))
    watchdog.daemon = True
    watchdog.start()
    try:
        result = run_workload(args, work, tmp, records, record)
    finally:
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
    record["loadavg_after"] = os.getloadavg()
    name = f"{args.workload}-{args.size}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(records, name + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    print(json.dumps(record.get("summary", {}), sort_keys=True))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
