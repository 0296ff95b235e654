"""ER-pipeline benchmark: one run of one workload.

    python3 perfbench/run.py --workload {e2e_bulk,spans_job} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository. The run

1. makes the workload's corpus from ``--seed`` (cached under
   ``perfbench/.cache``; generation is not timed),
2. with ``--trace 1`` first times the pure-JVM control job of
   ``tools/control_worker.py`` (host drift) and records ``nproc`` and the
   load average,
3. starts ``perfbench/worker.py`` in a fresh JVM at ``local[2]``, which sets
   up, runs the timed jobs and checks their outputs, while this process
   samples the worker's process tree in ``/proc`` for peak RSS,
4. prints a detail line, then as its last line one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
   metrics with ``--trace 0``, the per-layer table with ``--trace 1``.

Everything it writes stays under ``perfbench/.cache`` and
``perfbench/.work`` in the checkout. See perfbench/README.md for the
workloads and the layer -> end-to-end metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("e2e_bulk", "spans_job")
WORKER_TIMEOUT_S = 150
CONTROL_ROWS = 20_000_000

END_TO_END = {"setup_s": "s", "docs_per_s": "docs/s", "peak_rss_mb": "MB"}


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(int(entry))
    return kids


def _proc(pid: int) -> tuple[str, bytes, int] | None:
    """(name, command line, resident bytes) of ``pid``, None once gone."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            name = f.read().strip()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmdline = f.read()
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return None
    return name, cmdline, rss


def tree_rss(pid: int) -> list[tuple[str, int]]:
    """(name, resident bytes) of ``pid`` and each of its descendants.

    A child of the JVM that still shows the JVM's command line is a spawn
    between vfork and exec: it shares the JVM's pages, so it is not
    counted again."""
    parts, todo = [], [(pid, None)]
    while todo:
        p, parent_cmdline = todo.pop()
        info = _proc(p)
        if info is None:
            continue
        name, cmdline, rss = info
        if cmdline == parent_cmdline and b"java" in cmdline.split(b"\0")[0]:
            continue
        parts.append((name, rss))
        todo.extend((c, cmdline) for c in _children(p))
    return parts


def run_child(cmd: list[str], env: dict, timeout: float, stdout=None,
              sample_rss: bool = False) -> tuple[int, list]:
    """Run ``cmd`` in its own process group; return (exit code, the
    process tree's parts at its peak total RSS). The whole group is killed
    and reaped before returning, so no JVM or Python worker outlives the
    run."""
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True,
                            stdout=stdout or sys.stderr)
    peak, peak_parts = 0, []
    deadline = time.monotonic() + timeout
    try:
        while proc.poll() is None:
            if time.monotonic() > deadline:
                raise TimeoutError(f"{cmd[1]} exceeded {timeout:.0f} s")
            if sample_rss:
                parts = tree_rss(proc.pid)
                total = sum(b for _, b in parts)
                if total > peak:
                    peak, peak_parts = total, parts
            time.sleep(0.1)
    finally:
        _kill_group(proc)
    return proc.returncode, peak_parts


def _kill_group(proc: subprocess.Popen) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        for _ in range(50):
            if proc.poll() is not None and not _group_alive(proc.pid):
                return
            time.sleep(0.1)
    proc.wait()


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def control_seconds(env: dict, work: str) -> float:
    """Time the pure-JVM control job (tools/control_worker.py) at the
    benchmark's master."""
    out = os.path.join(work, "control.json")
    with open(out, "w") as f:
        code, _ = run_child(
            [sys.executable, os.path.join(ROOT, "tools", "control_worker.py"),
             "local[2]", "2", str(CONTROL_ROWS)], env, 120, stdout=f)
    if code != 0:
        raise RuntimeError(f"control job exited with {code}")
    with open(out) as f:
        return json.loads(f.read().strip().splitlines()[-1])["seconds"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "refined_spark")):
        print("perfbench: run from the repository root (no refined_spark/ "
              "here)", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from corpus import ensure_corpus

    corpus = ensure_corpus(a.workload, a.seed, os.path.join(HERE, ".cache"))
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               # a bounded heap keeps peak RSS a property of the engine,
               # not of when the collector last ran
               SPARK_DRIVER_MEM="2g",
               TMPDIR=os.path.join(work, "tmp"))
    os.makedirs(env["TMPDIR"])
    # every JVM of the run (worker and control job) keeps its temp files
    # in the checkout and writes no perf-data file to the system temp dir
    env["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={env['TMPDIR']} "
                                "-XX:-UsePerfData")
    try:
        host = {}
        if a.trace:
            host = {"host.control_s": control_seconds(env, work),
                    "host.nproc": os.cpu_count(),
                    "host.loadavg_1m": os.getloadavg()[0]}
        out = os.path.join(work, "result.json")
        code, peak = run_child(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--workload", a.workload, "--corpus", corpus, "--work", work,
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--out", out],
            env, WORKER_TIMEOUT_S, sample_rss=not a.trace)
        if code != 0:
            print(f"perfbench: worker exited with {code}", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"] | host
    if a.trace:
        units = {k: _layer_unit(k) for k in metrics}
    else:
        metrics["peak_rss_mb"] = sum(b for _, b in peak) / 2**20
        res["detail"]["peak_rss_parts_mb"] = [
            [name, round(b / 2**20)] for name, b in peak]
        units = END_TO_END
    print(json.dumps(dict(workload=a.workload, seed=a.seed,
                          run_s=time.perf_counter() - t_start,
                          failures=res["failures"], detail=res["detail"])))
    print(json.dumps(dict(
        correct=res["failed"] == 0 and not res["failures"],
        attempted=res["attempted"], failed=res["failed"],
        metrics={k: {"value": metrics[k], "unit": units[k]}
                 for k in sorted(metrics)})))
    return 0


def _layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf in ("task_skew", "hit_ratio", "link_ratio", "pair_dedup_ratio",
                "bytes_per_input_byte") or leaf.endswith("_share"):
        return "ratio"
    if "bytes" in leaf:
        return "bytes"
    if leaf in ("per_doc", "per_mention", "loadavg_1m"):
        return "mean"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
