"""Layer tracing for the traced benchmark run.

The engine's entry points look their layers up by name at call time:
``pipeline.run_pipeline`` through its module globals, and
``checkpoint.run_pipeline_checkpointed`` through imports from the operator
modules inside the function body. ``Tracer.install`` replaces those names
in both namespaces with wrappers, so the production composition runs
unchanged apart from the wrappers themselves. Each wrapper

- records a span (layer, function, start, end, rows out),
- tags the Spark jobs it triggers with the job group ``layer:<layer>``,
- materializes a DataFrame result (persist + count), so the layer's work
  runs inside its own span and job group.

Task metrics are attributed to layers afterwards from the Spark event log
by job group (``layer_task_metrics``). Materializing changes when work
runs, not what it computes; the benchmark checks that the traced output
digest equals the untraced one and reports the wall-time difference as the
tracing overhead.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame

LAYERS = ("mentions", "candidates", "scoring", "clustering")

# (module, attribute, layer): every namespace a traced entry point reads
# the layer from. ``_small_star`` runs once per connected-components
# round, so its call count is the CC round count.
_TARGETS = (
    ("refined_spark.operators.extract", "assert_extraction_contract",
     "extract"),
    ("refined_spark.pipeline", "detect_mention_rows", "mentions"),
    ("refined_spark.pipeline", "mentions_from_spans", "mentions"),
    ("refined_spark.operators.mentions", "detect_mention_rows", "mentions"),
    ("refined_spark.operators.mentions", "mentions_from_spans", "mentions"),
    ("refined_spark.pipeline", "mention_candidate_arrays", "candidates"),
    ("refined_spark.operators.candidates", "mention_candidate_arrays",
     "candidates"),
    ("refined_spark.pipeline", "with_candidate_logits", "scoring"),
    ("refined_spark.pipeline", "links_from_logits", "scoring"),
    ("refined_spark.operators.scoring", "with_candidate_logits", "scoring"),
    ("refined_spark.operators.scoring", "links_from_logits", "scoring"),
    ("refined_spark.pipeline", "cluster_mentions", "clustering"),
    ("refined_spark.operators.clustering", "cluster_mentions", "clustering"),
)

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float
    parent: str | None
    rows: int | None = None
    result: object = None


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.cc_rounds = 0
        self.enabled = False
        self.job_name: str | None = None
        self._persisted: list[DataFrame] = []
        self._saved: list[tuple] = []

    # -- installation --------------------------------------------------

    def install(self) -> None:
        import importlib

        for mod_name, attr, layer in _TARGETS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(layer, fn))
        clustering = importlib.import_module(
            "refined_spark.operators.clustering")
        small_star = clustering._small_star
        self._saved.append((clustering, "_small_star", small_star))

        def counted_small_star(edges):
            if self.enabled:
                self.cc_rounds += 1
            return small_star(edges)

        clustering._small_star = counted_small_star

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    # -- one traced job --------------------------------------------------

    def begin_job(self, name: str) -> None:
        self.job_name = name
        self.enabled = True

    def end_job(self) -> None:
        """Stop tracing and release the frames the wrappers persisted."""
        self.enabled = False
        self.job_name = None
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            sc = self.spark.sparkContext
            saved = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
            sc.setJobGroup(f"layer:{layer}", fn.__name__)
            t0 = time.time()
            try:
                out = fn(*args, **kwargs)
                rows = None
                if isinstance(out, DataFrame):
                    out = out.persist()
                    self._persisted.append(out)
                    rows = out.count()
            finally:
                t1 = time.time()
                for k, v in zip(_GROUP_PROPS, saved):
                    sc.setLocalProperty(k, v)
            self.spans.append(Span(layer, fn.__name__, t0, t1,
                                   self.job_name, rows, out))
            return out

        return traced

    # -- reporting -------------------------------------------------------

    def layer_spans(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([dict(layer=s.layer, name=s.name, start=s.start,
                            end=s.end, parent=s.parent, rows=s.rows)
                       for s in self.spans], f, indent=1)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_event_log(evlog_dir: str, app_id: str) -> dict:
    """Parse the (uncompressed, non-rolling) event log of ``app_id`` into
    jobs {job_id: dict(group, submitted, stages)} and tasks
    [dict(stage, launch, finish, run_ms, cpu_ns, gc_ms, shuffle_read,
    shuffle_write, spill)]."""
    paths = glob.glob(os.path.join(evlog_dir, f"*{app_id}*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {evlog_dir}")
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(paths[0], errors="replace") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = dict(
                    group=props.get("spark.jobGroup.id") or "",
                    submitted=ev["Submission Time"] / 1000.0,
                    stages=list(ev.get("Stage IDs", [])))
            elif kind == "SparkListenerTaskEnd":
                ti = ev.get("Task Info") or {}
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append(dict(
                    stage=ev["Stage ID"],
                    launch=ti.get("Launch Time", 0) / 1000.0,
                    finish=ti.get("Finish Time", 0) / 1000.0,
                    run_ms=tm.get("Executor Run Time", 0),
                    cpu_ns=tm.get("Executor CPU Time", 0),
                    gc_ms=tm.get("JVM GC Time", 0),
                    shuffle_read=(sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0)),
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    spill=tm.get("Disk Bytes Spilled", 0)))
    return dict(jobs=jobs, tasks=tasks)


def _stage_owner(jobs: dict) -> dict[int, int]:
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    return owner


def task_metrics(log: dict, job_ids: set[int]) -> dict:
    """Sum the task metrics of the given jobs (a stage counts for the
    first job that lists it; skipped stages run no tasks)."""
    owner = _stage_owner(log["jobs"])
    mine = [t for t in log["tasks"] if owner.get(t["stage"]) in job_ids]
    by_stage: dict[int, list[float]] = {}
    for t in mine:
        by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
    skews = [max(d) / max(statistics.median(d), 1e-3)
             for d in by_stage.values() if len(d) > 1]
    return dict(
        task_s=sum(t["run_ms"] for t in mine) / 1000.0,
        cpu_s=sum(t["cpu_ns"] for t in mine) / 1e9,
        gc_s=sum(t["gc_ms"] for t in mine) / 1000.0,
        shuffle_read_bytes=sum(t["shuffle_read"] for t in mine),
        shuffle_write_bytes=sum(t["shuffle_write"] for t in mine),
        spill_bytes=sum(t["spill"] for t in mine),
        tasks=len(mine),
        task_skew=max(skews, default=1.0),
        jobs=len(job_ids),
    )


def jobs_in_group(log: dict, group: str) -> set[int]:
    return {j for j, v in log["jobs"].items() if v["group"] == group}


def window_metrics(log: dict, t0: float, t1: float) -> dict:
    """Jobs submitted in [t0, t1] and the part of the window in which no
    task ran (the fixed driver floor: planning, scheduling, collects)."""
    jids = {j for j, v in log["jobs"].items() if t0 <= v["submitted"] <= t1}
    owner = _stage_owner(log["jobs"])
    ivs = sorted((max(t["launch"], t0), min(t["finish"], t1))
                 for t in log["tasks"] if owner.get(t["stage"]) in jids)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return dict(jobs=len(jids), driver_gap_s=(t1 - t0) - covered)
