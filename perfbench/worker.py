"""One benchmark run in a fresh JVM: set-up, timed jobs, output checks and,
with ``--trace 1``, the traced job and its per-layer table.

Started by ``perfbench/run.py`` from the root of a checkout, with
``PYTHONPATH`` naming that root so Spark's Python workers can import
``refined_spark``. Writes one JSON document to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import layers as layer_trace  # noqa: E402  (perfbench/layers.py)
from refined_spark import checkpoint, pipeline  # noqa: E402
from refined_spark.operators import extract  # noqa: E402
from refined_spark.operators.metrics import pairwise_f1  # noqa: E402
from refined_spark.session import get_spark  # noqa: E402

# Two task slots: one slot keeps about two cores busy (the JVM task thread
# plus its Python worker), so local[2] fills a 4-core host without
# oversubscribing it. Shuffle width = slot count: one reduce wave.
MASTER = "local[2]"
SHUFFLE_PARTITIONS = 2
MIN_PAIRWISE_F1 = 0.99
STAGES = ["mentions", "candidates", "links", "clusters"]
# Timed warm jobs per run, whatever --seconds says. A warm job still gets
# faster for the next two or three jobs (the JIT is still compiling), so
# every run times the same number of jobs: the same stretch of that curve.
MIN_TIMED_JOBS = 2


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and all its descendants: the JVM and its Python workers."""
    kids: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(entry)] = fields
            kids.setdefault(int(fields[1]), []).append(int(entry))
    total, todo = 0, [os.getpid()]
    while todo:
        p = todo.pop()
        if p in stats:
            total += sum(int(v) for v in stats[p][11:15])
        todo.extend(kids.get(p, []))
    return total / os.sysconf("SC_CLK_TCK")


def digest(clusters) -> str:
    """Order-free digest of a (url, start, cluster_id) frame."""
    r = clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(cast(xxhash64(url, start, cluster_id) as decimal(38, 0)))"
               ).alias("s")).collect()[0]
    return f"{r['n']}:{r['s']}"


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data at ``path``: one file, or a
    directory of part files."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                n_bytes += os.path.getsize(os.path.join(root, name))
                n_files += 1
    return n_bytes, n_files


class E2EBulk:
    """``run_pipeline(mode="e2e")`` over the whole corpus, timed until
    ``clusters.count()`` returns: raw HTML -> JVM extraction -> Python
    dictionary matcher -> candidates -> scoring -> clusters."""

    def __init__(self, spark, corpus: str, work: str) -> None:
        self.spark, self.corpus = spark, corpus
        self.dict_dir = os.path.join(work, "match_dict")

    def prepare(self) -> float:
        t = pipeline.load_tables(self.spark, self.corpus)
        t0 = time.perf_counter()
        pipeline.write_match_dictionary(t["pem"], t["entity"], self.dict_dir,
                                        reuse=False)
        return time.perf_counter() - t0

    def job(self) -> dict:
        t0 = time.perf_counter()
        res = pipeline.run_pipeline(self.spark, self.corpus, mode="e2e",
                                    dict_dir=self.dict_dir)
        res["clusters"].count()
        wall = time.perf_counter() - t0
        return dict(wall=wall, res=res, digest=digest(res["clusters"]))

    def check(self, out: dict) -> list[str]:
        """Every document's JVM-extracted text equals its generated text
        (the byte-identical invariant, not only the guard's sample), and
        the detected (url, start, length) set equals the dictionary-
        matchable gold spans."""
        t, failures = out["res"]["tables"], []
        docs = t["documents"]
        bad = docs.where(~extract.extracted_text_col("html").eqNullSafe(
            F.col("text"))).count()
        if bad:
            failures.append(f"extraction differs from text on {bad} docs")
        gold = t["gold_spans"].where("dict_matchable").select(
            "url", "start", "length")
        found = out["res"]["mentions"].select("url", "start", "length")
        missing, extra = (gold.exceptAll(found).count(),
                          found.exceptAll(gold).count())
        if missing or extra:
            failures.append(f"detected spans differ from gold: "
                            f"{missing} missing, {extra} extra")
        return failures

    def check_repeat(self, out: dict, first: dict) -> list[str]:
        if out["digest"] != first["digest"]:
            return [f"clusters digest {out['digest']} != {first['digest']}"]
        return []

    def release(self, out: dict) -> None:
        out["res"]["unpersist"]()

    def checkpoint_metrics(self, out: dict) -> dict:
        """No checkpoint layer on this path: the prediction is no change."""
        return {f"checkpoint.{s}.wall_s": 0.0 for s in STAGES} | {
            "checkpoint.bytes_written": 0, "checkpoint.files": 0,
            "checkpoint.resume_s": 0.0,
            "checkpoint.bytes_per_input_byte": 0.0}


class SpansJob:
    """The ``tools/run_job.py`` shape: the sampled extraction guard, then
    ``run_pipeline_checkpointed(mode="spans")`` into an empty run dir
    (four parquet stage tables + manifests), then a full resume from the
    same dir. Provided spans bypass the dictionary matcher."""

    def __init__(self, spark, corpus: str, work: str) -> None:
        self.spark, self.corpus = spark, corpus
        self.runs = os.path.join(work, "runs")
        self.n = 0
        self.input_bytes = sum(
            _dir_bytes(os.path.join(corpus, f"{name}.parquet"))[0]
            for name in ("documents", "gold_spans"))

    def prepare(self) -> float:
        return 0.0  # provided spans: no dictionary artifact

    def job(self) -> dict:
        self.n += 1
        run_dir = os.path.join(self.runs, str(self.n))
        t0 = time.perf_counter()
        docs = self.spark.read.parquet(
            os.path.join(self.corpus, "documents.parquet"))
        extract.assert_extraction_contract(docs, mod=64)
        res = checkpoint.run_pipeline_checkpointed(
            self.spark, self.corpus, run_dir, mode="spans")
        wall = time.perf_counter() - t0
        t0 = time.perf_counter()
        resumed = checkpoint.run_pipeline_checkpointed(
            self.spark, self.corpus, run_dir, mode="spans")
        resumed["clusters"].count()
        resume_s = time.perf_counter() - t0
        return dict(wall=wall, res=res, resumed=resumed, run_dir=run_dir,
                    resume_s=resume_s, digest=digest(res["clusters"]),
                    resumed_digest=digest(resumed["clusters"]))

    def check(self, out: dict) -> list[str]:
        """Pairwise F1 against the NumPy-oracle clusters on gold_pairs,
        plus the resume checks of :meth:`check_repeat`."""
        t = out["res"]["tables"]
        expected = self.spark.read.parquet(
            os.path.join(self.corpus, "expected_clusters.parquet"))
        f1 = pairwise_f1(t["gold_pairs"], out["res"]["clusters"],
                         expected).collect()[0]["f1"]
        out["pairwise_f1"] = f1
        failures = self.check_repeat(out, out)
        if f1 < MIN_PAIRWISE_F1:
            failures.append(f"pairwise_f1 {f1:.4f} < {MIN_PAIRWISE_F1}")
        return failures

    def check_repeat(self, out: dict, first: dict) -> list[str]:
        failures = []
        runner = out["resumed"]["runner"]
        if runner.stages_run or runner.stages_resumed != STAGES:
            failures.append(f"resume recomputed {runner.stages_run}")
        if out["resumed_digest"] != out["digest"]:
            failures.append("resumed clusters differ from the fresh ones")
        if out["digest"] != first["digest"]:
            failures.append(f"clusters digest {out['digest']} != "
                            f"{first['digest']}")
        return failures

    def release(self, out: dict) -> None:
        shutil.rmtree(out["run_dir"], ignore_errors=True)

    def checkpoint_metrics(self, out: dict) -> dict:
        m = {}
        for stage in STAGES:
            with open(os.path.join(out["run_dir"], stage,
                                   checkpoint.MANIFEST)) as f:
                m[f"checkpoint.{stage}.wall_s"] = json.load(f)["wall_sec"]
        n_bytes, n_files = _dir_bytes(out["run_dir"])
        return m | {"checkpoint.bytes_written": n_bytes,
                    "checkpoint.files": n_files,
                    "checkpoint.resume_s": out["resume_s"],
                    "checkpoint.bytes_per_input_byte":
                        n_bytes / self.input_bytes}


WORKLOADS = {"e2e_bulk": E2EBulk, "spans_job": SpansJob}


class Run:
    """Counts operations and their failures across one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def checked(self, label: str, fn, *args) -> list[str]:
        self.attempted += 1
        try:
            bad = fn(*args)
        except Exception as e:  # noqa: BLE001 — a failed check is counted
            bad = [f"{type(e).__name__}: {e}"]
        self.failures.extend(f"{label}: {b}" for b in bad)
        return bad

    @property
    def failed(self) -> int:
        return len({f.split(":", 1)[0] for f in self.failures})


def layer_table(tracer, log: dict) -> dict:
    """Span walls and event-log task metrics per layer of the traced job."""
    m = {}
    for layer in layer_trace.LAYERS:
        spans = tracer.layer_spans(layer)
        tm = layer_trace.task_metrics(
            log, layer_trace.jobs_in_group(log, f"layer:{layer}"))
        m[f"{layer}.wall_s"] = sum(s.end - s.start for s in spans)
        for k, v in tm.items():
            m[f"{layer}.{k}"] = v
        m[f"{layer}.rows_out"] = spans[-1].rows if spans else 0
    guard = tracer.layer_spans("extract")
    m["extract.guard_s"] = sum(s.end - s.start for s in guard)
    m["extract.guard_docs"] = sum(int(s.result) for s in guard)
    return m


def traffic_shares(tracer, corpus_docs, n_docs: int) -> dict:
    """Counts taken at the layer boundaries of the traced job, on the
    frames the wrappers materialized."""
    mentions = tracer.layer_spans("mentions")[-1].result
    cands = tracer.layer_spans("candidates")[-1].result
    links = [s for s in tracer.layer_spans("scoring")
             if s.name == "links_from_logits"][-1].result
    clusters = tracer.layer_spans("clustering")[-1].result
    n_m = mentions.count()
    c = cands.agg(
        F.avg((F.size("cand_arr") > 0).cast("double")).alias("hit"),
        F.avg(F.size("cand_arr").cast("double")).alias("per"),
        F.avg(F.col("has_coref").cast("double")).alias("coref"),
        F.avg((F.col("norm_sf") == "acme").cast("double")).alias("hot"),
    ).collect()[0]
    linked = links.where(F.col("pred_qcode").isNotNull()).count()
    text_bytes = corpus_docs.agg(
        F.avg(F.octet_length("text")).alias("b")).collect()[0]["b"]
    return {
        "mentions.per_doc": n_m / n_docs,
        "mentions.text_bytes_per_doc": text_bytes,
        "candidates.hit_ratio": c["hit"],
        "candidates.per_mention": c["per"],
        "candidates.coref_receiver_share": c["coref"],
        "candidates.hot_key_share": c["hot"],
        "scoring.pair_dedup_ratio":
            mentions.select("norm_sf", "ctx_word").distinct().count() / n_m,
        "scoring.link_ratio": linked / links.count(),
        "clustering.clusters": clusters.select("cluster_id").distinct()
        .count(),
        "clustering.rounds": tracer.cc_rounds,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    evlog = os.path.join(a.work, "eventlog")
    conf = {"spark.sql.warehouse.dir": os.path.join(a.work, "warehouse"),
            # the whole heap from the start: peak RSS and GC then do not
            # depend on when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": "-Xms2g"}
    if a.trace:
        os.makedirs(evlog, exist_ok=True)
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": evlog,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}

    run = Run()
    detail: dict = {}
    t0 = time.perf_counter()
    at = detail.setdefault("at", {})  # phase ends, s after t0
    spark = get_spark("perfbench", master=MASTER,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    try:
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[a.workload](spark, a.corpus, a.work)
        dict_s = wl.prepare()
        with open(os.path.join(a.corpus, "_VERSION.json")) as f:
            n_docs = json.load(f)["cfg"]["n_docs"]
        # warm-up: the first submission into the fresh JVM, on the
        # workload's own corpus. It pays JIT, code generation and Python
        # worker start-up, so it is part of set-up, not of docs_per_s.
        first = wl.job()
        t_check = time.perf_counter()
        run.checked("job0", wl.check, first)
        detail |= dict(n_docs=n_docs, session_s=session_s, dict_s=dict_s,
                       warmup_s=first["wall"],
                       check_s=time.perf_counter() - t_check,
                       pairwise_f1=first.get("pairwise_f1"))
        # release before the next job: an identical plan would otherwise
        # read this job's cached stage frames
        wl.release(first)
        at["warmup_checked"] = time.perf_counter() - t0
        if a.trace:
            metrics = traced_run(spark, wl, first, run, a.corpus, n_docs,
                                 a.work, detail)
        else:
            metrics = timed_run(wl, first, run, a.seconds, n_docs, detail)
            metrics["setup_s"] = session_s + dict_s + first["wall"]
        app_id = spark.sparkContext.applicationId
        at["timed"] = time.perf_counter() - t0
    finally:
        spark.stop()
    at["stopped"] = time.perf_counter() - t0
    if a.trace:
        log = layer_trace.read_event_log(evlog, app_id)
        metrics |= layer_table(detail.pop("tracer"), log)
        w = layer_trace.window_metrics(log, *detail.pop("untraced_window"))
        metrics["pipeline.jobs"] = w["jobs"]
        metrics["pipeline.driver_gap_s"] = w["driver_gap_s"]
    with open(a.out, "w") as f:
        json.dump(dict(attempted=run.attempted, failed=run.failed,
                       failures=run.failures, metrics=metrics,
                       detail=detail), f)


def timed_run(wl, first, run: Run, seconds: float, n_docs: int,
              detail: dict) -> dict:
    """Closed loop, one client: warm jobs back to back until their walls
    add up to ``seconds`` (at least ``MIN_TIMED_JOBS``). ``docs_per_s`` is
    the documents of all timed jobs over their summed walls. Outputs are
    checked outside the timed region."""
    walls, resumes, cpus = [], [], []
    while len(walls) < MIN_TIMED_JOBS or sum(walls) < seconds:
        try:
            c0 = tree_cpu_s()
            out = wl.job()
            cpus.append(tree_cpu_s() - c0)
        except Exception as e:  # noqa: BLE001 — a failed job is counted
            run.attempted += 1
            run.failures.append(f"job{len(walls) + 1}: "
                                f"{type(e).__name__}: {e}")
            if len(run.failures) > 3:
                raise
            continue
        walls.append(out["wall"])
        resumes.append(out.get("resume_s"))
        run.checked(f"job{len(walls)}", wl.check_repeat, out, first)
        wl.release(out)
    detail |= dict(job_walls=walls, resume_s=resumes, job_cpu_s=cpus)
    return {"docs_per_s": n_docs * len(walls) / sum(walls)}


def traced_run(spark, wl, first, run: Run, corpus: str, n_docs: int,
               work: str, detail: dict) -> dict:
    """After the first (cold) job: one untraced job (the unperturbed plan:
    job count, driver gap, checkpoint manifests), then the same job traced
    layer by layer."""
    t0 = time.time()
    plain = wl.job()
    detail["untraced_window"] = (t0, time.time())
    run.checked("untraced", wl.check_repeat, plain, first)
    metrics = wl.checkpoint_metrics(plain)
    metrics["pipeline.wall_s"] = plain["wall"]
    wl.release(plain)

    tracer = layer_trace.Tracer(spark)
    tracer.install()
    try:
        tracer.begin_job("traced")
        traced = wl.job()
        run.checked("traced", wl.check_repeat, traced, first)
        docs = spark.read.parquet(os.path.join(corpus, "documents.parquet"))
        metrics |= traffic_shares(tracer, docs, n_docs)
        metrics["tracing.overhead_s"] = traced["wall"] - plain["wall"]
        detail["traced_digest_equal"] = traced["digest"] == plain["digest"]
        tracer.end_job()
        wl.release(traced)
    finally:
        tracer.uninstall()
    tracer.dump(os.path.join(work, "spans.json"))
    detail["tracer"] = tracer
    return metrics


if __name__ == "__main__":
    main()
