"""The correctness core: Spark pipeline vs the row-at-a-time NumPy oracle
(the 'reference rule'), per-stage and end-to-end (pairwise F1 >= 0.99)."""

import os

import pytest

from refined_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def results(spark, fx_t1, fx_t2):
    """spans-mode pipeline per fixture tier, keyed by fixture dir."""
    return {fx: run_pipeline(spark, fx, mode="spans")
            for fx in (fx_t1, fx_t2)}


def _rows(df, cols, sort_cols=None):
    sort_cols = sort_cols or cols
    return [tuple(r[c] for c in cols)
            for r in df.orderBy(*sort_cols).collect()]


def test_candidates_match_oracle(spark, results):
    for fx, res in results.items():
        exp = spark.read.parquet(
            os.path.join(fx, "expected_candidates.parquet"))
        cols = ["url", "start", "qcode", "cand_source", "cand_rank"]
        assert _rows(res["candidates"], cols) == _rows(exp, cols), fx
        # probabilities too (exact: both sides read the same pem doubles)
        cols = ["url", "start", "qcode", "prob"]
        assert _rows(res["candidates"], cols) == _rows(exp, cols), fx


def test_links_match_oracle(spark, results):
    for fx, res in results.items():
        exp = spark.read.parquet(os.path.join(fx, "expected_links.parquet"))
        cols = ["url", "start", "pred_qcode"]
        assert _rows(res["links"], cols) == _rows(exp, cols), fx
        # confidences within fp tolerance (different summation orders)
        gotc = dict(((r["url"], r["start"]), r["confidence"])
                    for r in res["links"].collect())
        for r in exp.collect():
            assert abs(gotc[(r["url"], r["start"])]
                       - r["confidence"]) < 1e-6, (fx, r["url"], r["start"])


def test_clusters_match_oracle(spark, fx_t1, results):
    exp = spark.read.parquet(os.path.join(fx_t1, "expected_clusters.parquet"))
    got = _rows(results[fx_t1]["clusters"], ["url", "start", "cluster_id"])
    want = _rows(exp, ["url", "start", "cluster_id"])
    assert got == want


def test_pairwise_f1_gate(spark, fx_t2, results):
    """THE gate: F1 >= 0.99 vs reference-rule clusters on same-block pairs,
    at the t2 (sf0.01-equivalent) tier."""
    from refined_spark.operators.metrics import pairwise_f1

    res = results[fx_t2]
    exp = spark.read.parquet(os.path.join(fx_t2, "expected_clusters.parquet"))
    pairs = res["tables"]["gold_pairs"]
    row = pairwise_f1(pairs, res["clusters"], exp).collect()[0]
    assert row["f1"] >= 0.99, dict(row.asDict())


def test_e2e_mode_finds_matchable_mentions(spark, fx_t1, fx_t2):
    """e2e mode's dictionary matcher finds exactly the dict_matchable
    gold spans, and builds the same seven mention columns that
    provided-spans mode builds from those spans."""
    import pyspark.sql.functions as F

    from refined_spark.operators.extract import with_extracted_text
    from refined_spark.operators.mentions import mentions_from_spans

    cols = ["url", "start", "length", "mention_text", "norm_sf",
            "ctx_word", "mention_key"]
    for fx in (fx_t1, fx_t2):
        res = run_pipeline(spark, fx, mode="e2e")
        t = res["tables"]
        docs = with_extracted_text(t["documents"]).select(
            "url", F.col("extracted").alias("text"))
        want = {tuple(r) for r in mentions_from_spans(
            docs, t["gold_spans"].where("dict_matchable"))
            .select(cols).collect()}
        got = {tuple(r) for r in res["mentions"].select(cols).collect()}
        assert got == want and got, fx
        res["unpersist"]()


def test_salted_nonbroadcast_equals_broadcast(spark, fx_t2):
    """broadcast_pem=False routes the alias-array attach through the
    skew-salted shuffle join (blocking.salted_array_join); the result
    must be row-identical to the broadcast plan."""
    from refined_spark.operators.candidates import (
        explode_candidate_arrays,
        mention_candidate_arrays,
        pem_surface_arrays,
    )
    from refined_spark.operators.extract import extracted_text_col
    from refined_spark.operators.mentions import detect_mention_rows
    from refined_spark.pipeline import load_tables, match_dictionary

    t = load_tables(spark, fx_t2)
    docs = t["documents"].withColumn("text", extracted_text_col("html"))
    mentions = detect_mention_rows(
        spark, docs, match_dictionary(t["pem"], t["entity"])).cache()
    pa = pem_surface_arrays(t["pem"], t["entity"])
    cols = ["mention_key", "qcode", "prob", "cand_source", "cand_rank"]
    a = {tuple(r) for r in explode_candidate_arrays(
        mention_candidate_arrays(mentions, pa, broadcast_pem=True))
        .where("qcode is not null").select(cols).collect()}
    b = {tuple(r) for r in explode_candidate_arrays(
        mention_candidate_arrays(mentions, pa, broadcast_pem=False))
        .where("qcode is not null").select(cols).collect()}
    assert a == b and a
