"""Bench-record bookkeeping gates (round 11, VERDICT r10 wrongs #1/#2).

Round 10 serialized one experiment's raw trials under another's key (a
shadowed ``cs_trials`` dict) — the headline medians were right but the
committed BENCH_DETAIL.json record lied about its own provenance. These
tests pin the fix at three layers: the write-time consistency assert,
the committed record itself, and the bottleneck-axis tagger behind the
round-11 axis-matched drift normalization.
"""

from __future__ import annotations

import json
import os

import pytest

import bench
from bench import _assert_trials_consistent, _median, _query_axis

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DETAIL = os.path.join(REPO, "BENCH_DETAIL.json")


# ---------------------------------------------------------------------------
# write-time consistency assert


def test_trials_consistent_accepts_matching_record():
    timings = {
        "cached_scan_separate": 2.0,
        "cached_scan_separate_min": 1.5,
        "mrshare_gsets_merged": 1.332,
        "mrshare_gsets_merged_min": 1.28,
    }
    detail = {
        "queries": timings,  # non-*_trials keys are ignored
        "cached_scan_trials": {"separate": [1.5, 2.0, 2.5]},
        "mrshare_gsets_trials": {"merged": [1.438, 1.332, 1.28]},
    }
    _assert_trials_consistent(detail, timings)  # must not raise


def test_trials_consistent_rejects_clobbered_block():
    """The exact round-10 failure shape: a trials block whose values
    belong to a DIFFERENT experiment's legs."""
    timings = {
        "cached_scan_separate": 12.84,
        "mrshare_gsets_concurrent": 2.624,
    }
    detail = {
        # gsets' trials serialized under cached_scan's key — the
        # leg name doesn't even exist as a cached_scan headline
        "cached_scan_trials": {"concurrent": [2.687, 2.624, 2.53]},
    }
    with pytest.raises(AssertionError):
        _assert_trials_consistent(detail, timings)


def test_trials_consistent_rejects_median_mismatch():
    timings = {"mrshare_merged": 9.999, "mrshare_merged_min": 9.0}
    detail = {"mrshare_trials": {"merged": [1.0, 1.1, 1.2]}}
    with pytest.raises(AssertionError):
        _assert_trials_consistent(detail, timings)


def test_trials_consistent_even_count_rounding_tolerance():
    """Even trial counts average two raw middles; the serialized
    3-place rounding may differ from the headline in the last digit.
    1e-3 tolerance accepts that — and nothing bigger."""
    xs = [1.0004, 1.0006]  # raw median 1.0005 -> headline 1.001 (round)
    timings = {"mrshare_merged": round(_median(xs), 3)}
    detail = {"mrshare_trials": {"merged": [round(x, 3) for x in xs]}}
    _assert_trials_consistent(detail, timings)


# ---------------------------------------------------------------------------
# the committed record must back its own headlines


def test_committed_detail_trials_match_headlines():
    if not os.path.exists(DETAIL):
        pytest.skip("no committed BENCH_DETAIL.json")
    with open(DETAIL) as fh:
        detail = json.load(fh)
    _assert_trials_consistent(detail, detail.get("queries", {}))


# ---------------------------------------------------------------------------
# bottleneck-axis tagging for drift normalization


def test_query_axis_jvm_vs_python(spark):
    import pandas as pd

    jvm_df = spark.range(100).selectExpr("sum(id) AS s")
    assert _query_axis(jvm_df) == "jvm"

    def _ident(it):
        for pdf in it:
            yield pdf

    py_df = spark.range(100).mapInPandas(_ident, "id long")
    assert _query_axis(py_df) == "python"

    from pyspark.sql.functions import pandas_udf

    # no type hints: under `from __future__ import annotations` the
    # hints become strings, which pandas_udf's resolver rejects
    @pandas_udf("long")
    def _twice(s):
        return s * 2

    arrow_df = spark.range(100).select(_twice("id").alias("y"))
    assert _query_axis(arrow_df) == "python"


def test_corpus_axis_tags_known_queries(spark):
    """Spot-check the FULL classifier (execution-window diff + plan
    fallback, the composition bench.py's corpus loop uses) over real
    corpus queries: the n-gram Jaccard shingle build spills an Arrow
    mapInPandas stage at CONSTRUCTION time — invisible to the returned
    plan, caught by the status-store diff — while a plain SQL
    aggregation stays JVM."""
    from bench import _last_sql_exec_id, _python_executed_since
    from sparksql_server_spark.operators import QUERIES
    from tests.conftest import SF_DIR

    def classify(name: str) -> str:
        exec0 = _last_sql_exec_id(spark)
        df = QUERIES[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        return (
            "python"
            if _python_executed_since(spark, exec0)
            or _query_axis(df) == "python"
            else "jvm"
        )

    assert classify("dedup_ngram_jaccard") == "python"
    assert classify("agg_q1_pricing_summary") == "jvm"
    # pure-SQL minhash (no Python stage anywhere) must NOT be tagged
    # python by residue from the jaccard run above
    assert classify("dedup_minhash_lsh") == "jvm"


def test_summary_line_fits_driver_tail_buffer():
    """Round-12 (VERDICT r11 ask #2): the driver json-parses the FINAL
    stdout line from a fixed-size tail buffer. The full ~50-leg queries
    dict outgrew it in r09-r11 ("parsed": null three rounds running);
    the summary must stay a stable ≤10-leg headline that fits with
    ample margin even when every known leg is present."""
    import json as _json

    import bench

    # every leg name the corpus has ever emitted, plus corpus queries —
    # the worst-case timings dict the summary could be handed
    detail = _json.load(open("BENCH_DETAIL.json"))
    timings = dict(detail["queries"])
    for trials_key in (k for k in detail if k.endswith("_trials")):
        for leg in detail[trials_key]:
            timings.setdefault(leg, 1234.567)
    line = bench.summary_line(timings, 9999.999, 0.1)
    parsed = _json.loads(line)
    assert parsed["metric"] == "corpus_total_runtime"
    assert len(parsed["queries"]) <= 10
    assert parsed["detail"] == "BENCH_DETAIL.json"
    # r08 (the last round the driver parsed) proves ~1.2 KB of tail
    # survives after the line; demand a 2x safety margin under that
    assert len(line) < 600, len(line)
    # the headline keeps the baseline-facing legs when present
    for leg in ("cached_scan_batched", "mrshare_merged"):
        assert leg in parsed["queries"]


def test_committed_record_carries_regime_split():
    """Round 12 (VERDICT r11 ask #1): the committed record's
    normalized_vs_prev must carry the first-exec/steady regime split —
    steady_ratio on corpus rows (both records have steady regimes),
    raw_ratio everywhere, and the first_exec_regressions list — so a
    compile-floor flare can never masquerade as a plan regression."""
    import json as _json

    detail = _json.load(open("BENCH_DETAIL.json"))
    nv = detail["normalized_vs_prev"]
    assert "first_exec_regressions" in nv
    rows = nv["queries"]
    corpus_rows = [
        n for n in rows if n in detail["corpus_regimes"]
    ]
    assert corpus_rows, "no corpus rows in normalized_vs_prev"
    assert all("raw_ratio" in rows[n] for n in rows)
    with_steady = [n for n in corpus_rows if "steady_ratio" in rows[n]]
    # nearly every corpus query ran a steady regime in both records
    assert len(with_steady) >= 0.9 * len(corpus_rows)
    # every regression flag is justified by its own row's rule
    for n in nv["regressions"]:
        d = rows[n]
        if n in detail["corpus_regimes"]:
            assert d.get("steady_ratio", d["ratio"]) > 1.3
        else:
            assert d["ratio"] > 1.3 and d["raw_ratio"] > 1.3
