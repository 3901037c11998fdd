"""The paired A/B summary of ``bench_extra.py --pair`` on synthetic
benchmark results (no Spark)."""

from __future__ import annotations

import bench_extra

E2E = [
    {"name": "clips_per_s", "better": "higher", "bound": 0.25},
    {"name": "batch_p50_s", "better": "lower", "bound": 0.25},
]


def _result(clips, p50, correct=True):
    return {
        "correct": correct, "attempted": 2, "failed": 0 if correct else 1,
        "metrics": {
            "clips_per_s": {"value": clips, "unit": "1/s"},
            "batch_p50_s": {"value": p50, "unit": "s"},
        },
    }


def test_summary_medians_wins_and_verdicts():
    runs = {
        "base": [_result(c, 2.0) for c in (100, 104, 98, 102, 100)],
        # every change run reads better on throughput; p50 is 40 % worse
        "change": [_result(c, 2.8) for c in (110, 112, 109, 111, 115)],
    }
    rows = {r["metric"]: r for r in bench_extra.summarize_pairs(runs, E2E)}
    clips = rows["clips_per_s"]
    assert clips["base"] == (100, 100, 102) and clips["change"][1] == 111
    assert clips["wins"] == 5 and clips["pairs"] == 5
    assert clips["gap_exceeds_base_iqr"] and not clips["worse_than_bound"]
    assert clips["verdict"] == "within bound"
    p50 = rows["batch_p50_s"]
    assert p50["wins"] == 0 and p50["worse_than_bound"]
    assert p50["verdict"] == "worse"
    assert clips["bad_runs"] == {"base": 0, "change": 0}


def test_summary_wide_spread_is_unresolved_and_counts_bad_runs():
    runs = {
        "base": [_result(c, 1.0) for c in (40, 100, 160, 100)],
        "change": [_result(c, 1.0) for c in (60, 90, 140, 100)]
        + [_result(100, 1.0, correct=False)],
    }
    rows = {r["metric"]: r for r in bench_extra.summarize_pairs(runs, E2E)}
    clips = rows["clips_per_s"]
    assert clips["pairs"] == 4  # the unpaired fifth change run is not a pair
    assert clips["wins"] == 1  # 60 > 40; the tie at 100 counts for neither
    assert clips["verdict"] == "unresolved"
    assert clips["bad_runs"] == {"base": 0, "change": 1}
    # equal runs everywhere: no wins, no gap, within bound
    assert rows["batch_p50_s"]["wins"] == 0
    assert rows["batch_p50_s"]["verdict"] == "within bound"
    lines = bench_extra.format_pair_rows("audio_batch", list(rows.values()))
    assert lines[0].startswith("audio_batch clips_per_s [higher, bound 0.25]: base ")


def test_per_layer_metrics_get_medians_and_wins_but_no_verdict():
    """Metrics without a bound (the per-layer ones of a traced run) get
    medians, quartiles and wins only, and format without a verdict."""
    def traced(jobs, sign_s):
        return {
            "correct": True, "attempted": 1, "failed": 0,
            "metrics": {
                "pipeline.spark_jobs": {"value": jobs, "unit": "count"},
                "audio.sign_s": {"value": sign_s, "unit": "s"},
            },
        }

    per_layer = [
        {"name": "pipeline.spark_jobs", "unit": "count", "better": "lower"},
        {"name": "audio.sign_s", "unit": "s", "better": "lower"},
    ]
    runs = {
        "base": [traced(22, s) for s in (1.0, 1.2, 1.1)],
        "change": [traced(22, s) for s in (0.9, 1.3, 1.0)],
    }
    rows = {
        r["metric"]: r
        for r in bench_extra.summarize_pairs(runs, E2E + per_layer)
    }
    assert set(rows) == {"pipeline.spark_jobs", "audio.sign_s"}
    jobs, sign = rows["pipeline.spark_jobs"], rows["audio.sign_s"]
    assert jobs["base"] == jobs["change"] == (22, 22, 22)
    assert jobs["wins"] == 0 and jobs["pairs"] == 3  # ties win nothing
    assert sign["change"][1] == 1.0 and sign["wins"] == 2
    assert "verdict" not in sign and "bound" not in sign
    line = bench_extra.format_pair_rows("audio_batch", [sign])[0]
    assert line == (
        "audio_batch audio.sign_s [lower, per layer]: "
        "base 1.1 (1.05-1.15) | change 1 (0.95-1.15) | wins 2/3"
    )


def _clips_pairs(base, change):
    return {
        "base": [_result(c, 1.0) for c in base],
        "change": [_result(c, 1.0) for c in change],
    }


def test_gain_shown_needs_nine_of_ten_wins_and_a_gap_above_base_iqr():
    base = [100, 101, 102, 103, 104, 105, 106, 107, 108, 109]
    # 9/10 wins (the last pair loses), median gap 10 above a base IQR
    # of 4.5: shown
    nine = [c + 12 for c in base[:9]] + [100]
    clips = bench_extra.summarize_pairs(_clips_pairs(base, nine), E2E[:1])[0]
    assert clips["wins"] == 9 and clips["gap_exceeds_base_iqr"]
    assert clips["gain_shown"]
    line = bench_extra.format_pair_rows("audio_batch", [clips])[0]
    assert "| gain shown: yes |" in line
    # 8/10 wins with the same large gap: not shown
    eight = [c + 12 for c in base[:8]] + [100, 100]
    clips = bench_extra.summarize_pairs(_clips_pairs(base, eight), E2E[:1])[0]
    assert clips["wins"] == 8 and clips["gap_exceeds_base_iqr"]
    assert not clips["gain_shown"]
    # 10/10 wins by 1, inside the base IQR: not shown
    ten = [c + 1 for c in base]
    clips = bench_extra.summarize_pairs(_clips_pairs(base, ten), E2E[:1])[0]
    assert clips["wins"] == 10 and not clips["gap_exceeds_base_iqr"]
    assert not clips["gain_shown"]
    assert "| gain shown: no |" in bench_extra.format_pair_rows(
        "audio_batch", [clips]
    )[0]
