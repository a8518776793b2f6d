"""Tests of the benchmark's own parts: the seeded generator, the output
checker (including its fault-injection self-test) and the event-log stage
parser against a small checked-in log.

    python3 perfbench/run.py --selftest
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import expect  # noqa: E402
import inputs  # noqa: E402
import ledger  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog")


# ------------------------------------------------------------- generator


@pytest.mark.parametrize("gen", sorted(inputs.GENERATORS))
def test_generator_is_seeded(gen):
    make = inputs.GENERATORS[gen]
    a, b, c = make(7), make(7), make(8)
    assert a.equals(b)
    assert not a["text"].equals(c["text"])
    assert list(a.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert str(a["doc_id"].dtype) == "int64" and a["doc_id"].is_unique


def test_words_use_only_font_glyphs():
    from api_ocr_spark.imaging.font import CHARSET

    assert set("".join(inputs.VOCAB)) <= CHARSET


def test_work_per_seed_is_nearly_constant():
    spans = [sum(len(s) for s in expect.expected_spans(inputs.fused_corpus(seed)).values())
             for seed in range(5)]
    assert max(spans) == min(spans)  # the length multiset is fixed


def test_text_corpus_plants_near_duplicates_in_low_ids():
    docs = inputs.text_corpus(3)
    words = [set(t.split()) for t in docs["text"]]
    near = sum(1 for i in range(1, 150)
               if any(len(words[i] & words[j]) / len(words[i] | words[j]) > 0.8
                      for j in range(i)))
    assert near >= inputs.TEXT_NEARDUP_SHARE * inputs.TEXT_DOCS // 3 * 0.8


# --------------------------------------------------------------- checker


def test_expected_spans_follow_the_synthesis_rule():
    words = [f"w{i}" for i in range(20)]
    docs = inputs._frame([2], [" ".join(words)])
    spans = expect.expected_spans(docs)["2"]
    assert [s[3] for s in spans] == [0, 1, 2]
    assert spans[0] == ("text", " ".join(words[:8]), None, 0)
    assert spans[1] == ("media", " ".join(words[8:16]), "m-2-1", 1)  # (2 + 1) % 3 == 0
    assert spans[2] == ("text", " ".join(words[16:]), None, 2)


def test_selftest_catches_every_injected_fault():
    assert expect.selftest(inputs.fused_corpus(1)) == []


def test_selftest_reports_a_blind_checker(monkeypatch):
    monkeypatch.setattr(expect, "failed_docs", lambda expected, got: 0)
    assert set(expect.selftest(inputs.fused_corpus(1))) == {
        "dropped span", "swapped offsets", "duplicated document"}


def test_run_exits_nonzero_without_a_result_when_selftest_misses(monkeypatch, capsys):
    import run

    monkeypatch.setattr(expect, "failed_docs", lambda expected, got: 0)
    assert run.main(["--workload", "fused_completo", "--seed", "1"]) == 2
    assert "correct" not in capsys.readouterr().out


def test_store_failures_flags_missing_lineage_and_span_counts():
    docs = inputs.store_corpus(1)
    expected = expect.expected_spans(docs)
    rows = [{"doc_id": d, "bucket": 0} for d in expected]
    lineage = [{"bucket": 0, "n_docs": len(expected)}]
    metrics = [{"n_spans": expect.media_span_count(expected) - 1}]
    problems = expect.store_failures(expected, rows, lineage, metrics, n_buckets=2)
    assert any("lineage buckets" in p for p in problems)
    assert any("n_spans" in p for p in problems)
    ok = expect.store_failures(expected, rows, lineage + [{"bucket": 1, "n_docs": 0}],
                               [{"n_spans": expect.media_span_count(expected)}], 2)
    assert ok == []


def test_canon_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": [0.5, None]})
    b = pd.DataFrame({"y": [None, 0.5], "x": [2, 1]})
    assert expect.canon(a) == expect.canon(b)
    assert expect.canon(a) != expect.canon(a.assign(x=[1, 3]))


# ------------------------------------------------------ event-log parser


def test_fixture_stage_roles():
    log = ledger.parse_eventlog(FIXTURE)
    roles = {sid: st["role"] for sid, st in log["stages"].items()}
    assert roles[1] == "scan"        # parquet scan feeding the doc repartition
    assert roles[6] == "exchange"    # span chunking between two exchanges
    assert roles[9] == "spans"       # the MapInPandas OCR stage
    assert roles[13] == "reassemble"  # final offset-ordered collect
    assert log["jobs"][3]["group"] == "run"


def test_fixture_totals_by_job_group():
    log = ledger.parse_eventlog(FIXTURE)
    led = ledger.stage_ledger(log, {"plan", "run"})
    assert led["jobs"] == 7 and led["stages"] == 7
    assert led["run_s"] == pytest.approx(9.134)
    spans = led["roles"]["spans"]
    assert spans["run_s"] == pytest.approx(7.671)
    assert spans["task_skew"] == pytest.approx(3475 / ((389 + 3473) / 2))
    assert spans["shuffle_read_mb"] == pytest.approx(3370 / 1e6)
    assert led["python"]["run_s"] == pytest.approx(6.534)
    assert led["python"]["sent_mb"] == pytest.approx(5232 / 1e6)
    other = ledger.stage_ledger(log, {"other"})
    assert other["jobs"] == 2 and other["run_s"] == pytest.approx(0.158)


def test_peak_rss_counts_this_process():
    rss = ledger.peak_rss_mb()
    assert rss["driver"] > 10 and rss["total"] >= rss["driver"]


def test_cpu_ticks_are_monotone():
    s0, n0 = ledger.cpu_ticks()
    s1, n1 = ledger.cpu_ticks()
    assert 0 <= s0 <= n0 and s1 >= s0 and n1 >= n0

