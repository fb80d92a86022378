"""Output checks and percentile rules that need no Spark session."""

from types import SimpleNamespace

from perfbench.layers import percentiles
from perfbench.run import Bench


def _bench():
    return Bench(SimpleNamespace(trace=0))


def _pass(digest):
    return {"ops": {"q_rows_only": {"digest": digest}}}


def test_rows_only_digest_must_repeat_and_be_non_empty():
    b = _bench()
    b.check_digests([_pass((3, 7, 9)), _pass((3, 7, 9))], ["q_rows_only"], {})
    assert b.failed == 0
    b.check_digests([_pass((3, 7, 9)), _pass((3, 7, 8)), _pass((0, 0, 0))],
                    ["q_rows_only"], {})
    assert b.failed == 2
    # oracle-checked ops are judged by the check pass, not by the digest
    b.check_digests([_pass((1, 1, 1)), _pass((2, 2, 2))], ["q_rows_only"],
                    {"q_rows_only": {"rows": 1, "digest": "x"}})
    assert b.failed == 2


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert percentiles([])["n"] == 0
    assert percentiles([5.0] * 10)["tail"] is None
    p = percentiles([float(i) for i in range(1, 41)])
    assert p["p50"] == 20.5
    assert p["tail"] == 30.0 and p["tail_pct"] == 75.0
    assert sum(1 for i in range(1, 41) if i > p["tail"]) == 10
