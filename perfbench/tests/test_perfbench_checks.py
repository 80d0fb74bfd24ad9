"""Correctness checkers of the benchmark iterations.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import checks  # noqa: E402
import gen  # noqa: E402

PLANTED = {"uniqueness": 50, "referential": 30, "null_rate": 0}


def verdict(test, score, drifted):
    return {"test": test, "score": score, "is_drifted": drifted}


class TestViolations:
    def test_exact_counts_pass(self):
        assert checks.violation_problems(dict(PLANTED, extra=3), PLANTED) == []

    def test_wrong_or_missing_count_fails(self):
        problems = checks.violation_problems({"uniqueness": 49, "null_rate": 0}, PLANTED)
        assert len(problems) == 2
        assert any(p.startswith("referential: None") for p in problems)


class TestVerdicts:
    want = [verdict("psi", 0.31, True), verdict("ks", 1e-12, True)]

    def test_within_tolerance(self):
        got = [verdict("psi", 0.31 * (1 + 5e-10), True), verdict("ks", 2e-12, True)]
        assert checks.verdict_problems(got, self.want) == []

    def test_score_beyond_tolerance(self):
        got = [verdict("psi", 0.31 + 1e-6, True), verdict("ks", 1e-12, True)]
        assert checks.verdict_problems(got, self.want) == [
            f"psi: score {0.31 + 1e-6!r} != 0.31"
        ]

    def test_flag_mismatch(self):
        got = [verdict("psi", 0.31, False), verdict("ks", 1e-12, True)]
        assert checks.verdict_problems(got, self.want) == [
            "psi: is_drifted False != True"
        ]

    def test_missing_test(self):
        assert checks.verdict_problems(self.want[:1], self.want) != []


class TestDetection:
    change = {str(k): 100 for k in range(10)}

    @staticmethod
    def frame(keys, seq, level="drift"):
        return pd.DataFrame({"key": keys, "seq": [seq] * len(keys), "level": [level] * len(keys)})

    def test_every_key_caught(self):
        adwin = self.frame(list(range(10)), 150)
        cusum = pd.DataFrame({"key": list(range(10)), "seq": [100] * 10})
        assert checks.detection_problems({"adwin": adwin, "cusum": cusum}, self.change) == []

    def test_one_miss_covered_by_another_detector(self):
        ddm = pd.concat([self.frame(list(range(9)), 150), self.frame([9], 90)])
        eddm = self.frame(list(range(10)), 120)
        assert checks.detection_problems({"ddm": ddm, "eddm": eddm}, self.change) == []

    def test_key_missed_by_every_detector(self):
        ddm = self.frame(list(range(9)), 150)
        eddm = pd.concat([self.frame(list(range(9)), 150), self.frame([9], 300, "warning")])
        assert checks.detection_problems({"ddm": ddm, "eddm": eddm}, self.change) == [
            "no detector reports drift after the change point on keys ['9']"
        ]

    def test_detector_below_share(self):
        adwin = self.frame(list(range(10)), 150)
        ddm = self.frame(list(range(8)), 150)
        assert checks.detection_problems({"adwin": adwin, "ddm": ddm}, self.change) == [
            "ddm: drift after the change point on 8 of 10 keys"
        ]


class TestFrames:
    def test_row_order_and_scalar_types_do_not_matter(self):
        a = pd.DataFrame({"key": [1, 2], "v": [0.5, float("nan")]})
        b = a.iloc[::-1].reset_index(drop=True).astype({"key": "int32"})
        want = checks.frame_summaries({"x": a})
        assert checks.frames_problems({"x": b}, want) == []

    def test_value_change_is_seen(self):
        a = pd.DataFrame({"key": [1, 2], "v": [0.5, 0.25]})
        b = pd.DataFrame({"key": [1, 2], "v": [0.5, 0.26]})
        problems = checks.frames_problems({"x": b}, checks.frame_summaries({"x": a}))
        assert len(problems) == 1 and problems[0].startswith("x: 2 rows")

    def test_missing_row_or_frame_is_seen(self):
        a = pd.DataFrame({"key": [1, 2], "v": [0.5, 0.25]})
        want = checks.frame_summaries({"x": a, "y": a})
        assert checks.frames_problems({"x": a.iloc[:1], "y": a}, want) == [
            f"x: 1 rows, digest {checks.frame_summaries({'x': a.iloc[:1]})['x']['digest'][:12]}; "
            f"expected 2 rows, digest {want['x']['digest'][:12]}"
        ]
        assert checks.frames_problems({"x": a}, want) == ["frames ['x'] != ['x', 'y']"]


class TestExpectedOutputs:
    def tokens(self, ids, arrays):
        return pa.table({"doc_id": pa.array(ids), "tokens": pa.array(arrays, pa.list_(pa.int32()))})

    def test_token_rows_compared_element_by_element(self):
        ids = ["a", "b", "c", "d"]
        base = self.tokens(ids, [[1, 2], [3], [4, 5], [6]])
        cur = self.tokens(ids, [[1, 2], [3, 0], [4, 6], [6]])
        assert gen.differing_token_rows(base, cur) == 2

    def test_token_tables_must_share_ids(self):
        with pytest.raises(ValueError):
            gen.differing_token_rows(self.tokens(["a"], [[1]]), self.tokens(["b"], [[1]]))

    def test_silent_stream_reports_one_terminal_row(self):
        n = 40
        frames = gen.replay_reference(
            np.zeros(n, np.int32), np.arange(n, dtype=np.int64)[::-1].copy(), np.zeros(n)
        )
        row = frames["adwin"].iloc[0]
        assert len(frames["adwin"]) == 1
        assert (row["key"], row["seq"], row["level"], row["n_updates"]) == (0, n - 1, "normal", n)
        assert np.isnan(row["value"])
        assert frames["cusum"].empty
