"""The benchmark workloads, driven through the program's public entry points
only.

A workload loads its generated parquet once per Spark session (``load``),
then ``run`` performs one iteration and returns its output, ``check`` lists
what is wrong with that output, and ``layers`` gives the per-layer numbers
that the benchmark itself can see (spans it recorded around the program's
calls, and the program's own timing report).
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import checks

DRIFT_COLUMN, CAT_COLUMN = "x", "cat"
# sketch cap of drift_distributed, as a share of the column's distinct count:
# far enough below it that PSI, KS and W1 all take the distributed fallback
DISTRIBUTED_CAP_SHARE = 0.2
DETECTORS = ("adwin", "ddm", "eddm")


class Tracer:
    """In-memory spans: name, start, end, parent and iteration id.

    Disabled, ``span`` records nothing, so the untraced run times only the
    whole iteration.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.iteration: str | None = None
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                {"name": name, "start": start, "end": time.time(),
                 "parent": parent, "iteration": self.iteration}
            )

    def durations(self, iteration: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s["iteration"] == iteration:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out


class TokenValidation:
    """``ValidationRun.run(resume=False)`` over planted token tables."""

    warmup = 1

    def __init__(self, data: str, meta: dict, work: str) -> None:
        self.data, self.meta = data, meta
        self.out_dir = os.path.join(work, "validation_out")

    def load(self, spark) -> None:
        self.spark = spark
        self.current = spark.read.parquet(os.path.join(self.data, "tokens_current"))
        self.baseline = spark.read.parquet(os.path.join(self.data, "tokens_baseline"))
        self.dim = spark.read.parquet(os.path.join(self.data, "sources_dim"))

    def run(self, tracer: Tracer):
        from aumos_drift_detector_spark.plans.validation import (
            ValidationRun,
            ValidationSettings,
        )

        shutil.rmtree(self.out_dir, ignore_errors=True)
        # the settings of the repository's bench.py validation pass
        settings = ValidationSettings(
            max_null_fraction=0.05, token_sample_fraction=1.0, run_token_histogram=True
        )
        run = ValidationRun(
            self.spark, self.current, self.baseline, self.dim, self.out_dir,
            settings=settings,
        )
        with tracer.span("validation.run"):
            report = run.run(resume=False)
        return report, dict(run.last_job_walls)

    def check(self, output) -> list[str]:
        report, _ = output
        return checks.violation_problems(
            report.violation_counts, self.meta["expected_violations"]
        )

    def layers(self, output, tracer: Tracer) -> dict[str, float]:
        report, walls = output
        files = nbytes = 0
        for root, _, names in os.walk(self.out_dir):
            for f in names:
                files += 1
                nbytes += os.path.getsize(os.path.join(root, f))
        return {
            "validation.violations_job_s": walls["violations"],
            "validation.token_hist_job_s": walls["token_hist"],
            "validation.ntok_sketch_job_s": walls["ntok_sketch"],
            "validation.pool_s": walls["_pool_wall"],
            "validation.finalize_s": walls["_batch_wall"] - walls["_pool_wall"],
            "validation.tail_s": report.wall_ms / 1e3 - walls["_batch_wall"],
            "validation.output_files": files,
            "validation.output_bytes": nbytes,
        }


class Drift:
    """PSI, KS and W1 on a continuous column plus chi-squared on a categorical
    one, with the sketch cap either above the continuous column's distinct
    count (``collect``) or below it (``distributed``: PSI, KS and W1 take the
    persisted prefix-sum fallback). Chi-squared runs in the collect regime
    only: its few hundred categories stay under either cap, so both regimes
    would run the same plan.

    Both regimes must reproduce the verdicts that the generator derived from
    exact counts, so they agree with each other.
    """

    PROBE_METRICS = ("drift.sketch_collect_s", "drift.sketch_rows", "drift.kernel_s")
    # name -> (operator, column, the verdict's test name)
    TESTS = {
        "psi": ("psi_test", DRIFT_COLUMN, "psi"),
        "ks": ("ks_test", DRIFT_COLUMN, "ks"),
        "w1": ("wasserstein_test", DRIFT_COLUMN, "wasserstein"),
        "chi2": ("chi2_test", CAT_COLUMN, "chi_squared"),
    }
    REGIME_TESTS = {"collect": ("psi", "ks", "w1", "chi2"), "distributed": ("psi", "ks", "w1")}

    def __init__(self, regime: str, data: str, meta: dict) -> None:
        from aumos_drift_detector_spark.config import EngineConfig

        self.regime, self.data, self.meta = regime, data, meta
        self.tests = self.REGIME_TESTS[regime]
        if regime == "collect":
            self.config = EngineConfig()
        else:
            cap = int(meta["x_distinct"] * DISTRIBUTED_CAP_SHARE)
            self.config = EngineConfig(sketch_collect_max_rows=cap)

    def load(self, spark) -> None:
        self.ref = spark.read.parquet(os.path.join(self.data, "ref"))
        self.cur = spark.read.parquet(os.path.join(self.data, "cur"))

    def run(self, tracer: Tracer) -> list[dict]:
        from aumos_drift_detector_spark.operators import drift as D

        verdicts = []
        for name in self.tests:
            op, column, _ = self.TESTS[name]
            with tracer.span(f"drift.{self.regime}.{name}"):
                verdict = getattr(D, op)(self.ref, self.cur, column, config=self.config)
            verdicts.append(verdict.to_dict())
        return verdicts

    def check(self, output) -> list[str]:
        problems = []
        cap = self.config.sketch_collect_max_rows
        if (self.meta["x_distinct"] <= cap) != (self.regime == "collect"):
            problems.append(f"{self.meta['x_distinct']} distinct values vs cap {cap}")
        want = {v["test"]: v for v in self.meta["verdicts"]}
        expected = [want[self.TESTS[name][2]] for name in self.tests]
        return problems + checks.verdict_problems(output, expected)

    def layers(self, output, tracer: Tracer) -> dict[str, float]:
        d = tracer.durations(tracer.iteration)
        return {f"drift.{self.regime}.{t}_s": d[f"drift.{self.regime}.{t}"] for t in self.tests}

    def probe(self) -> dict[str, float]:
        """Sketch collect and driver kernel timed apart; runs outside the
        timed iterations, so it adds no jobs to them."""
        from aumos_drift_detector_spark.operators import drift as D

        t0 = time.monotonic()
        pdf = D.per_value_sketch(self.ref, self.cur, DRIFT_COLUMN).toPandas()
        t1 = time.monotonic()
        D.fused_tests_from_sketch(pdf, (), DRIFT_COLUMN, self.config)
        t2 = time.monotonic()
        return dict(zip(self.PROBE_METRICS, (t1 - t0, len(pdf), t2 - t1)))


class ConceptReplay:
    """ADWIN, DDM and EDDM replay plus grouped CUSUM over a keyed error stream."""

    warmup = 1

    def __init__(self, data: str, meta: dict) -> None:
        self.data, self.meta = data, meta

    def load(self, spark) -> None:
        self.events = spark.read.parquet(self.data)

    def run(self, tracer: Tracer) -> dict:
        from aumos_drift_detector_spark.operators import concept

        frames = {}
        for det in DETECTORS:
            with tracer.span(f"concept.{det}"):
                frames[det] = concept.replay_detector(
                    self.events, ["key"], "seq", "err", detector=det
                ).toPandas()
        with tracer.span("concept.cusum"):
            frames["cusum"] = concept.cusum_grouped(
                self.events, ["key"], "seq", "err"
            ).toPandas()
        return frames

    def check(self, output) -> list[str]:
        return checks.frames_problems(output, self.meta["frames"])

    def layers(self, output, tracer: Tracer) -> dict[str, float]:
        d = tracer.durations(tracer.iteration)
        return {f"concept.{k}_s": d[f"concept.{k}"] for k in (*DETECTORS, "cusum")}


class DriftRegimes:
    """The drift suite under the sketch collect cap, then over it.

    One iteration runs both regimes in turn on one session; each regime's
    verdicts are checked on their own.
    """

    warmup = 1

    def __init__(self, data: str, meta: dict, work: str) -> None:
        self.parts = {regime: Drift(regime, data, meta) for regime in Drift.REGIME_TESTS}

    def load(self, spark) -> None:
        for part in self.parts.values():
            part.load(spark)

    def run(self, tracer: Tracer) -> dict:
        return {name: part.run(tracer) for name, part in self.parts.items()}

    def check(self, output) -> list[str]:
        return [
            f"{name}: {p}"
            for name, part in self.parts.items()
            for p in part.check(output[name])
        ]

    def layers(self, output, tracer: Tracer) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, part in self.parts.items():
            out.update(part.layers(output[name], tracer))
        return out

    def probe(self) -> dict[str, float]:
        return self.parts["collect"].probe()


def make(name: str, data: str, meta: dict, work: str):
    if name == "token_validation":
        return TokenValidation(data, meta, work)
    if name == "drift":
        return DriftRegimes(data, meta, work)
    if name == "concept_replay":
        return ConceptReplay(data, meta)
    raise ValueError(f"unknown workload {name!r}")


NAMES = ("token_validation", "drift", "concept_replay")
