"""Seeded input generators for the benchmark workloads.

Every input is a function of (workload, size, seed) only: the same seed gives
byte-identical parquet. The program under test sees nothing but these files;
the facts a correctness check needs (planted violation counts, expected
drift verdicts, the rows concept replay must return) are returned to the
benchmark as a ``meta`` dict.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
from workloads import DETECTORS

# Input sizes per workload (rows per side for the two-sample workloads).
TOKEN_ROWS = 16_000
FEATURE_ROWS = 30_000
EVENT_ROWS = 96_000
EVENT_KEYS = 64
CAT_LEVELS = 200

# Error rates before and after each key's planted step.
ERR_BEFORE, ERR_AFTER = 0.05, 0.5


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=16_384)


def _token_table(doc_ids, tokens, n_tok, sources) -> pa.Table:
    offsets = np.zeros(len(tokens) + 1, dtype=np.int32)
    np.cumsum([0 if t is None else len(t) for t in tokens], out=offsets[1:])
    flat = np.concatenate(
        [t for t in tokens if t is not None] or [np.empty(0, np.int32)]
    ).astype(np.int32)
    mask = np.array([t is None for t in tokens])
    lists = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(flat), mask=pa.array(mask)
    )
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": lists,
            "n_tok": pa.array(n_tok, pa.int32(), mask=np.isnan(n_tok)),
            "source": pa.array(sources, pa.string()),
        }
    )


def token_tables(out: str, n_rows: int, seed: int) -> dict:
    """Baseline and drifted current token tables with planted violations.

    The bulk of both tables comes from ``sources.synth.fast_token_parquet``
    (web-heavy ``source`` skew; the current side drifted). As in the
    repository's ``bench.py``, both sides share their doc ids, so nearly
    every bulk row differs from its baseline row and ``token_equality`` is a
    hot check that writes most of the violations. One extra file per side
    holds exactly the violations that ``sources.synth.PlantedExpectations``
    counts; the expected ``token_equality`` count adds the bulk pairs whose
    token arrays differ, compared here element by element.
    """
    from aumos_drift_detector_spark.sources import synth

    base_dir = os.path.join(out, "tokens_baseline")
    cur_dir = os.path.join(out, "tokens_current")
    synth.fast_token_parquet(base_dir, n_rows, seed=2 * seed)
    synth.fast_token_parquet(cur_dir, n_rows, seed=2 * seed + 1, drifted=True)
    bulk_mismatches = differing_token_rows(
        pq.read_table(base_dir, columns=["doc_id", "tokens"]),
        pq.read_table(cur_dir, columns=["doc_id", "tokens"]),
    )

    exp = synth.PlantedExpectations()
    rng = np.random.default_rng([seed, 7])
    n = exp.uniqueness + exp.referential + exp.row_invariant
    n += exp.token_equality + exp.null_rows
    ids = [f"p{i:06d}" for i in range(n)]
    sources = rng.choice(synth.SOURCES, size=n, p=synth.SOURCE_WEIGHTS)
    n_tok = rng.integers(8, 64, size=n).astype(np.float64)
    tokens = [rng.integers(0, synth.VOCAB_SIZE, size=int(k), dtype=np.int32) for k in n_tok]
    # rows are laid out in the order PlantedExpectations lists its counts
    dup = slice(0, exp.uniqueness)
    lo = exp.uniqueness
    orphan = slice(lo, lo + exp.referential)
    lo += exp.referential
    bad_ntok = slice(lo, lo + exp.row_invariant)
    lo += exp.row_invariant
    mutated = range(lo, lo + exp.token_equality)
    lo += exp.token_equality
    nulls = range(lo, lo + exp.null_rows)
    for i in nulls:
        tokens[i] = None
        n_tok[i] = np.nan
    _write(
        _token_table(ids, tokens, n_tok, sources),
        os.path.join(base_dir, "part-planted.parquet"),
    )
    cur_tokens = list(tokens)
    for i in mutated:
        cur_tokens[i] = tokens[i].copy()
        cur_tokens[i][0] = (tokens[i][0] + 1) % synth.VOCAB_SIZE
    cur_ntok = n_tok.copy()
    cur_ntok[bad_ntok] += 7
    cur_sources = sources.copy()
    cur_sources[orphan] = "orphan_src"
    # duplicated keys: an extra copy of each of the first rows
    _write(
        _token_table(
            ids + ids[dup],
            cur_tokens + cur_tokens[dup],
            np.concatenate([cur_ntok, cur_ntok[dup]]),
            np.concatenate([cur_sources, cur_sources[dup]]),
        ),
        os.path.join(cur_dir, "part-planted.parquet"),
    )
    _write(
        pa.table({"source": pa.array(synth.SOURCES, pa.string())}),
        os.path.join(out, "sources_dim", "part-0.parquet"),
    )
    return {
        "expected_violations": {
            "schema": 0,
            "uniqueness": exp.uniqueness,
            "null_rate": 0,
            "referential": exp.referential,
            "ntok_matches_size": exp.row_invariant,
            "token_equality": exp.token_equality + bulk_mismatches,
        },
    }


def differing_token_rows(base: pa.Table, cur: pa.Table) -> int:
    """Rows whose token arrays differ between two tables with the same doc
    ids in the same order."""
    if not base["doc_id"].equals(cur["doc_id"]):
        raise ValueError("bulk token tables do not share their doc ids")

    def flat(col):
        arr = col.combine_chunks()
        offsets = arr.offsets.to_numpy()
        return offsets, arr.values.to_numpy(zero_copy_only=False)

    (ob, vb), (oc, vc) = flat(base["tokens"]), flat(cur["tokens"])
    same_len = np.flatnonzero(np.diff(ob) == np.diff(oc))
    equal = sum(
        np.array_equal(vb[ob[i]:ob[i + 1]], vc[oc[i]:oc[i + 1]]) for i in same_len
    )
    return base.num_rows - int(equal)


def feature_tables(out: str, n_rows: int, seed: int) -> dict:
    """Reference and drifted current feature tables, and their verdicts.

    ``x`` is a lognormal amount rounded to cents, so its distinct count is
    large and grows with the row count; ``cat`` is a Zipf-skewed categorical
    with ``CAT_LEVELS`` levels. The current side shifts both.

    The expected verdicts come from exact counts taken here with numpy, fed
    to the program's driver kernels (``fused_tests_from_sketch`` for PSI, KS
    and W1, ``chi2_from_counts`` for chi-squared). Both cap regimes must
    reproduce them.
    """
    import pandas as pd

    from aumos_drift_detector_spark.config import EngineConfig
    from aumos_drift_detector_spark.functions.kernels import chi2_from_counts
    from aumos_drift_detector_spark.operators.drift import fused_tests_from_sketch

    rng = np.random.default_rng([seed, 11])
    xs, cats = [], []
    for side, (mu, a) in (("ref", (7.0, 1.3)), ("cur", (7.1, 1.2))):
        x = np.round(rng.lognormal(mu, 1.0, n_rows), 2)
        ranks = np.arange(1, CAT_LEVELS + 1, dtype=np.float64)
        p = ranks ** (-a)
        cat = np.char.add("c", rng.choice(CAT_LEVELS, size=n_rows, p=p / p.sum()).astype(str))
        _write(
            pa.table({"x": pa.array(x, pa.float64()), "cat": pa.array(cat, pa.string())}),
            os.path.join(out, side, "part-0.parquet"),
        )
        xs.append(x)
        cats.append(cat)

    def counts(values):
        uniq, inverse = np.unique(np.concatenate(values), return_inverse=True)
        c_ref = np.bincount(inverse[:n_rows], minlength=len(uniq))
        c_cur = np.bincount(inverse[n_rows:], minlength=len(uniq))
        return uniq, c_ref, c_cur

    config = EngineConfig()
    v, c_ref, c_cur = counts(xs)
    sketch = pd.DataFrame({"v": v, "c_ref": c_ref, "c_prod": c_cur})
    fused = fused_tests_from_sketch(sketch, (), "x", config)
    verdicts = [
        {"test": test, "score": float(row["score"]), "is_drifted": bool(row["is_drifted"])}
        for test, row in (
            (test, fused[key].iloc[0])
            for test, key in (("psi", "psi"), ("ks", "ks"), ("wasserstein", "wasserstein"))
        )
    ]
    cat_levels, cat_ref, cat_cur = counts(cats)
    chi2 = chi2_from_counts(
        [str(c) for c in cat_levels], cat_ref.tolist(), cat_cur.tolist(),
        config.chi2_threshold,
    )
    verdicts.append({"test": "chi_squared", "score": chi2.score, "is_drifted": chi2.is_drifted})
    return {"x_distinct": len(v), "verdicts": verdicts}


def event_stream(out: str, n_rows: int, n_keys: int, seed: int) -> dict:
    """Binary error events over ``n_keys`` keys with one planted step each.

    Key ``k`` errs with probability ``ERR_BEFORE`` until its change point and
    ``ERR_AFTER`` from it on. Rows are shuffled so the program must order
    each key's stream by ``seq`` itself.
    """
    rng = np.random.default_rng([seed, 13])
    per_key = n_rows // n_keys
    change = rng.integers(int(0.3 * per_key), int(0.7 * per_key), size=n_keys)
    key = np.repeat(np.arange(n_keys, dtype=np.int32), per_key)
    seq = np.tile(np.arange(per_key, dtype=np.int64), n_keys)
    p = np.where(seq >= change[key], ERR_AFTER, ERR_BEFORE)
    err = (rng.random(key.size) < p).astype(np.float64)
    order = rng.permutation(key.size)
    table = pa.table(
        {
            "key": pa.array(key[order]),
            "seq": pa.array(seq[order]),
            "err": pa.array(err[order]),
        }
    )
    _write(table, os.path.join(out, "part-0.parquet"))
    change_points = {str(k): int(c) for k, c in enumerate(change)}
    frames = replay_reference(key, seq, err)
    problems = checks.detection_problems(frames, change_points)
    if problems:
        raise ValueError(f"seed {seed}: planted steps not detectable: {problems}")
    return {"frames": checks.frame_summaries(frames)}


def replay_reference(key, seq, err) -> dict:
    """The rows ``replay_detector`` (events only) and ``cusum_grouped`` must
    return, computed key by key with the program's own pure-Python
    detectors and ``cusum_change_points``, without Spark."""
    import pandas as pd

    from aumos_drift_detector_spark.operators import concept

    replay_cols = ["key", "seq", "value", "level", "window_size", "n_updates"]
    rows: dict[str, list] = {d: [] for d in DETECTORS}
    rows["cusum"] = []
    for k in np.unique(key):
        order = np.flatnonzero(key == k)
        order = order[np.argsort(seq[order], kind="stable")]
        s, v = seq[order].tolist(), err[order].tolist()
        for name in DETECTORS:
            det, events = concept.DETECTORS[name](), []
            for n, (q, x) in enumerate(zip(s, v), start=1):
                det.update(x)
                level = det.detect()
                if level != concept.NORMAL:
                    width = getattr(det, "width", 0) or det.get_state().get("n_samples", 0)
                    events.append((int(k), q, x, level, int(width), n))
            if not events:  # a silent stream still reports one row
                width = getattr(det, "width", 0) or det.get_state().get("n_samples", 0)
                events.append((int(k), s[-1], float("nan"), concept.NORMAL, int(width), len(s)))
            rows[name].extend(events)
        rows["cusum"].extend(
            (int(k), i, s[i], v[i]) for i in concept.cusum_change_points(v)
        )
    frames = {name: pd.DataFrame(r, columns=replay_cols) for name, r in rows.items() if name != "cusum"}
    frames["cusum"] = pd.DataFrame(rows["cusum"], columns=["key", "change_index", "seq", "value"])
    return frames


def generate(workload: str, seed: int, out: str) -> dict:
    """Write one workload's inputs under ``out`` and return their meta."""
    if workload == "token_validation":
        return token_tables(out, TOKEN_ROWS, seed)
    if workload == "drift":
        return feature_tables(out, FEATURE_ROWS, seed)
    if workload == "concept_replay":
        return event_stream(out, EVENT_ROWS, EVENT_KEYS, seed)
    raise ValueError(f"unknown workload {workload!r}")


def main(argv: list[str]) -> int:
    """``gen.py <workload> <seed> <out_dir>``: write the inputs, print the
    meta as one JSON line."""
    workload, seed, out = argv
    print(json.dumps(generate(workload, int(seed), out)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
