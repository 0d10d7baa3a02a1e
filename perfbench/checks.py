"""Output checks against the generators' truth.

Each check takes plain pandas/numpy outputs and returns a list of failure
messages (empty when the output is correct), so the benchmark's own tests
can feed it deliberately corrupted outputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def check_assignment(out: pd.DataFrame, n: int, sample_ids: np.ndarray,
                     expected: np.ndarray, col: str = "region_id"
                     ) -> list[str]:
    """``out`` holds ``row_id`` and ``col`` for a point set of ``n`` rows:
    every row_id 0..n-1 appears exactly once, and the rows in
    ``sample_ids`` carry the brute-force ``expected`` assignment."""
    errs = []
    ids = out["row_id"].to_numpy()
    if len(ids) != n:
        errs.append(f"{len(ids)} output rows for {n} points")
    seen = np.bincount(ids[(ids >= 0) & (ids < n)], minlength=n)
    if (seen != 1).any() or ((ids < 0) | (ids >= n)).any():
        errs.append(f"{int((seen != 1).sum())} row_ids not present exactly once")
        return errs
    got = out[col].to_numpy(dtype=object)[np.argsort(ids)][sample_ids]
    bad = [i for i, (g, e) in enumerate(zip(got, expected))
           if not (g == e or (pd.isna(g) and pd.isna(e)))]
    if bad:
        i = bad[0]
        errs.append(f"{len(bad)}/{len(sample_ids)} sampled points disagree "
                    f"with brute force (row {sample_ids[i]}: got {got[i]!r}, "
                    f"expected {expected[i]!r})")
    return errs


def check_pages(out: pd.DataFrame, truth: dict) -> list[str]:
    """One output row per planted mention; ``match_status`` counts equal
    the planted kinds. The page pipeline forward-geocodes the extracted,
    despaced code, so a partial mention (known outward, unknown inward)
    has no space to split on and resolves like an unknown one: status 0."""
    errs = []
    if len(out) != truth["mentions"]:
        errs.append(f"{len(out)} output rows for {truth['mentions']} "
                    "planted mentions")
    got = out["match_status"].value_counts().to_dict()
    c = truth["counts"]
    want = {1: c["exact"], 2: 0, 0: c["partial"] + c["unknown"]}
    for status, n in want.items():
        if got.get(status, 0) != n:
            errs.append(f"match_status={status}: {got.get(status, 0)} rows, "
                        f"planted {n}")
    return errs


def check_resume(recomputed: list[int], deleted: list[int],
                 full: pd.DataFrame, resumed: pd.DataFrame) -> list[str]:
    """The resume recomputes exactly the buckets whose manifests were
    deleted, and its output equals the full run's."""
    errs = []
    if sorted(recomputed) != sorted(deleted):
        errs.append(f"resume recomputed buckets {sorted(recomputed)}, "
                    f"deleted {sorted(deleted)}")
    if not frame_equal(full, resumed):
        errs.append("resumed output differs from the full run's output")
    return errs


def frame_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Row-multiset equality, column order and row order ignored."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols, na_position="first").reset_index(drop=True)
    b = b[cols].sort_values(cols, na_position="first").reset_index(drop=True)
    return a.equals(b)


def check_clusters(out: pd.DataFrame, n: int, planted: list[list[int]],
                   floor: float) -> tuple[list[str], float]:
    """``out`` holds ``doc_id, cluster_id`` for ``n`` docs: every doc once;
    at least ``floor`` of the planted clusters are recovered whole (all
    members share one cluster id); no two planted clusters share a
    cluster id. Returns (failures, recovered share)."""
    errs = []
    ids = out["doc_id"].to_numpy()
    if len(ids) != n or len(np.unique(ids)) != n:
        errs.append(f"{len(ids)} rows / {len(np.unique(ids))} distinct "
                    f"doc_ids for {n} docs")
        return errs, 0.0
    label = dict(zip(ids.tolist(), out["cluster_id"].tolist()))
    recovered = 0
    owner: dict = {}
    for k, members in enumerate(planted):
        labels = {label[m] for m in members}
        recovered += len(labels) == 1
        for lab in labels:
            if owner.setdefault(lab, k) != k:
                errs.append(f"planted clusters {owner[lab]} and {k} merged "
                            f"into cluster {lab}")
                break
    share = recovered / max(len(planted), 1)
    if share < floor:
        errs.append(f"recovered {share:.3f} of planted clusters, "
                    f"floor {floor}")
    return errs, share
