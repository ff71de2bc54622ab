"""Correctness checks of each workload's output against the planted truth.

Every check takes plain Python / pandas / NumPy values collected from the
program's output and returns a list of failure messages; an empty list
means the output is correct. No Spark here, so the checks are testable
on hand-corrupted outputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# DMP recall floor and false-discovery ceiling at FDR 0.05. They catch a
# broken stage (samples mislabelled, p-values or BH wrong, everything
# called). The planted effects (3-4 M-value units) stand far above the
# noise (sd 0.3); BMIQ's per-sample quantile maps still move mid-range
# probes a little differently in each sample, so BH calls some probes
# with no planted effect: on 16 x 4000 cohorts, recall 0.97-1.0 and a
# false-discovery proportion of 0.06-0.12. Both figures are printed with
# every run.
DMP_FDR = 0.05
DMP_RECALL_FLOOR = 0.5
DMP_FDP_CEILING = 0.5


def dmp_recall_fdp(truth: dict, dmp: pd.DataFrame) -> tuple[float, float]:
    """Recall of the planted DMPs and the false-discovery proportion
    among probes called at ``adj_p < DMP_FDR``."""
    called = set(dmp.loc[dmp["adj_p"] < DMP_FDR, "probe_id"])
    planted = set(truth["dmp_probes"])
    recall = len(called & planted) / max(len(planted), 1)
    fdp = len(called - planted) / max(len(called), 1)
    return recall, fdp


def check_epic(truth: dict, qc_samples, qc_probes, dmp: pd.DataFrame, n_pca_rows: int) -> list[str]:
    """``dmp`` has columns ``probe_id``, ``p_value``, ``adj_p``."""
    fails = []
    if sorted(qc_samples) != truth["qc_samples"]:
        fails.append(f"QC samples differ: got {len(qc_samples)}, want {len(truth['qc_samples'])}")
    if sorted(qc_probes) != truth["qc_probes"]:
        fails.append(f"QC probes differ: got {len(qc_probes)}, want {len(truth['qc_probes'])}")
    if n_pca_rows != len(truth["qc_samples"]):
        fails.append(f"PCA scores for {n_pca_rows} samples, want {len(truth['qc_samples'])}")
    if dmp["probe_id"].duplicated().any():
        fails.append("DMP table has duplicate probe rows")
    if set(dmp["probe_id"]) != set(truth["qc_probes"]):
        fails.append(f"DMP table covers {dmp['probe_id'].nunique()} probes, want {len(truth['qc_probes'])}")
    adj = dmp["adj_p"].to_numpy(dtype=float)
    if not np.all((adj >= 0.0) & (adj <= 1.0)):
        fails.append("adj_p outside [0, 1]")
    ordered = dmp.sort_values(["p_value", "adj_p"])["adj_p"].to_numpy(dtype=float)
    if np.any(np.diff(ordered) < 0):
        fails.append("adj_p not monotone in p_value")
    recall, fdp = dmp_recall_fdp(truth, dmp)
    if recall < DMP_RECALL_FLOOR:
        fails.append(f"DMP recall {recall:.3f} below {DMP_RECALL_FLOOR}")
    if fdp > DMP_FDP_CEILING:
        fails.append(f"DMP false-discovery proportion {fdp:.3f} above {DMP_FDP_CEILING}")
    return fails


def check_idat(truth: dict, expected: np.ndarray, written: pd.DataFrame) -> list[str]:
    """``written`` has columns ``basename``, ``probe_id``, ``beta``;
    ``expected`` is the (sample, probe) matrix of ``M / (M + U + 100)``."""
    fails = []
    n_s, n_p = expected.shape
    if len(written) != n_s * n_p:
        fails.append(f"{len(written)} betas written, want {n_s * n_p}")
    si = pd.Index(truth["basenames"]).get_indexer(written["basename"])
    pi = pd.Index(truth["probe_ids"]).get_indexer(written["probe_id"])
    if (si < 0).any() or (pi < 0).any():
        return fails + ["betas written for unknown samples or probes"]
    flat = si.astype(np.int64) * n_p + pi
    if np.bincount(flat, minlength=n_s * n_p).max(initial=0) > 1:
        fails.append("a (sample, probe) beta is written more than once")
    bad = int(np.count_nonzero(written["beta"].to_numpy(dtype=float) != expected.ravel()[flat]))
    if bad:
        fails.append(f"{bad} betas differ from M / (M + U + 100)")
    return fails


def check_corpus(truth: dict, survivor_ids) -> list[str]:
    got = sorted(int(i) for i in survivor_ids)
    want = truth["survivors"]
    if got == want:
        return []
    extra = len(set(got) - set(want)) + (len(got) - len(set(got)))
    missing = len(set(want) - set(got))
    return [f"survivors differ: {extra} unexpected, {missing} missing"]
