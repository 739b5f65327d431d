"""Streaming covariate-drift monitor for a fitted harmony model.

The fitted model's O matrix (K clusters x B batch levels, reference
getter parity /root/reference/src/harmony.cpp:681-683) records how each
batch distributed over clusters at fit time.  When new cells stream in,
each micro-batch is soft-assigned against the frozen state
(HarmonySpark.assign) and a per-batch running sum of assignment mass is
kept in stream state; a chi-square statistic against the fit-time
conditional distribution P(cluster | batch) flags batches whose new
cells no longer look like their training population — the signal that
the frozen correction (transform()) has gone stale and a refit is due.

Scale shape: the per-cell work is one Arrow batch pass (mapInArrow);
stream state per key is (long, K doubles) — a few hundred bytes per
batch level regardless of row count, so a 1000-executor stream carries
state proportional to |levels|, not |cells|.  The statistic is a
monitoring heuristic (soft counts are not iid multinomial draws); the
threshold is the Wilson-Hilferty normal approximation of the
chi-square quantile, z_crit sigmas out, with no SciPy dependency.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def chi2_critical(df_free: int, z: float = 3.0) -> float:
    """Wilson-Hilferty approximation of the chi-square(df) quantile at
    z standard normal deviations (z=3 ~= 99.87th percentile)."""
    c = 2.0 / (9.0 * df_free)
    return df_free * (1.0 - c + z * c**0.5) ** 3


def drift_monitor(
    model,
    new_cells: DataFrame,
    features_col: str = "features",
    id_col: str = "cell_id",
    z_crit: float = 3.0,
    covariate: int = 0,
) -> DataFrame:
    """Stateful stream: one row per (covariate level, trigger) with the
    running cell count, chi-square drift statistic vs the fit-time
    cluster mix, and a drifted flag.  ``new_cells`` must be a streaming
    DataFrame; ``covariate`` selects which of the model's covariates is
    tracked (default the first — the batch variable; its level codes
    index the matching column block of O via the covariate's offset).
    Run one monitor per covariate to track several concurrently."""
    assigned = model.assign(new_cells, features_col=features_col, id_col=id_col)
    key_col = model.code_cols[covariate]

    O_all = model.get_O()  # (K, B_total) — tiny; captured into closure
    off = model.p.offsets[covariate]
    O = O_all[:, off : off + model.p.B_vec[covariate]]
    K = O.shape[0]
    col_mass = O.sum(axis=0)
    marginal = O.sum(axis=1) / max(float(O.sum()), 1e-12)
    # fit-time P(cluster | batch); unseen/empty levels fall back to the
    # marginal mix so they still produce a (large) finite statistic
    cond = np.where(col_mass > 0, O / np.maximum(col_mass, 1e-12), marginal[:, None])
    crit = chi2_critical(K - 1, z_crit)

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        # -1 = the sentinel for levels unseen at fit time (see
        # make_infer_assignment_kernel); compared against the marginal
        b = -1 if key[0] is None else int(key[0])
        n, sums = state.get if state.exists else (0, [0.0] * K)
        s = np.asarray(sums, dtype=np.float64)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            R = np.stack(pdf["r"].to_numpy())
            n += len(pdf)
            s += R.sum(axis=0, dtype=np.float64)
        state.update((int(n), [float(x) for x in s]))
        p0 = cond[:, b] if 0 <= b < cond.shape[1] else marginal
        q = s / max(n, 1)
        chi2 = float(n * np.sum((q - p0) ** 2 / np.maximum(p0, 1e-12)))
        # a level unseen at fit time (sentinel -1) is a refit signal BY
        # DEFINITION — no W column exists for it — regardless of how its
        # cluster mix compares to the marginal
        yield pd.DataFrame(
            {
                "batch_code": [b],
                "n_cells": [int(n)],
                "chi2": [round(chi2, 6)],
                "chi2_crit": [round(crit, 6)],
                "drifted": [bool(b < 0 or chi2 > crit)],
            }
        )

    return assigned.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType="batch_code int, n_cells long, chi2 double, chi2_crit double, drifted boolean",
        stateStructType="n long, sums array<double>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class DriftRefitController:
    """Closes the monitoring loop: when the drift monitor flags the same
    batch level for ``consecutive`` triggers in a row, invoke a refit
    callback (typically a warm-started fit over base + staged cells,
    ``HarmonySpark(..., init_Y=prev.get_Y())``) exactly once per drift
    episode.

    The controller consumes the TINY monitor output (one row per batch
    level per trigger) through foreachBatch, so driver-side state is a
    dict of small ints — nothing scales with cell count.  The refit
    itself is the caller's batch job; the controller only decides WHEN.

    Usage::

        mon = drift_monitor(model, stream, ...)
        ctl = DriftRefitController(refit=lambda episode: ..., consecutive=2)
        q = ctl.attach(mon)          # starts the streaming query
        q.awaitTermination()
        ctl.refits                   # [(epoch_id, [batch codes]), ...]
    """

    def __init__(self, refit, consecutive: int = 2):
        self.refit = refit
        self.consecutive = consecutive
        self._streak: dict[int, int] = {}
        self._in_episode = False
        self.refits: list[tuple[int, list[int]]] = []

    def _on_batch(self, df: DataFrame, epoch_id: int) -> None:
        rows = df.collect()  # <= |batch levels| rows — driver-tiny
        if not rows:
            return
        flagged = sorted({r["batch_code"] for r in rows if r["drifted"]})
        reported = {r["batch_code"] for r in rows}
        for b in reported:
            self._streak[b] = self._streak.get(b, 0) + 1 if b in flagged else 0
        ripe = sorted(b for b, n in self._streak.items() if n >= self.consecutive)
        if ripe and not self._in_episode:
            # one refit per episode: stays latched until drift clears
            self._in_episode = True
            self.refits.append((int(epoch_id), ripe))
            self.refit(ripe)
        elif not flagged:
            self._in_episode = False

    def attach(self, monitor_df: DataFrame, query_name: str = "drift_refit"):
        """Start the control query over a drift_monitor() stream."""
        return (
            monitor_df.writeStream.queryName(query_name)
            .outputMode("update")
            .foreachBatch(self._on_batch)
            .trigger(availableNow=True)
            .start()
        )
