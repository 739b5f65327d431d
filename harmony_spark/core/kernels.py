"""Arrow-vectorized kernels for the harmony Spark engine.

Each kernel is a mapInArrow function factory: the tiny model state
(Y, O, E, W, sigma, theta) arrives via a Spark broadcast, the N-sized
data streams through as ``pyarrow.RecordBatch``es, and all math runs in
NumPy float32 (mirroring the reference's float32 compute path,
src/types.h:5-9). Embeddings cross the Python-worker boundary as
contiguous buffers: ``_matrix`` views a list column as an (n, d) array
and ``_list_array`` wraps an (n, d) array as a list column, so no
per-cell Python object is ever built. The N-sized data never visits the
driver (SURVEY.md §3.4).

Key design: **R is never materialized.** The soft assignment is a pure
function of (zn, Y, O_prev, E_prev, sigma, theta) — `recompute_R` — so
the E-step is an aggregation-only pass whose output is one partial row
per partition (O, R·logR, R·dist sums), and the MoE/correction passes
recompute R on the fly from the same broadcast state. Per harmony round
only ONE pass writes N-sized rows (the cold start, which materializes
the normalized corrected embedding zn); everything else reads the
cached zn column. At 100 TB this trades one extra GEMM+softmax per
consumer against rewriting ~90 floats/cell/pass through Arrow — a
large net win, and it also removes the K-float R column from the cache.

Kernel map to the reference:
  * recompute_R   — M1 distance GEMM 2(1 - Zn Y) fused with P4 softmax
    and the diversity penalty (src/harmony.cpp:141,143-146,318-323),
    in place in the GEMM's and the softmax's buffers; the penalty is one
    row gather per covariate from the (B, K) penalty table.
  * partials      — A4/A6 sums per batch (``_PartialAcc``): O as one
    one-hot(level)ᵀ R GEMM over every covariate, R·logR and R·dist
    through one scratch buffer.
  * cold start    — correction gather M2 (src/harmony.cpp:615) + P1
    normalization + penalty-free assignment (:214-228) + fused A4/A6
    partials.
  * estep         — batch-EM diversity E-step, aggregation-only.
  * run_round     — one round after its cold start: the E-step loop and
    the MoE partials over caller-supplied partials providers (Spark jobs
    on the distributed path, in-process passes in the fit kernel).
  * solve_moe     — C5 filter, M8 auto-lambda, M6 ridge solves (M7
    arrowhead closed form for one covariate) and the M3 centroid update.
  * run_fit       — the fit loop: cold start + run_round, solve_moe and
    the harmony stop test per round, for both strategies.
  * fit           — single-partition inputs: the default init's kmeans
    seeding (M4/M5, over the driver path's sample), run_fit and the final
    correction in one pass, returning the fit's driver state in one row.
  * moe partials  — grouped weighted vector sums keyed by the joint
    covariate-level combo (A8/A9: src/harmony.cpp:561-609), grouped by
    one sort of a mixed-radix int64 key.
  * correct       — final M2 materialization.
"""

from __future__ import annotations

import pickle
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa

from harmony_spark.core.kmeans import init_centers, init_sample_rows
from harmony_spark.core.scalars import SCALAR as F32  # HARMONY_SCALAR_DOUBLE switch

PARTIAL_SCHEMA = "blk int, o array<double>, rlogr array<double>, rdist double"
# Arrow types of the declared Spark columns that a kernel may emit as NULL
_VEC = pa.list_(pa.from_numpy_dtype(F32))  # array<SPARK_SCALAR>
_PARTIAL_FIELDS = [
    ("blk", pa.int32()),
    ("o", pa.list_(pa.float64())),
    ("rlogr", pa.list_(pa.float64())),
    ("rdist", pa.float64()),
]

# _matrix's error for NULL or ragged embeddings, after the column name
RAGGED = "holds NULL or ragged arrays: every cell needs an embedding of the same length"


def _matrix(data: pa.RecordBatch | pa.Table, name: str, dtype=F32) -> np.ndarray:
    """Column ``name`` (a list of equal-length numbers per row) as an
    (n, d) array — a view of the Arrow values buffer when its element
    type is ``dtype``.  Rows of unequal length or NULL rows would
    misalign a flat reshape, so they raise ValueError."""
    col = data.column(name)
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    off = col.offsets.to_numpy()
    lens = np.diff(off)
    if col.null_count or (lens != lens[:1]).any():
        raise ValueError(f"column {name!r} {RAGGED}")
    values = col.values.slice(off[0], off[-1] - off[0]).to_numpy(zero_copy_only=False)
    return values.reshape(len(col), lens[0] if len(lens) else 0).astype(dtype, copy=False)


def _list_array(M: np.ndarray) -> pa.ListArray:
    """An (n, d) array as an Arrow list column over its (contiguous)
    buffer, one d-long list per row."""
    n, d = M.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * d)
    return pa.ListArray.from_arrays(offsets, np.ascontiguousarray(M).reshape(-1))


def _codes(batch: pa.RecordBatch, code_cols: list[str], offsets=None) -> np.ndarray:
    """(n, C) int64 covariate codes; with ``offsets``, global level
    indices (code + the covariate's offset)."""
    codes = np.column_stack([batch.column(c).to_numpy() for c in code_cols]).astype(np.int64)
    if offsets is None:
        return codes
    return codes + np.asarray(offsets, dtype=np.int64)[None, :]


def _cell_schema(feature_col: str, code_cols: list[str], extra: list) -> pa.Schema:
    """Arrow layout of a row-writing pass (``HarmonySpark._pass_schema``):
    the cell columns, then the ``extra`` columns of its non-cell rows."""
    codes = [(c, pa.int32()) for c in code_cols]
    return pa.schema(
        [("cell_id", pa.int64()), (feature_col, _VEC), *codes, ("zn", _VEC), *extra]
    )


def _with_nulls(schema: pa.Schema, cols: dict) -> pa.RecordBatch:
    """A batch of ``schema`` from ``cols`` (name -> array); every other
    column is NULL."""
    n = len(next(iter(cols.values())))
    return pa.RecordBatch.from_arrays(
        [cols[f.name] if f.name in cols else pa.nulls(n, f.type) for f in schema],
        schema=schema,
    )


def _normalize_rows(X: np.ndarray) -> np.ndarray:
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)


def _soft_assign(dist: np.ndarray, sigma: np.ndarray) -> np.ndarray:
    # divide, exp and normalize in one buffer; dist / -sigma is -dist /
    # sigma bit for bit (IEEE division is sign-symmetric)
    R = np.divide(dist, -sigma[None, :])
    np.exp(R, out=R)
    R /= np.maximum(R.sum(axis=1, keepdims=True), 1e-30)
    return R


# arithmetic block assignment for the online blocked E-step (C3):
# reproducible in both NumPy and Spark SQL, bounded int64 arithmetic
BLOCK_P = 1_000_003
BLOCK_A = 2_654_435_761
BLOCK_B = 40_503


def block_ids(cell_ids: np.ndarray, iter_idx: int, n_blocks: int) -> np.ndarray:
    return ((cell_ids % BLOCK_P) * BLOCK_A + iter_idx * BLOCK_B) % n_blocks


def _apply_state(zn, gcodes, st):
    dist = zn @ st["Y"]
    np.subtract(1.0, dist, out=dist)
    dist *= 2.0  # 2(1 - zn Y)
    R = _soft_assign(dist, st["sigma"])
    if st.get("penalty"):
        pen = ((2.0 * st["E"] + 1.0) / (st["O"] + st["E"] + 1.0)) ** st["theta"][None, :]
        # (B, K): each cell's penalty row is one contiguous row gather
        penT = np.ascontiguousarray(pen.T)
        mult = penT[gcodes[:, 0]]
        for c in range(1, gcodes.shape[1]):
            mult += penT[gcodes[:, c]]
        R *= mult
        R /= np.maximum(R.sum(axis=1, keepdims=True), 1e-30)
    return R, dist


def recompute_R(
    zn: np.ndarray, gcodes: np.ndarray, st: dict, cell_ids: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(R, dist) from the broadcast state. st: Y (d,K), sigma (K), and —
    when st['penalty'] — theta (B), O, E (K,B) of the assignment's
    defining iteration. A blocked state (st['blocked']) carries one
    sub-state per online block; each cell's R comes from its block's
    state (requires cell_ids)."""
    if st.get("blocked"):
        blocks = block_ids(cell_ids, st["iter"], st["nb"])
        R = np.empty((zn.shape[0], st["states"][0]["Y"].shape[1]), dtype=zn.dtype)
        dist = np.empty_like(R)
        for i, sub in enumerate(st["states"]):
            mask = blocks == i
            if mask.any():
                R[mask], dist[mask] = _apply_state(zn[mask], gcodes[mask], sub)
        return R, dist
    return _apply_state(zn, gcodes, st)


def _correction(z: np.ndarray, R: np.ndarray, gcodes: np.ndarray, W_all: np.ndarray) -> np.ndarray:
    """z - sum_k R_k * sum_cov W_all[k, b_cov], vectorized over the batch.

    W_all: (K, B, d) with zero rows for dropped batches / skipped
    clusters (src/harmony.cpp:611-615 with C5 filtering folded in).
    """
    n, d = z.shape
    corr = np.zeros((n, d), dtype=np.float64)
    for c in range(gcodes.shape[1]):
        codes_c = gcodes[:, c]
        for b in np.unique(codes_c):
            Wb = W_all[:, b, :]  # (K, d)
            if not Wb.any():
                continue
            mask = codes_c == b
            corr[mask] += R[mask].astype(np.float64) @ Wb
    return (z.astype(np.float64) - corr).astype(F32)


class _PartialAcc:
    """Accumulates O / R·logR / R·dist partials across the Arrow batches
    of one partition (the map-side combine of A4/A6), optionally split
    per online block (C3)."""

    def __init__(self, K: int, B: int, n_blocks: int = 1):
        self.nb = n_blocks
        self.O = np.zeros((n_blocks, K, B), dtype=np.float64)
        self.rlogr = np.zeros((n_blocks, K), dtype=np.float64)
        self.rdist = np.zeros(n_blocks, dtype=np.float64)
        self.seen = False

    def add(self, R: np.ndarray, dist: np.ndarray, gcodes: np.ndarray, blocks=None) -> None:
        self.seen = True
        R64 = R.astype(np.float64)
        # one (n, K) scratch buffer holds log R, then R·dist: a fresh
        # temporary of this size per call is fresh pages to fault in.
        # A zero R adds 0 * log(1e-30) = 0 to R·logR.
        buf = np.maximum(R64, 1e-30)
        np.log(buf, out=buf)
        if blocks is None:
            slots = [(0, slice(None))]
        else:
            slots = [(i, sel) for i in range(self.nb) if (sel := blocks == i).any()]
        for i, sel in slots:
            Ri = R64[sel]
            # O for every level of every covariate at once:
            # one-hot(level)ᵀ R, one GEMM (a cell has one 1 per covariate)
            onehot = np.zeros((Ri.shape[0], self.O.shape[2]))
            onehot[np.arange(Ri.shape[0])[:, None], gcodes[sel]] = 1.0
            self.O[i] += Ri.T @ onehot
            self.rlogr[i] += np.einsum("ij,ij->j", Ri, buf[sel])
        np.multiply(R64, dist, out=buf)
        for i, sel in slots:
            self.rdist[i] += float(buf[sel].sum())

    def columns(self) -> dict:
        """The per-block partials as Arrow columns of PARTIAL_SCHEMA,
        one row per block."""
        return {
            "blk": pa.array(np.arange(self.nb, dtype=np.int32)),
            "o": _list_array(self.O.reshape(self.nb, -1)),
            "rlogr": _list_array(self.rlogr),
            "rdist": pa.array(self.rdist),
        }

    def partials(self):
        """The per-block (blk, o, rlogr, rdist) partials, in the row
        layout of ``columns``."""
        return zip(range(self.nb), self.O, self.rlogr, self.rdist)


def expected_E(O: np.ndarray, Pr_b: np.ndarray, B0: int) -> np.ndarray:
    """E = rowSums(R) Pr_b^T (A5) from a float64 O; a cluster's mass
    sum_i R_ki is read off the levels of covariate 0."""
    mass = O[:, :B0].sum(axis=1)
    return mass[:, None] * Pr_b[None, :].astype(np.float64)


def sum_partials(parts, K: int, B: int, nb: int):
    """Sum (blk, o, rlogr, rdist) partial rows into per-block float64 O,
    total R·logR and total R·dist — the one accumulation order every
    consumer of partials uses."""
    per_block = [np.zeros((K, B), dtype=np.float64) for _ in range(nb)]
    rlogr = np.zeros(K, dtype=np.float64)
    rdist = 0.0
    for blk, o, rl, rd in parts:
        per_block[blk] += np.asarray(o).reshape(K, B)
        rlogr += np.asarray(rl)
        rdist += float(rd)
    return per_block, rlogr, rdist


def finish_partials(parts, nb: int, sigma, theta, Pr_b, B0: int, N: int):
    """Final reduction of a cold start's or batch E-step's partials
    (A4/A5/A6): returns (per-block float64 O, float32 O, float32 E,
    objective).  With ``sum_partials`` the only reduction of partial
    rows (called from ``run_round``)."""
    per_block, rlogr, rdist = sum_partials(parts, len(sigma), len(Pr_b), nb)
    O = np.sum(per_block, axis=0)
    O_f32 = O.astype(F32)
    E_f32 = expected_E(O, Pr_b, B0).astype(F32)
    return per_block, O_f32, E_f32, km_objective(
        O_f32, E_f32, sigma, theta, rlogr, rdist, N
    )


def _cold_assign(cell_ids, z, gcodes, zn_prev, st: dict, acc) -> np.ndarray:
    """Cold start of one batch of cells: apply the previous round's
    correction (recomputing the previous R of ``zn_prev`` from
    ``prev_state``; ``zn_prev`` is None at init), L2-normalize, assign
    penalty-free against Y and add the A4/A6 partials to ``acc`` (per
    online block when it has several).  Returns zn."""
    W_all = st.get("W_all")  # None at init
    if W_all is not None:
        R_prev, _ = recompute_R(zn_prev, gcodes, st["prev_state"], cell_ids=cell_ids)
        z = _correction(z, R_prev, gcodes, W_all)
    zn = _normalize_rows(z)
    dist = 2.0 * (1.0 - zn @ st["Y"])
    R = _soft_assign(dist, st["sigma"])
    blocks = block_ids(cell_ids, st["round_idx"], acc.nb) if acc.nb > 1 else None
    acc.add(R, dist, gcodes, blocks=blocks)
    return zn.astype(F32)


def make_cold_start_kernel(
    bc, code_cols: list[str], offsets: list[int], K: int, B: int, feature_col: str = "z_orig"
) -> Callable:
    """Round boundary, the one row-writing pass: apply the previous
    round's correction (recomputing the previous R from `prev_state`),
    L2-normalize, penalty-free re-assignment, fused A4/A6 partials
    (init: src/harmony.cpp:131-146; cold start: :214-228). Emits rows
    (cell_id, z_orig, codes, zn) plus one partial row per online block
    (NULL cell_id) per partition."""
    schema = _cell_schema(feature_col, code_cols, _PARTIAL_FIELDS)
    passed = ["cell_id", feature_col, *code_cols]

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        st = bc.value
        acc = _PartialAcc(K, B, n_blocks=st["nb"])  # nb>1: C3 per-block partials
        for batch in it:
            if batch.num_rows == 0:
                continue
            zn_prev = _matrix(batch, "zn") if st.get("W_all") is not None else None
            zn = _cold_assign(
                batch.column("cell_id").to_numpy(), _matrix(batch, feature_col),
                _codes(batch, code_cols, offsets), zn_prev, st, acc,
            )
            cols = {c: batch.column(c) for c in passed}
            yield _with_nulls(schema, {**cols, "zn": _list_array(zn)})
        if acc.seen:
            yield _with_nulls(schema, acc.columns())

    return kernel


def km_objective(
    O_f32: np.ndarray,
    E_f32: np.ndarray,
    sigma: np.ndarray,
    theta: np.ndarray,
    rlogr: np.ndarray,
    rdist: float,
    N: int,
) -> float:
    """The kmeans objective (A6) from the POST-update float32 O/E and the
    pass's float64 partials."""
    norm_const = 2000.0 / N
    entropy = float((rlogr * sigma).sum())
    log_term = np.log((O_f32 + E_f32 + 1.0) / (2.0 * E_f32 + 1.0))
    cross = float((sigma[:, None] * theta[None, :] * log_term * O_f32).sum())
    return (rdist + entropy + cross) * norm_const


def km_window_converged(obj: list[float], window: int, eps: float) -> bool:
    """The sliding-window relative-change stop test of the kmeans loop
    (src/harmony.cpp:173-190) over the round's E-step objectives, as
    ``run_round`` calls it (the first check happens after window+2
    objectives, so the window never reaches before the loop)."""
    obj_old = sum(obj[-2 - i] for i in range(window))
    obj_new = sum(obj[-1 - i] for i in range(window))
    return abs(obj_old - obj_new) / abs(obj_old) < eps


def blocked_estep_chain(
    O_f32: np.ndarray,
    block_contrib: list[np.ndarray],
    Y: np.ndarray,
    sigma: np.ndarray,
    theta: np.ndarray,
    Pr_b: np.ndarray,
    B0: int,
    nb: int,
    run_block: Callable,
):
    """The Gauss-Seidel state chain of one blocked E-step (C3,
    src/harmony.cpp:269-342): per block, subtract the cached
    contribution, build the decremented penalty state, obtain the
    block's new partials via ``run_block(i, state_i) -> (C_new, rlogr,
    rdist)``, add back.  ``block_contrib`` is updated in place.  Called
    by ``run_round`` once per blocked E-step."""
    O = O_f32.astype(np.float64)
    K = O.shape[0]
    states: list[dict] = []
    rlogr_tot = np.zeros(K, dtype=np.float64)
    rdist_tot = 0.0
    for i in range(nb):
        C_i = block_contrib[i]
        O_minus = O - C_i
        E_minus = expected_E(O_minus, Pr_b, B0)
        state_i = {
            "Y": Y,
            "sigma": sigma,
            "theta": theta,
            "O": O_minus.astype(F32),
            "E": E_minus.astype(F32),
            "penalty": True,
        }
        C_new, rl, rd = run_block(i, state_i)
        rlogr_tot += rl
        rdist_tot += rd
        O = O_minus + C_new
        block_contrib[i] = C_new
        states.append(state_i)
    return O, states, rlogr_tot, rdist_tot


def add_combo(acc: dict, combo: tuple, S: np.ndarray, M: np.ndarray) -> None:
    """Merge one combo's MoE partials (S: (K,), M: (K, d)) into ``acc``
    — the one merge every producer of combo sums uses."""
    if combo in acc:
        acc[combo][0] += S
        acc[combo][1] += M
    else:
        acc[combo] = [S, M]


def _moe_accumulate(
    acc: dict, z64: np.ndarray, zn: np.ndarray, gcodes: np.ndarray,
    codes: np.ndarray, st: dict, cell_ids: np.ndarray,
) -> None:
    """One batch of the MoE per-combo partials (A8 Gram entries S and A9
    RHS M), accumulated into ``acc``.  Shared by the MoE pass and the
    fit kernel so both follow the identical float sequence."""
    R, _ = recompute_R(zn, gcodes, st, cell_ids=cell_ids)
    # one mixed-radix int64 key per cell over the local codes: each
    # covariate folds in as key * (max code + 1) + code, re-ranked
    # densely (key < n, so it never overflows).  Distinct combos get
    # distinct keys in the lexicographic order of the code tuples, so
    # combos arrive in np.unique(codes, axis=0) order, and each group
    # keeps its cells in row order.
    key = np.zeros(len(codes), dtype=np.int64)
    for c in range(codes.shape[1]):
        key = np.unique(key * (int(codes[:, c].max()) + 1) + codes[:, c], return_inverse=True)[1]
    order = np.argsort(key, kind="stable")
    for ii in np.split(order, np.flatnonzero(np.diff(key[order])) + 1):
        Ri = R[ii].astype(np.float64)
        # S: (K,), M: (K, d)
        add_combo(acc, tuple(int(x) for x in codes[ii[0]]), Ri.sum(axis=0), Ri.T @ z64[ii])


def run_round(st: dict, cold_parts, estep_parts: Callable, moe_combos: Callable) -> dict:
    """One harmony round after its cold start: reduce the cold partials,
    run the kmeans E-step loop (src/harmony.cpp:269-342) and take the
    MoE combo sums against the loop's final assignment state.  The one
    round mechanism of both execution strategies; they differ only in
    the partials providers they pass:

      * ``cold_parts`` — the cold start's (blk, o, rlogr, rdist) rows;
      * ``estep_parts(state, block)`` — the partial rows of one E-step
        pass under the assignment ``state``, over every cell when
        ``block`` is None, else over the cells of that online block;
      * ``moe_combos(r_state)`` — ``{combo: [S, M]}`` under ``r_state``.

    ``st`` is the round state ``run_fit`` builds.
    Returns ``{O, E, objectives, r_state, combos}``: the loop's final
    float32 O/E, the objectives (the cold start's first when
    ``push_objective``, then one per E-step), the final assignment state
    and the combo sums."""
    Y, sigma, theta = st["Y"], st["sigma"], st["theta"]
    Pr_b, B0, N, nb = st["Pr_b"], st["B0"], st["N"], st["nb"]
    K, B = len(sigma), len(Pr_b)
    contrib, O_f32, E_f32, cold_obj = finish_partials(
        cold_parts, nb, sigma, theta, Pr_b, B0, N
    )
    obj: list[float] = []
    # the cold start's assignment: penalty-free against the current Y
    r_state = {"Y": Y, "sigma": sigma, "penalty": False}
    for itx in range(st["max_iter"]):
        if st["mode"] == "batch":
            r_state = {
                "Y": Y,
                "sigma": sigma,
                "theta": theta,
                "O": O_f32,
                "E": E_f32,
                "penalty": True,
            }
            _, O_f32, E_f32, objective = finish_partials(
                estep_parts(r_state, None), 1, sigma, theta, Pr_b, B0, N
            )
        else:

            def run_block(i: int, state_i: dict):
                (C_new,), rl, rd = sum_partials(estep_parts(state_i, i), K, B, 1)
                return C_new, rl, rd

            O64, blk_states, rl_tot, rd_tot = blocked_estep_chain(
                O_f32, contrib, Y, sigma, theta, Pr_b, B0, nb, run_block
            )
            r_state = {
                "blocked": True,
                "states": blk_states,
                "iter": st["round_idx"],
                "nb": nb,
            }
            O_f32 = O64.astype(F32)
            E_f32 = expected_E(O64, Pr_b, B0).astype(F32)
            objective = km_objective(O_f32, E_f32, sigma, theta, rl_tot, rd_tot, N)
        obj.append(objective)
        if itx > st["window"] and km_window_converged(obj, st["window"], st["eps"]):
            break
    return {
        "O": O_f32,
        "E": E_f32,
        "objectives": [cold_obj] + obj if st["push_objective"] else obj,
        "r_state": r_state,
        "combos": moe_combos(r_state),
    }


def arrowhead_solve(G: np.ndarray, rhs: np.ndarray) -> np.ndarray:
    """M7: closed-form solve of the single-covariate MoE system
    (src/harmony.cpp:572-586 computes this inverse).

    With one covariate every design row is [1, e_b], so the ridge
    Gram is an ARROWHEAD matrix [[a, c^T], [c, D]] (D diagonal:
    per-level soft counts + lambda; c: the same counts; a: total
    mass). Schur complement on the (0,0) entry gives

        inv(G) = v v^T / s + diag([0, 1/D])   with
        v = [1, -c/D],  s = a - sum(c^2 / D)

    so the solve is O(B*d) instead of O(B^3): irrelevant at B=5,
    decisive when a run has thousands of batch levels (sample-level
    covariates), where the K dense inversions would start to rival
    the E-step. Raises LinAlgError on a degenerate pivot so the
    caller's no-support skip path handles it like the dense solver.
    """
    a, c, d = G[0, 0], G[0, 1:], G.diagonal()[1:].copy()
    if np.any(d <= 0):
        raise np.linalg.LinAlgError("non-positive arrowhead diagonal")
    dinv = 1.0 / d
    s = a - np.sum(c * c * dinv)
    if not np.isfinite(s) or s <= 0:
        raise np.linalg.LinAlgError("non-positive Schur complement")
    v = np.concatenate([[1.0], -c * dinv])
    W = np.outer(v, v @ rhs) / s
    W[1:] += dinv[:, None] * rhs[1:]
    return W


def solve_moe(p, O, E, Y, combos: dict[tuple, tuple[np.ndarray, np.ndarray]]):
    """C5 filter + M8 auto-lambda + M6 ridge solves + M3 centroid
    update from the tiny combo partials, under the resolved params
    ``p`` and the round's float32 O/E.  Returns the new (Y, W_all)."""
    C = len(p.B_vec)
    combo_keys = list(combos.keys())
    S_mat = np.stack([combos[c][0] for c in combo_keys])  # (T, K)
    M_mat = np.stack([combos[c][1] for c in combo_keys])  # (T, K, d)
    # global level indices per combo
    combo_levels = np.stack(
        [[combo[c] + p.offsets[c] for c in range(C)] for combo in combo_keys]
    )  # (T, C)

    W_all = np.zeros((p.K, p.B, p.d), dtype=np.float64)
    Y_new = Y.copy()

    for k in range(p.K):
        avg_R = O[k].astype(np.float64) / p.N_b
        qualifies = avg_R > p.batch_prop_cutoff
        keep = np.zeros(p.B, dtype=bool)
        active_covariates = 0
        for c in range(C):
            lo, hi = p.offsets[c], p.offsets[c] + p.B_vec[c]
            nq = int(qualifies[lo:hi].sum())
            if nq > 1:
                keep[lo:hi] = qualifies[lo:hi]
                active_covariates += 1
        if keep.sum() < p.B and active_covariates == 0:
            continue  # cluster skipped (src/harmony.cpp:452-455)

        kept_levels = np.flatnonzero(keep)
        pos = {b: j + 1 for j, b in enumerate(kept_levels)}
        m = len(kept_levels)
        # combo -> design vector u (intercept + kept levels)
        T = len(combo_keys)
        U = np.zeros((T, m + 1))
        combo_kept = np.zeros(T, dtype=bool)
        for t in range(T):
            lv = combo_levels[t]
            has = [b for b in lv if keep[b]]
            if has:
                combo_kept[t] = True
                U[t, 0] = 1.0
                for b in has:
                    U[t, pos[b]] = 1.0
        if not combo_kept.any():
            continue
        Uk = U[combo_kept]
        Sk = S_mat[combo_kept, k]  # (T',)
        Mk = M_mat[combo_kept, k, :]  # (T', d)
        Gram = (Uk * Sk[:, None]).T @ Uk  # (m+1, m+1)
        if p.lamb is None:
            lam = np.concatenate(
                [[0.0], p.alpha * E[k].astype(np.float64)[kept_levels]]
            )
        else:
            lam = np.concatenate([[0.0], p.lamb[1:][kept_levels]])
        Gram[np.diag_indices(m + 1)] += lam
        rhs = Uk.T @ Mk  # (m+1, d)
        try:
            if C == 1:
                # single covariate -> arrowhead Gram, closed form (M7)
                W = arrowhead_solve(Gram, rhs)
            else:
                # multi-covariate designs have cross-covariate Gram
                # terms (not arrowhead) — dense solve, like the
                # reference's B_vec.size()>1 arma::inv branch
                W = np.linalg.solve(Gram, rhs)
        except np.linalg.LinAlgError:
            # vanishing cluster mass (intercept row has lambda=0);
            # skip the cluster like the C5 no-support path
            continue
        Y_new[:, k] = W[0].astype(F32)
        for b in kept_levels:
            W_all[k, b] = W[pos[b]]

    norms = np.maximum(np.linalg.norm(Y_new, axis=0, keepdims=True), 1e-12)
    return (Y_new / norms).astype(F32), W_all.astype(F32)


def harmony_converged(objective_harmony: list[float], eps: float) -> bool:
    """The harmony-level stop test (src/harmony.cpp:192-205): relative
    change of the last two round objectives below ``eps``."""
    o = objective_harmony
    return (o[-2] - o[-1]) / abs(o[-2]) < eps


def run_fit(p, Y: np.ndarray, mode: str, nb: int, round_fn: Callable, on_round=None) -> dict:
    """The harmony fit loop (R/utils.R:15-46), the one loop of both
    execution strategies.  Per round: build the round state, run
    ``round_fn(st)`` (the cold start plus ``run_round``, returning its
    dict), keep the objective traces, solve the MoE (``solve_moe``),
    report ``on_round(round_idx, objective)`` — returning False stops
    the fit — and apply the harmony stop test.

    ``p`` is the ResolvedParams, ``Y`` the initial centroids, ``mode``
    the E-step mode and ``nb`` its block count (1 in batch mode).
    Returns ``{Y, W_all, O, E, r_state, objective_kmeans,
    objective_harmony, kmeans_rounds}``."""
    W_all = r_state = O = E = None
    objective_kmeans: list[float] = []
    objective_harmony: list[float] = []
    kmeans_rounds: list[int] = []
    for round_idx in range(p.max_iter):
        # the cold start's inputs and everything run_round reads
        st = dict(
            Y=Y,
            sigma=p.sigma,
            theta=p.theta,
            mode=mode,
            nb=nb,
            round_idx=round_idx,
            max_iter=p.max_iter_cluster,
            window=p.window_size,
            eps=p.epsilon_cluster,
            N=p.N,
            Pr_b=p.Pr_b,
            B0=p.B_vec[0],
            push_objective=round_idx == 0,
        )
        if round_idx > 0:
            st["W_all"] = W_all
            st["prev_state"] = r_state
        state = round_fn(st)
        O, E, r_state = state["O"], state["E"], state["r_state"]
        objective_kmeans += state["objectives"]
        if round_idx == 0:
            # the init pass's objective opens the harmony trace
            objective_harmony.append(objective_kmeans[0])
        kmeans_rounds.append(len(state["objectives"]) - (round_idx == 0))
        objective_harmony.append(objective_kmeans[-1])
        Y, W_all = solve_moe(p, O, E, Y, state["combos"])
        if on_round is not None and on_round(round_idx, objective_kmeans[-1]) is False:
            break
        if harmony_converged(objective_harmony, p.epsilon_harmony):
            break
    return {
        "Y": Y,
        "W_all": W_all,
        "O": O,
        "E": E,
        "r_state": r_state,
        "objective_kmeans": objective_kmeans,
        "objective_harmony": objective_harmony,
        "kmeans_rounds": kmeans_rounds,
    }


def make_fit_kernel(
    bc, code_cols: list[str], offsets: list[int], K: int, B: int,
    feature_col: str = "z_orig",
) -> Callable:
    """The WHOLE harmony fit as ONE Arrow pass (single-partition inputs
    only): the kernel caches its batches, runs ``run_fit`` with a round
    function that passes over them in-process (every batch's cold start,
    then ``run_round`` with in-process E-step and MoE partials
    providers), and applies the final correction (M2).  What the
    distributed path runs as a few jobs per round is one (guide §4:
    collapse tiny Python-worker round-trips).

    ``bc`` holds ``{p, Y, mode, nb, cap}``: the arguments of ``run_fit``
    and the init sample cap.  A None ``Y`` is seeded here, exactly as
    ``HarmonySpark._init_Y`` seeds it on the driver: ``init_centers``
    over the rows ``kmeans.init_sample_rows`` picks, by the
    ``seed_hash`` column (Spark's xxhash64(cell_id)) above ``cap``
    cells.
    Emits the N (cell_id, codes, zn, z_corr) rows, whose ``state`` is
    NULL, plus ONE state row (NULL cell_id) whose ``state`` is the
    pickled ``run_fit`` dict the driver assigns as-is."""
    schema = pa.schema(
        [
            ("cell_id", pa.int64()),
            *[(c, pa.int32()) for c in code_cols],
            ("zn", _VEC),
            ("z_corr", _VEC),
            ("state", pa.binary()),
        ]
    )

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        fp = bc.value
        cells = [
            (batch, batch.column("cell_id").to_numpy(), _matrix(batch, feature_col),
             _codes(batch, code_cols, offsets), _matrix(batch, feature_col, np.float64),
             _codes(batch, code_cols))
            for batch in it
            if batch.num_rows
        ]
        if not cells:
            return
        Y = fp["Y"]
        if Y is None:  # the default init, over _init_Y's sample
            ids = np.concatenate([c[1] for c in cells])
            h = None
            if len(ids) > fp["cap"]:
                h = np.concatenate([c[0].column("seed_hash").to_numpy() for c in cells])
            rows = init_sample_rows(ids, h, fp["cap"])
            Z = np.concatenate([c[2] for c in cells])[rows]
            Y = init_centers(Z, fp["p"].K, fp["p"].seed)
        zn = [None] * len(cells)  # each batch's zn, as of its last cold start

        def round_fn(st: dict) -> dict:
            acc = _PartialAcc(K, B, n_blocks=st["nb"])  # nb>1 only in blocked mode
            for i, (_, ids, z, g, _, _) in enumerate(cells):
                zn[i] = _cold_assign(ids, z, g, zn[i], st, acc)
            # blocked mode: each block's (zn, gcodes) rows of every batch
            # are fixed for the round, so every E-step reuses them
            block_rows = [[] for _ in range(st["nb"])]
            if st["mode"] == "blocked":  # also with one block: all rows
                for (_, ids, _, g, _, _), x in zip(cells, zn):
                    blocks = block_ids(ids, st["round_idx"], st["nb"])
                    for i, rows in enumerate(block_rows):
                        if (m := blocks == i).any():
                            rows.append((x[m], g[m]))

            def estep_parts(state: dict, block: int | None):
                eacc = _PartialAcc(K, B)
                rows = zip(zn, (c[3] for c in cells)) if block is None else block_rows[block]
                for x, g in rows:
                    R, dist = _apply_state(x, g, state)
                    eacc.add(R, dist, g)
                return eacc.partials()

            def moe_combos(r_state: dict) -> dict:
                macc: dict[tuple, list] = {}
                for (_, ids, _, g, z64, codes), x in zip(cells, zn):
                    _moe_accumulate(macc, z64, x, g, codes, r_state, ids)
                return macc

            return run_round(st, acc.partials(), estep_parts, moe_combos)

        fit = run_fit(fp["p"], Y, fp["mode"], fp["nb"], round_fn)
        for (batch, ids, z, g, _, _), x in zip(cells, zn):
            R, _ = recompute_R(x, g, fit["r_state"], cell_ids=ids)
            zc = _correction(z, R, g, fit["W_all"])
            cols = {c: batch.column(c) for c in ["cell_id", *code_cols]}
            yield _with_nulls(
                schema, {**cols, "zn": _list_array(x), "z_corr": _list_array(zc.astype(F32))}
            )
        blob = pickle.dumps(fit, protocol=pickle.HIGHEST_PROTOCOL)
        yield _with_nulls(schema, {"state": pa.array([blob], pa.binary())})

    return kernel


def make_estep_kernel(bc, code_cols: list[str], offsets: list[int], K: int, B: int) -> Callable:
    """Batch-EM diversity E-step as an aggregation-only pass: recompute
    R with the penalty of the broadcast (O, E) and emit ONLY the
    per-partition partials — no N-sized output at all
    (src/harmony.cpp:318-323 semantics; SURVEY.md §7.5)."""

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        st = bc.value
        acc = _PartialAcc(K, B)
        for batch in it:
            if batch.num_rows == 0:
                continue
            zn = _matrix(batch, "zn")
            gcodes = _codes(batch, code_cols, offsets)
            cell_ids = batch.column("cell_id").to_numpy()
            R, dist = recompute_R(zn, gcodes, st, cell_ids=cell_ids)
            acc.add(R, dist, gcodes)
        if acc.seen:
            yield pa.RecordBatch.from_pydict(acc.columns())

    return kernel


def make_moe_partials_kernel(
    bc, code_cols: list[str], offsets: list[int], K: int, d: int, feature_col: str = "z_orig"
) -> Callable:
    """Per joint-covariate-combo partials: S (K) = sum_i R_i,
    M (K*d) = sum_i R_i z_orig_i — the A8 Gram entries and A9 RHS in one
    pass, with R recomputed from the broadcast assignment state. Emits
    one row per (partition, combo)."""

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        st = bc.value
        acc: dict[tuple, list] = {}
        for batch in it:
            if batch.num_rows == 0:
                continue
            z = _matrix(batch, feature_col, np.float64)
            zn = _matrix(batch, "zn")
            codes = _codes(batch, code_cols)
            gcodes = codes + np.asarray(offsets, dtype=np.int64)[None, :]
            cell_ids = batch.column("cell_id").to_numpy()
            _moe_accumulate(acc, z, zn, gcodes, codes, st, cell_ids)
        if acc:
            yield pa.RecordBatch.from_pydict(
                {
                    "combo": _list_array(np.array(list(acc), dtype=np.int64)),
                    "s": _list_array(np.stack([v[0] for v in acc.values()])),
                    "m": _list_array(np.stack([v[1].ravel() for v in acc.values()])),
                }
            )

    return kernel


def make_assignment_kernel(bc, code_cols: list[str], offsets: list[int]) -> Callable:
    """getR parity (/root/reference/src/harmony.cpp:677-679): emit the
    final soft assignment as (cell_id, r)."""

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        st = bc.value
        for batch in it:
            if batch.num_rows == 0:
                continue
            zn = _matrix(batch, "zn")
            gcodes = _codes(batch, code_cols, offsets)
            cell_ids = batch.column("cell_id").to_numpy()
            R, _ = recompute_R(zn, gcodes, st, cell_ids=cell_ids)
            yield pa.RecordBatch.from_pydict(
                {"cell_id": batch.column("cell_id"), "r": _list_array(R.astype(F32))}
            )

    return kernel


def make_infer_assignment_kernel(bc, code_cols: list[str], offsets: list[int]) -> Callable:
    """Soft cluster assignment for unseen cells (the monitoring path):
    zn = normalize(z_orig), R from the frozen assignment state — the
    first half of make_transform_kernel without the correction. Emits
    (cell_id, codes, r) so downstream drift statistics stay aggregation-
    only over tiny (K,) vectors.

    Covariate levels NEVER seen at fit time arrive as null codes (the
    level map has no entry). The model has no O/E column for them, so
    their R is the pure distance softmax (penalty term dropped — the
    principled limit of "no diversity information for this batch") and
    their code is emitted as -1; the drift monitor keys them to the
    sentinel batch and compares against the marginal mix, so a novel
    population FLAGS instead of crashing the stream."""

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        st = bc.value
        rs = st["r_state"]
        nopen = {k: v for k, v in rs.items() if k != "penalty"}
        for batch in it:
            if batch.num_rows == 0:
                continue
            z = _matrix(batch, "z_orig")
            zn = _normalize_rows(z)
            filled = {c: batch.column(c).fill_null(-1) for c in code_cols}
            codes = np.column_stack([filled[c].to_numpy() for c in code_cols])
            seen = (codes >= 0).all(axis=1)
            # assign() always flattens a blocked state before broadcast
            R = np.empty((batch.num_rows, rs["Y"].shape[1]), dtype=F32)
            if seen.any():
                gcodes = codes[seen].astype(np.int64) + np.asarray(offsets, dtype=np.int64)
                R[seen], _ = _apply_state(zn[seen], gcodes, rs)
            if (~seen).any():
                R[~seen], _ = _apply_state(zn[~seen], None, nopen)
            yield pa.RecordBatch.from_pydict(
                {"cell_id": batch.column("cell_id"), **filled, "r": _list_array(R.astype(F32))}
            )

    return kernel


def make_transform_kernel(bc, code_cols: list[str], offsets: list[int]) -> Callable:
    """Model inference for unseen cells: zn = normalize(z), assign
    against the frozen state, subtract the frozen batch effect.

    Unknown covariate LEVELS (null codes) are a hard error: W has no
    coefficients for them, so no correction is defined — raise with a
    clear message instead of letting int-casting nulls kill the worker.
    (Use assign()/drift_monitor to detect such populations, then refit
    with the new level present.)"""

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        st = bc.value
        W_all = st["W_all"]
        rs = st["r_state"]
        for batch in it:
            if batch.num_rows == 0:
                continue
            unseen = [batch.column(c).is_null().to_numpy(zero_copy_only=False) for c in code_cols]
            n_bad = int(np.logical_or.reduce(unseen).sum())
            if n_bad:
                raise ValueError(
                    f"transform(): {n_bad} cells carry covariate "
                    "levels unseen at fit time (no W coefficients exist "
                    "for them); detect with drift_monitor and refit"
                )
            z = _matrix(batch, "z_orig")
            gcodes = _codes(batch, code_cols, offsets)
            zn = _normalize_rows(z)
            R, _ = _apply_state(zn, gcodes, rs)
            zc = _correction(z, R, gcodes, W_all)
            yield pa.RecordBatch.from_pydict(
                {
                    **{c: batch.column(c) for c in ["cell_id", *code_cols]},
                    "z_corr": _list_array(zc.astype(F32)),
                }
            )

    return kernel


def make_correct_kernel(
    bc, code_cols: list[str], offsets: list[int], feature_col: str = "z_orig"
) -> Callable:
    """Final materialization: z_corr = z_orig - correction (M2), with R
    recomputed from the final assignment state."""

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        st = bc.value
        W_all = st["W_all"]
        rs = st["r_state"]
        for batch in it:
            if batch.num_rows == 0:
                continue
            z = _matrix(batch, feature_col)
            zn = _matrix(batch, "zn")
            gcodes = _codes(batch, code_cols, offsets)
            cell_ids = batch.column("cell_id").to_numpy()
            R, _ = recompute_R(zn, gcodes, rs, cell_ids=cell_ids)
            zc = _correction(z, R, gcodes, W_all)
            yield pa.RecordBatch.from_pydict(
                {
                    **{c: batch.column(c) for c in ["cell_id", *code_cols]},
                    "z_corr": _list_array(zc.astype(F32)),
                }
            )

    return kernel
