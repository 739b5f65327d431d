"""HARMONY_SCALAR_DOUBLE=1 end-to-end: the engine-wide scalar switch
(mirroring the reference's compile-time template scalar,
/root/reference/src/types.h:5-9) must flip cell-vector storage to
float64 AND keep Spark/NumPy-oracle parity — at double precision the
cross-oracle tolerance tightens by ~3 orders of magnitude, which is
itself the check that the f64 path really runs end-to-end (an f32
kernel hiding behind an f64 schema would fail it).  Every kernel that
emits cell vectors is covered: both round strategies, get_R(),
assign() and transform().

Runs in a subprocess because the switch is read at import time.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    import numpy as np
    from harmony_spark.core.scalars import DOUBLE, SCALAR, SPARK_SCALAR
    assert DOUBLE and SCALAR is np.float64 and SPARK_SCALAR == "double"

    sys.path.insert(0, {tests!r})
    from test_harmony_core import make_fixture, resolve
    from harmony_spark.core.numpy_ref import run_harmony_numpy
    from harmony_spark.core.algorithm import HarmonySpark
    from harmony_spark.session import get_spark

    Z, blob, batch = make_fixture(n=300)
    spark = get_spark("f64-probe", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    rows = [
        (int(i), [float(v) for v in Z[i]], f"b{{int(batch[i])}}")
        for i in range(Z.shape[0])
    ]
    df = spark.createDataFrame(rows, "cell_id long, z array<double>, batch string")
    model = HarmonySpark(
        df, ["batch"], id_col="cell_id", features_col="z",
        theta=1.0, sigma=0.1, lamb=1.0, nclust=20, max_iter=3, seed=7,
    )

    def f64_rows(out_df, col):
        elem = dict(out_df.dtypes)[col]
        assert elem == "array<double>", (col, elem)
        M = np.stack([r[col] for r in out_df.orderBy("cell_id").collect()])
        assert M.dtype == np.float64
        return M

    p = resolve(Z, batch, 3, theta=1.0, nclust=20, max_iter=3, seed=7)
    h = run_harmony_numpy(Z, batch[:, None], p, mode="batch")
    np.testing.assert_allclose(f64_rows(model.run(), "z_corr"), h.Z_corr, rtol=1e-6, atol=1e-6)

    # the distributed round strategy (cold start / E-step / MoE passes)
    dist = HarmonySpark(
        df, ["batch"], id_col="cell_id", features_col="z",
        theta=1.0, sigma=0.1, lamb=1.0, nclust=20, max_iter=3, seed=7,
    )
    dist._cells_nparts = 2  # strategy switch only; data unchanged
    np.testing.assert_allclose(f64_rows(dist.run(), "z_corr"), h.Z_corr, rtol=1e-6, atol=1e-6)
    np.testing.assert_allclose(f64_rows(dist.get_R(), "r"), h.R, rtol=1e-6, atol=1e-6)

    # inference on the training cells against the frozen state, checked
    # against the same math run driver-side in float64
    from harmony_spark.core import kernels
    gcodes = batch[:, None].astype(np.int64)
    zn = kernels._normalize_rows(Z.astype(np.float64))
    R_new, _ = kernels._apply_state(zn, gcodes, model._r_state)
    np.testing.assert_allclose(f64_rows(model.assign(df, "z"), "r"), R_new, rtol=1e-6, atol=1e-6)
    zc = kernels._correction(Z.astype(np.float64), R_new, gcodes, model.W_all)
    np.testing.assert_allclose(f64_rows(model.transform(df, "z"), "z_corr"), zc, rtol=1e-6, atol=1e-6)
    spark.stop()
    print("F64_OK")
    """
).format(repo=REPO, tests=os.path.join(REPO, "tests"))


def test_scalar_double_end_to_end():
    env = dict(os.environ, HARMONY_SCALAR_DOUBLE="1")
    res = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0 and "F64_OK" in res.stdout, res.stderr[-3000:]
