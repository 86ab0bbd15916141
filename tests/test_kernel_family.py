"""Kernel-family drift tests (MMD / learned kernel / LSDD / context MMD).

- Every oracle-backed kernel query matches its DuckDB ``oracle_sql()`` twin
  on the sf0.001 tables (the ``tools/check_entry.py`` value hash), so the
  shared head-subsample / permutation skeleton in ``operators/drift.py`` is
  guarded on every test run, not only by the manual harness.
- The seeded variants (``mmd_perm_test``, ``lsdd_perm_test``) bit-match
  their NumPy kernels run on the same head rows.
"""

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

KERNEL_ORACLE_QUERIES = [
    "mmd_drift",
    "mmd_drift_vec",
    "mmd_perm_test",
    "mmd_perm_vec",
    "learned_kernel_drift",
    "lsdd_perm_hash",
    "context_mmd_hash",
]


@pytest.mark.parametrize("name", KERNEL_ORACLE_QUERIES)
def test_kernel_query_matches_oracle(spark, sf_dir, name):
    import duckdb

    from tools.check_entry import canon

    con = duckdb.connect()
    for t in ("events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    got = E.queries()[name](spark, sf_dir).toPandas()
    want = con.execute(E.oracle_sql()[name]).fetchdf()
    assert len(got) == 1
    assert canon(got) == canon(want)


N_PER_SIDE = 40


@pytest.fixture(scope="module")
def two_samples(spark):
    """Two shifted samples of 60 rows each with a unique order column; the
    operators keep the first N_PER_SIDE rows of each side by that order."""
    rng = np.random.default_rng(11)
    n = 120
    pdf = pd.DataFrame(
        {
            "oid": rng.permutation(n).astype(np.int64),
            "sample": np.where(np.arange(n) % 2 == 0, "ref", "test"),
            "value": rng.normal(0.0, 1.0, n) + 0.6 * (np.arange(n) % 2),
        }
    )
    heads = pdf.sort_values("oid").groupby("sample").head(N_PER_SIDE)
    x = heads[heads["sample"] == "ref"]["value"].to_numpy()[:, None]
    y = heads[heads["sample"] == "test"]["value"].to_numpy()[:, None]
    return spark.createDataFrame(pdf), x, y


def test_mmd_perm_test_bitmatches_numpy(two_samples):
    from alibi_detect_spark.functions.perturbation import mmd2_unbiased, permutation_test
    from alibi_detect_spark.operators import drift

    df, x, y = two_samples
    row = drift.mmd_perm_test(
        df, "value", n_per_side=N_PER_SIDE, sigma=1.0, n_permutations=60, seed=5, order_col="oid"
    ).collect()[0]
    p, stat, _ = permutation_test(x, y, mmd2_unbiased, n_permutations=60, seed=5, sigma=1.0)
    assert (row.n_ref, row.n_test) == (N_PER_SIDE, N_PER_SIDE)
    assert row.mmd2 == round(stat, 6) + 0.0
    assert row.p_value == round(p, 6)


def test_lsdd_perm_test_bitmatches_numpy(two_samples):
    from alibi_detect_spark.functions.lsdd import lsdd_2samp
    from alibi_detect_spark.operators import drift

    df, x, y = two_samples
    row = drift.lsdd_perm_test(
        df, "value", n_per_side=N_PER_SIDE, n_permutations=60, seed=5, order_col="oid"
    ).collect()[0]
    p, stat = lsdd_2samp(x, y, n_permutations=60, seed=5)
    assert (row.n_ref, row.n_test) == (N_PER_SIDE, N_PER_SIDE)
    assert row.lsdd_stat == round(stat, 6) + 0.0
    assert row.p_value == round(p, 6)
