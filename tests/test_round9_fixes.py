"""Round-9 regression tests: the r8 VERDICT/ADVICE findings made
mechanical.

* tag names in the ``.tmp-`` temp namespace are REJECTED at creation
  (list_tags hides them and vacuum sweeps them, so such a "tag" would
  silently vanish and lose its retention-root pin);
* the driver-sim canonical form is byte-faithful for doubles: -0.0 and
  +0.0 are DIFFERENT (the r8 t1_heaps_exponent hash split), and NaN is
  a single token regardless of payload bits;
* negzero_cells flags any -0.0 output cell — the mechanical ban the
  full-registry sim applies to all declared queries on both engines;
* t1_heaps_exponent now fits the SHINGLE vocabulary: cum_types must
  actually GROW across checkpoints (the r8 unigram fit was constant
  after bucket 1, making beta cancellation noise), and beta lands in
  the open interval (0, 1) like a real Heaps exponent;
* t1_psi_drift's hashed surface carries the exact BIGINT cells
  (na, nb, ta, tb) that determine each term, at 6-dp DECIMAL.
"""

from __future__ import annotations

import math

import pytest

from ght2dm_spark.snapshots import (
    commit,
    list_tags,
    prepare_commit,
    tag_snapshot,
)

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "driver_sim",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "driver_sim.py"),
)


def _sim_mod():
    mod = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(mod)
    return mod


# -- reserved tag namespace ---------------------------------------------------


def _committed_table(spark, tmp_path):
    table = str(tmp_path / "T")
    df = spark.range(0, 10).withColumnRenamed("id", "k")
    commit(prepare_commit(df, table, mode="overwrite"))
    return table


def test_tag_tmp_namespace_rejected_at_creation(spark, tmp_path):
    table = _committed_table(spark, tmp_path)
    with pytest.raises(ValueError, match="reserved"):
        tag_snapshot(table, "v1.tmp-ab12cd34")
    assert list_tags(table) == {}


# -- byte-faithful sim canon --------------------------------------------------


def test_sim_canon_distinguishes_signed_zero():
    sim = _sim_mod()
    assert sim.canon(["a"], [(-0.0,)]) != sim.canon(["a"], [(0.0,)])
    # equal bit patterns still compare equal, and NaN folds to one token
    assert sim.canon(["a"], [(1.5,)]) == sim.canon(["a"], [(1.5,)])
    assert sim.canon(["a"], [(float("nan"),)]) == sim.canon(
        ["a"], [(float("nan"),)]
    )


def test_sim_negzero_ban_flags_only_negative_zero():
    sim = _sim_mod()
    rows = [(0.0, -0.0, 1.0), (2.0, 3.0, -0.0)]
    assert sim.negzero_cells(["a", "b", "c"], rows) == ["b", "c"]
    assert sim.negzero_cells(["a"], [(0.0,), (1.0,)]) == []


# -- heaps refit + psi surface ------------------------------------------------


def test_heaps_fit_is_well_conditioned(spark, duck, sf_dir):
    from ght2dm_spark.queries import ORACLE, QUERIES
    from tests.conftest import assert_oracle_match

    df = QUERIES["t1_heaps_exponent"](spark, sf_dir)
    assert_oracle_match(df, duck, ORACLE["t1_heaps_exponent"],
                        name="t1_heaps_exponent")
    row = df.collect()[0]
    # a real Heaps exponent: types grow sub-linearly but genuinely
    assert 0.05 < row["beta"] < 1.0, (
        "beta outside (0.05, 1): the fit is degenerate again — the r8 "
        "closed-vocabulary class"
    )
    assert math.copysign(1.0, row["beta"]) > 0


def test_psi_surface_carries_exact_integer_cells(spark, sf_dir):
    from ght2dm_spark.queries import QUERIES

    df = QUERIES["t1_psi_drift"](spark, sf_dir)
    assert {"na", "nb", "ta", "tb"} <= set(df.columns)
    types = dict(df.dtypes)
    # r10: psi_term is a rounded DOUBLE, not DECIMAL — it was the only
    # decimal-typed output cell in the registry and the only hash-red
    # (r8 at 9 dp, r9 at 6 dp with exact integers on the surface and
    # >=7.6e-9 margin to any boundary); doubles are the proven-green
    # representation for rounded outputs.
    assert types["psi_term"] == "double"
    for c in ("na", "nb", "ta", "tb"):
        assert types[c] == "bigint"
