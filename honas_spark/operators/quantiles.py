"""Quantile sketches per group — KLL, t-digest or DDSketch, each a
`two_phase_agg` family from one table; `quantile_sketch_agg` and
`ddsketch_agg` differ only in `finalize`."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from .. import kernels as K
from .two_phase import Family, two_phase_agg

# sketch name -> constructor from the operator's param
_FAMILIES = {
    "kll": K.KLL,
    "tdigest": K.TDigest,
    # param is 1/alpha: param=100 -> 1% relative-error guarantee
    "ddsketch": lambda p: K.DDSketch(1.0 / p),
}


def _add(st, values):
    st.add(values)  # NULL arrives as NaN, which every sketch drops
    return st


def _family(make, finalize) -> Family:
    return Family(
        zero=make,
        update=_add,
        merge=lambda a, b: a.merge(b),
        to_bytes=lambda st: st.to_bytes(),
        from_bytes=type(make()).from_bytes,
        finalize=finalize,
    )


def quantile_sketch_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    sketch: str = "tdigest",
    param: int = 100,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.99),
) -> DataFrame:
    """-> one row per group: `n` + requested quantile estimates (q_25,
    q_50, ... columns, rounded to 6dp)."""
    qcols = {f"q_{int(q * 100)}": q for q in quantiles}
    family = _family(lambda: _FAMILIES[sketch](param), lambda st: {
        "n": st.n, **{c: round(st.quantile(q), 6) for c, q in qcols.items()}
    })
    return two_phase_agg(
        df, group_cols, [F.col(value_col)], family,
        "n long, " + ", ".join(f"{c} double" for c in qcols),
    )


def ddsketch_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    alpha: float = 0.01,
    max_buckets: int = 2048,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """DDSketch per group: relative-error-bounded quantiles whose output
    is a DETERMINISTIC pure function of the input multiset (see
    kernels.DDSketch) — so unlike KLL/t-digest this sketch carries an
    exact cross-engine oracle.  Output per group: n, then for each
    requested quantile the bucket index `b_XX` (integer, hard signal)
    and the canonical value estimate `q_XX` = 2*gamma^j/(gamma+1)
    rounded to 4dp."""
    tags = {int(q * 100): q for q in quantiles}

    def finalize(st) -> dict:
        out = {"n": st.n}
        for t, q in tags.items():
            out[f"b_{t}"] = st.quantile_bucket(q)
            out[f"q_{t}"] = round(st.quantile(q), 4)
        return out

    return two_phase_agg(
        df, group_cols, [F.col(value_col)],
        _family(lambda: K.DDSketch(alpha, max_buckets), finalize),
        "n long, " + ", ".join(f"b_{t} long, q_{t} double" for t in tags),
    )
