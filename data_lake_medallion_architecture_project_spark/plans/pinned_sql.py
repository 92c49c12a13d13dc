"""How pinned-model doubles are written into DuckDB oracle SQL — one place.

DuckDB reads a plain decimal literal such as ``0.015560338920961819`` as a
DECIMAL and rounds it a second time when it casts to DOUBLE. On the pinned
models that lands one ulp off on 74 of the 512 k-means centroid values as
scalars, 91 of them inside a ``[...]::DOUBLE[]`` list, 45 of the 320 PCA
values and 2 of the 13 logreg values, so the oracle would replay the model
against slightly different constants than Spark's ``F.lit(v)``. A literal
in exponent form (``0.015560338920961819e0``) is parsed straight to DOUBLE
and reads back as exactly ``v``; ``tests/test_oracle_literals.py`` checks
every fractional literal of every registered oracle.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import NamedTuple


def sql_double(v: float) -> str:
    """``v`` as a DuckDB literal that parses straight to the same DOUBLE."""
    text = repr(float(v))
    return text if "e" in text else text + "e0"


class CentroidArgmax(NamedTuple):
    dots: str  # select items "<dot> AS d0, ..., <dot> AS d{k-1}"
    case: str  # first-max-wins CASE over d0..d{k-1}: the centroid index
    structs: str  # "{'idx': 0, 'd': d0}, ..." for per-query probe ranking


def centroid_argmax(
    centroids: Sequence[Sequence[float]], dot: Callable[[str], str]
) -> CentroidArgmax:
    """SQL for the dots of a row against each pinned centroid and their
    argmax. ``dot(lits)`` gives the oracle's own dot expression of the row
    against the centroid literal ``lits`` (a ``DOUBLE[]``), so each oracle
    keeps the summation form that matches its Spark side.

    The chained CASE is first-max-wins, matching numpy argmax tie-breaking:
    if case i fails, d_i < max(d_{i+1}..), so the first case whose d_i >=
    all LATER dots is the global first maximum."""
    k = len(centroids)
    dots = ",\n         ".join(
        dot("[" + ", ".join(map(sql_double, row)) + "]::DOUBLE[]") + f" AS d{i}"
        for i, row in enumerate(centroids)
    )
    whens = "\n    ".join(
        "WHEN "
        + " AND ".join(f"d{i} >= d{j}" for j in range(i + 1, k))
        + f" THEN {i}"
        for i in range(k - 1)
    )
    structs = ", ".join("{'idx': %d, 'd': d%d}" % (i, i) for i in range(k))
    return CentroidArgmax(
        dots=dots, case=f"CASE\n    {whens}\n    ELSE {k - 1} END", structs=structs
    )
