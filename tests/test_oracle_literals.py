"""Pinned doubles reach the DuckDB oracles unchanged.

DuckDB reads a plain decimal literal as DECIMAL and rounds it again when it
casts to DOUBLE, so an oracle that writes ``repr(v)`` can replay a pinned
model against constants one ulp off (plans/pinned_sql.py). The value hash
rounds to 12 significant digits and hides that; these tests do not.
"""

from __future__ import annotations

import re

import duckdb
import pytest

from data_lake_medallion_architecture_project_spark.plans import REGISTRY
from tests.conftest import SF_SMALL

# A fractional literal, with the unary minus written against it: 1.5, .5,
# -0.25e0, 1e-05. Digits inside identifiers or after a quote are not literals.
_FRACTIONAL = re.compile(
    r"(?<![\w.'])-?(?:\d+\.\d*|\.\d+)(?:[eE][+-]?\d+)?(?![\w.])"
    r"|(?<![\w.'])-?\d+[eE][+-]?\d+(?![\w.])"
)
_DOUBLE_LIST = re.compile(r"\[([^\[\]]*)\]::DOUBLE\[\]")


def test_every_oracle_literal_reads_back_bit_for_bit():
    """Each fractional literal of each oracle, alone and inside its whole
    ``[...]::DOUBLE[]`` list (list context misparses more), reads back in
    DuckDB as the Python float of its text."""
    con = duckdb.connect()
    wrong = {}
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        lits = sorted(set(_FRACTIONAL.findall(q.oracle)))
        got = (
            con.execute(
                "SELECT " + ", ".join(f"CAST({t} AS DOUBLE)" for t in lits)
            ).fetchone()
            if lits
            else ()
        )
        n_scalar = sum(g != float(t) for g, t in zip(got, lits))
        n_list = 0
        for m in _DOUBLE_LIST.finditer(q.oracle):
            items = [float(t) for t in m.group(1).split(",")]
            (got_list,) = con.execute(f"SELECT [{m.group(1)}]::DOUBLE[]").fetchone()
            n_list += sum(g != t for g, t in zip(got_list, items))
        if n_scalar or n_list:
            wrong[name] = {"scalar": n_scalar, "in_lists": n_list}
    assert wrong == {}


@pytest.mark.parametrize(
    "name, key, cols",
    [
        ("semdedup_keep_list", "vec_id", ["affinity"]),
        ("embedding_pca_projection", "vec_id", ["pc1", "pc2", "pc3", "pc4"]),
        ("doc_source_logreg_scores", "doc_id", ["logit"]),
    ],
)
def test_float_columns_equal_their_oracle_exactly(spark, name, key, cols):
    """Both engines run the same IEEE operation sequence over the same
    pinned doubles, so every float equals its oracle value exactly, not
    just to the hash's 12 digits."""
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    q = REGISTRY[name]
    got = q.build(spark, SF_SMALL).select(key, *cols).toPandas().set_index(key)
    exp = con.sql(q.oracle).df()[[key, *cols]].set_index(key)
    assert len(got) == len(exp) > 0
    exp = exp.loc[got.index]
    for c in cols:
        differ = int((got[c].to_numpy() != exp[c].to_numpy()).sum())
        assert differ == 0, f"{name}.{c}: {differ} of {len(got)} rows differ"
