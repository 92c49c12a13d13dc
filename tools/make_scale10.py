"""Generate a 10x-replicated copy of an sf testdata dir for scale probing.

Usage:  python tools/make_scale10.py [src_sf_dir] [dst_dir] [factor]
Default: /root/testdata/sf0.1 -> /tmp/sfscale10, factor 10.

Fact tables (orders, lineitem, events, documents, embeddings) are replicated
``factor`` times with PRIMARY keys shifted per copy so uniqueness holds, while
FOREIGN keys (custkey, partkey, suppkey, user_id) and every value column stay
untouched — the value distributions, filter selectivities, and join hit rates
of every registry query are preserved exactly, which the previous ad-hoc scale
dir got wrong (out-of-range values made filter-heavy queries vacuous).
Dimension tables (region, nation, customer, supplier, part) copy unchanged:
this probes FACT-volume scaling, the axis that grows at 100 TB.

Notes on what replication means per table:
* orders/lineitem: 10x orders for the same 15k customers — per-customer order
  counts grow 10x, exactly how a longer retention window scales.
* events: same users, 10x events each — per-user sessions/windows get denser.
* documents: every doc gains 9 byte-identical twins — a worst-case (true-dup)
  load for the dedup/cluster queries.
* embeddings: 10 copies of each vector — ANN top-k ties are resolved by the
  queries' deterministic (score, id) ordering.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_lake_medallion_architecture_project_spark.session import get_spark  # noqa: E402
from data_lake_medallion_architecture_project_spark.sources.readers import load_table  # noqa: E402

DIMS = ["region", "nation", "customer", "supplier", "part"]
# table -> columns to shift per copy (primary/unique keys only)
FACT_KEYS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],  # composite pk (orderkey, linenumber) stays unique
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# Shift stride: far above any real key so copies never collide.
STRIDE = 1 << 40


def replicate(spark, src: str, dst: str, factor: int) -> None:
    """Replicate ``src``'s fact tables ``factor``× into ``dst`` (see module
    docstring for the key-shift semantics). The 100× probe that also
    used it, tools/make_scale100.py, is in git history at ec940a3."""
    os.makedirs(dst, exist_ok=True)

    for t in DIMS:
        load_table(spark, src, t).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(f"{t}: copied")

    copies = spark.range(factor).select(F.col("id").alias("__copy"))
    for t, keys in FACT_KEYS.items():
        df = load_table(spark, src, t)
        rep = df.crossJoin(F.broadcast(copies))
        for k in keys:
            rep = rep.withColumn(k, F.col(k) + F.col("__copy") * F.lit(STRIDE))
        rep.drop("__copy").write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        n = spark.read.parquet(f"{dst}/{t}.parquet").count()
        print(f"{t}: {n} rows ({factor}x)")


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfscale10"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    spark = get_spark("make_scale10")
    spark.sparkContext.setLogLevel("ERROR")
    replicate(spark, src, dst, factor)


if __name__ == "__main__":
    main()
