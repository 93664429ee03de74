"""Attribute dedup_minhash_lsh's sf1 scaling (round-6 verdict item #5).

The sf1 rung measured 2.8× wall-clock for 10× natural data — the worst
(still sub-linear) HEADLINE ratio.  This prints the quantities that
decide whether that is candidate-pair growth (data-shape) or fixed
overhead: document count, shingled-signature count, LSH bucket count,
collision-bucket count (size ≥ 2), enumerated candidate pairs, and
distinct pairs, for each data dir given.

Usage: python tools/minhash_profile.py /root/testdata/sf0.1 /tmp/fps_sf1
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def profile(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from facebook_presto_spark.pipeline import dedup
    from facebook_presto_spark.pipeline.dedup import (
        BAND_ROWS,
        K_MINHASH,
        _signatures,
        _t,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = _signatures(docs)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[F.col(f"h{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]
                ).alias("key"),
            )
            for b in range(K_MINHASH // BAND_ROWS)
        ]
    )
    bands = sig.select(
        F.col("doc_id"), F.explode(band_structs).alias("bk")
    ).select("doc_id", "bk.band", "bk.key")
    sizes = bands.groupBy("band", "key").count()
    stats = sizes.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.sum(F.when(F.col("count") >= 2, 1).otherwise(0)).alias("colliding"),
        F.sum(
            F.when(
                F.col("count") >= 2,
                F.least(F.col("count"), F.lit(256))
                * (F.least(F.col("count"), F.lit(256)) - 1) / 2,
            ).otherwise(0)
        ).alias("enumerated_pairs"),
        F.max("count").alias("max_bucket"),
    ).collect()[0]
    t0 = time.time()
    distinct_pairs = dedup.minhash_lsh_pairs(spark, sf_dir).count()
    wall = time.time() - t0
    return {
        "dir": sf_dir,
        "docs": docs.count(),
        "signatures": sig.count(),
        "buckets": int(stats["buckets"]),
        "colliding_buckets": int(stats["colliding"]),
        "enumerated_pairs": int(stats["enumerated_pairs"]),
        "max_bucket": int(stats["max_bucket"]),
        "distinct_pairs": int(distinct_pairs),
        "end_to_end_sec": round(wall, 2),
    }


def main() -> None:
    from facebook_presto_spark.session import get_spark

    spark = get_spark("minhash-profile")
    out = [profile(spark, d) for d in sys.argv[1:]]
    for row in out:
        print(json.dumps(row))
    if len(out) == 2 and out[0]["docs"]:
        a, b = out
        print(json.dumps({
            "docs_ratio": round(b["docs"] / max(a["docs"], 1), 2),
            "pairs_ratio": round(
                b["distinct_pairs"] / max(a["distinct_pairs"], 1), 2
            ),
            "enumerated_ratio": round(
                b["enumerated_pairs"] / max(a["enumerated_pairs"], 1), 2
            ),
            "time_ratio": round(
                b["end_to_end_sec"] / max(a["end_to_end_sec"], 0.01), 2
            ),
        }))


if __name__ == "__main__":
    main()
