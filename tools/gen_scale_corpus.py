"""Synthesize a larger-SF corpus by deterministic replication, for
SCALING-RATIO measurements only (VERDICT r11 item 6: at sf0.1 the
dedup family benches faster on 8 cores than 32 because per-stage
scheduling swamps compute — ratios there say nothing about how the
shuffle work behaves with real data volumes).

NOT oracle data: /root/testdata stays untouched and authoritative;
the output lives under a throwaway dir and is only ever pointed at
via $SPARK_GRAFT_SF_DIR for `bench.py --only` runs whose 8-vs-32-core
RATIO is the measurement.

Construction (seedless, fully deterministic):
- documents: FACTOR replicas of (doc_id, text, lang, source,
  n_chars); replica 0 is the original; replica i>0 offsets doc_id by
  i*ID_OFFSET and replaces every 7th word (phase i mod 7) with a
  replica-specific token. This preserves corpus
  word/length statistics and the WITHIN-replica near-dup structure,
  while cross-replica pairs sit at jaccard ~0.4-0.6 — below the
  prefix/containment thresholds (0.8/0.4), above minhash's 0.1, so
  the near-dup graph grows (bounded 10-cliques), which is fine: both
  core counts run the identical workload.
- events: user_id offset per replica (FACTOR x users, same horizon)
  — sessionize state scales with active users.
- lineitem/orders: key offsets per replica; dims (region nation
  customer supplier part) copied once; embeddings vec_id offset.

Usage:
    python tools/gen_scale_corpus.py <src_sf_dir> <out_dir> [factor]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ID_OFFSET = 1 << 40


def main() -> None:
    src, out = sys.argv[1], sys.argv[2]
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from pyspark.sql import functions as F

    from sslr_spark.session import get_spark

    spark = get_spark(app_name="gen_scale_corpus")
    os.makedirs(out, exist_ok=True)

    def reps(df, build):
        parts = [build(df, i) for i in range(factor)]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u

    # documents: id offset + every-7th-word replacement for i > 0
    docs = spark.read.parquet(f"{src}/documents.parquet")

    def doc_rep(df, i):
        # one projection for every replica, so extra source columns
        # cannot break the union; replica 0 keeps its text unchanged
        text = F.col("text")
        if i > 0:
            tok = F.lit(f"zrep{i}tok")
            text = F.array_join(
                F.transform(
                    F.split(text, " "),
                    lambda w, pos: F.when((pos % 7) == (i % 7), tok).otherwise(w),
                ),
                " ",
            )
        return df.select(
            (F.col("doc_id") + F.lit(i * ID_OFFSET)).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).cast("long").alias("n_chars"),
        )

    reps(docs, doc_rep).coalesce(8).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )

    ev = spark.read.parquet(f"{src}/events.parquet")
    reps(
        ev,
        lambda df, i: df.withColumn(
            "user_id", F.col("user_id") + F.lit(i * ID_OFFSET)
        ).withColumn("event_id", F.col("event_id") + F.lit(i * ID_OFFSET)),
    ).coalesce(8).write.mode("overwrite").parquet(f"{out}/events.parquet")

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    reps(
        emb,
        lambda df, i: df.withColumn(
            "vec_id", F.col("vec_id") + F.lit(i * ID_OFFSET)
        ),
    ).coalesce(8).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    li = spark.read.parquet(f"{src}/lineitem.parquet")
    reps(
        li,
        lambda df, i: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(i * ID_OFFSET)
        ),
    ).coalesce(16).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")

    orders = spark.read.parquet(f"{src}/orders.parquet")
    okey = "o_orderkey"
    reps(
        orders,
        lambda df, i: df.withColumn(okey, F.col(okey) + F.lit(i * ID_OFFSET)),
    ).coalesce(8).write.mode("overwrite").parquet(f"{out}/orders.parquet")

    for dim in ["region", "nation", "customer", "supplier", "part"]:
        spark.read.parquet(f"{src}/{dim}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{dim}.parquet")

    print(f"wrote {out} at factor {factor}")


if __name__ == "__main__":
    main()
