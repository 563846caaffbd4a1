"""End-to-end training-data dedup + ANN demo over the testdata tables:

    exact dedup → MinHash-LSH candidates → near-dup clusters →
    keep-one-per-cluster → IVF ANN index with partition-pruned probes

Run: python examples/dedup_pipeline.py
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sinter_spark.session import get_spark

spark = get_spark(cores=4, shuffle_partitions=8)

from sinter_spark.operators import dedup, ivf, similarity

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
docs = spark.read.parquet(f"{SF}/documents.parquet")
emb = spark.read.parquet(f"{SF}/embeddings.parquet")

# 1. exact duplicates (normalized fingerprint groupBy, bounded id lists)
exact = dedup.exact_dup_groups(docs)
print(f"exact dup groups: {exact.count()}")

# 2. near-dup candidate pairs: banded MinHash-LSH over the vectorized
#    Arrow signature kernel (zero exchanges before the bucket join)
cands = dedup.minhash_lsh_candidates(docs)
print(f"LSH candidate pairs: {cands.count()}")

# 3. pairs → clusters (connected components) → keep one per cluster
kept = dedup.dedup_canonical(docs, exact=True, threshold=0.5)
print(f"docs kept after dedup: {kept.count()} of {docs.count()}")

# 4. IVF ANN: train on a sample, write a cluster-partitioned index,
#    probe 4 of 8 clusters (the scan reads only probed partitions)
cents = ivf.train_centroids(emb, n_clusters=8, seed=7)
query = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
with tempfile.TemporaryDirectory() as tmp:
    ivf.write_ivf_index(emb, cents, tmp)
    approx = ivf.ivf_search_index(spark, tmp, query, k=5, n_probe=4)
    print("IVF top-5:", [r["vec_id"] for r in approx.collect()])
exact_topk = similarity.cosine_topk(emb, query, k=5)
print("exact top-5:", [r["vec_id"] for r in exact_topk.collect()])

spark.stop()
