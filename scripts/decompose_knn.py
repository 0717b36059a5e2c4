"""Stage decomposition of emb_knn_graph / ann_incremental at sf0.1 —
one warm process, noop-sink timings per sub-stage. Stages b–d run the
builder's own candidate join (``candidate_pairs``), scorer
(``cosine_pairs``) and top-k cut (``neighbor_topk``)."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from full_stack_big_data_spark.engine.catalog import Catalog
from full_stack_big_data_spark.engine.session import tune_session
from full_stack_big_data_spark.functions.candidates import candidate_pairs
from full_stack_big_data_spark.operators.registry import load_all
from full_stack_big_data_spark.operators.similarity import (
    KNN_K, SRP_BITS, SRP_TABLES, cosine_pairs, neighbor_topk, srp_bucket_rows)

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
spark = SparkSession.builder.master(
    f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]").getOrCreate()
tune_session(spark)
spark.sparkContext.setLogLevel("ERROR")
reg = load_all()


def t(label, df, reps=3):
    best = float("inf")
    for _ in range(reps):
        spark.sparkContext.setJobDescription(label)
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    print(f"{label:40s} {best:7.3f} s", flush=True)
    return best


# warm the session / scan caches
t("warmup: full emb_knn_graph", reg["emb_knn_graph"].builder(spark, sf), reps=1)

src = Catalog(spark, sf).embeddings.select("vec_id", "embedding")
buckets = srp_bucket_rows(src)
t("stage a: bucket rows", buckets)

cand = candidate_pairs(buckets, buckets, ["table_id", "bucket"], "vec_id",
                       ("src_id", "neighbor_id"), f"knn_t{SRP_TABLES}_b{SRP_BITS}",
                       order="!=")
t("stage b: candidate join (with distinct)", cand)
print("candidate pairs:", cand.count(), flush=True)

scored = cosine_pairs(cand, src, "src_id", "neighbor_id")
t("stage c: + embedding joins + cosine", scored)
t("stage d: + top-k", neighbor_topk(scored, "src_id", KNN_K))

t("full emb_knn_graph", reg["emb_knn_graph"].builder(spark, sf))
t("full emb_knn_graph_scaled", reg["emb_knn_graph_scaled"].builder(spark, sf))
t("full ann_incremental", reg["ann_incremental"].builder(spark, sf))
t("full ann_srp_lsh", reg["ann_srp_lsh"].builder(spark, sf))
