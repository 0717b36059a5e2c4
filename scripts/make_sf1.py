"""Build a local sf1.0 dataset: a referential-integrity-preserving 10x
scale-up of /root/testdata/sf0.1 (the driver's testdata dirs are
read-only, so the next decade of scale has to be derived, not fetched).

Scaling rules — chosen so every query family scales the way REAL data
growth would, instead of degenerating:

- customer/supplier/part/orders/lineitem: 10 copies with keys offset by
  copy * (max_key + 1); fact FKs are offset identically, so each copy
  joins only its own dimension copy — join fanout, group cardinality
  per key, and selectivity all match true TPC-H sf scaling (dimensions
  and facts both grow 10x). nation/region stay fixed (25/5), as in
  TPC-H at every sf.
- events: 10x rows in the SAME time range (scale-up = more traffic per
  day, not a longer history): event_id offset, user_id offset — the
  behavioral-graph queries (pagerank, triangles, funnels) see a 10x
  node/edge population.
- documents: 10 copies with doc_id offset AND per-copy suffixing of
  every NON-STOPWORD token (w -> wcK), the BENCHNOTES 16x-probe trick
  with the r11 verdict-item-7 refinement: stopwords (the union of
  functions.text.STOPWORDS_BY_LANG, 6.6% of sf0.1 tokens) keep their
  surface form, so stopword-evidence statistics (language ID, quality
  gates, stream_pipeline_curate's en_hits rule) survive the decade and
  the composed gate probes at its registered rule. Shingle
  copy-disjointness — the property that keeps planted near-dup PAIRS
  growing linearly (10 copies of each 1x pair, never quadratically) —
  survives to within measurement noise: only ALL-stopword 3-grams are
  copy-shared, 77 of 260,704 sf0.1 shingle instances (0.03%), and a
  band collision needs BOTH minhash rows of a band to land on shared
  shingles (~p² per band).
- embeddings: 10 copies with vec_id offset and a per-copy DETERMINISTIC
  SIGN-FLIP pattern (element d multiplied by ±1 from xxhash64(copy, d);
  copy 0 keeps the original data). A diagonal ±1 matrix is orthogonal:
  norms and within-copy geometry are EXACTLY preserved (cosine is
  invariant when both vectors flip identically), so each copy contains
  the same true near-dup pairs as 1x; across copies the relative signs
  are i.i.d. ±1, so cross-copy cosine concentrates at 0 REGARDLESS of
  the corpus's cluster structure. (A circular rotation was tried first
  and failed exactly there: the generator's clustered embeddings stay
  correlated under rotation — 90,610 banded pairs instead of the
  ~8,740 linear expectation. Sign flips measured back at the linear
  count.)

Usage: python scripts/make_sf1.py [out_dir]   (default /root/repo/.localdata/sf1.0)
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F

from full_stack_big_data_spark.engine.session import get_spark

BASE = "/root/testdata/sf0.1"
N_COPIES = 10


def _copies(df, n=N_COPIES):
    return df.withColumn(
        "c", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))


def _off(col, step):
    """key + copy * (max+1): copy-disjoint key spaces, FK-consistent."""
    return (F.col(col) + F.col("c") * F.lit(step)).alias(col)


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        HERE, ".localdata", "sf1.0")
    os.makedirs(out, exist_ok=True)
    spark = get_spark(app_name="make-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    def rd(t):
        return spark.read.parquet(f"{BASE}/{t}.parquet")

    def wr(df, t, parts=32):
        df.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(out, f"{t}.parquet"))
        print(f"  {t}: {time.time() - t0:.1f}s", flush=True)

    # key steps (max+1 per keyed table at sf0.1)
    step = {}
    for t, k in (("customer", "c_custkey"), ("supplier", "s_suppkey"),
                 ("part", "p_partkey"), ("orders", "o_orderkey"),
                 ("events", "event_id"), ("documents", "doc_id"),
                 ("embeddings", "vec_id")):
        step[t] = rd(t).agg(F.max(k)).first()[0] + 1
    user_step = rd("events").agg(F.max("user_id")).first()[0] + 1

    # dimensions: identical at every sf (TPC-H semantics)
    for t in ("region", "nation"):
        rd(t).write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet"))

    wr(_copies(rd("customer")).select(
        _off("c_custkey", step["customer"]), "c_name", "c_nationkey",
        "c_acctbal", "c_mktsegment"), "customer", 8)
    wr(_copies(rd("supplier")).select(
        _off("s_suppkey", step["supplier"]), "s_name", "s_nationkey",
        "s_acctbal"), "supplier", 2)
    wr(_copies(rd("part")).select(
        _off("p_partkey", step["part"]), "p_name", "p_brand", "p_type",
        "p_size", "p_retailprice"), "part", 4)
    wr(_copies(rd("orders")).select(
        _off("o_orderkey", step["orders"]), _off("o_custkey", step["customer"]),
        "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
        "orders")
    wr(_copies(rd("lineitem")).select(
        _off("l_orderkey", step["orders"]), _off("l_partkey", step["part"]),
        _off("l_suppkey", step["supplier"]), "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate"), "lineitem")
    wr(_copies(rd("events")).select(
        _off("event_id", step["events"]), "ts", _off("user_id", user_step),
        "event_type", "value", "props"), "events")
    # Suffix every non-stopword token (doc text is pure [a-z0-9 ], so
    # \b token boundaries are exact); stopwords keep their surface form
    # — see the module docstring for why.
    from full_stack_big_data_spark.functions.text import STOPWORDS_BY_LANG
    stop_alt = "|".join(sorted({w for lst in STOPWORDS_BY_LANG.values()
                                for w in lst}))
    wr(_copies(rd("documents")).select(
        _off("doc_id", step["documents"]),
        F.expr(f"regexp_replace(text, "
               f"'\\\\b(?!(?:{stop_alt})\\\\b)([a-z0-9]+)', "
               f"concat('$1c', cast(c as string)))").alias("text"),
        "lang", "source", "n_chars"), "documents", 16)
    flipped = F.transform(
        "embedding",
        lambda x, i: F.when(
            F.col("c") == 0, x
        ).otherwise(
            x * F.when(F.pmod(F.xxhash64(F.col("c") * 64 + i), F.lit(2)) == 0,
                       F.lit(1.0)).otherwise(F.lit(-1.0))
        ).cast("float"))
    wr(_copies(rd("embeddings")).select(
        _off("vec_id", step["embeddings"]),
        flipped.alias("embedding"), "label"), "embeddings", 16)

    print(f"sf1.0 built in {time.time() - t0:.1f}s -> {out}")
    spark.stop()


if __name__ == "__main__":
    main()
