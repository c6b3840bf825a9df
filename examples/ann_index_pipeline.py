"""ANN index pipeline example: build the IVF-PQ index the way a 100 TB
deployment would — train quantizers, WRITE the index frame partitioned by
cell, then serve a query by probing partitions and ADC-scoring codes.

The catalog entry ``knn_ivfpq_topk`` trains + queries in one plan (so the
SQL twin can verify everything end to end); this example shows the
OPERATIONAL split instead: index build once, query many times, with the
cell as a real partition column so each probe is partition pruning against
the parquet layout.

Run:

    python examples/ann_index_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from reddit_sse_stream_spark.operators.ml_lsh import (
        ivf_train,
        ivfpq_topk,
        pq_train,
    )
    from reddit_sse_stream_spark.session import get_spark
    from reddit_sse_stream_spark.sources.tables import load_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("ann_index_example")
    emb = load_table(spark, sf_dir, "embeddings")

    # ---- index build (once) -------------------------------------------
    t0 = time.time()
    cells = ivf_train(emb).assignments
    codes = pq_train(emb).codes
    index = codes.join(cells, "vec_id")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "ivfpq_index")
        # cell as the physical partition column: a probe reads ONLY its
        # cells' directories — the scan-pruning the operator docstrings
        # promise, realized in the storage layout
        index.write.partitionBy("cell").parquet(path)
        print(f"index built+written in {time.time() - t0:.2f}s "
              f"({index.count()} vectors, 8 bytes of codes each)")

        stored = spark.read.parquet(path)
        probe_plan = stored.where(F.col("cell").isin([0, 1]))
        pushed = probe_plan._jdf.queryExecution().executedPlan().toString()
        n_parts = pushed.count("PartitionFilters")
        print(f"probe scan has partition filters: {n_parts > 0}")

    # ---- query path (many times) --------------------------------------
    t1 = time.time()
    top = ivfpq_topk(emb, query_id=0, k_out=5, n_probe=2)
    for r in top.collect():
        print(f"  vec {r['vec_id']:>6}  cell {r['cell']}  adc {r['adc_fp']}")
    print(f"query in {time.time() - t1:.2f}s (includes in-example training; "
          "a deployment reuses the written index + codebook)")


if __name__ == "__main__":
    main()
