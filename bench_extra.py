"""Round-6 measurement harness (guide §1) — NOT the driver bench.

Times any subset of the headline queries in isolation with the noop sink,
records best-of-N + spread, and optionally dumps .explain("formatted") to
plans/r06/<query>_<tag>.txt. bench.py stays frozen (driver contract); this
file exists so optimization work can cite per-query evidence without touching
the measured harness.

Usage:
  python bench_extra.py [--sf DIR] [--repeats N] [--plans TAG] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402
from knowledge_graph_rag_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="dump explain('formatted') to plans/r06/<q>_<TAG>.txt")
    ap.add_argument("--kg", action="store_true", help="also time kg extraction")
    args = ap.parse_args()
    names = args.queries or HEADLINE

    from knowledge_graph_rag_spark import synth
    from knowledge_graph_rag_spark.operators import extract as X
    from knowledge_graph_rag_spark.plans import driver_queries as DQ

    spark = get_spark(
        app_name="kgrs-bench-extra",
        cores=os.environ.get("SPARK_GRAFT_CPUS", "32"),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(512 * 1024),
            "spark.sql.files.openCostInBytes": str(64 * 1024),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = DQ.extended_queries()
    for t in ("events", "documents", "embeddings", "lineitem", "orders",
              "customer", "nation"):
        spark.read.parquet(f"{args.sf}/{t}.parquet").count()

    out: dict[str, dict] = {}
    for name in names:
        if args.plans:
            os.makedirs("plans/r06", exist_ok=True)
            df = qs[name](spark, args.sf)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(f"plans/r06/{name}_{args.plans}.txt", "w") as f:
                f.write(txt)
        runs = []
        for _ in range(args.repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        out[name] = {"best": min(runs), "spread": round(max(runs) - min(runs), 3),
                     "runs": runs}

    if args.kg:
        n_docs = spark.read.parquet(f"{args.sf}/documents.parquet").count() * 4
        corpus = f"/tmp/kgrs_bench_corpus_{n_docs}.parquet"
        if not os.path.exists(corpus + "/_SUCCESS"):
            synth.documents_df(spark, n_docs).write.mode("overwrite").parquet(corpus)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(96 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", str(8 * 1024))
        docs = spark.read.parquet(corpus)
        X.extract_triples(spark, docs.limit(2048)).count()
        runs = []
        for _ in range(args.repeats):
            t0 = time.time()
            X.extract_triples(spark, docs).count()
            runs.append(round(time.time() - t0, 3))
        out["kg_extract_triples"] = {
            "best": min(runs), "spread": round(max(runs) - min(runs), 3),
            "runs": runs, "docs": n_docs,
            "docs_per_sec": round(n_docs / min(runs), 1),
        }

    print(json.dumps({"sf": args.sf, "queries": out,
                      "total_best": round(sum(v["best"] for v in out.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
