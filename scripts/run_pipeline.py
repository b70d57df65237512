"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (north_rule: spark-submit --py-files at scale):

    bash scripts/package.sh                      # builds dist/pytorch_ie_spark.zip
    spark-submit --py-files dist/pytorch_ie_spark.zip \
        scripts/run_pipeline.py \
        --input  <dir or Iceberg table of (repo,path,commit,lang,content)> \
        --output <triples dir> --ckpt <checkpoint dir> \
        [--input-format parquet|documents]

Local smoke (sandbox):

    spark-submit --master 'local[8]' --py-files dist/pytorch_ie_spark.zip \
        scripts/run_pipeline.py --input /root/testdata/sf0.001 \
        --input-format documents --output /tmp/kg_out --ckpt /tmp/kg_ckpt

The job is resumable: re-running with the same --ckpt skips completed
stages (plans/lineage.py) and the lineage table sits next to the outputs.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument(
        "--input-format",
        default="documents",
        choices=["documents", "parquet"],
        help="'documents': adapt the synthetic documents table; "
        "'parquet': a (repo,path,commit,lang,content) table",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--ckpt", required=True)
    ap.add_argument("--ner-model", default="gazetteer_ner")
    ap.add_argument("--re-model", default="cooccurrence_re")
    ap.add_argument("--max-distance", type=int, default=40)
    ap.add_argument("--no-canonicalize", action="store_true")
    ap.add_argument(
        "--linker",
        default="lsh",
        choices=["lsh", "generative"],
        help="entity-id assignment: MinHash-LSH surface canonicalization "
        "(default) or GENRE-style trie-constrained generative linking",
    )
    ap.add_argument(
        "--classify-docs",
        action="store_true",
        help="also run the document-level text-classification taskmodule "
        "and write (doc_id, label, score) next to the triples",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("kg_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from pytorch_ie_spark.pipeline import KgPipelineConfig, run_kg_pipeline
    from pytorch_ie_spark.sources.readers import (
        source_files_from_documents,
        write_partitioned,
    )

    if args.input_format == "documents":
        src = source_files_from_documents(spark, args.input)
    else:
        src = spark.read.parquet(args.input)

    cfg = KgPipelineConfig(
        ner_model=args.ner_model,
        re_model=args.re_model,
        max_candidate_distance=args.max_distance,
        canonicalize=not args.no_canonicalize,
        linker=args.linker,
    )
    t0 = time.monotonic()
    triples = run_kg_pipeline(spark, src, cfg, ckpt_dir=args.ckpt)
    write_partitioned(triples, args.output, ["pred"])
    n = spark.read.parquet(args.output).count()
    n_doc_labels = None
    if args.classify_docs:
        from pytorch_ie_spark.operators.doc_classify import classify_documents
        from pytorch_ie_spark.plans.lineage import run_stage
        from pytorch_ie_spark.sources.readers import documents_from_source_files

        # same resumable-stage contract as the pipeline stages: snapshot +
        # per-partition lineage rows under the shared ckpt dir
        doc_labels = run_stage(
            spark,
            args.ckpt,
            "doc_labels",
            lambda: classify_documents(documents_from_source_files(src)),
        )
        write_partitioned(doc_labels, args.output + "_doc_labels", ["label"])
        n_doc_labels = doc_labels.count()
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "triples": n,
                "doc_labels": n_doc_labels,
                "linker": args.linker,
                "wall_s": round(wall, 2),
                "triples_per_sec": round(n / wall, 2) if wall else None,
                "output": args.output,
                "ckpt": args.ckpt,
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
