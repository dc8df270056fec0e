"""CLI mirroring the reference's entry points (renet2 <submodule>,
src/renet2/renet2.py:36-55 dispatches to predict/parse_data/
normalize_ann/...). A reference user switches by replacing
`renet2 predict ...` with `python -m renet2_spark predict ...`;
output is the same 7-column gda_rst.tsv
(pmid geneId diseaseId g_name d_name prob_avg prob_X,
reference predict.py:203-213 / README.md:227-234) or parquet.

Designed for spark-submit: `spark-submit --py-files renet2_spark.zip
-m ...` on a cluster; locally it builds its own session.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import Observation
from pyspark.sql import functions as F


def _spark(args):
    from .session import get_spark

    return get_spark(app_name=f"renet2_spark_{args.cmd}", master=args.master)


def cmd_predict(args) -> int:
    """documents parquet -> GDA triples (reference `renet2 predict`)."""
    from .operators.scorer import CUTOFF
    from .plans.pipeline import build_edges, build_edges_neural

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    cutoff = 1 if args.sensitive else CUTOFF  # predict.py:122-124
    # corpus routing: default 'auto' sends each document the packed
    # contract (functions.text.PACKED_OK) holds for to the fast tagger
    # and every other one to the raw splitter/tokenizer chain —
    # arbitrary user corpora never silently hit the arithmetic tagger
    if args.scorer == "neural":
        edges = build_edges_neural(spark, docs, cutoff=cutoff,
                                   corpus=args.corpus, mode=args.mode)
    else:
        edges = build_edges(spark, docs, cutoff=cutoff, corpus=args.corpus)
    out = edges.select(
        F.col("doc_id").alias("pmid"),
        F.col("gene_id").alias("geneId"),
        F.col("disease_id").alias("diseaseId"),
        "g_name",
        "d_name",
        "prob_avg",
    )
    # the row count rides the write as an in-pass metric: one job, no cache
    written = Observation("predict")
    out = out.observe(written, F.count(F.lit(1)).alias("n"))
    if args.format == "tsv":
        # coalesce(1): reference-parity single gda_rst.tsv file only —
        # the parquet path keeps natural partitioning
        out.coalesce(1).write.mode("overwrite").option("sep", "\t").option(
            "header", True
        ).csv(args.output)
    else:
        out.write.mode("overwrite").parquet(args.output)
    print(f"wrote {written.get['n']} GDA triples to {args.output}")
    return 0


def cmd_parse_data(args) -> int:
    """BioC-JSON lines or PubTator abstract format -> interleaved span
    corpus (reference `renet2 parse_data`; abstract-format S3 parser
    parse_data.py:43-67 also writes the annotation table)."""
    spark = _spark(args)
    if args.input_format == "pubtator":
        from .sources.pubtator import read_pubtator

        spans, anns = read_pubtator(spark, args.input)
        anns.write.mode("overwrite").parquet(args.output + "_anns")
    else:
        from .sources.bioc import parse_bioc

        raw = spark.read.text(args.input).withColumnRenamed("value", "doc_json")
        spans = parse_bioc(raw)
    spans.write.mode("overwrite").parquet(args.output)
    print(f"parsed {spans.count()} documents to {args.output}")
    return 0


def cmd_normalize_ann(args) -> int:
    """mentions parquet -> canonicalized + per-doc-unified mentions
    (reference `renet2 normalize_ann`)."""
    from .operators.normalize import canonicalize_mentions, unify_doc_ids

    spark = _spark(args)
    mentions = spark.read.parquet(args.input)
    out = unify_doc_ids(canonicalize_mentions(mentions))
    out.write.mode("overwrite").parquet(args.output)
    print(f"normalized {out.count()} mentions to {args.output}")
    return 0


def cmd_curate(args) -> int:
    """documents parquet -> curated + packed training corpus (the
    beyond-reference curation chain: quality gate -> transitive
    near-dup dedup -> optional eval decontamination -> optional
    deterministic sample -> token-budget packing)."""
    from .operators.curation import curation_pipeline

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    ev = spark.read.parquet(args.eval) if args.eval else None
    if args.reliable_checkpoint:
        spark.sparkContext.setCheckpointDir(args.reliable_checkpoint)
    out = curation_pipeline(
        docs,
        ev,
        min_quality=args.min_quality,
        max_contamination=args.max_contamination,
        pct=args.pct,
        budget=args.budget,
        pii=args.pii,
        reliable_checkpoint=bool(args.reliable_checkpoint),
    )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"curated + packed {n} documents to {args.output}")
    return 0


def cmd_evaluate(args) -> int:
    """P/R/F1 between predicted and gold triple tables (reference
    benchmark/calculate_metrics_with_input.py)."""
    from .plans.relational import pr_metrics

    spark = _spark(args)
    pred = spark.read.parquet(args.pred)
    gold = spark.read.parquet(args.gold)
    keys = args.keys.split(",")
    row = pr_metrics(pred, gold, keys).first()
    print(
        f"tp={row['tp']} n_pred={row['n_pred']} n_gold={row['n_gold']} "
        f"precision={row['precision']} recall={row['recall']} f1={row['f1']}"
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="renet2_spark")
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("predict", help="extract GDA triples")
    sp.add_argument("--input", required=True, help="documents parquet")
    sp.add_argument("--output", required=True)
    sp.add_argument("--scorer", choices=["deterministic", "neural"],
                    default="deterministic")
    sp.add_argument("--format", choices=["tsv", "parquet"], default="parquet")
    sp.add_argument("--sensitive", action="store_true",
                    help="vote cutoff 1 instead of N//2 (predict.py:122-124)")
    sp.add_argument("--corpus", choices=["auto", "packed", "raw"],
                    default="auto",
                    help="sentence derivation: packed contract, raw "
                         "splitter/tokenizer chain, or per document (default)")
    sp.add_argument("--mode", choices=["abs", "ft"], default="abs",
                    help="neural input shape: abstract 32 sents or "
                         "full-text 400 sents (reference fix_snt_n, "
                         "predict.py:291-294)")
    sp.set_defaults(fn=cmd_predict)

    sp = sub.add_parser(
        "parse_data", help="BioC-JSON lines or PubTator text -> span corpus"
    )
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--input-format", choices=["bioc", "pubtator"],
                    default="bioc", dest="input_format")
    sp.set_defaults(fn=cmd_parse_data)

    sp = sub.add_parser("normalize_ann", help="canonicalize + unify mention ids")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.set_defaults(fn=cmd_normalize_ann)

    sp = sub.add_parser(
        "curate",
        help="quality-filter, dedup, decontaminate, sample and pack "
        "a training corpus",
    )
    sp.add_argument("--input", required=True, help="documents parquet")
    sp.add_argument("--output", required=True)
    sp.add_argument("--eval", default=None,
                    help="eval-set parquet for decontamination (optional)")
    sp.add_argument("--min-quality", type=float, default=0.3,
                    dest="min_quality")
    sp.add_argument("--max-contamination", type=float, default=0.2,
                    dest="max_contamination")
    sp.add_argument("--pct", type=float, default=100.0,
                    help="deterministic hash-sample percentage "
                         "(100 = keep all)")
    sp.add_argument("--budget", type=int, default=256,
                    help="tokens per packed context window")
    sp.add_argument("--pii", action="store_true",
                    help="mask emails/phones/IPv4 before any other "
                         "stage sees the text")
    sp.add_argument("--reliable-checkpoint", default=None,
                    dest="reliable_checkpoint", metavar="DIR",
                    help="fault-tolerant checkpoint dir for the dedup "
                         "label-propagation rounds (cluster "
                         "deployments; default executor-local)")
    sp.set_defaults(fn=cmd_curate)

    sp = sub.add_parser("evaluate", help="P/R/F1 of predicted vs gold triples")
    sp.add_argument("--pred", required=True)
    sp.add_argument("--gold", required=True)
    sp.add_argument("--keys", default="doc_id,gene_id,disease_id")
    sp.set_defaults(fn=cmd_evaluate)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
