"""CLI entry points (reference `renet2 <submodule>` analogue)."""

import json
import shutil
import tempfile

from tests.conftest import SF_SMOKE


def test_cli_predict_tsv(spark, capsys):
    # reuse the pytest session's SparkSession (getOrCreate in cli)
    from renet2_spark.cli import main

    out = tempfile.mkdtemp(prefix="cli_") + "/gda"
    rc = main([
        "predict", "--input", f"{SF_SMOKE}/documents.parquet",
        "--output", out, "--format", "tsv",
    ])
    assert rc == 0
    df = spark.read.option("sep", "\t").option("header", True).csv(out)
    n = df.count()
    assert n > 0
    assert df.columns == ["pmid", "geneId", "diseaseId", "g_name", "d_name", "prob_avg"]
    assert f"wrote {n} GDA triples to {out}" in capsys.readouterr().out


def test_cli_parse_and_normalize_roundtrip(spark):
    from renet2_spark.cli import main

    doc = {
        "pmid": "7",
        "passages": [
            {"infons": {"type": "title", "section_type": "TITLE"},
             "text": "scan and slow", "offset": 0, "media_ref": None},
        ],
    }
    d = tempfile.mkdtemp(prefix="cli_")
    with open(d + "/in.jsonl", "w") as f:
        f.write(json.dumps(doc) + "\n")
    assert main(["parse_data", "--input", d + "/in.jsonl",
                 "--output", d + "/spans"]) == 0
    spans = spark.read.parquet(d + "/spans")
    assert spans.count() == 1
    shutil.rmtree(d, ignore_errors=True)


def test_cli_evaluate(spark, capsys):
    from renet2_spark.cli import main

    d = tempfile.mkdtemp(prefix="cli_")
    rows = [("1", "g1", "d1"), ("2", "g2", "d2")]
    df = spark.createDataFrame(rows, "doc_id string, gene_id string, disease_id string")
    df.write.parquet(d + "/pred")
    df.limit(1).write.parquet(d + "/gold")
    assert main(["evaluate", "--pred", d + "/pred", "--gold", d + "/gold"]) == 0
    outp = capsys.readouterr().out
    assert "precision=0.5" in outp and "recall=1.0" in outp
    shutil.rmtree(d, ignore_errors=True)


def test_cli_curate(spark, capsys):
    """curate subcommand: full chain with an eval set, plus the
    eval-less + no-sample variant (optional stages skipped)."""
    from renet2_spark.cli import main
    from tests.conftest import SF_SMOKE

    d = tempfile.mkdtemp(prefix="cli_")
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    docs.filter("doc_id % 97 != 3").write.parquet(d + "/train")
    docs.filter("doc_id % 97 = 3").write.parquet(d + "/eval")
    assert main([
        "curate", "--input", d + "/train", "--output", d + "/packed",
        "--eval", d + "/eval", "--pct", "50",
    ]) == 0
    packed = spark.read.parquet(d + "/packed")
    n_full = packed.count()
    assert n_full > 0
    assert set(packed.columns) == {
        "source", "doc_id", "n_tokens", "start_offset", "bin_id", "bin_offset"
    }
    # without eval + without sampling: strictly more docs survive
    assert main([
        "curate", "--input", d + "/train", "--output", d + "/packed2",
    ]) == 0
    assert spark.read.parquet(d + "/packed2").count() > n_full
    shutil.rmtree(d, ignore_errors=True)


def test_cli_curate_pii_and_reliable_checkpoint(spark):
    """curate --pii + --reliable-checkpoint plumb end-to-end: the
    masked chain still packs every surviving doc with the right token
    count (masking is within-token, so counts equal the unmasked
    derivation — mask CONTENT itself is pinned by the pii_scrub unit
    test and the oracled text_pii driver query), and the dedup rounds
    demonstrably run through the given fault-tolerant checkpoint
    dir."""
    import os

    from pyspark.sql import functions as F

    from renet2_spark.cli import main
    from tests.conftest import SF_SMOKE

    d = tempfile.mkdtemp(prefix="cli_pii_")
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(80)
    docs.withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" mail bob@example.org here")),
    ).write.parquet(d + "/train")
    assert main([
        "curate", "--input", d + "/train", "--output", d + "/packed",
        "--pii", "--pct", "100",
        "--reliable-checkpoint", d + "/ckpt",
    ]) == 0
    packed = spark.read.parquet(d + "/packed")
    base = spark.read.parquet(d + "/train")
    # every surviving doc's token count reflects the masked text
    # (the email collapses to the single token [EMAIL])
    n_tok = {
        r["doc_id"]: r["n"]
        for r in base.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.size(F.split("text", " ")).alias("n"),
        ).collect()
    }
    rows = packed.collect()
    assert rows
    for r in rows:
        assert r["n_tokens"] == n_tok[r["doc_id"]]  # same token COUNT
    # and the checkpoint dir was actually used by the CC rounds
    assert os.path.exists(d + "/ckpt") and os.listdir(d + "/ckpt")
    shutil.rmtree(d, ignore_errors=True)
