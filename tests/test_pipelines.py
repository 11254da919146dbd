"""Golden tests for the three reference-parity pipelines (SURVEY.md §5.1).

The expected values are hand-derived from the reference's semantics
(cited in lime_etl_spark/pipelines/surveys.py), computed over the
deterministic fixture in conftest.make_survey_payload.
"""

from __future__ import annotations
import pytest

from lime_etl_spark.io.sources import read_survey_export_json
from lime_etl_spark.pipelines import surveys

RUN_TS = "2024-04-01 12:00:00"


def test_flatten_shape(spark, survey_json_path):
    flat = read_survey_export_json(spark, survey_json_path)
    rows = flat.count()
    assert rows == 52
    assert "index" in flat.columns and "q01" in flat.columns
    # response id from the dict key (lime_survey_nps.py:51 parity)
    ids = {r["index"] for r in flat.select("index").collect()}
    assert "1000" in ids and "1050" in ids


def test_nps_pipeline(spark, survey_json_path):
    flat = read_survey_export_json(spark, survey_json_path)
    out = surveys.nps(flat, RUN_TS)
    rows = {r.id_answer: r for r in out.collect()}
    # dropna subset=[email, nps]: drops q03=None (id 40) and q01=None (id 41)
    assert "1040" not in rows and "1041" not in rows
    # empty string is NOT null → kept (parity pin); "" cleans to null double
    assert "1043" in rows
    assert rows["1043"].nps is None  # float(re.sub(..., "")) would raise; cast gives null
    # regex A|N strip: A3 → 3.0, N10 → 10.0
    assert rows["1002"].nps == 3.0
    assert rows["1045"].nps == 10.0
    # audit ts pinned
    assert rows["1000"].updated_ts == RUN_TS
    # id comes from the dict key, not the payload id field
    assert rows["1050"].email == "joão.señor@exämple.com"


def test_returns_pipeline(spark, survey_json_path):
    flat = read_survey_export_json(spark, survey_json_path)
    out = surveys.returns(flat, RUN_TS)
    rows = {r.id_answer: r for r in out.collect()}
    # dropna ALL pre-rename cols: 40 (q03), 41 (q01), 42 (q12) all dropped
    assert {"40", "41", "42"}.isdisjoint(rows)
    # id_answer from payload id field (lime_survey_returns.py:55 parity)
    assert "0" in rows
    # literal "A" strip (not N): A2 → 2.0 ; N10 → NaN-ish? "N10"→"N10" cast → null
    assert rows["1"].grade == 2.0
    assert rows["45"].grade is None  # "N10" keeps N under replace("A","")
    # submitdate is NOT in the returns projection (lime_survey_returns.py:55):
    # null submitdate doesn't drop the row, and date_sent == datestamp
    assert "51" in rows
    assert rows["51"].date_sent == "2024-03-24 10:05:51"
    assert out.columns == [
        "id_answer", "date_sent", "grade", "email", "order_number",
        "return_order_number", "language", "updated_ts", "return_channel",
    ]


def test_orders_shipped_pipeline(spark, survey_json_path):
    flat = read_survey_export_json(spark, survey_json_path)
    out = surveys.orders_shipped(flat, RUN_TS)
    rows = {r.id_answer: r for r in out.collect()}
    # dedup keep-latest per order_number: ORD-DUP01 keeps id 47 (later datestamp)
    dup = [r for r in rows.values() if r.order_number == "ORD-DUP01"]
    assert len(dup) == 1 and dup[0].id_answer == "47"
    # exact tie → deterministic tiebreak id_answer desc → 49
    tie = [r for r in rows.values() if r.order_number == "ORD-TIE01"]
    assert len(tie) == 1 and tie[0].id_answer == "49"
    # whitelist rejects A6, N10, ""
    assert "44" not in rows and "45" not in rows and "43" not in rows
    # grade cleaned to float
    assert tie[0].grade == 4.0
    assert out.columns == [
        "id_answer", "date_sent", "grade", "email", "order_number", "updated_ts",
    ]


def test_stringly_landing(spark, survey_json_path):
    from lime_etl_spark.ops.core import to_stringly

    flat = read_survey_export_json(spark, survey_json_path)
    out = to_stringly(surveys.orders_shipped(flat, RUN_TS))
    assert all(t == "string" for _, t in out.dtypes)
    row = out.filter(out.order_number == "ORD-TIE01").collect()[0]
    assert row.grade == "4.0"  # pandas-style float formatting parity


def test_corrupt_export_strict_raises(spark, tmp_path):
    import pytest

    bad = tmp_path / "bad.json"
    bad.write_text('{"responses": [{"x": "not-a-map"', encoding="utf-8")
    # permissive (default): silently empty
    assert read_survey_export_json(spark, str(bad)).count() == 0
    # strict: loud failure instead of loading an empty table
    with pytest.raises(ValueError, match="corrupt"):
        read_survey_export_json(spark, str(bad), strict=True)


def test_valid_export_strict_passes(spark, survey_json_path):
    assert read_survey_export_json(spark, survey_json_path, strict=True).count() == 52


def test_cli_list_run_pipeline(spark, sf_dir, tmp_path, capsys, survey_json_path):
    """The CLI drives all three surfaces: list, run (show + csv),
    pipeline (export json -> csv) — without creating a second session
    (get_spark reuses the active one)."""
    from lime_etl_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "oracled" in out

    assert main(["run", "q6_revenue_forecast", "--sf-dir", sf_dir, "--limit", "3"]) == 0
    assert "revenue" in capsys.readouterr().out

    assert main(["run", "nope_not_a_query", "--sf-dir", sf_dir]) == 2

    dest = str(tmp_path / "cli_csv")
    assert main(["run", "sort_topn_parts", "--sf-dir", sf_dir, "--csv", dest]) == 0
    assert spark.read.option("header", True).csv(dest).count() == 20

    pdest = str(tmp_path / "cli_nps")
    assert main(["pipeline", "nps", "--export", survey_json_path, "--out", pdest]) == 0
    assert spark.read.option("header", True).csv(pdest).count() > 0

    orders = f"{sf_dir}/orders.parquet"
    assert main(["check", orders, "--not-null", "o_custkey",
                 "--unique", "o_orderkey", "--strict"]) == 0
    assert "not_null" in capsys.readouterr().out
    # a deliberately wrong whitelist must flip --strict to exit 1
    assert main(["check", orders, "--accepted", "o_orderstatus=ZZZ",
                 "--strict"]) == 1
    assert main(["check", orders]) == 2  # no rules


def test_prepare_training_corpus_end_to_end(spark, sf_dir, tmp_path):
    """Capstone pipeline: filter -> near-dedup -> span dedup -> redact
    -> split -> pack -> clustered write. Counts are monotone through
    the gates, artifacts readable, and the run is deterministic."""
    import os

    from pyspark.sql import functions as F

    from lime_etl_spark.pipelines.corpus import (
        prepare_training_corpus,
        prepare_training_corpus_resumable,
    )

    out = str(tmp_path / "corpus")
    c = prepare_training_corpus(spark, sf_dir, out, budget=256)
    assert c["n_total"] >= c["n_after_filter"] >= c["n_after_near_dedup"]
    assert c["n_train_docs"] + c["n_eval_docs"] == c["n_after_near_dedup"]
    assert c["n_train_bins"] >= 1
    train = spark.read.parquet(f"{out}/train")
    assert train.columns == ["pack_bin", "n_docs", "total_tokens", "packed_text"]
    assert train.agg(F.sum("n_docs")).collect()[0][0] == c["n_train_docs"]
    # deterministic: a second run yields identical artifacts — and it
    # never resumes. Plant a resumable run's stages in its out_dir with
    # a truncated 'filtered' parquet under a still-valid manifest: a
    # one-shot that loaded it would report 10 filtered docs.
    out2 = str(tmp_path / "corpus2")
    prepare_training_corpus_resumable(spark, sf_dir, out2, budget=256, stop_after="survivors")
    filtered = os.path.join(out2, "_stages", "filtered")
    head = spark.read.parquet(filtered).limit(10).toPandas()
    for name in os.listdir(filtered):
        if not name.startswith("_MANIFEST"):
            os.remove(os.path.join(filtered, name))
    head.to_parquet(os.path.join(filtered, "part-00000.parquet"), index=False)
    assert spark.read.parquet(filtered).count() == 10
    c2 = prepare_training_corpus(spark, sf_dir, out2, budget=256)
    assert c2 == c
    for sub in ("train", "eval"):
        t1 = sorted(map(tuple, spark.read.parquet(f"{out}/{sub}").collect()))
        t2 = sorted(map(tuple, spark.read.parquet(f"{out2}/{sub}").collect()))
        assert t1 == t2, sub
    assert sorted(os.listdir(out2)) == ["eval", "train"]


def test_prepare_training_corpus_rejects_corrupt_input(spark, tmp_path):
    """doc_id is the identity every stage keys on — a duplicated id
    must stop the pipeline at the door, not corrupt dedup/split/pack —
    and the failed one-shot leaves no stage dir behind, not even one
    that was there before it started."""
    import os

    import pytest

    from lime_etl_spark.pipelines.corpus import prepare_training_corpus

    bad = spark.createDataFrame(
        [(1, "alpha beta", "en", "web", 10), (1, "gamma delta", "en", "web", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    src = str(tmp_path / "src")
    bad.coalesce(1).write.parquet(src + "/documents.parquet")
    out = tmp_path / "out"
    (out / "_stages" / "filtered").mkdir(parents=True)
    with pytest.raises(ValueError, match="quality gate failed"):
        prepare_training_corpus(spark, src, str(out))
    assert not os.path.exists(out / "_stages")


def test_prepare_corpus_cli_oneshot_and_resumable(spark, sf_dir, tmp_path, capsys):
    """`prepare-corpus` runs both forms: they print the same counts,
    and only the resumable one prints its stage audit."""
    from lime_etl_spark.__main__ import main

    def run(*extra):
        assert main(["prepare-corpus", "--sf-dir", sf_dir, *extra]) == 0
        return capsys.readouterr().out.splitlines()

    oneshot = run("--out", str(tmp_path / "a"))
    resumable = run("--out", str(tmp_path / "b"), "--resumable")
    assert oneshot and not any(line.startswith("stages_") for line in oneshot)
    assert [line for line in resumable if not line.startswith("stages_")] == oneshot
    assert [line.split()[0] for line in resumable if line.startswith("stages_")] == [
        "stages_reused",
        "stages_computed",
    ]


def test_corpus_resumable_resumes_and_matches_oneshot(spark, sf_dir, tmp_path):
    """A pipeline that materialized through 'survivors' then died must
    resume by LOADING those stages and produce artifacts identical to
    the uninterrupted one-shot form (determinism makes resume exact)."""
    import os

    from lime_etl_spark.pipelines.corpus import (
        prepare_training_corpus,
        prepare_training_corpus_resumable,
    )

    base = prepare_training_corpus(spark, sf_dir, str(tmp_path / "oneshot"), budget=256)
    out = str(tmp_path / "resumable")
    partial = prepare_training_corpus_resumable(
        spark, sf_dir, out, budget=256, stop_after="survivors"
    )
    assert partial["stages_computed"] == ["filtered", "survivors"]
    assert partial["stages_reused"] == []

    full = prepare_training_corpus_resumable(spark, sf_dir, out, budget=256)
    assert full["stages_reused"] == ["filtered", "survivors"]
    assert full["stages_computed"] == ["clean"]
    for k in base:
        assert full[k] == base[k], (k, full[k], base[k])
    for sub in ("train", "eval"):
        a = sorted(map(tuple, spark.read.parquet(str(tmp_path / "oneshot" / sub)).collect()))
        b = sorted(map(tuple, spark.read.parquet(os.path.join(out, sub)).collect()))
        assert a == b, sub


def test_corpus_resumable_param_change_invalidates_downstream(spark, sf_dir, tmp_path):
    """Fingerprint chaining: changing the near-dedup threshold reuses
    'filtered' but recomputes 'survivors' and 'clean'."""
    import pytest

    from lime_etl_spark.pipelines.corpus import prepare_training_corpus_resumable

    out = str(tmp_path / "o")
    prepare_training_corpus_resumable(spark, sf_dir, out, stop_after="clean")
    r2 = prepare_training_corpus_resumable(
        spark, sf_dir, out, jaccard_threshold=0.7, stop_after="clean"
    )
    assert r2["stages_reused"] == ["filtered"]
    assert r2["stages_computed"] == ["survivors", "clean"]
    with pytest.raises(ValueError, match="stop_after"):
        prepare_training_corpus_resumable(spark, sf_dir, out, stop_after="bogus")


def test_corpus_resumable_unpublished_stage_recomputed(spark, sf_dir, tmp_path):
    """Write-then-publish: a stage dir holding parquet but NO manifest
    (a run killed mid-write or mid-publish) reads as not-done and is
    recomputed, never half-loaded."""
    import os

    from lime_etl_spark.pipelines.corpus import prepare_training_corpus_resumable

    out = str(tmp_path / "o")
    prepare_training_corpus_resumable(spark, sf_dir, out, stop_after="filtered")
    os.remove(os.path.join(out, "_stages", "filtered", "_MANIFEST.json"))
    r = prepare_training_corpus_resumable(spark, sf_dir, out, stop_after="filtered")
    assert r["stages_computed"] == ["filtered"]
    assert r["stages_reused"] == []


def test_corpus_resumable_on_uri_path(spark, sf_dir, tmp_path):
    """Manifest IO routes through the Hadoop FileSystem of out_dir, so
    URI paths (file://, and on clusters hdfs://, s3a://) work — the r5
    review found os.path manifests crashed on any URI scheme after
    paying the stage compute. file:// is the scheme available here;
    the FS API calls are identical for the others."""
    from lime_etl_spark.pipelines.corpus import prepare_training_corpus_resumable

    out = "file://" + str(tmp_path / "uri_out")
    r1 = prepare_training_corpus_resumable(spark, sf_dir, out, stop_after="filtered")
    assert r1["stages_computed"] == ["filtered"]
    r2 = prepare_training_corpus_resumable(spark, sf_dir, out, stop_after="filtered")
    assert r2["stages_reused"] == ["filtered"]
    assert r2["n_total"] == r1["n_total"] and r2["n_after_filter"] == r1["n_after_filter"]


@pytest.mark.slow
def test_corpus_semantic_stage_oneshot_and_resumable(spark, sf_dir, tmp_path):
    """The optional SemDeDup stage: drops semantically-duplicate docs
    beyond what surface-form dedup caught, stays deterministic, and in
    the resumable form chains fingerprints so (a) a resume reuses it,
    (b) re-thresholding recomputes ONLY semantic+clean, and (c) leaving
    it off keeps the pre-round-6 fingerprint chain (old stage dirs
    still resume)."""
    from lime_etl_spark.pipelines.corpus import (
        prepare_training_corpus,
        prepare_training_corpus_resumable,
    )

    out = str(tmp_path / "sem")
    c = prepare_training_corpus(
        spark, sf_dir, out, budget=256, semantic_threshold=0.3
    )
    assert c["n_after_near_dedup"] >= c["n_after_semantic"] > 0
    assert c["n_train_docs"] + c["n_eval_docs"] == c["n_after_semantic"]
    # deterministic
    c2 = prepare_training_corpus(
        spark, sf_dir, str(tmp_path / "sem2"), budget=256, semantic_threshold=0.3
    )
    assert c2 == c

    # resumable: die after semantic, resume computes only clean
    rout = str(tmp_path / "rsem")
    partial = prepare_training_corpus_resumable(
        spark, sf_dir, rout, budget=256, semantic_threshold=0.3,
        stop_after="semantic",
    )
    assert partial["stages_computed"] == ["filtered", "survivors", "semantic"]
    full = prepare_training_corpus_resumable(
        spark, sf_dir, rout, budget=256, semantic_threshold=0.3
    )
    assert full["stages_reused"] == ["filtered", "survivors", "semantic"]
    assert full["stages_computed"] == ["clean"]
    for k in c:
        assert full[k] == c[k], (k, full[k], c[k])

    # re-thresholding invalidates semantic+clean, reuses text stages
    re_thr = prepare_training_corpus_resumable(
        spark, sf_dir, rout, budget=256, semantic_threshold=0.5
    )
    assert re_thr["stages_reused"] == ["filtered", "survivors"]
    assert re_thr["stages_computed"] == ["semantic", "clean"]
    assert re_thr["n_after_semantic"] >= full["n_after_semantic"]

    # semantic off on the same out_dir: clean's upstream fingerprint is
    # the pre-semantic chain, so text stages still resume and clean
    # recomputes from survivors (threshold-0.5 clean doesn't match)
    off = prepare_training_corpus_resumable(spark, sf_dir, rout, budget=256)
    assert off["stages_reused"] == ["filtered", "survivors"]
    assert off["stages_computed"] == ["clean"]
    assert "n_after_semantic" not in off

    # stop_after='semantic' without the stage enabled is a loud error
    import pytest

    with pytest.raises(ValueError, match="semantic_threshold"):
        prepare_training_corpus_resumable(
            spark, sf_dir, str(tmp_path / "x"), stop_after="semantic"
        )


def test_corpus_semantic_stage_refuses_duplicated_vec_id(spark, sf_dir, tmp_path):
    """A duplicated vec_id pair has cosine 1.0, so without a gate the
    lower-priority copy of a UNIQUE document lands in the drop set and
    the anti-join silently deletes that document. The stage applies the
    pipeline's stage-0 discipline to ITS identity column instead:
    refuse identity-corrupting input loudly."""
    import shutil

    import pytest

    from lime_etl_spark.io.sources import read_table
    from lime_etl_spark.ops.quality import QualityError
    from lime_etl_spark.pipelines.corpus import prepare_training_corpus

    bad = tmp_path / "bad_sf"
    bad.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", str(bad / "documents.parquet"))
    emb = read_table(spark, sf_dir, "embeddings")
    # duplicate EVERY embedding row: whatever survives text dedup is
    # guaranteed to hit the gate
    emb.union(emb).write.parquet(str(bad / "embeddings.parquet"))
    with pytest.raises(QualityError):
        prepare_training_corpus(
            spark, str(bad), str(tmp_path / "bad_out"),
            budget=256, semantic_threshold=0.3,
        )
