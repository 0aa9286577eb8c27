"""Composed curation pipeline (plans/curation.py): survivor semantics,
drop audit in lineage, idempotent resume."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mongo2neo_spark.plans import lineage as lin
from mongo2neo_spark.plans.curation import CurationConfig, run_curation

GOOD = (
    "the quick brown fox jumps over a lazy dog and the day is long "
    "for all of the people in the town and the road to the sea is clear "
    "and the wind in the trees is soft and a bird of the air sings to the sun "
    "and the river runs to the north past the mill and the stone bridge "
    "and the light of the morning falls on the fields of wheat and corn"
)


def _docs_df(spark):
    texts = {
        0: GOOD,                                   # keeper
        1: GOOD,                                   # exact dup of 0
        2: GOOD + " extra tail words here",        # near-dup of 0
        3: GOOD.replace("fox", "cat"),             # near-dup of 0
        4: "x y z",                                # low quality (short)
        5: "el la que de los es " * 40,            # non-en predicted lang
        6: ("a completely different story about the sea and the ships that "
            "sail on it every day of the year with the crews and the cargo "
            "and the ports where they rest and the storms they endure and "
            "the stars they steer by at night across the wide cold water "
            "of the deep and endless ocean under the pale moon light"),
    }
    return spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(texts), "text": [texts[k] for k in texts]}
        )
    )


@pytest.fixture(scope="module")
def curation_out(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("curation")
    _docs_df(spark).write.parquet(str(tmp / "docs"))
    cfg = CurationConfig(n_buckets=4, run_id="t1")
    paths = run_curation(spark, str(tmp / "docs"), str(tmp / "out"), cfg,
                         resume=False)
    return tmp, paths, cfg


def test_curation_survivors(spark, curation_out):
    _tmp, paths, _cfg = curation_out
    curated = sorted(
        r.doc_id for r in spark.read.parquet(paths["curated"]).collect()
    )
    # 1,2,3 deduped into 0; 4 fails quality; 5 fails lang; 0 and 6 survive
    assert curated == [0, 6]


def test_curation_lineage_drop_audit(spark, curation_out):
    tmp, _paths, _cfg = curation_out
    rows = {
        r.stage: r
        for r in lin.read_lineage(spark, str(tmp / "out")).filter(
            F.col("partition_key") == lin.STAGE_KEY
        ).collect()
    }
    assert rows["exact"].input_rows == 1      # doc 1 dropped
    assert rows["exact"].output_rows == 6
    assert rows["neardup"].input_rows == 2    # docs 2, 3 dropped
    assert rows["neardup"].output_rows == 4
    assert rows["filter"].input_rows == 2     # docs 4, 5 dropped
    assert rows["filter"].output_rows == 2
    # profile stage recorded per-bucket rows covering all 7 docs
    prof = lin.read_lineage(spark, str(tmp / "out")).filter(
        F.col("stage") == "profile"
    )
    assert prof.agg(F.sum("output_rows")).first()[0] == 7


def test_curation_resume_is_noop(spark, curation_out):
    tmp, paths, cfg = curation_out
    before = spark.read.parquet(paths["curated"]).collect()
    n_lineage = lin.read_lineage(spark, str(tmp / "out")).count()
    run_curation(spark, str(tmp / "docs"), str(tmp / "out"),
                 CurationConfig(n_buckets=4, run_id="t2"), resume=True)
    after = spark.read.parquet(paths["curated"]).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # every stage skipped -> no new lineage rows
    assert lin.read_lineage(spark, str(tmp / "out")).count() == n_lineage


def test_curation_matches_pure_python_spec(spark, tmp_path):
    """End-to-end parity on the sf0.001 documents table: curated doc_id
    set == exact+minhash survivor replica filtered by the (already
    per-operator-validated) quality/lang expressions."""
    import mongo2neo_spark.entry_oracle as eo
    from mongo2neo_spark.operators import text as textops

    sf = "/root/testdata/sf0.001"
    paths = run_curation(
        spark, f"{sf}/documents.parquet", str(tmp_path / "out"),
        CurationConfig(n_buckets=4), resume=False,
    )
    got = sorted(
        r.doc_id for r in spark.read.parquet(paths["curated"]).collect()
    )
    surv = eo.curation_survivor_rows(sf_dir=sf)
    docs = spark.read.parquet(f"{sf}/documents.parquet").filter(
        F.col("doc_id").isin(surv)
    )
    exp = sorted(
        r.doc_id
        for r in docs.select(
            "doc_id",
            F.round(textops.quality_score("text"), 6).alias("q"),
            textops.lang_id("text").alias("l"),
        )
        .filter((F.col("q") >= 0.5) & (F.col("l") == "en"))
        .collect()
    )
    assert got == exp and len(got) > 0


def test_curation_partial_bucket_resume(spark, tmp_path):
    """Simulated mid-profile failure: two profile buckets lose their
    lineage rows + output partitions and all downstream stages are
    unrecorded.  A resume=True rerun recomputes ONLY those two buckets
    (new run_id) plus the downstream stages, and the final curated table
    equals the from-scratch result."""
    import shutil

    from pyspark.sql import functions as F

    _docs_df(spark).write.parquet(str(tmp_path / "docs"))
    paths = run_curation(
        spark, str(tmp_path / "docs"), str(tmp_path / "out"),
        CurationConfig(n_buckets=4, run_id="full"), resume=False,
    )
    expected = sorted(
        map(tuple, spark.read.parquet(paths["curated"]).collect())
    )

    # damage: drop profile buckets 1,2 (lineage + data) and every
    # downstream stage (lineage + outputs)
    lin_mod = lin
    kept = (
        lin_mod.read_lineage(spark, str(tmp_path / "out"))
        .filter(
            (F.col("stage") == "profile")
            & ~F.col("partition_key").isin("1", "2")
        )
        .collect()
    )
    shutil.rmtree(paths["lineage"])
    lin_mod.record(
        spark, str(tmp_path / "out"), "profile",
        [(r.partition_key, r.input_rows, r.output_rows, r.checksum,
          r.wall_ms) for r in kept],
        "full",
    )
    for b in ("1", "2"):
        shutil.rmtree(f"{paths['profiled']}/bucket={b}", ignore_errors=True)
    for stage_out in ("exact", "neardup", "curated"):
        shutil.rmtree(paths[stage_out], ignore_errors=True)

    run_curation(
        spark, str(tmp_path / "docs"), str(tmp_path / "out"),
        CurationConfig(n_buckets=4, run_id="resume"), resume=True,
    )
    got = sorted(map(tuple, spark.read.parquet(paths["curated"]).collect()))
    assert got == expected
    prof = lin_mod.read_lineage(spark, str(tmp_path / "out")).filter(
        F.col("stage") == "profile"
    )
    by_run = {
        (r.partition_key, r.run_id) for r in prof.collect()
    }
    assert by_run == {
        ("0", "full"), ("3", "full"), ("1", "resume"), ("2", "resume"),
    }


# ---------------------------------------------------------------------------
# extended stages: repetition filter + mixture sample / training shuffle
# ---------------------------------------------------------------------------
def _full_cfg(**kw):
    base = dict(
        n_buckets=4, repetition_filter=True,
        mixture_rates={"en": 1.0}, sample_seed=42,
    )
    base.update(kw)
    return CurationConfig(**base)


def test_curation_repetition_filter_drops_repetitive(spark, tmp_path):
    import hashlib

    texts = _docs_df(spark).toPandas().set_index("doc_id")["text"].to_dict()
    spam = "buy now " * 60  # high dup_word_frac + bigram coverage
    texts[7] = spam
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": [texts[k] for k in texts]})
    )
    df.write.parquet(str(tmp_path / "docs"))
    paths = run_curation(
        spark, str(tmp_path / "docs"), str(tmp_path / "out"),
        _full_cfg(run_id="rep1"), resume=False,
    )
    sampled = spark.read.parquet(paths["sampled"])
    ids = {r.doc_id for r in sampled.select("doc_id").collect()}
    assert 7 not in ids          # repetitive spam dropped
    assert 0 in ids and 6 in ids  # real docs with rate 1.0 survive
    # shuffle keys are the md5 of (seed, id)
    for r in sampled.collect():
        assert r.shuffle_key == hashlib.md5(f"42:{r.doc_id}".encode()).hexdigest()


def test_curation_sample_rate_and_resume(spark, tmp_path):
    n = 400
    df = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": range(n),
            "text": [
                " ".join(f"w{i}x{j}" for j in range(60))
                + f" the of and to is in doc{i}"
                for i in range(n)
            ],
        })
    )
    df.write.parquet(str(tmp_path / "docs"))
    cfg = _full_cfg(mixture_rates={"en": 0.5}, run_id="rate1")
    paths = run_curation(
        spark, str(tmp_path / "docs"), str(tmp_path / "out"), cfg,
        resume=False,
    )
    sampled = spark.read.parquet(paths["sampled"])
    n_curated = spark.read.parquet(paths["curated"]).count()
    n_sampled = sampled.count()
    assert 0.3 * n_curated <= n_sampled <= 0.7 * n_curated
    # resume: re-run is a no-op (same files, same count)
    import os
    mtimes = {
        f: os.path.getmtime(os.path.join(paths["sampled"], f))
        for f in os.listdir(paths["sampled"]) if f.endswith(".parquet")
    }
    paths2 = run_curation(
        spark, str(tmp_path / "docs"), str(tmp_path / "out"), cfg,
        resume=True,
    )
    assert spark.read.parquet(paths2["sampled"]).count() == n_sampled
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(paths2["sampled"], f)) == m


def test_curation_sampled_file_order_is_global_shuffle_order(spark, tmp_path):
    import os

    n = 300
    # per-doc-unique vocabulary so near-dup keeps every doc distinct
    df = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": range(n),
            "text": [
                " ".join(f"w{i}x{j}" for j in range(60))
                + f" the of and to is in doc{i}"
                for i in range(n)
            ],
        })
    )
    df.write.parquet(str(tmp_path / "docs"))
    paths = run_curation(
        spark, str(tmp_path / "docs"), str(tmp_path / "out"),
        _full_cfg(repetition_filter=False, run_id="ord1"), resume=False,
    )
    # reading part files in name order must replay the global hash order
    files = sorted(
        f for f in os.listdir(paths["sampled"]) if f.endswith(".parquet")
    )
    keys = []
    for f in files:
        pdf = pd.read_parquet(os.path.join(paths["sampled"], f))
        keys.extend(zip(pdf["shuffle_key"], pdf["doc_id"]))
    assert len(keys) > 1
    assert keys == sorted(keys)


def test_curation_resume_reads_lineage_once(spark, curation_out, tmp_path,
                                            monkeypatch):
    """A resume=True run reads lineage once, at its start — both on a
    fresh directory and on a completed one (the no-op re-run)."""
    tmp, _paths, _cfg = curation_out
    real, calls = lin.completed_keys, []

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(lin, "completed_keys", counting)
    for run_id in ("once1", "once2"):
        calls.clear()
        run_curation(spark, str(tmp / "docs"), str(tmp_path / "out"),
                     _full_cfg(run_id=run_id), resume=True)
        assert len(calls) == 1, run_id


@pytest.mark.parametrize("n_docs", [0, 1])
def test_curation_tiny_input(spark, tmp_path, n_docs):
    """An empty or one-document table runs every stage, the sample stage
    included: a zero-row partitioned write leaves no part file, so each
    stage must still find its upstream table's schema."""
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": [GOOD]}).head(n_docs),
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "docs"))
    paths = run_curation(spark, str(tmp_path / "docs"), str(tmp_path / "out"),
                         _full_cfg(run_id="tiny"))
    for table in ("profiled", "exact", "neardup", "curated", "sampled"):
        df = spark.read.parquet(paths[table])
        assert df.count() == n_docs, table
        assert {"doc_id", "text", "bucket", "quality"} <= set(df.columns)
    got = lin.read_lineage(spark, str(tmp_path / "out")).collect()
    prof = [r for r in got if r.stage == "profile"]
    assert len(prof) == 4 and sum(r.output_rows for r in prof) == n_docs
    stages = {r.stage: r for r in got if r.partition_key == lin.STAGE_KEY}
    assert set(stages) == {"exact", "neardup", "filter", "sample"}
    assert all(r.input_rows == 0 and r.output_rows == n_docs
               for r in stages.values())
