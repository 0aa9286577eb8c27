"""End-to-end pipeline: P/R vs oracle, permutation/salt invariance,
idempotent resume, lineage contents."""

import pytest

from mongo2neo_spark import fixtures, oracle
from mongo2neo_spark.plans import lineage as lin
from mongo2neo_spark.plans.pipeline import PipelineConfig, run_pipeline


def _compiled_classes(spark):
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_second_run_reuses_generated_code(spark, small_rows, tmp_path):
    """Generated classes survive from one run to the next: a per-run
    literal in a plan, or a codegen cache smaller than one run's
    classes, would make every run recompile them.  It is the module's
    first test, so its first run generates the pipeline's classes
    rather than finding them cached by the other tests' runs."""
    spark.createDataFrame(fixtures.turns_to_pandas(small_rows)).write.parquet(
        str(tmp_path / "in")
    )
    counts = []
    for i in range(2):
        before = _compiled_classes(spark)
        run_pipeline(spark, str(tmp_path / "in"), str(tmp_path / f"out{i}"),
                     PipelineConfig(n_buckets=8, run_id=f"cg{i}"))
        counts.append(_compiled_classes(spark) - before)
    # the second run must find every class cached: a per-run literal
    # costs only a few classes, too few for a ratio to the first run's
    # ~120 to catch
    assert counts[0] > 0 and counts[1] == 0, counts


@pytest.fixture(scope="module")
def pipeline_out(spark, small_rows, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("pipe")
    messy = fixtures.with_duplicates_and_shuffle(small_rows)
    spark.createDataFrame(fixtures.turns_to_pandas(messy)).write.parquet(
        str(tmp / "in")
    )
    cfg = PipelineConfig(n_buckets=8, run_id="r1")
    paths = run_pipeline(spark, str(tmp / "in"), str(tmp / "out"), cfg)
    return tmp, paths


def _triples(spark, paths):
    return {tuple(r) for r in spark.read.parquet(paths["triples"]).collect()}


def test_precision_recall_vs_oracle(spark, small_rows, pipeline_out):
    _, paths = pipeline_out
    got = _triples(spark, paths)
    ref = oracle.pipeline_triples(small_rows)
    p, r = oracle.precision_recall(got, ref)
    assert (p, r) == (1.0, 1.0)  # contract floor is 0.95; shared rules give 1.0


def test_resume_is_noop(spark, pipeline_out):
    tmp, paths = pipeline_out
    before = _triples(spark, paths)
    lin_before = spark.read.parquet(paths["lineage"]).count()
    run_pipeline(
        spark, str(tmp / "in"), str(tmp / "out"),
        PipelineConfig(n_buckets=8, run_id="r2"),
    )
    assert _triples(spark, paths) == before
    # no new lineage rows: every partition was already recorded
    assert spark.read.parquet(paths["lineage"]).count() == lin_before


def test_lineage_shape(spark, pipeline_out):
    _, paths = pipeline_out
    lin_df = spark.read.parquet(paths["lineage"])
    stages = {r.stage for r in lin_df.select("stage").distinct().collect()}
    assert stages == {"extract", "components", "materialize"}
    # extraction is bucket-granular
    assert lin_df.filter("stage = 'extract'").count() == 8


def test_salt_invariance(spark, small_rows):
    """K1 losslessness: the salted repartition changes only the physical
    distribution, never the triple set — identical output at SALT∈{1,8}
    through the composed operator path.  (The pipeline itself now gets
    the same spreading effect from fine-grained keys + AQE rebalance;
    salted_repartition remains the manual K1 operator for conv-hot UDF
    stages.)"""
    from mongo2neo_spark.operators import extract, ingest, materialize, skew

    df = spark.createDataFrame(fixtures.turns_to_pandas(small_rows))
    outs = []
    for salt in (1, 8):
        turns = skew.salted_repartition(ingest.ingest(df), 8, salt=salt)
        ex = extract.extract(turns)
        ments = extract.mentions(ex)
        comp = materialize.norm_components(ments)
        canon = materialize.canonical_names(ments, comp)
        t = materialize.triples(
            materialize.resolve_triples(extract.raw_triples(ex), comp, canon)
        )
        outs.append({tuple(r) for r in t.collect()})
    assert outs[0] == outs[1]


def test_nodes_and_edges_consistent(spark, pipeline_out):
    _, paths = pipeline_out
    nodes = spark.read.parquet(paths["nodes"])
    edges = spark.read.parquet(paths["edges"])
    node_names = {r.entity for r in nodes.collect()}
    for r in edges.collect():
        assert r.subj in node_names and r.obj in node_names
        assert r.weight >= 1 and len(r.provenance) >= 1


def test_driver_link_venue_matches_distributed(spark, small_rows, tmp_path):
    """The size-adaptive driver-side linking (driver_link_max) and the
    distributed LSH/CC path must produce identical components, triples,
    and lineage drop audits — same shared hashing/rules code, different
    venue only."""
    from mongo2neo_spark import fixtures

    df = spark.createDataFrame(fixtures.turns_to_pandas(small_rows))
    df.write.parquet(str(tmp_path / "in"))
    pa = run_pipeline(
        spark, str(tmp_path / "in"), str(tmp_path / "drv"),
        PipelineConfig(n_buckets=4, run_id="drv"), resume=False,
    )
    pb = run_pipeline(
        spark, str(tmp_path / "in"), str(tmp_path / "dist"),
        PipelineConfig(n_buckets=4, run_id="dist", driver_link_max=0),
        resume=False,
    )
    comp_a = sorted(map(tuple, spark.read.parquet(pa["components"]).collect()))
    comp_b = sorted(map(tuple, spark.read.parquet(pb["components"]).collect()))
    assert comp_a == comp_b and len(comp_a) > 0
    tri_a = sorted(
        (r.subj, r.pred, r.obj)
        for r in spark.read.parquet(pa["triples"]).collect()
    )
    tri_b = sorted(
        (r.subj, r.pred, r.obj)
        for r in spark.read.parquet(pb["triples"]).collect()
    )
    assert tri_a == tri_b


def test_resume_reads_lineage_once(spark, pipeline_out, tmp_path, monkeypatch):
    """A resume=True run reads lineage once, at its start — both on a
    fresh directory and on a completed one (the no-op re-run)."""
    tmp, _ = pipeline_out
    real, calls = lin.completed_keys, []

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(lin, "completed_keys", counting)
    for run_id in ("once1", "once2"):
        calls.clear()
        run_pipeline(spark, str(tmp / "in"), str(tmp_path / "out"),
                     PipelineConfig(n_buckets=8, run_id=run_id))
        assert len(calls) == 1, run_id


def _lineage_rows(spark, out_dir):
    return {(r.stage, r.partition_key): (r.input_rows, r.output_rows, r.checksum)
            for r in lin.read_lineage(spark, out_dir).collect()}


@pytest.mark.parametrize("strategy", ["shuffle", "adaptive", "auto"])
@pytest.mark.parametrize("n_rows", [0, 1])
def test_tiny_input(spark, small_rows, tmp_path, strategy, n_rows):
    """An empty or one-row transcript table runs every stage: a zero-row
    partitioned write leaves no part file, so each stage must still find
    its upstream table's schema."""
    from mongo2neo_spark import schemas

    row = next(r for r in small_rows if oracle.pipeline_triples([r]))
    rows = [row][:n_rows]
    spark.createDataFrame(
        fixtures.turns_to_pandas(rows), schemas.TRANSCRIPTS
    ).write.parquet(str(tmp_path / "in"))
    paths = run_pipeline(
        spark, str(tmp_path / "in"), str(tmp_path / "out"),
        PipelineConfig(n_buckets=4, run_id="tiny", dedup_strategy=strategy),
    )
    ref = oracle.pipeline_triples(rows)
    assert _triples(spark, paths) == ref and bool(ref) == bool(n_rows)
    assert spark.read.parquet(paths["extracted"]).count() == n_rows
    assert spark.read.parquet(paths["edges"]).count() == len(ref)
    got = _lineage_rows(spark, str(tmp_path / "out"))
    assert {s for s, _ in got} == {"extract", "components", "materialize"}
    assert len(got) == 4 + 2
    assert sum(o for (s, _), (_, o, _) in got.items() if s == "extract") == n_rows
    assert got[("materialize", lin.STAGE_KEY)][1] == len(ref)


def test_extract_exchange_has_no_fixed_width(spark, small_rows, tmp_path,
                                             monkeypatch):
    """The dedup exchange feeding the extract UDF is sized by AQE: a
    partition count pinned to spark.sql.shuffle.partitions hands every
    small input that many Python-UDF tasks, each paying the Python
    worker's fixed setup cost."""
    from mongo2neo_spark.sources import io as m2nio

    spark.createDataFrame(fixtures.turns_to_pandas(small_rows)).write.parquet(
        str(tmp_path / "in")
    )
    real, plans = m2nio.write_partitioned, []

    def capture(df, target, *args, **kwargs):
        if target.endswith("/extracted"):
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, target, *args, **kwargs)

    monkeypatch.setattr(m2nio, "write_partitioned", capture)
    run_pipeline(spark, str(tmp_path / "in"), str(tmp_path / "out"),
                 PipelineConfig(n_buckets=4, run_id="xw",
                                dedup_strategy="shuffle"))
    assert len(plans) == 1
    assert "REPARTITION_BY_COL" in plans[0], plans[0]
    assert "REPARTITION_BY_NUM" not in plans[0], plans[0]


def test_resume_after_crash_between_write_and_lineage(
        spark, pipeline_out, tmp_path, monkeypatch):
    """A stage that dies after writing its table but before recording
    lineage is redone on resume, and nothing before it is: the re-run
    writes no extraction table and reproduces a clean run's tables and
    per-stage lineage checksums."""
    from mongo2neo_spark.sources import io as m2nio

    tmp, clean = pipeline_out
    out = str(tmp_path / "out")
    real_record = lin.record

    def crash_on_components(spark_, out_dir, stage, *args, **kwargs):
        if stage == "components":
            raise RuntimeError("injected crash")
        return real_record(spark_, out_dir, stage, *args, **kwargs)

    monkeypatch.setattr(lin, "record", crash_on_components)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, str(tmp / "in"), out,
                     PipelineConfig(n_buckets=8, run_id="crash"))
    assert spark.read.parquet(f"{out}/components").count() > 0
    monkeypatch.setattr(lin, "record", real_record)

    written = []
    for name in ("write_table", "write_partitioned"):
        real = getattr(m2nio, name)

        def spy(df, target, *args, _real=real, **kwargs):
            written.append(target.rsplit("/", 1)[-1])
            return _real(df, target, *args, **kwargs)

        monkeypatch.setattr(m2nio, name, spy)
    paths = run_pipeline(spark, str(tmp / "in"), out,
                         PipelineConfig(n_buckets=8, run_id="resume"))
    assert "extracted" not in written and "components" in written, written

    def edges(p):
        return sorted(
            (r.subj, r.pred, r.obj, r.weight,
             tuple(sorted(map(tuple, r.provenance))))
            for r in spark.read.parquet(p["edges"]).collect()
        )

    assert _triples(spark, paths) == _triples(spark, clean)
    assert edges(paths) == edges(clean)
    assert _lineage_rows(spark, out) == _lineage_rows(spark, str(tmp / "out"))
