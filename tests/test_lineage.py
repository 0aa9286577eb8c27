"""Lineage bookkeeping (plans/lineage.py): one read per run, one part
file per record, no Spark job on a fresh directory."""

import os

from mongo2neo_spark.plans import lineage as lin


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _parts(path):
    return sorted(f for f in os.listdir(path) if f.startswith("part-"))


def test_completed_keys_on_fresh_dir_runs_no_job(spark, tmp_path):
    out, jobs = _jobs_in_group(
        spark, "lineage-fresh",
        lambda: lin.completed_keys(spark, str(tmp_path / "out")),
    )
    assert out == {} and jobs == []
    assert lin.read_lineage(spark, str(tmp_path / "out")) is None


def test_record_appends_one_file_per_call(spark, tmp_path):
    out = str(tmp_path / "out")
    lin.record(spark, out, "extract",
               [(str(b), 0, 10 + b, str(b), 5) for b in range(6)], "r1")
    assert len(_parts(lin.lineage_path(out))) == 1
    lin.record(spark, out, "components",
               [(lin.STAGE_KEY, 3, 42, "99", 7)], "r1")
    assert len(_parts(lin.lineage_path(out))) == 2

    rows = lin.read_lineage(spark, out).collect()
    assert len(rows) == 7 and all(r.ts is not None for r in rows)
    comp = next(r for r in rows if r.stage == "components")
    assert (comp.input_rows, comp.output_rows, comp.checksum,
            comp.wall_ms, comp.run_id) == (3, 42, "99", 7, "r1")

    # the one read a resumable run makes: every stage's keys at once
    done, jobs = _jobs_in_group(
        spark, "lineage-read", lambda: lin.completed_keys(spark, out))
    assert done == {"extract": {str(b) for b in range(6)},
                    "components": {lin.STAGE_KEY}}
    assert jobs  # the existence check gates a real read


def test_record_ignores_empty_entries(spark, tmp_path):
    out = str(tmp_path / "out")
    lin.record(spark, out, "extract", [], "r1")
    assert not os.path.exists(lin.lineage_path(out))
