"""Per-layer metrics of one traced iteration (names as in BENCHMARK.json).

Every time is reported under a layer both workloads reach (see
``spans.layer_of``), so no time metric is a constant 0.  Counts of a layer
that only one workload reaches are 0 on the other; a venue code of 0 means
the gate was never consulted.  Per-table and per-function figures are in
the ledger printed above the result.
"""

from __future__ import annotations

import time
from collections import defaultdict
from pathlib import Path

from spans import LAYERS, layer_of, python_udf_metrics

MB = 1024.0 * 1024.0
DRIVER, DISTRIBUTED = 1, 2      # venue codes


def rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in path.rglob("part-*.parquet"))


def du(path: Path) -> tuple:
    """(MB on disk, data files) under ``path``."""
    files = list(path.rglob("*")) if path.exists() else []
    return (sum(f.stat().st_size for f in files if f.is_file()) / MB,
            sum(1 for f in files if f.name.startswith("part-")))


def udf_body_seconds(udf, texts) -> float:
    """An Arrow UDF's own body, in-process, over the same texts in the
    4096-row Arrow batches the session uses."""
    import pandas as pd

    batches = [pd.Series(texts[i:i + 4096])
               for i in range(0, len(texts), 4096)]
    t0 = time.perf_counter()
    for _ in udf.func(iter(batches)):
        pass
    return time.perf_counter() - t0


def link_pair_counts(norm_ids, band_cap: int, threshold: float) -> tuple:
    """(pairs scored, pairs linked) of a driver-venue link call: the
    candidate pairs its capped LSH bands produce, and those at or above
    the link threshold (the same shared functions the call uses)."""
    from mongo2neo_spark import rules
    from mongo2neo_spark.functions import hashing

    norms = sorted(n for n, _ in norm_ids)
    sigs = hashing.minhash_signatures_batch(
        [rules.char_ngrams(n or "") for n in norms])
    buckets = defaultdict(list)
    for n, sig in zip(norms, sigs):
        for bk in hashing.band_keys(sig):
            buckets[bk].append(n)
    pairs = set()
    for members in buckets.values():
        if len(members) <= band_cap:
            pairs.update((a, b) for i, a in enumerate(members)
                         for b in members[i + 1:])
    linked = sum(1 for a, b in pairs if rules.pair_score(a, b) >= threshold)
    return len(pairs), linked


def _link_counts(tracer) -> dict:
    from mongo2neo_spark import rules
    from mongo2neo_spark.functions import hashing

    calls = [c for c in tracer.calls if c[0] == "link.driver_link_components"]
    if not calls:
        return {"norms": 0, "pairs_scored": 0, "pairs_linked": 0,
                "linked_ratio": 0.0, "dropped_bands": 0}
    _label, args, kwargs = calls[-1]
    named = dict(zip(("norm_ids", "band_cap", "threshold"), args), **kwargs)
    norm_ids = list(named["norm_ids"])
    scored, linked = link_pair_counts(
        norm_ids, named.get("band_cap", hashing.BAND_CAP),
        named.get("threshold", rules.LINK_THRESHOLD))
    return {"norms": len(norm_ids), "pairs_scored": scored,
            "pairs_linked": linked,
            "linked_ratio": linked / scored if scored else 0.0,
            "dropped_bands": tracer.of("link.driver_link_components")[-1]
            .result[1]}


def collect(wl, tracer, led, out: Path, rest) -> dict:
    def layer(label):
        return layer_of(label, wl.root_span, wl.bucketed_table)

    def span_s(pred):
        return sum(s.seconds for s in tracer.spans if pred(s.label))

    m = {"root.self_s": tracer.self_seconds(tracer.root())}
    for k in ("jobs", "jobs_under_250ms", "driver_gap_s", "scheduler_delay_s",
              "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
              "task_max_over_median", "labelled_job_frac"):
        m[f"spark.{k}"] = led.total[k]
    by_layer = defaultdict(list)
    for lab, jobs in led.by_label.items():
        by_layer[layer(lab)].extend(jobs)
    for lay in LAYERS:
        row = led.summary(by_layer.get(lay, []))
        for k in ("jobs", "executor_run_s", "shuffle_write_mb"):
            m[f"spark.{lay}.{k}"] = row[k]

    for key in ("completed_keys", "record"):
        m[f"lineage.{key}_calls"] = len(tracer.of(f"lineage.{key}"))
        m[f"lineage.{key}_s"] = span_s(lambda lab: lab == f"lineage.{key}")
    m["lineage.rows"] = rows(out / "lineage")

    tables = {lab[len("write."):] for lab, _a, _k in tracer.calls
              if lab.startswith("write.")}
    for lay in ("write.bucketed", "write.global"):
        mine = {f"write.{t}": out / t for t in tables
                if layer(f"write.{t}") == lay}
        sizes = [du(p) for p in mine.values()]
        kind = lay[len("write."):]
        m[f"io.write_table_s.{kind}"] = span_s(lambda lab: lab in mine)
        m[f"io.written_mb.{kind}"] = sum(mb for mb, _ in sizes)
        m[f"io.files.{kind}"] = sum(n for _, n in sizes)

    kg = wl.root_span == "pipeline"
    m["ingest.input_rows"] = wl.rows
    m["ingest.dup_rows"] = wl.rows - wl.meta["unique_turns"] if kg else 0
    ext = {"turns": 0, "mentions": 0, "raw_triples": 0}
    if kg:
        import pyarrow.dataset as ds

        col = ds.dataset(out / "extracted", format="parquet",
                         partitioning="hive").to_table(
            columns=["ex"]).column("ex").combine_chunks()
        ext = {"turns": len(col),
               "mentions": sum(map(len, col.field("m_norm").to_pylist())),
               "raw_triples": sum(map(len, col.field("t_pred").to_pylist()))}
    m.update({f"extract.{k}": v for k, v in ext.items()})

    # the Python-UDF boundary of the first (bucketed) stage: the UDF body
    # in-process against the executor time of the stages that ran it
    udf, texts = wl.udf()
    body = udf_body_seconds(udf, texts)
    jobs = by_layer.get("write.bucketed", [])
    py = python_udf_metrics(rest, {j["jobId"] for j in jobs})
    stage_run = sum(
        st.get("executorRunTime", 0) for st in rest.get("/stages")
        if (st["stageId"], st["attemptId"]) in py["stages"]) / 1000.0
    m.update({"udf.body_s": body, "udf.boundary_s": stage_run - body,
              "udf.python_run_s": py["run_s"],
              "udf.python_worker_setup_s": py["start_s"] + py["init_s"]})

    m["venue.gated_s"] = span_s(lambda lab: layer(lab) == "venue")
    probes = tracer.of("probe.driver_probe")
    m["probe.venue"] = (0 if not probes else DRIVER
                        if probes[-1].result is not None else DISTRIBUTED)
    m.update({f"link.{k}": v for k, v in _link_counts(tracer).items()})
    cc = tracer.of("cc.connected_components_auto")
    m["cc.jobs"] = len(led.by_label.get("cc.connected_components_auto", []))
    m["cc.venue"] = (0 if not cc else
                     DISTRIBUTED if tracer.cc_distributed else DRIVER)

    for t in ("nodes", "edges", "triples"):
        m[f"materialize.{t}"] = rows(out / t) if kg else 0
    if kg:
        m["dedup.exact_dropped"] = m["dedup.neardup_dropped"] = 0
    else:
        prof, exact, near = (rows(out / t)
                             for t in ("profiled", "exact", "neardup"))
        m["dedup.exact_dropped"] = prof - exact
        m["dedup.neardup_dropped"] = exact - near
    return m
