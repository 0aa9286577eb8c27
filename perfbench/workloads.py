"""Seeded inputs, oracle digests and the timed operation of each workload.

Inputs and oracle digests are cached per seed under the benchmark's cache
directory, so generation is paid once per seed and never timed.  Each
cache entry is built in a temporary directory and renamed into place, so
an interrupted run never leaves a half-written entry behind.

The program under test receives only the generated parquet; the oracle
digest is computed from the same rows by the repository's pure-Python
oracles (``mongo2neo_spark.oracle`` for the KG pipeline,
``mongo2neo_spark.entry_oracle`` through duckdb for curation).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path
from typing import Callable, Dict, List, Tuple

# Input sizes: they keep one run (set-up, a cold iteration and two warm
# ones) near a minute on a 4-core host; WORKLOADS.md has the costs behind
# the choice.
KG_TURNS = 30_000       # unique turns before the 5% duplicates are added
CURATION_DOCS = 5_000
INPUT_FILES = 16        # parquet part files per generated table
N_BUCKETS = 16          # lineage buckets, as bench.py sizes them


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(json.dumps(r, default=str).encode())
        h.update(b"\n")
    return h.hexdigest()


def _read_rows(path: str, cols: List[str]) -> List[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=cols)
    return list(zip(*(t[c].to_pylist() for c in cols)))


def _write_parts(table, out_dir: Path) -> None:
    """Write ``table`` as INPUT_FILES parquet parts, as a Spark job would."""
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True)
    step = -(-table.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(
            table.slice(i * step, step), out_dir / f"part-{i:05d}.parquet",
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )


def _cached(cache_root: Path, name: str, seed: int,
            build: Callable[[Path, int], dict]) -> Tuple[Path, dict]:
    """Return (entry dir, meta) for ``name``/``seed``, building it once."""
    entry = cache_root / name / f"seed{seed}"
    meta_path = entry / "meta.json"
    if not meta_path.is_file():
        tmp = cache_root / name / f".seed{seed}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        meta = build(tmp, seed)
        (tmp / "meta.json").write_text(json.dumps(meta))
        shutil.rmtree(entry, ignore_errors=True)
        tmp.rename(entry)
    return entry, json.loads(meta_path.read_text())


# ---------------------------------------------------------------------------
# kg_narrow_vocab
# ---------------------------------------------------------------------------
def kg_turns(seed: int, n_turns: int = KG_TURNS):
    """The fixture's transcripts (25 entities, Zipf-hot conversations, 15%
    aliases), truncated to exactly ``n_turns`` unique turns so every seed
    has the same input size, then 5% duplicated and shuffled."""
    from mongo2neo_spark import fixtures

    n_convs = 16
    while True:
        rows = fixtures.generate_transcripts(n_convs=n_convs, seed=seed)
        if len(rows) >= n_turns:
            break
        n_convs *= 2
    return fixtures.with_duplicates_and_shuffle(rows[:n_turns], seed=seed)


def _build_kg(entry: Path, seed: int) -> dict:
    import pyarrow as pa

    from mongo2neo_spark import fixtures, oracle

    rows = kg_turns(seed)
    pdf = fixtures.turns_to_pandas(rows)
    _write_parts(pa.Table.from_pandas(pdf, preserve_index=False),
                 entry / "input")
    triples = oracle.pipeline_triples(rows)
    return {
        "input_rows": len(rows),
        "unique_turns": len(oracle.dedup_turns(rows)),
        "triples": len(triples),
        "digest": _digest(triples),
    }


class KgNarrowVocab:
    name = "kg_narrow_vocab"
    root_span = "pipeline"
    bucketed_table = "extracted"

    def prepare(self, cache_root: Path, seed: int) -> None:
        entry, self.meta = _cached(cache_root, f"kg{KG_TURNS}", seed,
                                   _build_kg)
        self.input = str(entry / "input")
        self.rows = self.meta["input_rows"]

    def run(self, spark, out_dir: str) -> Dict[str, str]:
        from mongo2neo_spark.plans.pipeline import PipelineConfig, run_pipeline

        # resume on, as the CLI runs by default, into a fresh directory
        return run_pipeline(spark, self.input, out_dir,
                            PipelineConfig(n_buckets=N_BUCKETS), resume=True)

    def check(self, paths: Dict[str, str]) -> bool:
        got = {tuple(r) for r in
               _read_rows(paths["triples"], ["subj", "pred", "obj"])}
        return (len(got) == self.meta["triples"]
                and _digest(got) == self.meta["digest"])

    def udf(self):
        """The Arrow UDF of the first stage and the texts it is fed: the
        deduplicated turns, in (conv_id, turn_idx) order."""
        from mongo2neo_spark import oracle
        from mongo2neo_spark.fixtures import Turn
        from mongo2neo_spark.operators.extract import extract_turn_udf

        rows = _read_rows(self.input, list(Turn._fields))
        return extract_turn_udf, [
            t.text for t in oracle.dedup_turns([Turn(*r) for r in rows])]


# ---------------------------------------------------------------------------
# curation_docs
# ---------------------------------------------------------------------------
class _MapInPandasCapture:
    """Stands in for a SparkSession so ``generate_documents_distributed``
    runs its own per-document generator in-process: the same bytes the
    fixture produces under Spark, without starting a JVM before the
    timed session."""

    def range(self, start: int, end: int):
        self._ids = range(start, end)
        return self

    def repartition(self, _n: int):
        return self

    def mapInPandas(self, fn, _schema):
        import pandas as pd

        ids = pd.DataFrame({"id": list(self._ids)})
        return pd.concat(list(fn(iter([ids]))))


def _curation_oracle_rows(docs_dir: Path) -> List[tuple]:
    import duckdb

    import __spark_entry__ as entry
    from mongo2neo_spark import entry_oracle

    sql = entry_oracle.curation_sql(
        entry._QUALITY_SQL, entry._lang_id_sql(), entry._TOKEN_COUNTS_SQL)
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_dir}/documents.parquet/*.parquet')")
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _curated_key(doc_id, pred_lang, n_tokens, quality) -> tuple:
    return (int(doc_id), pred_lang, int(n_tokens), round(float(quality), 6))


def _build_docs(entry: Path, seed: int) -> dict:
    import pyarrow as pa

    from mongo2neo_spark import entry_oracle, fixtures

    pdf = fixtures.generate_documents_distributed(
        _MapInPandasCapture(), CURATION_DOCS, seed=seed)
    _write_parts(pa.Table.from_pandas(pdf, preserve_index=False),
                 entry / "documents.parquet")
    # entry_oracle reads <sf_dir>/documents.parquet for the dedup replica
    saved = entry_oracle.ORACLE_SF_DIR
    entry_oracle.ORACLE_SF_DIR = str(entry)
    try:
        rows = {_curated_key(*r) for r in _curation_oracle_rows(entry)}
    finally:
        entry_oracle.ORACLE_SF_DIR = saved
    return {"input_rows": len(pdf), "curated": len(rows),
            "digest": _digest(rows)}


class CurationDocs:
    name = "curation_docs"
    root_span = "curation"
    bucketed_table = "profiled"

    def prepare(self, cache_root: Path, seed: int) -> None:
        entry, self.meta = _cached(cache_root, f"docs{CURATION_DOCS}", seed,
                                   _build_docs)
        self.input = str(entry / "documents.parquet")
        self.rows = self.meta["input_rows"]

    def run(self, spark, out_dir: str) -> Dict[str, str]:
        from mongo2neo_spark.plans.curation import CurationConfig, run_curation

        # resume on, as the CLI runs by default, into a fresh directory
        return run_curation(spark, self.input, out_dir,
                            CurationConfig(n_buckets=N_BUCKETS), resume=True)

    def check(self, paths: Dict[str, str]) -> bool:
        got = {_curated_key(*r) for r in _read_rows(
            paths["curated"], ["doc_id", "pred_lang", "n_tokens", "quality"])}
        return (len(got) == self.meta["curated"]
                and _digest(got) == self.meta["digest"])

    def udf(self):
        """The Arrow UDF of the first stage and the texts it is fed."""
        from mongo2neo_spark.operators.text import fingerprint_udf

        return fingerprint_udf, [t for _, t in
                                 _read_rows(self.input, ["doc_id", "text"])]


WORKLOADS = {w.name: w for w in (KgNarrowVocab, CurationDocs)}
