"""Extract stage: the Arrow-UDF output must equal the shared rules run
directly (same module, but the Spark path crosses Arrow serialization,
posexplode, and element_at resolution — that's what's under test)."""

from mongo2neo_spark import oracle
from mongo2neo_spark.operators import extract, ingest


def test_mentions_match_oracle(spark, small_df, small_rows):
    turns = ingest.ingest(small_df)
    ex = extract.extract(turns)
    got = {
        (r.conv_id, r.turn_idx, r.span_start, r.span_end, r.surface, r.norm, r.kind)
        for r in extract.mentions(ex).collect()
    }
    ref_m, _ = oracle.extract(oracle.dedup_turns(small_rows))
    ref = {
        (m["conv_id"], m["turn_idx"], m["span_start"], m["span_end"],
         m["surface"], m["norm"], m["kind"])
        for m in ref_m
    }
    assert got == ref


def test_raw_triples_match_oracle(spark, small_df, small_rows):
    turns = ingest.ingest(small_df)
    ex = extract.extract(turns)
    got = {
        (r.conv_id, r.turn_idx, r.subj_norm, r.pred, r.obj_norm)
        for r in extract.raw_triples(ex).collect()
    }
    _, ref_t = oracle.extract(oracle.dedup_turns(small_rows))
    ref = {
        (t["conv_id"], t["turn_idx"], t["subj_norm"], t["pred"], t["obj_norm"])
        for t in ref_t
    }
    assert got == ref


def test_mention_ids_unique(spark, small_df):
    turns = ingest.ingest(small_df)
    m = extract.mentions(extract.extract(turns))
    assert m.count() == m.select("mention_id").distinct().count()


def test_jvm_extract_equals_arrow(spark, small_df):
    """The codegen-expression path (extract_jvm) and the Arrow-UDF path
    must be value-identical on every field — spans, norms, kinds, and
    triple index arrays."""
    turns = ingest.ingest(small_df)

    def rows(df):
        return sorted(
            (r.conv_id, r.turn_idx, str(r.ts),
             tuple(r.ex.m_start), tuple(r.ex.m_end), tuple(r.ex.m_surface),
             tuple(r.ex.m_norm), tuple(r.ex.m_kind),
             tuple(r.ex.t_subj), tuple(r.ex.t_pred), tuple(r.ex.t_obj))
            for r in df.collect()
        )

    assert rows(extract.extract_jvm(turns)) == rows(extract.extract_arrow(turns))


def test_jvm_extract_edge_cases(spark):
    """Empty text, no mentions, a lone mention, multi-space surfaces,
    back-to-back triples, and mid-word capitals."""
    import pandas as pd

    texts = [
        "", "no caps here", "Alice", "Alice works at Acme Corp",
        "Alice   Smith met with Bob in Berlin",
        "X", "Tool9 depends on ToolA", "A works at B works at C",
        "xAlice Bob9x Carol", "  Leading space Bob", "Trailing Bob  ",
    ]
    df = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["c"] * len(texts),
        "turn_idx": list(range(len(texts))),
        "ts": pd.to_datetime(["2026-01-01"] * len(texts)),
        "text": texts,
    })).select("conv_id", "turn_idx", "ts", "text")

    def rows(df_):
        return sorted(
            (r.conv_id, r.turn_idx,
             tuple(r.ex.m_start), tuple(r.ex.m_end), tuple(r.ex.m_surface),
             tuple(r.ex.m_norm), tuple(r.ex.m_kind),
             tuple(r.ex.t_subj), tuple(r.ex.t_pred), tuple(r.ex.t_obj))
            for r in df_.collect()
        )

    assert rows(extract.extract_jvm(df)) == rows(extract.extract_arrow(df))


def test_jvm_extract_fuzz_ascii(spark):
    """Seeded fuzz over the printable-ASCII alphabet (one Spark job, 600
    texts): jvm and arrow paths agree on arbitrary punctuation/case/
    whitespace mixtures, not just fixture-shaped text."""
    import random
    import string

    import pandas as pd

    rng = random.Random(99)
    alphabet = string.ascii_letters + string.digits + " .,;:!?-'\"\t"
    words = ["Alice", "works", "at", "Acme", "Corp", "bob", "Tool3", "X"]
    texts = []
    for _ in range(600):
        if rng.random() < 0.5:
            texts.append(
                "".join(rng.choice(alphabet)
                        for _ in range(rng.randrange(0, 120)))
            )
        else:
            texts.append(
                " ".join(rng.choice(words)
                         for _ in range(rng.randrange(0, 25)))
            )
    df = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["f"] * len(texts),
        "turn_idx": list(range(len(texts))),
        "ts": pd.to_datetime(["2026-01-01"] * len(texts)),
        "text": texts,
    })).select("conv_id", "turn_idx", "ts", "text")

    def rows(df_):
        return sorted(
            (r.turn_idx,
             tuple(r.ex.m_start), tuple(r.ex.m_end), tuple(r.ex.m_surface),
             tuple(r.ex.m_norm), tuple(r.ex.m_kind),
             tuple(r.ex.t_subj), tuple(r.ex.t_pred), tuple(r.ex.t_obj))
            for r in df_.collect()
        )

    assert rows(extract.extract_jvm(df)) == rows(extract.extract_arrow(df))
