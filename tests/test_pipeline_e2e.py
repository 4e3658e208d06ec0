"""End-to-end: synthetic transcripts → pipeline → per-turn equality rate 1.0
vs independently-constructed goldens, under stable (conv_id, turn_idx) keys
(FIXTURES.md §1-2; BASELINE.md per-turn text-equality target)."""

from __future__ import annotations

from pyspark.sql import functions as F

from article_extraction_spark.fixtures.synth import (
    golden_df,
    synth_transcripts,
    transcripts_df,
)
from article_extraction_spark.pipeline.convert import convert_transcripts, ordered_output


def test_per_turn_equality_rate_is_one(spark):
    rows, golden = synth_transcripts(n_convs=30, turns_per_conv=12, seed=42, mega_conv=False)
    tdf = transcripts_df(spark, rows)
    gdf = golden_df(spark, golden)

    out = convert_transcripts(tdf, num_partitions=8)

    joined = out.join(gdf, ["conv_id", "turn_idx"], "full_outer")
    stats = joined.select(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("extracted_text") == F.col("expected_text"), 1).otherwise(0)).alias("eq"),
        F.sum(F.col("extracted_text").isNull().cast("int")).alias("missing"),
        F.sum(F.col("expected_text").isNull().cast("int")).alias("extra"),
    ).first()
    assert stats["missing"] == 0, "pipeline dropped turns the golden expects"
    assert stats["extra"] == 0, "pipeline emitted turns the golden drops (empty conversions)"
    assert stats["eq"] == stats["n"] == len(golden)


def test_stable_ordering(spark):
    rows, _ = synth_transcripts(n_convs=10, turns_per_conv=8, seed=7, mega_conv=False)
    out = ordered_output(convert_transcripts(transcripts_df(spark, rows), num_partitions=4), 4)
    collected = out.select("conv_id", "turn_idx").collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in collected]
    assert keys == sorted(keys)


def test_mega_conversation_skew_completes_and_spreads(spark):
    rows, golden = synth_transcripts(n_convs=5, turns_per_conv=10, seed=13, mega_conv=True)
    tdf = transcripts_df(spark, rows)
    out = convert_transcripts(tdf, num_partitions=8)
    # turn-level salting must spread the mega-conv's EXPENSIVE (python-
    # kernel) rows across all salted partitions; txt/json rows take the
    # native no-shuffle path and keep source partitioning by design
    per_part = (
        out.withColumn("pid", F.spark_partition_id())
        .where(F.col("conv_id").endswith("-mega") & F.col("doc_kind").isin("html", "pdf"))
        .groupBy("pid")
        .count()
        .collect()
    )
    assert len(per_part) == 8, f"mega-conv concentrated in {len(per_part)} partitions"
    counts = [r["count"] for r in per_part]
    assert max(counts) < 3 * min(counts), f"unbalanced: {counts}"
    assert out.count() == len(golden)


def test_with_readability_columns(spark):
    rows = [
        ("c", 0, "user", "<p>main body text, long enough to score well, with commas</p><nav>menu</nav>", None, None),
        ("c", 1, "user", "plain text turn", None, None),
    ]
    tdf = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    out = {r["turn_idx"]: r for r in convert_transcripts(tdf, num_partitions=2, with_readability=True).collect()}
    assert "main body text" in out[0]["readability_text"]
    assert out[0]["link_density"] == 0.0
    assert out[1]["readability_text"] is None  # native branch: diagnostics null
    # baseline extraction unchanged
    assert out[0]["extracted_text"].startswith("main body text")


def test_doc_kind_classification_matches_python(spark):
    rows, _ = synth_transcripts(n_convs=20, turns_per_conv=10, seed=99, mega_conv=False)
    from article_extraction_spark.extract.core import classify_payload
    from article_extraction_spark.extract.udfs import classify_payload_col

    tdf = transcripts_df(spark, rows)
    got = tdf.select("text", classify_payload_col(F.col("text")).alias("k")).collect()
    for r in got:
        assert r["k"] == classify_payload(r["text"])


def _scalar_row(kernel, kind, data):
    """What the extraction stage must emit for one row: the scalar kernel's
    (text, spans), or ("", [], "<ExcType>: <msg>") when it raises."""
    try:
        text, spans = kernel(kind, data)
        return text, [tuple(s) for s in spans], None
    except Exception as exc:  # noqa: BLE001
        return "", [], f"{type(exc).__name__}: {exc}"[:500]


def _layout_scalar(kind, data):
    from article_extraction_spark.extract.core import to_text
    from article_extraction_spark.extract.pdf_layout import pdf_layout_extract_fn

    if kind != "pdf":
        return to_text(kind, data)
    text = pdf_layout_extract_fn(data)
    if text is None:
        raise ValueError("undecodable PDF payload")
    return text, []


def test_arrow_extraction_stage_matches_scalar_kernels(spark):
    """The one Arrow extraction stage, row by row against the scalar
    kernels: extract.core.to_text (simple), pdf_layout_extract_fn (layout
    pdf rows) and readability_fields (html rows). Covers error capture,
    NULL payloads, a binary text column, and pass-through of every
    non-text column."""
    import base64

    from article_extraction_spark.extract.core import to_text
    from article_extraction_spark.extract.readability import readability_fields
    from article_extraction_spark.extract.udfs import extract_stage
    from article_extraction_spark.fixtures.synth import make_layout_pdf_bytes

    layout_pdf = base64.b64encode(
        make_layout_pdf_bytes(pages=[[["l1", "l2"], ["r1"]], [["p2"], ["p2r"]]], header="Head")
    ).decode()
    rows = [
        ("c1", 0, "html", "<p>alpha</p><div>skip</div><p>beta</p>"),
        ("c1", 1, "html", "<p></p>"),                      # drops: no paragraphs
        ("c1", 2, "html", "&amp; <p>entity path</p>"),      # parser fallback
        ("c1", 3, "pdf", "JVBERi0xLjQKJSVFT0Y="),           # undecodable → error
        ("c1", 4, "pdf", "%PDF-garbage"),                   # error path
        ("c1", 5, "pdf", layout_pdf),                       # layout differs from simple
        ("c1", 6, "html", None),                            # NULL payloads
        ("c1", 7, "pdf", None),
        ("c1", 8, "txt", "plain"),
        ("c1", 9, None, "<p>no kind</p>"),
        ("c2", 0, "html", "<div><a href='/'>nav</a></div><p>  padded, text  </p>\n<p>two</p>"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, doc_kind string, text string"
    ).withColumn("n_source_bytes", F.octet_length("text").cast("long"))
    binary = df.withColumn("text", F.encode("text", "utf-8"))
    kernels = {"simple": to_text, "layout": _layout_scalar}

    for src, payloads in ((df, {(r[0], r[1]): r[3] for r in rows}),
                          (binary, {(r[0], r[1]): None if r[3] is None else r[3].encode() for r in rows})):
        for mode, kernel in kernels.items():
            out = extract_stage(src, pdf_mode=mode, with_readability=True)
            assert out.columns == [
                "conv_id", "turn_idx", "doc_kind", "n_source_bytes", "extracted_text", "spans",
                "extract_error", "readability_text", "n_blocks", "max_block_score", "link_density",
            ]
            got = out.collect()
            assert len(got) == len(rows)
            for r in got:
                data = payloads[(r["conv_id"], r["turn_idx"])]
                want = _scalar_row(kernel, r["doc_kind"], data)
                assert (r["extracted_text"], [tuple(s) for s in r["spans"]], r["extract_error"]) == want, (mode, r)
                assert r["n_source_bytes"] == (None if data is None else len(data))
                rd = (r["readability_text"], r["n_blocks"], r["max_block_score"], r["link_density"])
                assert rd == (readability_fields(data) if r["doc_kind"] == "html" else (None,) * 4)

    # the cases above really exercise each path
    by_key = {(r["conv_id"], r["turn_idx"]): r for r in extract_stage(df, pdf_mode="layout").collect()}
    assert by_key[("c1", 0)]["extracted_text"] == "alpha\nbeta"
    assert [tuple(s) for s in by_key[("c1", 0)]["spans"]] == [(3, 8), (30, 34)]
    assert by_key[("c1", 3)]["extract_error"] == "ValueError: undecodable PDF payload"
    assert "Head" not in by_key[("c1", 5)]["extracted_text"]
    assert "Head" in _scalar_row(to_text, "pdf", layout_pdf)[0]
    assert by_key[("c1", 6)]["extracted_text"] == ""
