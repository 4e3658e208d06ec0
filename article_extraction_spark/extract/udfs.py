"""The Spark surface of the extraction kernels.

Classification stays entirely JVM-side (``classify_payload_col``, native
column expressions). Only the genuinely custom kernels (HTML state machine,
PDF parse, utf-8-ignore decode, readability scoring) cross into Python, and
every caller crosses through the one ``mapInArrow`` stage built by
``extract_stage``: one Arrow record batch in, one out, with the spans column
assembled from flat int arrays per batch (no per-span Python objects).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .core import SNIFF_PREFIX, to_text
from .pdf_layout import pdf_layout_extract_fn
from .readability import readability_fields

_RESULT_FIELDS = [
    T.StructField("extracted_text", T.StringType(), True),
    T.StructField(
        "spans",
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("start", T.IntegerType(), False),
                    T.StructField("end", T.IntegerType(), False),
                ]
            )
        ),
        True,
    ),
    T.StructField("extract_error", T.StringType(), True),
]

# html rows only; see readability.readability_fields
_READABILITY_FIELDS = [
    T.StructField("readability_text", T.StringType(), True),
    T.StructField("n_blocks", T.IntegerType(), True),
    T.StructField("max_block_score", T.DoubleType(), True),
    T.StructField("link_density", T.DoubleType(), True),
]
_NO_READABILITY = (None, None, None, None)


def classify_payload_col(text: Column) -> Column:
    """Native-expression payload-kind sniffing (S2 analog, reference
    tables/paper_document_table.py:60-70) — whole-stage-codegen friendly,
    no Python boundary. Must agree with core.classify_payload.

    Sniffs only the first SNIFF_PREFIX chars: regex-scanning full multi-KB
    payloads dominated the classify stage at bench scale, and content
    sniffing is a prefix property (a document whose first markup appears
    beyond the prefix is effectively text-leading anyway).
    """
    head = F.substring(text, 1, SNIFF_PREFIX)
    # NB: F.ltrim strips only ' ' — python lstrip (the twin) strips all
    # whitespace; use a regex so both agree on '\n{'-style payloads
    stripped = F.regexp_replace(head, r"^\s+", "")
    return (
        F.when(text.isNull(), F.lit("txt"))
        .when(
            head.startswith("%PDF-") | head.startswith("JVBERi0"),
            F.lit("pdf"),
        )
        .when(
            stripped.startswith("{") | stripped.startswith("["),
            F.lit("json"),
        )
        .when(
            head.rlike(r"(?is)<(?:!doctype\s+html|/?[a-z][a-z0-9]*)[\s>/]"),
            F.lit("html"),
        )
        .otherwise(F.lit("txt"))
    )


def _layout_to_text(kind, data):
    """``to_text`` with pdf payloads sent through the positioned-run parser
    (extract/pdf_layout.py: column detection, reading order, running
    header/footer removal). Spans do not apply to binary sources."""
    if kind != "pdf":
        return to_text(kind, data)
    text = pdf_layout_extract_fn(data)
    if text is None:
        raise ValueError("undecodable PDF payload")
    return text, []


def _readability_arrays(kinds, texts):
    """The readability columns: ``readability_fields`` for html rows, NULL
    for every other kind."""
    import pyarrow as pa

    rows = [
        readability_fields(doc) if kind == "html" else _NO_READABILITY
        for kind, doc in zip(kinds, texts)
    ]
    types = [pa.string(), pa.int32(), pa.float64(), pa.float64()]
    return [pa.array([r[i] for r in rows], t) for i, t in enumerate(types)]


def extract_map_in_arrow(batches, pdf_mode: str = "simple", with_readability: bool = False):
    """mapInArrow body: batches with ``doc_kind`` and ``text`` columns →
    every column but ``text`` unchanged, then ``extracted_text``, ``spans``,
    ``extract_error`` and, ``with_readability``, the readability fields.

    Conversion failures don't fail the task: the row carries the error
    (``"<ExcType>: <msg>"``, 500 chars max) with empty text and spans, and is
    dropped downstream while lineage counts it (the reference logs and
    continues, tables/paper_text_table.py:150-152). ``text`` may be a string
    or binary column."""
    import pyarrow as pa

    # the kernel is chosen once per stage; the simple kernel is the
    # module-global to_text as it stands when the stage runs
    kernel = _layout_to_text if pdf_mode == "layout" else to_text
    span_fields = [
        pa.field("start", pa.int32(), nullable=False),
        pa.field("end", pa.int32(), nullable=False),
    ]
    for batch in batches:
        kinds = batch.column("doc_kind").to_pylist()
        texts = batch.column("text").to_pylist()
        out_texts: list[str] = []
        errors: list[str | None] = []
        starts: list[int] = []
        ends: list[int] = []
        offsets: list[int] = [0]
        for kind, data in zip(kinds, texts):
            err = None
            try:
                text, sp = kernel(kind, data)
            except Exception as exc:  # noqa: BLE001
                text, sp, err = "", [], f"{type(exc).__name__}: {exc}"[:500]
            out_texts.append(text)
            for s, e in sp:
                starts.append(s)
                ends.append(e)
            offsets.append(len(starts))
            errors.append(err)
        spans = pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()),
            pa.StructArray.from_arrays(
                [pa.array(starts, pa.int32()), pa.array(ends, pa.int32())],
                fields=span_fields,
            ),
        )
        names = [n for n in batch.schema.names if n != "text"]
        arrays = [batch.column(n) for n in names]
        names += ["extracted_text", "spans", "extract_error"]
        arrays += [pa.array(out_texts, pa.string()), spans, pa.array(errors, pa.string())]
        if with_readability:
            names += [f.name for f in _READABILITY_FIELDS]
            arrays += _readability_arrays(kinds, texts)
        yield pa.RecordBatch.from_arrays(arrays, names=names)


def extract_stage(
    df: DataFrame, pdf_mode: str = "simple", with_readability: bool = False
) -> DataFrame:
    """The extraction stage as one ``mapInArrow`` over ``df``, which must
    have ``doc_kind`` and ``text`` columns. The output schema is ``df``'s
    minus ``text``, plus the result (and readability) fields.

    ``pdf_mode``: "simple" (stream-order text, byte-parity with the
    reference's extraction) or "layout" (``_layout_to_text``; an opt-in
    deviation from reference parity). Undecodable PDFs in layout mode carry
    ``"ValueError: undecodable PDF payload"``.

    MapInArrow is opaque to Catalyst, so a downstream filter on the output
    is never pushed below it and the kernel runs once per row."""
    if pdf_mode not in ("simple", "layout"):
        raise ValueError(f"pdf_mode must be 'simple' or 'layout', got {pdf_mode!r}")
    fields = [f for f in df.schema.fields if f.name != "text"] + _RESULT_FIELDS
    if with_readability:
        fields += _READABILITY_FIELDS
    fn = functools.partial(extract_map_in_arrow, pdf_mode=pdf_mode, with_readability=with_readability)
    return df.mapInArrow(fn, T.StructType(fields))
