"""Charset detection + decoding for non-UTF-8 payloads (round 5).

The reference decodes every text payload with ``errors="ignore"``
(reference tables/paper_text_table.py:91-104), which silently DESTROYS
windows-1252 / latin-1 bytes — every ``é`` or ``€`` in a legacy page is
dropped from the training corpus. A curation engine should detect and
decode correctly, and report HOW SURE it is so downstream filters can
route low-confidence rows.

Detection order (each step short-circuits):

1. **BOM** — UTF-8 / UTF-16 LE/BE / UTF-32 LE/BE byte-order marks
   (confidence 1.0; the BOM is stripped from the text).
2. **Strict UTF-8** — a successful strict decode of the whole payload
   (confidence 0.99: multi-byte sequences make accidental validity
   vanishingly rare; pure-ASCII payloads land here too, where every
   ASCII-superset codec agrees anyway).
3. **Declared charset** — ``<meta charset=...>`` /
   ``http-equiv Content-Type`` scanned ASCII-wise in the first 1024
   bytes, HTML5's sniffing window (confidence 0.9; unknown/lying labels
   that fail to decode fall through).
4. **High-byte heuristic** — payload has top-bit bytes but isn't UTF-8
   (a strict-UTF-8 failure always implies high bytes, so this step is
   total): any byte in 0x80-0x9F (C1 controls in latin-1, printables
   like ``€`` ``™`` in windows-1252) → windows-1252, else latin-1
   (confidence 0.6). Both decode every byte string — the ladder never
   fails and never drops a byte.

The reference's ``errors="ignore"`` path
(`extract.core.decode_utf8_ignore`) stays the DEFAULT everywhere
byte-parity with the reference matters; detection is opt-in via
`detect_decode` / `detect_decode_stage`.
"""

from __future__ import annotations

import codecs
import re

_BOMS: list[tuple[bytes, str]] = [
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF32_LE, "utf-32-le"),  # before UTF-16 (shared prefix)
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
]

# ASCII-window scan for declared charsets (HTML5 sniffing, simplified)
_META_CHARSET = re.compile(
    rb"""<meta[^>]+?charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.IGNORECASE
)


def sniff_declared_charset(head: bytes) -> str | None:
    """Charset label declared in the first bytes of an HTML payload."""
    m = _META_CHARSET.search(head[:1024])
    if not m:
        return None
    return m.group(1).decode("ascii", errors="ignore").strip().lower() or None


def detect_decode(data: bytes | None) -> tuple[str, str, float]:
    """bytes → (text, encoding_label, confidence). Never raises; see the
    module docstring for the detection ladder."""
    if data is None:
        return "", "none", 0.0
    data = bytes(data)
    if not data:
        return "", "empty", 1.0
    for bom, enc in _BOMS:
        if data.startswith(bom):
            try:
                if enc == "utf-8-sig":
                    return data.decode("utf-8-sig"), "utf-8", 1.0
                return data[len(bom):].decode(enc), enc, 1.0
            except UnicodeDecodeError:
                break  # BOM-lookalike prefix on non-text — fall through
    try:
        return data.decode("utf-8"), "utf-8", 0.99
    except UnicodeDecodeError:
        pass
    declared = sniff_declared_charset(data)
    if declared:
        try:
            return data.decode(declared), declared, 0.9
        except (UnicodeDecodeError, LookupError):
            pass
    # strict-UTF-8 failure ⇒ some byte ≥ 0x80, so the heuristic is total
    if any(0x80 <= b <= 0x9F for b in data):
        return data.decode("windows-1252", errors="replace"), "windows-1252", 0.6
    return data.decode("latin-1"), "latin-1", 0.6


def detect_decode_stage(df, payload_col: str):
    """``df`` plus ``decoded``, ``encoding`` and ``confidence`` from
    `detect_decode` over the binary ``payload_col``, as one ``mapInArrow``
    stage; pair with a filter on ``confidence`` to quarantine unsure rows."""
    from pyspark.sql import types as T

    out_fields = [("decoded", T.StringType()), ("encoding", T.StringType()), ("confidence", T.DoubleType())]
    schema = T.StructType(df.schema.fields + [T.StructField(n, t, True) for n, t in out_fields])

    def op(batches):
        import pyarrow as pa

        types = [pa.string(), pa.string(), pa.float64()]
        for batch in batches:
            rows = [detect_decode(p) for p in batch.column(payload_col).to_pylist()]
            cols = [pa.array([r[i] for r in rows], t) for i, t in enumerate(types)]
            yield pa.RecordBatch.from_arrays(
                batch.columns + cols, names=batch.schema.names + [n for n, _ in out_fields]
            )

    return df.mapInArrow(op, schema)
