"""Seeded transcript-table generator for the end-to-end benchmark.

Every payload is built from content the generator chose, so the text the
engine should extract is known by construction; nothing here calls the
engine. The module depends on the standard library and pyarrow only, so
edits to the engine or its test fixtures cannot change a workload.

``generate(workload, seed)`` returns a ``Workload`` holding the rows, the
expected text per ``(conv_id, turn_idx)`` and the exact per-kind turn
counts; ``write_inputs`` writes the parquet table (files grouped by
``conv_id``) and the expected-text table.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import random
import zlib
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# Workload parameters. ``mix`` is the exact share of turns per payload kind;
# ``mega`` puts ``share`` of all turns into ``convs`` conversations.
WORKLOADS: dict[str, dict] = {
    "skew_pdf": {
        "turns": 2_000,
        "convs": 200,
        "mix": {"html": 0.55, "pdf": 0.15, "txt": 0.15, "json": 0.15},
        "mega": {"convs": 3, "share": 0.30},
        "compressed_pdf_share": 0.5,
        "n_buckets": 8,
        "text_kb": (0.2, 0.6),
    },
    "passthrough_write": {
        "turns": 2_000,
        "convs": 200,
        "mix": {"txt": 0.45, "json": 0.45, "html": 0.10},
        "n_buckets": 8,
        "text_kb": (2.0, 6.0),
    },
}

TRANSCRIPT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)
EXPECTED_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("doc_kind", pa.string()),
        pa.field("expected_text", pa.string()),
    ]
)

_WORDS = (
    "spark arrow shuffle partition catalyst codegen parquet lineage bucket "
    "transcript paragraph extraction boilerplate density window stride token "
    "salt skew broadcast resume checkpoint snapshot metric turn kernel batch "
    "column reader writer planner stage task driver executor memory spill "
    "result payload markup layout header footer reading order scanner commit"
).split()
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_POOL = 1024  # sentences per seed; documents draw from this pool


@dataclass
class Workload:
    conv_id: list[str] = field(default_factory=list)
    turn_idx: list[int] = field(default_factory=list)
    kind: list[str] = field(default_factory=list)
    text: list[str] = field(default_factory=list)
    expected: list[str] = field(default_factory=list)
    file_bounds: list[tuple[int, int]] = field(default_factory=list)

    @property
    def n_turns(self) -> int:
        return len(self.text)

    def kind_counts(self) -> dict[str, int]:
        out = {"html": 0, "pdf": 0, "txt": 0, "json": 0}
        for k in self.kind:
            out[k] += 1
        return out


class _Pool:
    """Sentences (plain text and an inline-markup twin with the same text)."""

    def __init__(self, rng: random.Random) -> None:
        self.plain: list[str] = []
        self.markup: list[str] = []
        self.short: list[str] = []  # <= 40 chars: fits one layout-PDF column
        for _ in range(_POOL):
            words = [rng.choice(_WORDS) for _ in range(rng.randint(6, 18))]
            words[0] = words[0].capitalize()
            self.plain.append(" ".join(words) + ".")
            marked = list(words)
            for _ in range(rng.randint(0, 3)):
                i = rng.randrange(len(marked))
                tag = rng.choice(("b", "i", "em", "span"))
                marked[i] = f"<{tag}>{marked[i]}</{tag}>"
            if rng.random() < 0.3:
                i = rng.randrange(len(marked))
                marked[i] = f'<a href="/doc/{rng.randrange(10**6)}" rel="nofollow">{marked[i]}</a>'
            self.markup.append(" ".join(marked) + ".")
            self.short.append(" ".join(words[:5])[:40])


def _html(rng: random.Random, pool: _Pool, target: int) -> tuple[str, str]:
    # half the pages open with a doctype; like the comment below, '<!' sends
    # the html kernel from its regex fast path to html.parser
    doctype = "<!DOCTYPE html>\n" if rng.random() < 0.5 else ""
    parts = [
        doctype + '<html lang="en"><head><meta charset="utf-8">',
        f"<title>{pool.short[rng.randrange(_POOL)]}</title></head>\n<body>",
        '<nav class="top"><ul><li><a href="/">home</a></li>'
        '<li><a href="/archive">archive</a></li></ul></nav>',
        f"<h1>{pool.short[rng.randrange(_POOL)]}</h1>",
    ]
    # one document in ten takes html.parser's slow path (comment + entity)
    slow = rng.random() < 0.1
    if slow:
        parts.append("<!-- generated page -->")
    paras: list[str] = []
    size = sum(len(p) for p in parts)
    while size < target or not paras:
        k = rng.randrange(_POOL)
        text, inner = pool.plain[k], pool.markup[k]
        if slow and not paras:
            text, inner = "R&D " + text, "R&amp;D " + inner
        paras.append(text)
        p = f'<p class="c{len(paras)}">\n  {inner}\n</p>'
        if rng.random() < 0.3:
            p += f'<div class="aside">{pool.plain[rng.randrange(_POOL)]}</div>'
        parts.append(p)
        size += len(p)
    parts.append("<footer><p></p><span>all rights reserved</span></footer></body></html>")
    return "\n".join(parts), "\n".join(paras)


def _txt(rng: random.Random, pool: _Pool, target: int) -> str:
    out: list[str] = []
    size = 0
    while size < target or not out:
        s = pool.plain[rng.randrange(_POOL)]
        out.append(s)
        size += len(s) + 1
    return " ".join(out)


def _json(rng: random.Random, pool: _Pool, target: int) -> str:
    body = {
        "role": "tool",
        "status": rng.choice(("ok", "partial", "cached")),
        "results": [],
    }
    size = 0
    while size < target or not body["results"]:
        s = pool.plain[rng.randrange(_POOL)]
        body["results"].append({"id": rng.randrange(10**6), "snippet": s})
        size += len(s) + 24
    return json.dumps(body)


def _pdf_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def _pdf_file(streams: list[bytes], compress: bool) -> bytes:
    """Minimal valid PDF, one content stream per page."""
    n = len(streams)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>", f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode()]
    font = 3 + 2 * n
    for i, stream in enumerate(streams):
        filt = b""
        if compress:
            stream, filt = zlib.compress(stream), b" /Filter /FlateDecode"
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents {4 + 2 * i} 0 R "
            f"/Resources << /Font << /F1 {font} 0 R >> >> >>".encode()
        )
        objs.append(b"<< /Length " + str(len(stream)).encode() + filt + b" >>\nstream\n" + stream + b"\nendstream")
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\nstartxref\n{xref}\n%%EOF\n".encode()
    return bytes(out)


def _pdf_simple(rng: random.Random, pool: _Pool, compress: bool) -> tuple[str, str]:
    """Single-column page of text-show lines: stream order is reading order."""
    lines = [pool.plain[rng.randrange(_POOL)] for _ in range(rng.randint(4, 12))]
    ops = ["BT", "/F1 11 Tf", "72 720 Td", "14 TL"]
    for i, line in enumerate(lines):
        if i:
            ops.append("T*")
        ops.append(f"({_pdf_escape(line)}) Tj")
    ops.append("ET")
    data = _pdf_file(["\n".join(ops).encode("latin-1")], compress)
    return base64.b64encode(data).decode("ascii"), "\n".join(lines) + "\n"


def _pdf_layout(rng: random.Random, pool: _Pool) -> str:
    """Two-column pages with a running header and footer, as the payload
    string. Column-1 lines are at most 40 chars, so at 12pt they end before
    x=290 and the gutter to x=330 stays open."""
    streams: list[bytes] = []
    for pno in range(rng.randint(2, 3)):
        cols = [[pool.short[rng.randrange(_POOL)] for _ in range(rng.randint(6, 14))] for _ in range(2)]
        header, footer = f"Synthetic Proceedings {pno + 1}", f"Page {pno + 1}"
        ops = ["BT", "/F1 12 Tf", "1 0 0 1 50 762 Tm", f"({header}) Tj", "1 0 0 1 50 25 Tm", f"({footer}) Tj"]
        for x, lines in zip((50, 330), cols):
            for li, line in enumerate(lines):
                ops += [f"1 0 0 1 {x} {720 - 14 * li} Tm", f"({_pdf_escape(line)}) Tj"]
        ops.append("ET")
        streams.append("\n".join(ops).encode("latin-1"))
    return base64.b64encode(_pdf_file(streams, False)).decode("ascii")


def _conv_sizes(rng: random.Random, params: dict) -> list[int]:
    turns, convs = params["turns"], params["convs"]
    mega = params.get("mega")
    sizes: list[int] = []
    rest_turns, rest_convs = turns, convs
    if mega:
        per = int(turns * mega["share"]) // mega["convs"]
        sizes += [per] * mega["convs"]
        rest_turns -= per * mega["convs"]
        rest_convs -= mega["convs"]
    base, extra = divmod(rest_turns, rest_convs)
    sizes += [base + (1 if i < extra else 0) for i in range(rest_convs)]
    rng.shuffle(sizes)  # the mega conversations land anywhere in conv_id order
    return sizes


def generate(name: str, seed: int) -> Workload:
    params = WORKLOADS[name]
    rng = random.Random(f"{name}:{seed}")
    pool = _Pool(rng)
    wl = Workload()
    n = params["turns"]
    kinds: list[str] = []
    for k, share in params["mix"].items():
        kinds += [k] * round(n * share)
    kinds = (kinds + [next(iter(params["mix"]))] * n)[:n]
    rng.shuffle(kinds)
    lo, hi = params["text_kb"]
    compressed_share = params.get("compressed_pdf_share", 0.0)

    pos = 0
    for c, size in enumerate(_conv_sizes(rng, params)):
        conv = f"conv-{c:06d}"
        for t in range(size):
            kind = kinds[pos]
            target = int(rng.uniform(lo, hi) * 1024)
            if kind == "html":
                text, exp = _html(rng, pool, target)
            elif kind == "txt":
                text = exp = _txt(rng, pool, target)
            elif kind == "json":
                text = exp = _json(rng, pool, target)
            else:
                text, exp = _pdf_simple(rng, pool, rng.random() < compressed_share)
            wl.conv_id.append(conv)
            wl.turn_idx.append(t)
            wl.kind.append(kind)
            wl.text.append(text)
            wl.expected.append(exp)
            pos += 1
    wl.file_bounds = _file_bounds(wl.conv_id, 2 * (len(os.sched_getaffinity(0)) or 1))
    return wl


def kernel_sample(seed: int, n: int = 256) -> dict[str, list[str]]:
    """Fixed payload sample for in-process kernel timing, the same for every
    workload: html pages, simple PDFs (half compressed) and two-column
    layout PDFs, each as the string the transcripts table would carry."""
    rng = random.Random(f"kernels:{seed}")
    pool = _Pool(rng)
    return {
        "html": [_html(rng, pool, int(rng.uniform(0.2, 0.6) * 1024))[0] for _ in range(n)],
        "pdf": [_pdf_simple(rng, pool, i % 2 == 1)[0] for i in range(n)],
        "layout_pdf": [_pdf_layout(rng, pool) for _ in range(n // 4)],
    }


def _file_bounds(conv_ids: list[str], n_files: int) -> list[tuple[int, int]]:
    """Split rows into about ``n_files`` contiguous ranges, never splitting a
    conversation, so one input split carries each mega-conversation."""
    n = len(conv_ids)
    target = max(1, n // n_files)
    while True:
        bounds: list[tuple[int, int]] = []
        start = 0
        for i in range(1, n + 1):
            if i == n or (i - start >= target and conv_ids[i] != conv_ids[i - 1]):
                bounds.append((start, i))
                start = i
        if len(bounds) >= n_files or target == 1:
            return bounds
        target = max(1, target * 3 // 4)


def write_inputs(wl: Workload, input_dir: str, expected_dir: str) -> None:
    """Write the transcripts table and the expected-text table as parquet."""
    os.makedirs(input_dir)
    os.makedirs(expected_dir)
    n = wl.n_turns
    roles = ["user" if i % 2 == 0 else "assistant" for i in wl.turn_idx]
    tools = [None if k in ("html", "pdf") else "search" for k in wl.kind]
    ts = [_EPOCH + dt.timedelta(seconds=i) for i in range(n)]
    table = pa.table(
        [wl.conv_id, wl.turn_idx, roles, wl.text, tools, ts], schema=TRANSCRIPT_SCHEMA
    )
    for f, (a, b) in enumerate(wl.file_bounds):
        pq.write_table(table.slice(a, b - a), os.path.join(input_dir, f"part-{f:04d}.parquet"))
    expected = pa.table(
        [wl.conv_id, wl.turn_idx, wl.kind, wl.expected], schema=EXPECTED_SCHEMA
    )
    pq.write_table(expected, os.path.join(expected_dir, "expected.parquet"))
