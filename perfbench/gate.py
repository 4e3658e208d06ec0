"""Correctness gate: compares what a pass wrote against the generator's
expected text, read from outside the engine with pyarrow.

Each check returns ``(errors, counts)``. ``counts`` carries ``mismatched``
and ``compared`` (turns whose ``extracted_text`` differs from the expected
text, joined on ``(conv_id, turn_idx)``) and ``rows_failed`` / ``rows_in``
(conversion failures); an empty ``errors`` list means the pass is correct.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.compute as pc
import pyarrow.dataset as ds

from article_extraction_spark.pipeline.checkpoint import LINEAGE_SUBDIR, TURNS_SUBDIR


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(d, name)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _text_mismatches(path: str, keys: list[tuple[str, int]], expected: list[str]) -> tuple[int, int]:
    """(mismatched, compared): expected turns missing, duplicated or with
    other text, plus output rows no expected turn matches."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["conv_id", "turn_idx", "extracted_text"]
    )
    got: dict[tuple[str, int], str] = {}
    dup = 0
    for c, t, x in zip(
        table.column("conv_id").to_pylist(),
        table.column("turn_idx").to_pylist(),
        table.column("extracted_text").to_pylist(),
    ):
        if (c, t) in got:
            dup += 1
        got[(c, t)] = x
    mismatched = dup + sum(1 for k, e in zip(keys, expected) if got.get(k) != e)
    mismatched += len(set(got) - set(keys))
    return mismatched, len(keys)


def _keys(wl) -> list[tuple[str, int]]:
    return list(zip(wl.conv_id, wl.turn_idx))


def check_checkpoint(dest: str, wl, stats: dict) -> tuple[list[str], dict]:
    """Fresh ``run_with_checkpoint``: text, lineage totals, per-kind counts."""
    errors: list[str] = []
    mismatched, compared = _text_mismatches(os.path.join(dest, TURNS_SUBDIR), _keys(wl), wl.expected)
    if mismatched:
        errors.append(f"text_mismatch {mismatched}/{compared}")
    lineage = ds.dataset(os.path.join(dest, LINEAGE_SUBDIR), format="parquet").to_table()
    total = {c: pc.sum(lineage.column(c)).as_py() or 0 for c in
             ("rows_in", "rows_failed", "n_html", "n_pdf", "n_txt", "n_json")}
    if total["rows_in"] != wl.n_turns:
        errors.append(f"lineage rows_in {total['rows_in']} != input turns {wl.n_turns}")
    if total["rows_failed"]:
        errors.append(f"lineage rows_failed {total['rows_failed']}")
    kinds = wl.kind_counts()
    got_kinds = {k: total[f"n_{k}"] for k in kinds}
    if got_kinds != kinds:
        errors.append(f"classified kinds {got_kinds} != generated {kinds}")
    if stats.get("buckets_processed") != lineage.num_rows:
        errors.append(f"buckets_processed {stats.get('buckets_processed')} != lineage rows {lineage.num_rows}")
    return errors, {
        "mismatched": mismatched,
        "compared": compared,
        "rows_failed": total["rows_failed"],
        "rows_in": total["rows_in"],
        "lineage": total,
        "lineage_rows": lineage.num_rows,
    }


def check_resume(stats: dict, before: str, after: str) -> tuple[list[str], dict]:
    """No-op re-run on the same snapshot: 0 buckets, output tree unchanged."""
    errors: list[str] = []
    if stats.get("buckets_processed") != 0:
        errors.append(f"no-op re-run processed {stats.get('buckets_processed')} buckets")
    if before != after:
        errors.append("no-op re-run changed the output tree")
    return errors, {}

