"""Correctness twins and digests, in plain Python.

The curation reference is ``tests/reference_model.py`` (annotations ->
keep/drop truth table -> scrub); the exact dedup twins below re-state
``dedup_lines`` / ``dedup_paragraphs`` semantics imperatively. Both
run once per seed, untimed, over the generated parquet.

Rows are compared through an order-independent digest: each row is
reduced to the md5 of its fields joined by ``SEP`` (Spark computes the
same string with ``concat_ws``), and the digest is the sha256 of the
sorted row hashes, so it is blind to order and sensitive to any changed,
missing or repeated row.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable

SEP = "\x1f"


def row_hash(*fields: object) -> str:
    return hashlib.md5(SEP.join(str(f) for f in fields).encode("utf-8")).hexdigest()


def digest(row_hashes: Iterable[str]) -> str:
    return hashlib.sha256("\n".join(sorted(row_hashes)).encode()).hexdigest()


def spark_row_hashes(df, *cols: str) -> list[str]:
    """``row_hash`` of each row of ``df`` over ``cols``, computed by Spark."""
    from pyspark.sql import functions as F

    h = F.md5(F.concat_ws(SEP, *[F.col(c).cast("string") for c in cols]))
    return [r[0] for r in df.select(h).collect()]


def curate_reference(rows: Iterable[tuple[str, int, str]]) -> dict:
    """Kept-row count and digest of ``(conv_id, turn_idx, scrubbed
    text)`` under the default ``CurationConfig`` keep rule."""
    from tests.reference_model import ref_annotations, ref_filter_keep, ref_scrub

    exclude = {"adult", "noisy"}
    hashes = []
    for conv_id, turn_idx, text in rows:
        if ref_filter_keep(ref_annotations(text), set(), exclude):
            hashes.append(row_hash(conv_id, turn_idx, ref_scrub(text)[0]))
    return {"kept": len(hashes), "digest": digest(hashes)}


def dedup_lines_twin(docs: list[tuple[str, str]]) -> list[str]:
    """Row hashes of ``dedup_lines(docs, ["conv_id"])``: the first
    occurrence of each distinct line in (conv_id, line_idx) order."""
    seen: set[str] = set()
    out = []
    for key, text in sorted(docs):
        for idx, line in enumerate(text.split("\n")):
            if line not in seen:
                seen.add(line)
                out.append(row_hash(key, idx, line))
    return out


def dedup_paragraphs_twin(docs: list[tuple[str, str]], sep: str = "\n\n") -> list[str]:
    """Row hashes of ``dedup_paragraphs(docs, ["conv_id"])``: later
    copies of a paragraph are cut out; docs left empty are dropped."""
    seen: set[str] = set()
    out = []
    for key, text in sorted(docs):
        paras = (text or "").split(sep)
        kept = []
        for p in paras:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        if kept:
            out.append(row_hash(key, sep.join(kept), len(paras), len(kept)))
    return out


def component_survivors(keys: Iterable[str], pairs: Iterable[tuple[str, str]]) -> set[str]:
    """Keys left by ``dedup_components`` (min key of each connected
    component of ``pairs`` survives; keys in no pair pass)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted((ra, rb))
            parent[hi] = lo
    return {k for k in keys if find(k) == k}
