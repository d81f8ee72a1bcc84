"""Correctness checks on one pass's written output.

Each check returns a list of problems (empty when the output is right), so
a pass fails on the first wrong row and the message says which. The checks
read plain Python values; none of them runs Spark.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

# Written here, not imported from the program's scrub patterns: a kept
# caption must not hold anything that looks like an e-mail address or a
# phone number, whatever the scrub believes it removed.
EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+")
PHONE = re.compile(r"(?<!\d)\d{3}[-. ]\d{3}[-. ]\d{4}(?!\d)")

ORACLE_FIELDS = ("rule_hits", "keep", "scrubbed_caption")


def audit_ids(input_ids: list[str], audit_ids_: list[str]) -> list[str]:
    """The audit table holds each input image_id exactly once."""
    counts = Counter(audit_ids_)
    dup = [i for i, c in counts.items() if c > 1]
    missing = set(input_ids) - counts.keys()
    extra = counts.keys() - set(input_ids)
    out = []
    if dup:
        out.append(f"audit: {len(dup)} duplicated image_id(s), e.g. {dup[0]}")
    if missing:
        out.append(f"audit: {len(missing)} input image_id(s) missing")
    if extra:
        out.append(f"audit: {len(extra)} image_id(s) not in the input")
    return out


def kept_matches_audit(audit_keep_ids: list[str], kept_ids: list[str]) -> list[str]:
    """The kept table is exactly the audit's keep rows, once each."""
    out = []
    if len(kept_ids) != len(set(kept_ids)):
        out.append("kept: duplicated image_id(s)")
    a, k = set(audit_keep_ids), set(kept_ids)
    if a - k:
        out.append(f"kept: {len(a - k)} keep=true audit row(s) missing")
    if k - a:
        out.append(f"kept: {len(k - a)} row(s) not keep=true in the audit")
    return out


def no_pii(kept_captions: list[str | None]) -> list[str]:
    for c in kept_captions:
        if c is not None and (EMAIL.search(c) or PHONE.search(c)):
            return [f"kept: caption still holds PII: {c!r}"]
    return []


def matches_oracle(audit_rows: dict[str, dict], oracle: list[dict]) -> list[str]:
    """Sampled rows equal the row-at-a-time oracle on rule_hits, keep and
    scrubbed_caption."""
    for want in oracle:
        got = audit_rows.get(want["image_id"])
        if got is None:
            return [f"oracle: {want['image_id']} absent from the audit"]
        for f in ORACLE_FIELDS:
            if got[f] != want[f]:
                return [
                    f"oracle: {want['image_id']} {f}={got[f]!r}, expected {want[f]!r}"
                ]
    return []


# --- near-dup chain ----------------------------------------------------------


def planted_pairs_together(planted: list[tuple[int, int]], labels: dict[int, int]) -> list[str]:
    """Every planted near-dup pair is labelled, in one cluster."""
    for a, b in planted:
        if a not in labels or b not in labels:
            return [f"dedup: planted pair ({a}, {b}) not labelled"]
        if labels[a] != labels[b]:
            return [f"dedup: planted pair ({a}, {b}) split across clusters"]
    return []


def _bigrams(text: str) -> set[str]:
    toks = text.split()
    return {f"{x} {y}" for x, y in zip(toks, toks[1:])}


def pairs_meet_threshold(
    pairs: list[tuple[int, int]], texts: dict[int, str], threshold: float
) -> list[str]:
    """Every emitted minhash pair's word-2-gram Jaccard, recomputed here,
    is at least the threshold (the job rounds it to 6 places)."""
    for a, b in pairs:
        x, y = _bigrams(texts[a]), _bigrams(texts[b])
        j = len(x & y) / len(x | y) if x | y else 0.0
        if round(j, 6) < threshold:
            return [f"dedup: pair ({a}, {b}) has Jaccard {j:.4f} < {threshold}"]
    return []


def labels_are_components(pairs: list[tuple[int, int]], labels: dict[int, int]) -> list[str]:
    """The labels equal a union-find over the emitted pairs: every id in a
    pair is labelled with the smallest id of its component, and nothing
    else is labelled."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    if want.keys() != labels.keys():
        return [f"dedup: {len(labels.keys() ^ want.keys())} id(s) labelled wrongly present or absent"]
    for x, c in want.items():
        if labels[x] != c:
            return [f"dedup: id {x} labelled {labels[x]}, its component's least id is {c}"]
    return []


# --- SoMEF assessment --------------------------------------------------------


def _norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a table, columns taken by name (the
    comparison tools/check_entry.py makes against DuckDB)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def same_table(cols, rows, want_cols, want_rows) -> list[str]:
    """Row count, column names and value hash equal the oracle's."""
    if len(rows) != len(want_rows):
        return [f"jsonld: {len(rows)} documents, the oracle has {len(want_rows)}"]
    if sorted(cols) != sorted(want_cols):
        return [f"jsonld: columns {cols}, the oracle has {want_cols}"]
    if value_hash(cols, rows) != value_hash(want_cols, want_rows):
        return ["jsonld: documents differ from the oracle's"]
    return []
