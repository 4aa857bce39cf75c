"""An independent pure-Python EPrints -> Bulkrax row mapping.

The benchmark checks the engine's CSV output against this reference, so
it is written from the mapping's rules, not from the engine's code:
md5 source identifiers, whitespace-collapsed titles, ordered
"Family, Given" creators, trimmed non-empty keywords, subject labels in
code order with unmapped codes dropped, resource types from a fixed
vocabulary, dates widened to full ISO dates, and file names of the
documents whose ``main`` is set — every multi-value joined with '|'.
"""

from __future__ import annotations

import hashlib
import re

RESOURCE_TYPES = {
    "article": "Article",
    "book_section": "Book chapter",
    "monograph": "Monograph",
    "conference_item": "Conference proceeding",
    "thesis": "Thesis",
}
COLUMNS = [
    "source_identifier", "title", "creator", "keyword", "subject",
    "resource_type", "date_created", "abstract", "official_url", "file",
]
# Java's \s: the whitespace class the title normalization collapses.
_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


def bulkrax_row(record: dict, labels: dict[str, str]) -> dict[str, str]:
    date = (record.get("date") or "").strip(" ")
    if len(date) == 4:
        date += "-01-01"
    elif len(date) == 7:
        date += "-01"
    keywords = [t.strip(" ") for t in (record.get("keywords") or "").split(";")]
    return {
        "source_identifier": hashlib.md5(
            f"eprints:{record['eprintid']}".encode()
        ).hexdigest(),
        "title": _JAVA_SPACE.sub(" ", (record.get("title") or "").strip(" ")),
        "creator": "|".join(
            ", ".join(p for p in (c.get("family"), c.get("given")) if p is not None)
            for c in record.get("creators") or []
        ),
        "keyword": "|".join(t for t in keywords if t),
        "subject": "|".join(
            labels[c] for c in record.get("subjects") or [] if c in labels
        ),
        "resource_type": RESOURCE_TYPES.get(record.get("type"), "Other"),
        "date_created": date,
        "abstract": record.get("abstract") or "",
        "official_url": record.get("official_url") or "",
        "file": "|".join(
            d["main"] for d in record.get("documents") or [] if d.get("main") is not None
        ),
    }
