"""Text sanitization — exact-parity port of the reference's line joiner.

Reference: /root/reference/page_assemble_model.py:36-67 (sanitize_text)
and the per-cell cleanup at :89-92 (\\x02 → '-', strip, drop blanks).
"""

from __future__ import annotations

import re

_WORD_RE = re.compile(r"\b[\w]+\b")

# Unicode normalization table (page_assemble_model.py:60-65).
_NORMALIZATION = {
    "⁄": "/",   # fraction slash
    "’": "'",   # right single quote
    "‘": "'",   # left single quote
    "“": '"',   # left double quote
    "”": '"',   # right double quote
    "•": "·",  # bullet → middle dot
}


def sanitize_text(lines: list[str]) -> str:
    """Join text lines: de-hyphenate across breaks when both sides are
    alphanumeric words, otherwise join with a space; then normalize
    unicode punctuation and strip.

    Matches page_assemble_model.py:36-67 exactly. The reference rewrites
    its list in place while iterating a copy of it, so each line's
    rewrite depends on the ORIGINAL text of that line and the next one;
    building the parts left to right gives the same join.
    """
    if len(lines) <= 1:
        return " ".join(lines)

    parts = []
    prev_line = lines[0]
    for line in lines[1:]:
        if prev_line.endswith("-"):
            prev_words = _WORD_RE.findall(prev_line)
            line_words = _WORD_RE.findall(line)
            if (
                prev_words
                and line_words
                and prev_words[-1].isalnum()
                and line_words[0].isalnum()
            ):
                prev_line = prev_line[:-1]
        else:
            prev_line += " "
        parts.append(prev_line)
        prev_line = line
    parts.append(prev_line)

    joined = "".join(parts)
    # No replacement char is itself a source char, so per-char replace()
    # of the few chars present equals translate(), which walks every char
    # of the string through the table dict.
    for ch, to in _NORMALIZATION.items():
        if ch in joined:
            joined = joined.replace(ch, to)
    return joined.strip()


def clean_cell_text(text: str) -> str:
    """Per-cell cleanup applied before line joining
    (page_assemble_model.py:89-92): \\x02 → '-', strip."""
    return text.replace("\x02", "-").strip()


def cluster_text(cell_texts: list[str]) -> str:
    """Full text for a cluster: clean each cell, drop blanks, sanitize-join
    (page_assemble_model.py:88-94)."""
    lines = [t for t in map(clean_cell_text, cell_texts) if t]
    return sanitize_text(lines)


def child_text(cell_texts: list[str]) -> str:
    """Text for a wrapper's child cluster: plain space-join of cleaned
    cells WITHOUT de-hyphenation or unicode normalization — the reference
    treats children differently (readingorder_model.py:86-91)."""
    return " ".join([t for t in map(clean_cell_text, cell_texts) if t])
