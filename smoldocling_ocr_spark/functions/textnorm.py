"""Text normalization core (hyphen merge, markdown normalize, repeater keys).

Reference semantics: noise_filter.py:302-310 (loose hyphen merge, the one
the enhanced render path uses, enhanced_pipeline.py:159), cleaner.py:214-269
(normalize_markdown 6-step chain) and noise_filter.py:192-196 (digit
masking for repeater keys). The reference's strict hyphen merge
(cleaner.py:5-13), used only by its legacy digital path
(structure_engine.py:544), and its OCR-artifact cleanup
(noise_filter.py:313-331) have no caller here and are not kept.
"""

from __future__ import annotations

import re

# loose: any word chars on both sides (noise_filter.py:309).
# Possessive quantifiers (3.11+) are semantically identical here — the char
# after a greedy \w+ run is never a word char, so backtracking the group can
# never produce a match the possessive form misses — but they stop the
# engine re-trying every prefix of every word in the document (measured ~7%
# of the whole per-doc extraction cost).
_HYPHEN_LOOSE = re.compile(r"(\w++)-\s*\n\s*+(\w++)")
# candidate prefilter: every match contains '-' + optional spaces + newline.
# This pattern STARTS with the literal '-', so the regex engine memchr-skips
# to each hyphen instead of attempting \w++ at every position of the
# document (the \w-leading pattern admits no fast skip — measured
# ~0.24 ms/doc of pure scan on hyphen-free bodies). Exact semantics: when no
# candidate exists the sub is the identity, and when one does the ORIGINAL
# pattern does the whole job (including its chained "a-\nb-\nc" → "ab-\nc"
# continuation behavior, which a lookaround rewrite would change).
_HYPHEN_CAND = re.compile(r"-\s*\n")

_UNICODE_DASHES = {
    "−": "-",  # minus sign
    "–": "-",  # en dash
    "—": "-",  # em dash
    "―": "-",  # horizontal bar
}

_LIST_INDENT = re.compile(r"(^|\n\n)[ ]{2,4}([-*+])\s", re.MULTILINE)
_MULTI_NEWLINE = re.compile(r"\n{3,}")
_STAR_BULLET = re.compile(r"^(\s*)\* ", re.MULTILINE)
_HEADING_BLANK = re.compile(r"([^\n])\n(#{1,6} )")
_EMPTY_ROLE_TAG = re.compile(r"<!-- role:\w+ -->\s*<!-- /role -->")

_WORD_NUM = re.compile(r"\b\d+\b")


def merge_hyphenated_words_loose(text: str) -> str:
    """Join any word broken by hyphen+newline (``docu-\\nment`` → ``document``)."""
    if _HYPHEN_CAND.search(text) is None:
        return text
    return _HYPHEN_LOOSE.sub(r"\1\2", text)


def normalize_markdown(text: str) -> str:
    """Six-step markdown normalization chain (cleaner.py:214-269 semantics).

    1. unicode dashes → ``-``; 2. strip 2-4-space indent before top-level
    bullets; 3. collapse 3+ newlines to 2; 4. ``*`` bullets → ``-``;
    5. blank line before headings; 6. drop empty role tags; final strip.
    """
    if not text:
        return ""
    for dash, repl in _UNICODE_DASHES.items():
        text = text.replace(dash, repl)
    text = _LIST_INDENT.sub(r"\1\2 ", text)
    text = _MULTI_NEWLINE.sub("\n\n", text)
    text = _STAR_BULLET.sub(r"\1- ", text)
    text = _HEADING_BLANK.sub(r"\1\n\n\2", text)
    text = _EMPTY_ROLE_TAG.sub("", text)
    return text.strip()


def mask_numbers(text: str) -> str:
    """Replace standalone digit runs with ``[NUM]`` (noise_filter.py:192-196)."""
    return _WORD_NUM.sub("[NUM]", text.strip())
