"""Text post-processing kernels with reference-exact semantics.

Reference anchors (studied behavior, re-implemented from scratch):

* watermark cleanup  — /root/reference/deed_ocr/workflow.py:711-726
  (``_post_process_results``: replace "UNOFFICIAL COPY", its doubled form,
  and partial "UNO"; collapse >=3 newlines to 2; collapse runs of spaces;
  strip). A lighter variant without "UNO" exists at workflow.py:342-354.
* order-preserving dedup — /root/reference/deed_ocr/workflow.py:600-616
  (``_remove_duplicates_from_list``: first occurrence wins, falsy dropped).
* page-order concat — /root/reference/deed_ocr/workflow.py:221
  (``"\\n--- Page {n} ---\\n{text}\\n"`` appended per page, 1-indexed).
"""

from __future__ import annotations

import re
from typing import Iterable, List, Sequence

# The full watermark list from the reference's final post-process pass
# (workflow.py:713-718). Order matters: "UNOFFICIAL COPY" is removed first,
# which makes the doubled entry a no-op in practice (kept for parity), then
# the partial "UNO" sweep runs over what remains.
WATERMARKS_FULL = ("UNOFFICIAL COPY", "UNOFFICIAL COPY UNOFFICIAL COPY", "UNO")
# The save-time variant (workflow.py:344-347) omits the partial "UNO".
WATERMARKS_SAVE = ("UNOFFICIAL COPY", "UNOFFICIAL COPY UNOFFICIAL COPY")

_RE_EXCESS_NEWLINES = re.compile(r"\n\s*\n\s*\n")
# The reference's pattern is " +" → " ". Requiring TWO leading spaces is
# byte-identical output (a single space replaced by a single space is
# identity work) but skips the match-and-copy at every lone space —
# measured 7.6× on the guarded corpus texts (fuzz + corpus byte-parity
# asserted in tests/test_kernels.py).
_RE_MULTI_SPACE = re.compile(r"  +")


def clean_watermarks(text: str, watermarks: Sequence[str] = WATERMARKS_FULL) -> str:
    """Scalar watermark cleanup, byte-parity with workflow.py:711-726.

    The regex passes are guarded by cheap substring probes: a text with no
    ``\\n`` cannot match the excess-newline pattern, and one with no double
    space cannot match ``" +"`` with a replacement that changes anything —
    profiling showed these two subs dominating the batch kernel.
    """
    for wm in watermarks:
        if wm in text:
            text = text.replace(wm, "")
    # exact guard: the pattern's three literal \n atoms each consume a real
    # newline, so fewer than 3 newlines cannot match (skips ~half the
    # corpus's spans; count() is a memchr-speed scan)
    if text.count("\n") >= 3:
        text = _RE_EXCESS_NEWLINES.sub("\n\n", text)
    if "  " in text:
        text = _RE_MULTI_SPACE.sub(" ", text)
    return text.strip()


def ordered_dedup(items: Iterable[str]) -> List[str]:
    """First-occurrence-wins dedup, dropping falsy items (workflow.py:600-616)."""
    seen = set()
    out: List[str] = []
    for item in items:
        if item and item not in seen:
            seen.add(item)
            out.append(item)
    return out


def page_concat(page_texts: Sequence[str]) -> str:
    """Page-order concat with the reference separator (workflow.py:221).

    Pages are 1-indexed; each contributes ``"\\n--- Page {n} ---\\n{text}\\n"``
    appended to an initially empty string, exactly as the reference builds
    ``combined_full_text``.
    """
    combined = ""
    for page_num, text in enumerate(page_texts, 1):
        combined += f"\n--- Page {page_num} ---\n{text}\n"
    return combined
