"""Kernel unit tests (pure pandas/Python — no Spark).

Carries over the reference's parametrized spec table verbatim
(/root/reference/test/test_legal_description_extraction.py:83-91) and pins
the reference-exact post-processing semantics.
"""

import re

import pytest
from hypothesis import given
from hypothesis import strategies as st

from deed_ocr_spark.kernels.html import strip_html_boilerplate
from deed_ocr_spark.kernels.legal import (
    Description,
    dedup_descriptions,
    extract_with_regex,
    find_descriptions_in_pages,
    merge_final_lists,
    text_similarity,
    traditional_confidence,
)
from deed_ocr_spark.kernels.ocr import Fragment, ocr_region_text, xy_cut_order
from deed_ocr_spark.kernels.pdfblocks import segment_pdf_blocks
from deed_ocr_spark.kernels.textops import (
    clean_watermarks,
    ordered_dedup,
    page_concat,
)


# --- reference spec table (test_legal_description_extraction.py:83-91) ---
@pytest.mark.parametrize(
    "text,expected_found",
    [
        ("Beginning at a point on the North line of Section 12, thence East 330 feet", True),
        ("Lot 42, Block B, RIVERSIDE ESTATES", True),
        ("The SW 1/4 of Section 15, Township 2N, Range 3E", True),
        ("This is just a regular paragraph with no legal description", False),
    ],
)
def test_legal_description_patterns(text, expected_found):
    results = find_descriptions_in_pages([text])
    if expected_found:
        assert len(results) > 0, text
    else:
        assert len(results) == 0, text


SUNNY_ACRES = """
DEED OF TRUST

This deed made this 15th day of March, 2023...

LEGAL DESCRIPTION:

Lot 5, Block 3, of SUNNY ACRES SUBDIVISION, according to the plat
thereof recorded in Plat Book 123, Page 45, of the Public Records
of Example County, State.

TOGETHER WITH all improvements thereon...
"""

EXHIBIT_A = """
EXHIBIT A

Terms and conditions of the mortgage...

1. Payment shall be made monthly
2. Interest rate is fixed at 5.5%
"""


def test_fixture_pages():
    found = find_descriptions_in_pages([SUNNY_ACRES, EXHIBIT_A])
    assert len(found) >= 1
    assert all(d.page_number == 1 for d in found)


# --- watermark cleanup: byte parity with workflow.py:711-726 ---
def _reference_clean(text):
    for wm in ["UNOFFICIAL COPY", "UNOFFICIAL COPY UNOFFICIAL COPY", "UNO"]:
        text = text.replace(wm, "")
    text = re.sub(r"\n\s*\n\s*\n", "\n\n", text)
    text = re.sub(r" +", " ", text)
    return text.strip()


WM_CASES = [
    "Hello UNOFFICIAL COPY world",
    "UNOFFICIAL COPY UNOFFICIAL COPY doubled",
    "partial UNO leftover",
    "a\n\n\n\nb  c   d",
    "  UNOFFICIAL COPY  \n\n\n UNO \n x ",
    "clean text stays",
    "",
]


@pytest.mark.parametrize("text", WM_CASES)
def test_clean_watermarks_parity(text):
    assert clean_watermarks(text) == _reference_clean(text)


@given(
    st.text(
        alphabet=" \t\n\rabUNOFICALPY", max_size=120
    )
)
def test_clean_watermarks_parity_fuzz(text):
    """Property form of the parity test, biased toward whitespace runs and
    watermark fragments — locks the production pattern (two-space-prefixed
    space collapse, newline guards) to the reference's literal
    re.sub(r' +', ' ') form byte-for-byte."""
    assert clean_watermarks(text) == _reference_clean(text)


# --- ordered dedup: workflow.py:600-616 semantics ---
def test_ordered_dedup():
    assert ordered_dedup(["b", "a", "b", "", "a", "c"]) == ["b", "a", "c"]
    assert ordered_dedup([]) == []
    assert ordered_dedup(["", None]) == []


def test_page_concat_separator():
    # workflow.py:221 format: "\n--- Page {n} ---\n{text}\n" per page
    assert page_concat(["A", "B"]) == "\n--- Page 1 ---\nA\n\n--- Page 2 ---\nB\n"
    assert page_concat([]) == ""


# --- confidence: extractors/llm.py:143-165 ---
def test_confidence_scoring():
    text = "LEGAL DESCRIPTION: Lot 1, Block 2, of X SUBDIVISION"
    match = "Lot 1, Block 2, of X SUBDIVISION"
    assert traditional_confidence(match, text) == pytest.approx(0.7)  # 0.5 + header
    long_match = "x" * 250
    assert traditional_confidence(long_match, long_match) == pytest.approx(0.7)
    # header + both length bonuses caps at 0.9
    t2 = "legal description " + "y" * 250
    m2 = t2[0:220]
    assert traditional_confidence(m2, t2) == pytest.approx(0.9)


# --- similarity ladder: extractors/llm.py:195-217 ---
def test_text_similarity():
    assert text_similarity("abc", "ABC ") == 1.0
    assert text_similarity("lot 5 block 3", "the lot 5 block 3 extended") == 0.9
    assert text_similarity("a b c", "b c d") == pytest.approx(2 / 4)
    # reference quirk: "" is contained in any string ⇒ 0.9 (llm.py:203-205)
    assert text_similarity("", "x") == 0.9


def test_dedup_descriptions_confidence_order_and_same_page():
    d1 = Description("Lot 5, Block 3, of SUNNY ACRES SUBDIVISION", 1, 0, 10, 0.7)
    d2 = Description("lot 5, block 3, of sunny acres subdivision", 1, 5, 15, 0.5)
    d3 = Description("Lot 5, Block 3, of SUNNY ACRES SUBDIVISION", 2, 0, 10, 0.5)
    out = dedup_descriptions([d2, d1, d3])
    assert out[0] is d1  # highest confidence kept first
    assert d2 not in out  # same page, similarity 1.0
    assert d3 in out  # other page survives


# --- merge: workflow.py:547-563 asymmetry ---
def test_merge_final_lists():
    assert merge_final_lists(["a", "a", "b"], ["b", "c"]) == ["a", "a", "b", "c"]
    assert merge_final_lists([], ["x"]) == ["x"]
    assert merge_final_lists(["x"], []) == ["x"]


# --- regex enumeration order: extractors/regex.py:44-51 ---
def test_extract_with_regex_order():
    text = (
        "Section 3, Township 1N, Range 2E and also "
        "Lot 1, Block 2, of FOO ADDITION"
    )
    matches = extract_with_regex(text)
    # pattern-dict order: lot_block first, then section_township_range
    assert matches[0][0].startswith("Lot 1")
    assert matches[1][0].startswith("Section 3")
    assert all(text[m[1]:m[2]] == m[0] for m in matches)


# --- HTML boilerplate strip ---
def test_html_strip_keeps_content_drops_chrome():
    html = (
        '<nav><ul><li><a href="/">Home</a></li><li><a href="/x">Search</a></li></ul></nav>'
        "<article><p>The grantor hereby conveys and warrants to the grantee the"
        " following real property in Example County.</p></article>"
        '<footer><a href="/a">About</a> <a href="/b">Contact</a></footer>'
        "<script>var x=1;</script>"
    )
    out = strip_html_boilerplate(html)
    assert "grantor hereby conveys" in out
    assert "Home" not in out and "Contact" not in out and "var x" not in out


def test_html_strip_link_density():
    # long but link-dense block must be dropped
    links = "".join(f'<a href="/{i}">navigation entry number {i}</a> ' for i in range(10))
    html = f"<div>{links}</div><p>Plain body sentence that is long enough to keep here.</p>"
    out = strip_html_boilerplate(html)
    assert "navigation entry" not in out
    assert "Plain body sentence" in out


def test_html_entities_unescaped():
    out = strip_html_boilerplate("<p>Smith &amp; Jones conveys Lot 1 &lt;all of it&gt; today.</p>")
    assert "Smith & Jones" in out and "<all of it>" in out


# --- PDF block segmentation ---
def test_pdf_blocks_reading_order_and_gaps():
    payload = "\n".join(
        [
            "72,100,540,112|P|second block line",  # lower on page
            "72,40,540,52|H|LEGAL DESCRIPTION:",  # header at top
            "72,54,540,66|P|Lot 1, Block 2, of FOO SUBDIVISION",
        ]
    )
    out = segment_pdf_blocks(payload)
    blocks = out.split("\n\n")
    assert blocks[0] == "LEGAL DESCRIPTION:\nLot 1, Block 2, of FOO SUBDIVISION"
    assert blocks[1] == "second block line"


def test_pdf_blocks_header_starts_new_block():
    payload = "\n".join(
        [
            "72,40,540,52|P|intro line",
            "72,53,540,65|H|EXHIBIT A",  # small gap but header ⇒ new block
            "72,66,540,78|P|body line",
        ]
    )
    assert segment_pdf_blocks(payload) == "intro line\n\nEXHIBIT A\nbody line"


def test_pdf_blocks_malformed_lines_skipped():
    assert segment_pdf_blocks("garbage\n72,40,540,52|P|ok\nx,y|P|bad") == "ok"
    assert segment_pdf_blocks("") == ""


# --- XY-cut ---
def test_xy_cut_single_column():
    frags = [
        Fragment(40, 90, 560, 102, "third"),
        Fragment(40, 30, 560, 42, "first"),
        Fragment(40, 60, 560, 72, "second"),
    ]
    assert [f.text for f in xy_cut_order(frags)] == ["first", "second", "third"]


def test_xy_cut_two_columns():
    # Two columns separated by a clear x-gap; no y-gap. Left column must be
    # read fully before the right column.
    frags = [
        Fragment(320, 30, 560, 42, "right-1"),
        Fragment(40, 30, 280, 42, "left-1"),
        Fragment(320, 50, 560, 62, "right-2"),
        Fragment(40, 50, 280, 62, "left-2"),
    ]
    assert [f.text for f in xy_cut_order(frags)] == [
        "left-1",
        "left-2",
        "right-1",
        "right-2",
    ]


def test_xy_cut_nested_quadrants():
    # 2×2 layout: horizontal cut splits top/bottom bands, then a vertical
    # cut inside each band — reading order TL, TR, BL, BR (row-major by
    # band because the y-cut dominates)
    frags = [
        Fragment(320, 160, 560, 172, "BR"),
        Fragment(40, 30, 280, 42, "TL"),
        Fragment(320, 30, 560, 42, "TR"),
        Fragment(40, 160, 280, 172, "BL"),
    ]
    assert [f.text for f in xy_cut_order(frags)] == ["TL", "TR", "BL", "BR"]


def test_ocr_region_text_scrambled_recovers_order():
    payload = "\n".join(
        [
            "40,90,560,102|line three",
            "40,30,560,42|line one",
            "40,60,560,72|line two",
        ]
    )
    assert ocr_region_text(payload) == "line one\nline two\nline three"
