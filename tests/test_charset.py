"""The RE2 spellings in ``charset`` mean, codepoint for codepoint, what the
Python ``re`` patterns mean. Each class is re-derived from Python ``re``
over every non-surrogate codepoint and run through RE2 (pyarrow.compute,
the engine of the Spark stage), so an interpreter upgrade that changes
Python's \\w or case folding fails here instead of silently drifting."""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from htrtf_spark import charset as cs

CODEPOINTS = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]


@pytest.fixture(scope="module")
def chars() -> list[str]:
    return [chr(c) for c in CODEPOINTS]


def _python(pattern: str, strings: list[str], search: bool = False) -> np.ndarray:
    rx = re.compile(pattern)
    test = rx.search if search else rx.fullmatch
    return np.fromiter((test(s) is not None for s in strings), bool, len(strings))


def _re2(pattern: str, strings: list[str]) -> np.ndarray:
    return pc.match_substring_regex(pa.array(strings), pattern).to_numpy(
        zero_copy_only=False
    )


def _assert_same(py: np.ndarray, re2: np.ndarray, strings: list[str], what: str):
    bad = np.flatnonzero(py != re2)
    assert not len(bad), (
        f"{what}: {len(bad)} codepoints differ, first "
        f"{[hex(ord(strings[i][-1])) for i in bad[:5]]}"
    )


def test_py_word_class_is_python_word(chars):
    _assert_same(
        _python(r"\w", chars), _re2(f"^[{cs.PY_WORD_CLASS}]$", chars),
        chars, "PY_WORD_CLASS vs Python \\w",
    )


def test_non_space_class_is_python_non_space(chars):
    _assert_same(
        _python(r"\S", chars), _re2(f"^[^{cs.WS_CHARS}]$", chars),
        chars, "[^WS_CHARS] vs Python \\S",
    )


def test_case_folds_are_python_ignorecase(chars):
    # only a char some letter matches can be in a fold: one Python pass
    # over all codepoints, then one per letter over those few
    letters = "".join(cs.CASE_FOLDS)
    cand = np.flatnonzero(_python(f"(?i)[{letters}]", chars))
    for letter, fold in cs.CASE_FOLDS.items():
        py = np.zeros(len(chars), bool)
        py[cand] = _python(f"(?i){letter}", [chars[i] for i in cand])
        _assert_same(
            py, _re2(f"^[{fold}]$", chars),
            chars, f"CASE_FOLDS[{letter!r}] vs Python (?i){letter}",
        )


@pytest.mark.parametrize(
    "prefix, suffix",
    [("<nav", ""), ("<FoRm", ">"), ("x <aside", " y")],
)
def test_boilerplate_word_boundary(chars, prefix, suffix):
    """``\\b`` after a boilerplate tag name, for every following char."""
    strings = [prefix + c + suffix for c in chars]
    _assert_same(
        _python(cs.BOILERPLATE_PATTERN, strings, search=True),
        _re2(cs.BOILERPLATE_RE2, strings),
        strings, f"BOILERPLATE_RE2 after {prefix!r}",
    )


def test_anchor_span_word_boundary(chars):
    """``<a\\b`` for every following char: the removed length must agree."""
    strings = [f"<a{c}x>link</a> tail" for c in chars]
    py = re.compile(cs.ANCHOR_SPAN_PATTERN)
    want = np.fromiter((len(py.sub("", s)) for s in strings), np.int64, len(strings))
    got = pc.utf8_length(
        pc.replace_substring_regex(pa.array(strings), cs.ANCHOR_SPAN_RE2, "")
    ).to_numpy()
    _assert_same(want, got, strings, "ANCHOR_SPAN_RE2 removed length")
