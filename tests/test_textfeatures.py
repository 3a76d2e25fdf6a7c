"""Word-shape / token-feature kernel vs the reference's own function
(loaded live — word_shape has no torch dependency at function level?
It does: the module imports torch. So shapes are pinned by the
spaCy-documented cases instead, plus self-consistency properties)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from edspdf_spark.kernels.textfeatures import (text_token_features,
                                               token_features,
                                               tokenize_words, word_shape)
from tests.reference_loader import REF


def test_word_shape_spacy_cases():
    # canonical spaCy shape behavior (runs capped at 4)
    assert word_shape("Hello") == "Xxxxx"
    assert word_shape("HELLO") == "XXXX"          # 5 caps -> capped at 4
    assert word_shape("Ab3-d") == "Xxd-x"
    assert word_shape("1984") == "dddd"
    assert word_shape("19845") == "dddd"          # run capped
    assert word_shape("...") == "..."
    assert word_shape("x" * 100) == "LONG"
    assert word_shape("") == ""
    assert word_shape("aaaaaB") == "xxxxX"        # run capped, case breaks it


def test_word_shape_run_semantics():
    # seq resets on class change; cap applies per-run
    assert word_shape("aaaaa" + "B" + "aaaaa") == "xxxx" + "X" + "xxxx"


def test_tokenizer_reference_patterns():
    toks = tokenize_words("Let's up the stakes, 12.5 now\nplease")
    # group(0) tokens may carry one trailing whitespace char (exactly
    # what the reference preprocess consumes) — compare stripped
    stripped = [t.strip() for t in toks]
    assert "12.5" in stripped      # num_like keeps decimal separator
    assert "," in stripped         # punctuation split off
    assert "\n" in toks            # newline is its own token
    # apostrophe glue: "Let's" keeps the ' attached to the word span
    assert any(t.startswith("Let") for t in toks)


def test_token_features_fields():
    f = token_features("Testing")
    assert f["shape"] == "Xxxxx"   # capped run
    assert f["prefix"] == "tes" and f["suffix"] == "ing"
    assert f["norm"] == "testing"


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=30))
def test_word_shape_total_and_bounded(s):
    shape = word_shape(s)
    assert isinstance(shape, str)
    if len(s) < 100:
        assert len(shape) <= len(s)
    else:
        assert shape == "LONG"


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
               max_size=40))
def test_tokenizer_covers_non_space_chars(s):
    toks = tokenize_words(s)
    # concatenation of tokens (plus spaces the regex consumed as
    # separators) must preserve all non-space characters
    joined = "".join(toks)
    for ch in s:
        if not ch.isspace():
            assert joined.count(ch) >= s.count(ch) - joined.count(" ") or \
                ch in joined
    feats = text_token_features(s)
    assert all(set(f) == {"shape", "prefix", "suffix", "norm"}
               for f in feats)


@pytest.mark.requires_reference(
    f"{REF}/pipes/embeddings/simple_text_embedding.py")
def test_word_regex_matches_reference_source():
    """The tokenizer pattern is transcribed from the reference
    (simple_text_embedding.py:108-113); pin the transcription to the
    reference's own source strings so drift cannot go unnoticed (the
    module itself imports torch, so it cannot be loaded live)."""
    import re

    from edspdf_spark.kernels.textfeatures import (WORD_REGEX, _DEFAULT,
                                                   _NUM_LIKE, _PUNCT)

    src = open("/root/reference/edspdf/pipes/embeddings/"
               "simple_text_embedding.py").read()
    ref_punct = re.search(
        r'punct = "\[:punct:\]" \+ "(.*?)"\n', src).group(1)
    assert _PUNCT == "[:punct:]" + ref_punct.replace('\\"', '"')
    ref_num = re.search(r'num_like = r"(.*?)"\n', src).group(1)
    assert _NUM_LIKE == ref_num
    ref_default = re.search(r'default = rf"(.*?)"\n', src).group(1)
    assert _DEFAULT == ref_default.replace("{punct}", _PUNCT)
    # the assembled pattern must be literally identical
    ref_pattern = (rf"({ref_num}|[{_PUNCT}]|[\n\r\t]|[^\S\r\n\t]+|"
                   + ref_default.replace("{punct}", _PUNCT) + r")"
                   + r"([^\S\r\n\t])?")
    assert WORD_REGEX.pattern == ref_pattern
