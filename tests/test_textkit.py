"""textkit unit tests (X5 tokenize, X6 decode, language-ID, quality,
fingerprints) — pure Python, no SparkSession."""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from pycrawler_spark import textkit


# --- X5 tokenize (utils.py:230-251 semantics) ------------------------------

def test_tokenize_basic():
    assert textkit.tokenize("Hello,  World! 123") == "hello world 123"


def test_tokenize_alpha_only():
    assert textkit.tokenize("abc 123 x1y", alpha=True, lemma=False) == "abc x y"


def test_tokenize_keeps_case_when_lower_false():
    assert textkit.tokenize("Ab Cd", lower=False, lemma=False) == "Ab Cd"


def test_tokenize_lemma_rules():
    # morphy-noun detachments
    assert textkit.tokenize("boxes churches wolves cities") == "box church wolf city"
    # -ss words must not be stripped
    assert textkit.tokenize("classes pass") == "class pass"


def test_tokenize_stopwords():
    out = textkit.tokenize("the spark and the shuffle", stop=True, lemma=False)
    assert out == "spark shuffle"


def test_tokenize_none():
    assert textkit.tokenize(None) is None


# --- X6 decode (utils.py:253-314 semantics) ---------------------------------

def test_decode_url_and_plus():
    d = textkit.decode("a%20b+c")
    assert d["url"] == "a b+c"
    assert d["url_plus"] == "a b c"
    assert d["text"] == "a%20b+c"


def test_decode_html_rot13_unicode():
    d = textkit.decode("&amp;uryyb")
    assert d["html"] == "&uryyb"
    assert d["rot13"] == "&nzc;hello"
    d2 = textkit.decode("a\\u0041b")
    assert d2["unicode"] == "aAb"


def test_decode_base64_hex_json():
    d = textkit.decode("aGVsbG8=")
    assert d["base64"] == "hello"
    d2 = textkit.decode("68656c6c6f")
    assert d2["hex"] == "hello"
    d3 = textkit.decode('{"b": 1,  "a": 2}')
    assert json.loads(d3["json"]) == {"b": 1, "a": 2}


def test_decode_binary_payload_hexed():
    import base64

    raw = bytes([0, 255, 254, 1])
    d = textkit.decode(base64.b64encode(raw).decode())
    assert d["base64"] == "0x" + raw.hex()


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=80))
def test_decode_total(s):
    d = textkit.decode(s)
    assert d["text"] == s.strip()
    assert all(isinstance(v, str) for v in d.values())


# --- language ID --------------------------------------------------------------

def test_detect_lang():
    assert textkit.detect_lang("the cat is on the mat and it is happy") == "en"
    assert textkit.detect_lang("der hund ist nicht mit der katze") == "de"
    assert textkit.detect_lang("el perro es un animal muy bueno") == "es"
    assert textkit.detect_lang("这是一个中文句子这是一个中文句子") == "zh"
    assert textkit.detect_lang("") == "und"
    assert textkit.detect_lang("zzz qqq xxx") == "und"


# --- quality -------------------------------------------------------------------

def test_quality_features():
    q = textkit.quality_features("The cat, and the dog!")
    assert q["n_words"] == 5.0
    assert 0 < q["punct_ratio"] < 0.2
    assert q["stopword_ratio"] == 3 / 5  # The, and, the
    q0 = textkit.quality_features("")
    assert q0["n_chars"] == 0.0


# --- token counting ---------------------------------------------------------------

def test_token_counts():
    assert textkit.count_tokens_ws("a b  c") == 3
    assert textkit.count_tokens_bpe_ish("hello, world") == 2 + 1 + 2  # hel+lo , wor+ld
    assert textkit.count_tokens_bpe_ish("") == 0


# --- fingerprints -----------------------------------------------------------------

def test_rolling_hashes_shift_invariant():
    toks = "a b c d e f g".split()
    h1 = textkit.rolling_hashes(toks, k=3)
    h2 = textkit.rolling_hashes(toks[1:], k=3)
    assert h1[1:] == h2  # same shingles -> same hashes (true rolling)


def test_winnow_deterministic_and_robust():
    t1 = "the quick brown fox jumps over the lazy dog again and again ok"
    f1 = textkit.winnow_fingerprint(t1)
    assert f1 == textkit.winnow_fingerprint(t1)
    # small edit preserves most fingerprints
    t2 = t1.replace("lazy", "sleepy")
    f2 = textkit.winnow_fingerprint(t2)
    assert len(set(f1) & set(f2)) >= len(f1) // 2


def test_simhash_properties():
    a = textkit.simhash64("the quick brown fox".split())
    assert a == textkit.simhash64("the quick brown fox".split())
    b = textkit.simhash64("the quick brown wolf".split())
    ham = bin(a ^ b).count("1")
    assert 0 < ham < 32
    c = textkit.simhash64("completely different words entirely".split())
    assert bin(a ^ c).count("1") > ham


def test_shingles():
    assert textkit.shingles("a b c d", k=3) == ["a b c", "b c d"]
    assert textkit.shingles("a b", k=3) == ["a b"]
    assert textkit.shingles("", k=3) == []
    # distinct + order-preserving
    assert textkit.shingles("x y x y x y", k=2) == ["x y", "y x"]
