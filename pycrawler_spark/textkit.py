"""Text toolkit — tokenize / decode / language-ID / quality / fingerprints.

Covers the reference's NLP+codec scalar functions (SURVEY.md §2.7
X5/X6) plus the text-analysis operators a large-scale training-data
pipeline needs (language ID, quality scoring, token counting, document
fingerprinting). Pure-Python cores; vectorized wrappers in
:mod:`pycrawler_spark.functions.udfs`.
"""

from __future__ import annotations

import base64
import codecs
import hashlib
import html as _htmllib
import json
import re
import urllib.parse
from typing import Dict, List, Optional

_NON_ALNUM_RE = re.compile(r"[^A-Za-z0-9\s]")
_NON_ALPHA_RE = re.compile(r"[^A-Za-z\s]")
_WS_RE = re.compile(r"\s+")

# A compact English stopword list (NLTK's list is unavailable in this
# container; this subset is pinned here so results are deterministic).
STOPWORDS_EN = frozenset(
    """a an and are as at be by for from has he in is it its of on that the
    to was were will with i you they this but not or have had his her do
    does did so if then than there these those what which who whom been
    being am we us our your their them she him my me no yes can could
    should would may might must shall about into over under again more
    most other some such only own same too very just now out up down""".split()
)
STOPWORDS_DE = frozenset(
    """der die das und ist in den von zu mit sich des auf für nicht ein
    eine als auch es an werden aus er hat dass sie nach wird bei einer um
    am sind noch wie einem über einen so zum war haben nur oder aber vor
    zur bis mehr durch man sein wurde sei""".split()
)
STOPWORDS_ES = frozenset(
    """el la de que y a en un ser se no haber por con su para como estar
    tener le lo todo pero más hacer o poder decir este ir otro ese si me
    ya ver porque dar cuando muy sin vez mucho saber qué sobre mi alguno
    mismo yo también hasta""".split()
)
STOPWORDS_FR = frozenset(
    """le de un être et à il avoir ne je son que se qui ce dans en du elle
    au pour pas vous par sur faire plus dire me on mon lui nous comme mais
    avec tout y aller voir bien où sans tu ou leur si deux mari moi""".split()
)

_LANG_STOPWORDS = {
    "en": STOPWORDS_EN,
    "de": STOPWORDS_DE,
    "es": STOPWORDS_ES,
    "fr": STOPWORDS_FR,
}

# --- X5: tokenize (utils.py:230-251) ------------------------------------

# WordNet-morphy noun detachment rules (NLTK's WordNetLemmatizer with
# default pos='n'), applied longest-suffix-first WITHOUT the WordNet
# vocabulary membership check — a documented deterministic
# approximation (NLTK is not a dependency).
_MORPHY_NOUN_RULES = [
    ("ches", "ch"),
    ("shes", "sh"),
    ("sses", "ss"),
    ("xes", "x"),
    ("zes", "z"),
    ("ves", "f"),
    ("ies", "y"),
    ("ses", "s"),
    ("men", "man"),
    ("s", ""),
]


def lemmatize_noun(word: str) -> str:
    if len(word) <= 2:
        return word
    if word.endswith("ss") or word.endswith("us") or word.endswith("is"):
        return word
    for suf, rep in _MORPHY_NOUN_RULES:
        if word.endswith(suf) and len(word) > len(suf) + 1:
            return word[: -len(suf)] + rep
    return word


def tokenize(
    data: str,
    lower: bool = True,
    alpha: bool = False,
    stop: bool = False,
    lemma: bool = True,
) -> str:
    """Reference tokenize pipeline (utils.py:230-251), minus the two
    steps whose libraries are absent here (autocorrect spelling fix and
    Snowball stemming — both default-off in the reference signature):

    strip -> lower -> keep [A-Za-z0-9\\s] (or alpha-only) -> collapse
    whitespace -> split -> lemmatize (morphy-noun rules) -> optional
    stopword+len>1 filter -> space-join.
    """
    if data is None:
        return None
    result = data.strip().lower() if lower else data.strip()
    pattern = _NON_ALPHA_RE if alpha else _NON_ALNUM_RE
    result = _WS_RE.sub(" ", pattern.sub(" ", result)).strip()
    words = result.split() if result else []
    if lemma:
        words = [lemmatize_noun(w) for w in words]
    if stop:
        words = [w for w in words if w not in STOPWORDS_EN and len(w) > 1]
    return " ".join(words)


# --- X6: multi-codec decode (utils.py:253-314) ---------------------------

def decode(data: str) -> Dict[str, str]:
    """Best-effort multi-codec decode; same codec set and semantics as
    the reference. Values that decode to raw bytes (base64/hex of
    non-UTF8 payloads) are hex-encoded with an ``0x`` prefix so the
    result is a clean ``map<string,string>`` column (the reference
    keeps Python ``bytes`` in a dict — not representable relationally).
    """
    if data is None:
        return {}
    data = data.strip()
    out: Dict[str, str] = {"text": data}

    def _put(key: str, fn):
        try:
            v = fn()
        except Exception:
            return
        if isinstance(v, bytes):
            try:
                v = v.decode()
            except UnicodeDecodeError:
                v = "0x" + v.hex()
        out[key] = v

    _put("url_plus", lambda: urllib.parse.unquote_plus(data))
    _put("url", lambda: urllib.parse.unquote(data))
    _put("html", lambda: _htmllib.unescape(data))
    _put("rot13", lambda: codecs.decode(data, "rot_13"))

    def _unicode_escape():
        # arbitrary input routinely contains invalid escapes ("\d" in a
        # regex-looking string); Python warns today and will raise in a
        # future version — scoped suppression keeps the decode
        # best-effort without masking other warnings
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            warnings.simplefilter("ignore", SyntaxWarning)
            return bytes(data, "utf-8").decode("unicode_escape")

    _put("unicode", _unicode_escape)
    _put("punycode", lambda: data.encode().decode("idna"))
    _put("base64", lambda: base64.b64decode(data))
    _put("hex", lambda: bytes.fromhex(data))
    _put("json", lambda: json.dumps(json.loads(data)))
    return out


# --- X7: hashes (utils.py:316-335) ---------------------------------------
# In the engine these are Spark built-ins (md5/sha1/sha2); this core is
# for the simulator/tests.

def hashes(data: bytes) -> Dict[str, str]:
    return {
        "md5": hashlib.md5(data).hexdigest(),
        "sha1": hashlib.sha1(data).hexdigest(),
        "sha256": hashlib.sha256(data).hexdigest(),
        "sha512": hashlib.sha512(data).hexdigest(),
    }


# --- X8: decompress (utils.py:337-339 is a stub returning b'' — we
# implement it properly: zlib, gzip, and raw-deflate attempted in order) ---

def decompress(data: bytes) -> bytes:
    import zlib

    if not data:
        return b""
    for wbits in (zlib.MAX_WBITS, zlib.MAX_WBITS | 16, -zlib.MAX_WBITS):
        try:
            return zlib.decompress(data, wbits)
        except zlib.error:
            continue
    return b""


# --- language ID (training-data operator; stopword-ratio heuristic) -------

def detect_lang(text: str, candidates: Optional[List[str]] = None) -> str:
    """n-gram-free stopword-voting language ID.

    CJK short-circuit: if >20% of chars are in CJK ranges -> 'zh'.
    Otherwise the language whose stopword list covers the most tokens
    wins; 'und' when nothing matches.
    """
    if not text:
        return "und"
    cjk = sum(1 for c in text if "一" <= c <= "鿿")
    if cjk > 0.2 * max(1, len(text)):
        return "zh"
    words = _WS_RE.sub(" ", text.lower()).split()
    if not words:
        return "und"
    best, best_score = "und", 0
    for lang in candidates or list(_LANG_STOPWORDS):
        sw = _LANG_STOPWORDS[lang]
        score = sum(1 for w in words if w in sw)
        if score > best_score:
            best, best_score = lang, score
    return best


# --- quality scoring (training-data operator) ------------------------------

_PUNCT_RE = re.compile(r"[^\w\s]")


def quality_features(text: str) -> Dict[str, float]:
    """Cheap quality signals: length, punctuation ratio, stopword
    ratio, mean word length, uppercase ratio. Mirrors common web-text
    filtering recipes (C4/Gopher-style rules)."""
    if not text:
        return {
            "n_chars": 0.0, "n_words": 0.0, "punct_ratio": 0.0,
            "stopword_ratio": 0.0, "mean_word_len": 0.0, "upper_ratio": 0.0,
        }
    words = text.split()
    n_chars = len(text)
    n_words = len(words)
    punct = len(_PUNCT_RE.findall(text))
    stop = sum(1 for w in words if w.lower() in STOPWORDS_EN)
    upper = sum(1 for c in text if c.isupper())
    return {
        "n_chars": float(n_chars),
        "n_words": float(n_words),
        "punct_ratio": punct / n_chars,
        "stopword_ratio": stop / max(1, n_words),
        "mean_word_len": sum(len(w) for w in words) / max(1, n_words),
        "upper_ratio": upper / n_chars,
    }


# --- token counting (training-data operator) --------------------------------

_BPE_PIECE_RE = re.compile(r"\w+|[^\w\s]")


def count_tokens_ws(text: str) -> int:
    return len(text.split()) if text else 0


def count_tokens_bpe_ish(text: str) -> int:
    """BPE-ish proxy: word+punctuation pieces, each word contributing
    ceil(len/4) pieces (the common ~4-chars-per-token heuristic)."""
    if not text:
        return 0
    n = 0
    for piece in _BPE_PIECE_RE.findall(text):
        n += max(1, -(-len(piece) // 4)) if piece[0].isalnum() else 1
    return n


# --- document fingerprinting (rolling hash / winnowing) ---------------------

_MOD = (1 << 61) - 1
_BASE = 257


def rolling_hashes(tokens: List[str], k: int = 5) -> List[int]:
    """Rabin-Karp rolling hashes of every k-token shingle."""
    if len(tokens) < k:
        return []
    hs = [hash_token(t) for t in tokens]
    pow_k = pow(_BASE, k - 1, _MOD)
    out = []
    h = 0
    for i, x in enumerate(hs):
        if i >= k:
            h = (h - hs[i - k] * pow_k) % _MOD
        h = (h * _BASE + x) % _MOD
        if i >= k - 1:
            out.append(h)
    return out


def hash_token(tok: str) -> int:
    """Deterministic 61-bit token hash via md5 (stable across runs and
    languages; reproducible in SQL as conv(substr(md5(x),1,15),16,10))."""
    return int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16) % _MOD


def winnow_fingerprint(text: str, k: int = 5, window: int = 4) -> List[int]:
    """Winnowing (Schleimer et al., SIGMOD'03): min hash per sliding
    window of k-gram hashes, deduplicated, order-preserved."""
    hs = rolling_hashes(tokenize(text).split(), k)
    if not hs:
        return []
    out: List[int] = []
    last = -1
    for i in range(max(1, len(hs) - window + 1)):
        w = hs[i : i + window]
        m = min(w)
        j = i + w.index(m)
        if j != last:
            out.append(m)
            last = j
    return out


# --- shingles for MinHash / Jaccard dedup ------------------------------------

def shingles(text: str, k: int = 3) -> List[str]:
    """Distinct k-token shingles of the whitespace tokenization."""
    toks = text.split() if text else []
    if len(toks) < k:
        return [" ".join(toks)] if toks else []
    seen, out = set(), []
    for i in range(len(toks) - k + 1):
        s = " ".join(toks[i : i + k])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def simhash64(tokens: List[str]) -> int:
    """64-bit SimHash over md5-derived token hashes."""
    if not tokens:
        return 0
    acc = [0] * 64
    for t in tokens:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:16], 16)
        for b in range(64):
            acc[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(64):
        if acc[b] > 0:
            out |= 1 << b
    return out
