"""Golden tests for the URL toolkit (X1-X4).

Expected values derived by hand from the reference semantics
(/root/reference/utils.py:37-94); the reference package itself cannot
be imported here (it hard-requires playwright/nltk/tld), so these
cases pin the behavior contract documented in SURVEY.md §2.7.
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pycrawler_spark import urlkit
from pycrawler_spark.urlkit import normalize_url, parse_url


# --- X1 normalize_url (utils.py:43-66) ------------------------------------

GOLDEN = [
    # strip + trailing slash
    ("  https://Example.COM/  ", "https://example.com/"),
    ("https://example.com", "https://example.com/"),
    # default ports dropped, explicit kept
    ("https://example.com:443/a", "https://example.com/a"),
    ("http://example.com:80/a", "http://example.com/a"),
    ("http://example.com:8080/a", "http://example.com:8080/a"),
    ("https://example.com:80/a", "https://example.com:80/a"),
    # path // collapse + trailing slash strip
    ("https://example.com/a//b///c/", "https://example.com/a/b/c"),
    # query kept, fragment dropped (defaults)
    ("https://example.com/a?x=1&y=2#frag", "https://example.com/a?x=1&y=2"),
    # path-with-slash before query
    ("https://example.com/b/?x=1", "https://example.com/b?x=1"),
    # userinfo dropped, host lowercased
    ("https://User:Pw@ExAmPle.com/Path", "https://example.com/Path"),
    # empty path -> /
    ("https://example.com?q=1", "https://example.com/?q=1"),
    # scheme case
    ("HTTPS://example.com/x", "https://example.com/x"),
]


@pytest.mark.parametrize("url,expected", GOLDEN)
def test_normalize_golden(url, expected):
    assert normalize_url(url) == expected


def test_normalize_query_fragment_flags():
    u = "https://example.com/a?x=1#f"
    assert normalize_url(u, query=True, fragment=True) == "https://example.com/a?x=1#f"
    assert normalize_url(u, query=False, fragment=False) == "https://example.com/a"


def test_normalize_idempotent_on_golden():
    for url, expected in GOLDEN:
        assert normalize_url(expected) == expected


@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet="abcxyz:/?#@.&=%~ ",
        max_size=60,
    )
)
def test_normalize_total_and_idempotent(s):
    """normalize never throws; normalizing twice is a fixpoint for
    http(s) URLs with a host."""
    out = normalize_url(s)
    assert isinstance(out, str)
    if out.startswith(("http://", "https://")) and parse_url(out) is not None:
        assert normalize_url(out) == out


# --- X2 parse_url / PSL (utils.py:37-41) -----------------------------------

def test_parse_basic():
    p = parse_url("https://Sub.Example.co.uk:8443/a/b?x=1#f")
    assert p.host == "sub.example.co.uk"
    assert p.fld == "example.co.uk"
    assert p.suffix == "co.uk"
    assert p.scheme == "https"
    assert urlkit.url_origin(p) == "https://Sub.Example.co.uk:8443"
    assert (
        urlkit.url_str_with_query_fragment(p)
        == "https://Sub.Example.co.uk:8443/a/b?x=1#f"
    )


def test_parse_rejects():
    assert parse_url("no-scheme.com") is None          # TldBadUrl analog
    assert parse_url("https://localhost/x") is None     # unknown TLD
    assert parse_url("https://bogus.invalidtld") is None
    assert parse_url("") is None
    assert parse_url(None) is None


def test_parse_bare_suffix_rejected():
    assert parse_url("https://co.uk/") is None
    assert parse_url("https://com") is None


# --- X4 url_from_href (utils.py:89-94) ---------------------------------------

def test_href_join():
    base = parse_url("https://site0.com/p1?q=1#top")
    r = urlkit.url_from_href("/p3", base)
    assert urlkit.url_str_with_query_fragment(r) == "https://site0.com/p3"
    r = urlkit.url_from_href("p4", base)
    assert urlkit.url_str_with_query_fragment(r) == "https://site0.com/p4"
    r = urlkit.url_from_href("?z=2", base)
    assert urlkit.url_str_with_query_fragment(r) == "https://site0.com/p1?z=2"
    assert urlkit.url_from_href("", base) is None
    assert urlkit.url_from_href("   ", base) is None
    assert urlkit.url_from_href(None, base) is None


def test_href_join_cross_host():
    base = parse_url("https://site0.com/p1")
    r = urlkit.url_from_href("https://other.org/x", base)
    assert r.fld == "other.org"


# --- seen key --------------------------------------------------------------

def test_seen_key_collapses_spellings():
    variants = [
        "https://site0.com/p3",
        "https://site0.com:443/p3/",
        "https://site0.com/p3#section",
        "https://SITE0.com/p3",
    ]
    keys = {urlkit.seen_key(v) for v in variants}
    assert keys == {"https://site0.com/p3"}


# --- X2 full-PSL loader (wildcard / exception rules) -------------------------

def test_load_psl_wildcard_and_exception(tmp_path):
    from pycrawler_spark import psl

    dat = tmp_path / "public_suffix_list.dat"
    dat.write_text(
        "// ===BEGIN ICANN DOMAINS===\n"
        "com\n"
        "uk\n"
        "co.uk\n"
        "ck\n"
        "*.ck\n"
        "!www.ck\n"
        "// ===END ICANN DOMAINS===\n"
        "// ===BEGIN PRIVATE DOMAINS===\n"
        "github.io\n"
    )
    try:
        n = psl.load_psl(str(dat))
        assert n == 7
        # plain rules
        assert psl.public_suffix("example.co.uk") == "co.uk"
        assert psl.fld("a.b.example.co.uk") == "example.co.uk"
        # wildcard: *.ck makes foo.ck a public suffix
        assert psl.public_suffix("bar.foo.ck") == "foo.ck"
        assert psl.fld("bar.foo.ck") == "bar.foo.ck"
        assert psl.fld("deep.bar.foo.ck") == "bar.foo.ck"
        # a bare wildcard-matched suffix has no fld
        assert psl.fld("foo.ck") is None
        # exception: !www.ck carves www.ck back out as registrable
        assert psl.public_suffix("www.ck") == "ck"
        assert psl.fld("www.ck") == "www.ck"
        assert psl.fld("sub.www.ck") == "www.ck"
        # private-section rule kept
        assert psl.fld("user.github.io") == "user.github.io"
        # rules absent from the custom list no longer match
        assert psl.fld("example.de") is None
    finally:
        psl.reset_psl()
    # import-time default (the vendored full list) restored
    assert psl.fld("example.de") == "example.de"
    assert psl.fld("bar.foo.ck") == "bar.foo.ck"


def test_load_psl_missing_path_raises(tmp_path):
    import pytest

    from pycrawler_spark import psl

    with pytest.raises(FileNotFoundError):
        psl.load_psl(str(tmp_path / "nope.dat"))
    # state untouched on failure
    assert psl.fld("example.com") == "example.com"


def test_vendored_psl_missing_raises_and_keeps_rules(tmp_path, monkeypatch):
    """The default load has no fallback: a missing or empty vendored
    dat raises, leaves the active rules as they were, and a py-files
    zip without the package data fails at import."""
    import subprocess
    import sys as _sys
    import textwrap
    import zipfile

    import pytest

    from pycrawler_spark import psl
    from pycrawler_spark.session import _package_zip

    before = psl.psl_fingerprint()
    monkeypatch.delenv("PYCRAWLER_PSL_PATH", raising=False)
    monkeypatch.setattr(psl, "files", lambda pkg: tmp_path)
    with pytest.raises(FileNotFoundError, match="package data"):
        psl.load_psl()
    (tmp_path / "data").mkdir()
    (tmp_path / "data" / "public_suffix_list.dat").write_text("// empty\n")
    with pytest.raises(FileNotFoundError, match="missing or empty"):
        psl.reset_psl()
    assert psl.psl_fingerprint() == before
    assert psl.psl_source() == "package:data/public_suffix_list.dat"
    assert psl.fld("a.pvt.k12.ma.us") == "a.pvt.k12.ma.us"

    # a trimmed py-files zip (code only) fails at import
    trimmed = tmp_path / "trimmed.zip"
    with zipfile.ZipFile(_package_zip()) as src, \
            zipfile.ZipFile(trimmed, "w") as dst:
        for name in src.namelist():
            if not name.endswith(".dat"):
                dst.writestr(name, src.read(name))
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(trimmed)!r})
        from pycrawler_spark import psl
    """)
    r = subprocess.run([_sys.executable, "-c", code], capture_output=True,
                       text=True, cwd=str(tmp_path))
    assert r.returncode != 0
    assert "FileNotFoundError" in r.stderr


def test_url_from_href_fast_path_matches_urljoin():
    """The absolute-path fast path must produce IDENTICAL ParsedUrl
    fields to pure urljoin for every href it accepts — property-tested
    over generated hrefs plus hand-picked urljoin-transformation
    traps (which must take the slow path and still agree)."""
    import urllib.parse

    from hypothesis import given, settings, strategies as st

    from pycrawler_spark import urlkit

    bases = [
        urlkit.parse_url(u)
        for u in (
            "https://site0.com/p1",
            "http://sub.example.co.uk/a/b?x=1#frag",
            "https://user:pw@host.com:8443/deep/path/",
        )
    ]

    def via_urljoin(href, base):
        if href is None or not href.strip():
            return None
        try:
            joined = urllib.parse.urljoin(
                urlkit.url_str_with_query_fragment(base), href.strip()
            )
        except ValueError:
            return None
        return urlkit.parse_url(joined)

    seg = st.text(
        alphabet="abcz09-_.~%!$&'()*+,;=:@ #?/\\", min_size=0, max_size=12
    )

    @settings(max_examples=300, deadline=None)
    @given(href=st.builds(lambda s: "/" + s, seg))
    def check(href):
        for base in bases:
            assert urlkit.url_from_href(href, base) == via_urljoin(href, base)

    check()

    for href in (
        "/a/../b", "/./x", "/..", "/.", "/a/..", "/a/.", "/..x", "/.hidden",
        "//other.com/p", "/p#", "/p?", "/p?q=/", "/p#f/", "relative/x",
        "../up", "?q=2", "#f", "http://abs.com/x",
    ):
        for base in bases:
            assert urlkit.url_from_href(href, base) == via_urljoin(href, base), href


def test_normalize_identity_fast_shape_is_exact():
    """Any URL matching the identity fast-shape must already BE its
    canonical form per the full normalize_url pipeline — fuzzed over
    generated URLs (matching and not), comparing against a regex-free
    reference copy of the function."""
    import urllib.parse

    from hypothesis import given, settings, strategies as st

    from pycrawler_spark import urlkit

    def reference(url):
        url = url.strip().rstrip("/")
        try:
            p = urllib.parse.urlparse(url)
            host = p.hostname
            port = p.port
        except ValueError:
            return url
        scheme = p.scheme.lower()
        netloc = host.lower() if host else ""
        if port:
            is_default = (scheme == "http" and port == 80) or (
                scheme == "https" and port == 443
            )
            if not is_default:
                netloc = f"{netloc}:{port}"
        path = p.path or "/"
        while "//" in path:
            path = path.replace("//", "/")
        if path != "/" and path.endswith("/"):
            path = path.rstrip("/")
        return urllib.parse.urlunparse(
            (scheme, netloc, path, "", p.query, "")
        )

    piece = st.text(
        alphabet="abcZ09-._~%!$&'()*+,;=:@/?#  \\", min_size=0, max_size=10
    )

    @settings(max_examples=400, deadline=None)
    @given(host=st.text(alphabet="abz09.-", min_size=1, max_size=8), tail=piece)
    def check(host, tail):
        url = f"http://{host}/{tail}"
        assert urlkit.normalize_url(url) == reference(url)
        url2 = f"HTTPS://User@{host}:443/{tail}"
        assert urlkit.normalize_url(url2) == reference(url2)

    check()

    # canonical-looking URLs take the fast path and must round-trip
    for u in (
        "https://site0.com/p1",
        "http://a.co/x/y?q=1&r=;2",
        "https://h.io/a.b/c-d?x",
    ):
        assert urlkit._NORM_IDENTITY_RE.match(u)
        assert urlkit.normalize_url(u) == u == reference(u)


def test_env_psl_path_missing_fails_fast(tmp_path, monkeypatch):
    """An explicitly-set PYCRAWLER_PSL_PATH pointing at a missing file
    must raise — a process that silently fell back to another list would
    compute different fld/seen keys than its peers in the same job."""
    import pytest as _pytest

    from pycrawler_spark import psl

    monkeypatch.setenv("PYCRAWLER_PSL_PATH", str(tmp_path / "gone.dat"))
    with _pytest.raises(FileNotFoundError, match="PYCRAWLER_PSL_PATH"):
        psl.load_psl()
    psl.reset_psl()


def test_vendored_full_psl_default_and_zip_shipping():
    """The package vendors the FULL Mozilla public_suffix_list.dat
    (sourced from the OS publicsuffix package) and loads it on import
    in every process — including executors that import from the
    py-files zip, where the dat is read via importlib.resources."""
    import importlib
    import subprocess
    import sys as _sys
    import textwrap
    import zipfile

    from pycrawler_spark import psl
    from pycrawler_spark.session import _package_zip

    # fresh import (what an executor process sees)
    importlib.reload(psl)
    assert psl.psl_source() == "package:data/public_suffix_list.dat"
    # wildcard *.compute.amazonaws.com, plain pvt.k12.ma.us,
    # plain hokkaido.jp
    assert (psl.fld("x.eu-west-1.compute.amazonaws.com")
            == "x.eu-west-1.compute.amazonaws.com")
    assert psl.fld("a.pvt.k12.ma.us") == "a.pvt.k12.ma.us"
    assert psl.fld("b.hokkaido.jp") == "b.hokkaido.jp"
    # exotic registry shapes that change F5 same-site filtering and
    # fld-keyed joins
    assert psl.fld("foo.co.uk") == "foo.co.uk"
    assert psl.fld("a.b.foo.co.uk") == "foo.co.uk"
    # *.ck: any <label>.ck is a public suffix...
    assert psl.public_suffix("x.y.ck") == "y.ck"
    assert psl.fld("x.y.ck") == "x.y.ck"
    # ...so a bare two-label ck host is NOT registrable
    assert psl.fld("y.ck") is None
    # ...except www.ck, carved back out by the exception rule
    assert psl.fld("www.ck") == "www.ck"
    # jp city pairs: *.kawasaki.jp wildcard + !city.kawasaki.jp
    assert psl.fld("a.b.kawasaki.jp") == "a.b.kawasaki.jp"
    assert psl.fld("city.kawasaki.jp") == "city.kawasaki.jp"

    # the py-files zip carries the dat and a zip-imported process
    # loads it (the executor path)
    zp = _package_zip()
    with zipfile.ZipFile(zp) as z:
        assert "pycrawler_spark/data/public_suffix_list.dat" in z.namelist()
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {zp!r})
        from pycrawler_spark import psl
        assert psl.psl_source() == "package:data/public_suffix_list.dat"
        assert psl.fld("a.pvt.k12.ma.us") == "a.pvt.k12.ma.us"
        print("ZIPOK")
    """)
    r = subprocess.run([_sys.executable, "-c", code], capture_output=True,
                       text=True, cwd="/tmp")
    assert "ZIPOK" in r.stdout, r.stderr[-500:]
