"""Tests for the static HTML extraction kit (F1, X9, M4, M5)."""

from pycrawler_spark import htmlkit
from pycrawler_spark.sources.corpus import generate_corpus


def test_extract_hrefs_order_and_traps():
    html = (
        b"<html><body>"
        b'<script>var a = \'<a href="/trap1">\';</script>'
        b'<!-- <a href="/trap2"> -->'
        b'<a href="/first">x</a>'
        b"<a href='second?a=1&amp;b=2'>y</a>"
        b"<a href=third#f>z</a>"
        b'<a class="q" href="/fourth" id="i">w</a>'
        b"<a>no href</a>"
        b"</body></html>"
    )
    assert htmlkit.extract_hrefs(html) == [
        "/first",
        "second?a=1&b=2",  # entity-decoded, like DOM getAttribute
        "third#f",
        "/fourth",
    ]


def test_extract_meta_http_equiv():
    html = (
        b'<head><meta charset="utf-8">'
        b'<meta http-equiv="content-type" content="text/html">'
        b'<meta http-equiv="refresh" content="30">'
        b'<meta name="x" content="y"></head>'
    )
    metas = htmlkit.extract_meta_http_equiv(html)
    assert len(metas) == 2
    assert "content-type" in metas[0] and "refresh" in metas[1]


def test_extract_text_drops_markup():
    html = (
        b"<html><head><title>T</title><style>x{}</style></head>"
        b"<body><script>bad()</script><p>hello   world</p>"
        b"<div>foo &amp; bar</div></body></html>"
    )
    assert htmlkit.extract_text(html) == "T hello world foo & bar"


def test_login_form_detection():
    # 1 password field -> login form (FindLoginForms.py:111)
    assert htmlkit.detect_login_form(
        b'<form><input type="text"><input type="password"></form>'
    )
    # 2 password fields -> not (FindLoginForms.py:116)
    assert not htmlkit.detect_login_form(
        b'<form><input type="password"><input type="password"></form>'
    )
    # registration-ish: 0 passwords, 1 text + login keyword button
    assert htmlkit.detect_login_form(
        b'<form><input type="email"><button>Sign in</button></form>'
    )
    # search form -> IGNORE regex kills it (FindLoginForms.py:31)
    assert not htmlkit.detect_login_form(
        b'<form><input type="text" name="q"><button>Search</button></form>'
    )
    # >2 text fields -> not
    assert not htmlkit.detect_login_form(
        b'<form><input type="text"><input type="text"><input type="text">'
        b"<button>login</button></form>"
    )
    # bare password input outside a form (fallback, FindLoginForms.py:148-175)
    assert htmlkit.detect_login_form(b'<div><input type="password"></div>')


def test_cookie_banner_detection():
    assert htmlkit.detect_cookie_banner(b"<button>Accept all cookies</button>")
    assert htmlkit.detect_cookie_banner(b"<button>Alle akzeptieren</button>")
    # IGNORE: negative buttons (AcceptCookies.py:25)
    assert not htmlkit.detect_cookie_banner(b"<button>Do not accept</button>")
    # SSO buttons skipped (utils.py:25-28)
    assert not htmlkit.detect_cookie_banner(
        b"<button>Continue with Google</button>"
    )
    assert not htmlkit.detect_cookie_banner(b"<p>cookies are used here</p>")


def test_corpus_text_invariant():
    """The generator-tracked visible text must equal extract_text(html)
    for every page — the byte-identical invariant surface."""
    pages, _, _ = generate_corpus(seed=7, n_hosts=4, pages_per_host=10, mega_factor=2)
    assert len(pages) > 0
    for p in pages:
        assert htmlkit.extract_text(p["html"]) == p["text"], p["url"]


def test_meta_refresh_target():
    # zero-delay refresh with relative target resolves against base
    assert htmlkit.meta_refresh_target(
        b'<meta http-equiv="refresh" content="0;url=/p5">',
        "https://a.com/r5",
    ) == "https://a.com/p5"
    # absolute target; case-insensitive attr names; single quotes
    assert htmlkit.meta_refresh_target(
        b"<META HTTP-EQUIV='Refresh' CONTENT='0; URL=https://b.org/x'>",
        "https://a.com/",
    ) == "https://b.org/x"
    # quoted url value inside content
    assert htmlkit.meta_refresh_target(
        b'<meta http-equiv="refresh" content="0;url=\'/q\'">',
        "https://a.com/",
    ) == "https://a.com/q"
    # NON-zero delay is not a redirect (corpus j%9 fixture)
    assert htmlkit.meta_refresh_target(
        b'<meta http-equiv="refresh" content="3600">', "https://a.com/"
    ) is None
    assert htmlkit.meta_refresh_target(
        b'<meta http-equiv="refresh" content="5;url=/later">', "https://a.com/"
    ) is None
    # refresh without url, other http-equiv tags, comments/scripts
    assert htmlkit.meta_refresh_target(
        b'<meta http-equiv="content-type" content="text/html">',
        "https://a.com/",
    ) is None
    assert htmlkit.meta_refresh_target(
        b'<!-- <meta http-equiv="refresh" content="0;url=/trap"> -->',
        "https://a.com/",
    ) is None
    assert htmlkit.meta_refresh_target(
        b'<script>var m = \'<meta http-equiv="refresh" content="0;url=/t">\';</script>',
        "https://a.com/",
    ) is None
    assert htmlkit.meta_refresh_target(None, "https://a.com/") is None


def test_meta_http_equiv_returns_verbatim_source_tag():
    from pycrawler_spark import htmlkit

    tags = htmlkit.extract_meta_http_equiv(
        b'<html><head><meta http-equiv="refresh" content="0;url=/x">'
        b'</head><body></body></html>'
    )
    assert tags == ['<meta http-equiv="refresh" content="0;url=/x">']
