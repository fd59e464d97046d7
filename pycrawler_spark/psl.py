"""Public-suffix handling (X2): the vendored full PSL.

The reference resolves eTLD+1 ("fld") via the ``tld`` PyPI package
(/root/reference/utils.py:37-41, 74-75), which embeds the Mozilla
Public Suffix List. The FULL list is VENDORED in this package
(``data/public_suffix_list.dat``, MPL-2.0 public data) and loads on
import in every process — executors included, because they import the
package from the py-files zip and the dat is read via
``importlib.resources``. A process that cannot read it fails at
import instead of computing fld/seen keys from some other rule set.
``PYCRAWLER_PSL_PATH`` overrides with the same fail-fast semantics for
deployments pinning their own list (ship it with ``--files`` +
``spark.executorEnv``).

Matching algorithm (publicsuffix.org spec, same outcome as
``tld.get_tld``):
  * split the hostname into labels,
  * an exception rule ``!x.y.z`` matching the host wins outright and
    names ``y.z`` as the public suffix,
  * otherwise the public suffix is the *longest* label-suffix matched
    by a plain rule or a wildcard rule (``*.y`` matches ``<any>.y``),
  * the "fld" (first level domain, eTLD+1) is one label + the suffix,
  * a hostname that has no known suffix, or that *is* a bare suffix,
    has no fld (the reference raises TldDomainNotFound -> we return
    None). The spec's implicit ``*`` default rule is intentionally NOT
    applied: the reference's ``tld`` package rejects unknown TLDs
    (add_tasks_tranco.py:22-24 skips such seeds), so we must too.
"""

from __future__ import annotations

import hashlib
import os
from importlib.resources import files
from typing import Optional

VENDORED = "package:data/public_suffix_list.dat"

# --- active rule sets (module state; every process fills it at import) --
# _PLAIN: plain rules ("co.uk"); _WILDCARD: base of "*.X" rules (the X);
# _EXCEPTION: full host form of "!Y" rules (the Y, without the bang).
_PLAIN: set[str] = set()
_WILDCARD: set[str] = set()
_EXCEPTION: set[str] = set()
# longest label count any rule can match: a wildcard rule *.X matches
# one label more than X has
_MAX_SUFFIX_LABELS = 1
_LOADED_FROM: Optional[str] = None


def parse_psl(text: str) -> tuple[set[str], set[str], set[str]]:
    """Parse ``public_suffix_list.dat`` content into
    (plain, wildcard-base, exception) rule sets. Comments (``//``) and
    blank lines are skipped; both ICANN and PRIVATE sections are kept
    (the ``tld`` package's default list includes both)."""
    plain: set[str] = set()
    wild: set[str] = set()
    exc: set[str] = set()
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        rule = line.split()[0].lower().lstrip(".")
        if rule.startswith("!"):
            exc.add(rule[1:])
        elif rule.startswith("*."):
            wild.add(rule[2:])
        elif rule == "*":
            continue  # bare-* rule: would accept every TLD; see module doc
        else:
            plain.add(rule)
    return plain, wild, exc


def _install(text: Optional[str], source: str, origin: str) -> int:
    """Parse ``text`` and make it the active rule set; a missing
    (``text=None``) or empty list raises and leaves the state as it
    was."""
    global _PLAIN, _WILDCARD, _EXCEPTION, _MAX_SUFFIX_LABELS, _LOADED_FROM
    plain, wild, exc = parse_psl(text or "")
    if not plain:
        raise FileNotFoundError(
            f"PSL file {source!r} (from {origin}) is missing or empty — "
            "refusing to resolve fld/seen keys without the full list"
        )
    _PLAIN, _WILDCARD, _EXCEPTION = plain, wild, exc
    _MAX_SUFFIX_LABELS = 1 + max(
        max(s.count(".") for s in plain),
        max((s.count(".") + 1 for s in wild), default=0),
        max((s.count(".") for s in exc), default=0),
    )
    _LOADED_FROM = source
    return len(plain) + len(wild) + len(exc)


def _load_vendored() -> int:
    # importlib.resources, NOT a file path: executors import the
    # package from the py-files ZIP (zipimport), where package data is
    # a zip member that plain open() cannot reach
    try:
        text = (files("pycrawler_spark") / "data" / "public_suffix_list.dat"
                ).read_text(encoding="utf-8")
    except OSError:
        text = None
    return _install(text, VENDORED, "the package data")


def load_psl(path: Optional[str] = None) -> int:
    """Load a PSL dat file as the active rule set; returns the number
    of rules. The file is ``path``, else ``PYCRAWLER_PSL_PATH``, else
    the vendored copy. A missing or empty file RAISES
    ``FileNotFoundError`` and leaves the active rules untouched. On a
    cluster the env var reaches every executor, so a process where the
    dat file was not shipped (``--files`` forgotten) fails fast at
    import rather than silently resolving different dedup keys than
    the driver."""
    explicit = path or os.environ.get("PYCRAWLER_PSL_PATH")
    if not explicit:
        return _load_vendored()
    text = None
    if os.path.isfile(explicit):
        with open(explicit, encoding="utf-8") as f:
            text = f.read()
    return _install(
        text, explicit, "path argument" if path else "PYCRAWLER_PSL_PATH"
    )


def psl_source() -> str:
    """Provenance of the active rule set for job manifests: the
    loaded dat path, or ``package:data/public_suffix_list.dat``."""
    return _LOADED_FROM


def psl_fingerprint() -> str:
    """Deterministic md5 over the active rule sets. Recorded in the
    job manifest next to :func:`psl_source`: if a mis-packaged
    deployment ever makes driver and executors resolve different
    lists, the per-process fingerprints differ and the divergence is
    auditable instead of silent."""
    h = hashlib.md5()
    for tag, rules in (("p", _PLAIN), ("w", _WILDCARD), ("e", _EXCEPTION)):
        h.update(tag.encode())
        for r in sorted(rules):
            h.update(r.encode())
            h.update(b"\n")
    return h.hexdigest()


def reset_psl() -> None:
    """Restore the vendored list (test hook that undoes a custom
    ``load_psl(path)``). Ignores ``PYCRAWLER_PSL_PATH``, so it does not
    re-raise the env fail-fast while a test still has the var set."""
    _load_vendored()


# every process (driver AND executors) loads the same list on import
load_psl()


def public_suffix(host: str) -> Optional[str]:
    """Public suffix of ``host`` per the PSL algorithm, or None."""
    labels = host.split(".")
    n = len(labels)
    for take in range(min(_MAX_SUFFIX_LABELS, n), 0, -1):
        cand = ".".join(labels[n - take:])
        # exception rule wins over any same-or-shorter match and names
        # the suffix one label shorter than itself
        if cand in _EXCEPTION:
            return ".".join(labels[n - take + 1:])
        if cand in _PLAIN:
            return cand
        if take >= 2 and ".".join(labels[n - take + 1:]) in _WILDCARD:
            return cand
    return None


def fld(host: str) -> Optional[str]:
    """eTLD+1 of ``host`` (e.g. ``sub.example.co.uk -> example.co.uk``).

    None when the host has no known suffix or is itself a bare suffix —
    mirroring ``tld.get_tld`` raising TldDomainNotFound
    (/root/reference/utils.py:37-41).
    """
    suffix = public_suffix(host)
    if suffix is None or suffix == host:
        return None
    prefix = host[: -(len(suffix) + 1)]
    if not prefix:
        return None
    return prefix.rsplit(".", 1)[-1] + "." + suffix
