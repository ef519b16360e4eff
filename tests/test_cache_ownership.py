"""Guard: pipelines, sources and streaming cache frames only through
``session.cache_scope``, which releases them on every exit, raised ones
included.

A direct ``.cache()``, ``.persist(`` or ``.unpersist(`` in those packages
is a cache released by hand, one early raise away from a leak that a
long-lived import loop accumulates cycle after cycle.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "harvester_database_and_automation_spark"
SCANNED = ("pipelines", "sources", "streaming")
CACHE_CALLS = {"cache", "persist", "unpersist"}

# (file, top-level definition) -> why it may cache directly. Both hand
# their cache to a caller, so no scope inside the package can own it.
ALLOWED = {
    ("sources/jsonl.py", "ParsedScan"): (
        "the shared scan's parse cache: one parse feeds the good and corrupt "
        "views the caller consumes; the scan releases it on exit"
    ),
    ("pipelines/release.py", "run_release_cycle"): (
        "the manifest is returned cached so the caller re-reads it hot; the "
        "caller releases it (the cycle drops it itself only if it raises)"
    ),
}


def _cache_calls() -> dict[tuple[str, str], list[int]]:
    found: dict[tuple[str, str], list[int]] = {}
    for sub in SCANNED:
        for path in sorted((PACKAGE / sub).rglob("*.py")):
            rel = path.relative_to(PACKAGE).as_posix()
            for top in ast.parse(path.read_text()).body:
                for node in ast.walk(top):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in CACHE_CALLS
                    ):
                        name = getattr(top, "name", "<module>")
                        found.setdefault((rel, name), []).append(node.lineno)
    return {site: sorted(lines) for site, lines in found.items()}


def test_caches_are_opened_only_through_a_scope():
    found = _cache_calls()
    stray = {site: lines for site, lines in found.items() if site not in ALLOWED}
    assert not stray, (
        "direct cache calls outside session.cache_scope (file, definition) -> lines: "
        f"{stray}; cache through `with cache_scope() as cache:` instead"
    )


def test_allowed_sites_still_exist():
    # A stale allowance would let a new direct cache call slip in unseen.
    assert set(_cache_calls()) == set(ALLOWED)
