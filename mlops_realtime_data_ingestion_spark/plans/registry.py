"""Central query registry — the single source consumed by
``__spark_entry__.py`` (driver contract) and ``bench.py``.

The driver's per-round correctness run checks only the first 50
enumerated queries, so ``all_specs()`` orders the registry to spend
those slots where a check is worth most. The order is derived from the
committed ``CORRECTNESS_rNN.json`` files (one per driver round, the
source of truth for what the driver has certified); ``_CHANGED`` is the
only hand-kept tier. Purely an ordering concern — every query runs
identically wherever it sits.
"""

from __future__ import annotations

import importlib
import json
import re
from collections.abc import Mapping
from pathlib import Path

from .spec import QuerySpec

# Every query module; each is imported unconditionally so a broken
# module fails the registry instead of silently dropping its queries.
_MODULES = (
    "reference_queries", "relational_queries", "timeseries_queries",
    "tpch_queries", "extension_queries", "streaming_queries",
    "training_queries", "quality_queries", "profiling_queries",
    "tpch_partsupp", "curation_queries",
)

# Queries whose Spark plan changed since their last green driver row in
# a way the driver should re-certify: their old green rows certify code
# that no longer runs. Empty once the next CORRECTNESS file has them.
_CHANGED: frozenset[str] = frozenset()

_REPO_ROOT = Path(__file__).resolve().parents[2]
_MATCH_KEYS = ("rows_match", "schema_match", "hash_match")
_FILE_RE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def load_history(root: Path = _REPO_ROOT) -> dict[int, dict[str, bool]]:
    """round -> {query: green} read from every ``CORRECTNESS_r*.json``
    under ``root``. A row is green when rows, schema and hash all
    matched; a malformed file or row raises ``ValueError``."""
    history: dict[int, dict[str, bool]] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = _FILE_RE.fullmatch(path.name)
        rows = json.loads(path.read_text())
        if m is None or not isinstance(rows, dict):
            raise ValueError(f"malformed correctness file {path}")
        for name, row in rows.items():
            if not isinstance(row, dict) or not all(k in row for k in _MATCH_KEYS):
                raise ValueError(f"{path}: row {name!r} lacks {_MATCH_KEYS}")
        history[int(m[1])] = {
            name: all(row[k] is True for k in _MATCH_KEYS)
            for name, row in rows.items()
        }
    if not history:
        raise FileNotFoundError(f"no CORRECTNESS_r*.json under {root}")
    return history


def priority_order(
    specs: Mapping[str, QuerySpec],
    history: Mapping[int, Mapping[str, bool]],
    changed: frozenset[str],
) -> dict[str, QuerySpec]:
    """Order ``specs`` for the driver's capped sample: queries whose
    latest driver row is not green first (their fix must be re-verified),
    then ``changed`` queries, then never-checked oracled queries, then
    never-checked rows-only queries (their driver check is weaker), then
    green queries by (last green round, name) — stalest first, so the
    sample drains the oldest certifications."""
    latest: dict[str, bool] = {}
    last_green: dict[str, int] = {}
    for rnd in sorted(history):
        for name, green in history[rnd].items():
            latest[name] = green
            if green:
                last_green[name] = rnd

    def rank(item: tuple[str, QuerySpec]) -> tuple[int, int, str]:
        name, spec = item
        if latest.get(name) is False:
            return (0, 0, name)
        if name in changed:
            return (1, 0, name)
        if name in last_green:
            return (4, last_green[name], name)
        return (3 if spec.oracle is None else 2, 0, name)

    return dict(sorted(specs.items(), key=rank))


def all_specs() -> dict[str, QuerySpec]:
    specs: dict[str, QuerySpec] = {}
    for mod_name in _MODULES:
        module = importlib.import_module(f".{mod_name}", __package__)
        overlap = specs.keys() & module.SPECS.keys()
        if overlap:
            raise ValueError(f"duplicate query names in {mod_name}: {sorted(overlap)}")
        specs.update(module.SPECS)
    return priority_order(specs, load_history(), _CHANGED)
