"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose the full declared-query registry from
``s2_spark.suite`` (SURVEY.md §2.B) — each entry is one implemented
operator, with the DuckDB oracle SQL the driver co-executes.
"""

from __future__ import annotations

import glob
import json
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from s2_spark.registry import all_queries  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"

_REPO = Path(__file__).resolve().parent


def _latest_driver_status() -> tuple[dict[str, int], dict[str, int]]:
    """Latest per-query driver outcome from CORRECTNESS_r*.json files.

    Returns ``(status, proof_round)``: status is 0 = never scored,
    1 = scored but not proven (crash, mismatch, or rows-only
    ``no_oracle``), 2 = proven (hash_match true); proof_round is the
    round number of the LATEST scoring (for aging — the oldest proofs
    rotate back into the scored prefix first, so no proof goes stale
    while newer entries hog the budget).
    """
    status: dict[str, int] = {}
    proof_round: dict[str, int] = {}
    for path in sorted(glob.glob(str(_REPO / "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            status[name] = 2 if row.get("hash_match") is True else 1
            proof_round[name] = rnd
    return status, proof_round


def _family(name: str) -> str:
    m = re.match(r"^([a-z]+)", name)
    return m.group(1) if m else name


def _prioritized(names: list[str]) -> list[str]:
    """Order queries so the driver's per-round scoring budget lands on
    the entries that need evidence.

    The driver scores a fixed prefix of ``queries()`` each round (~50
    entries in round 1). Put queries whose latest result was a failure
    or rows-only check first, then never-scored queries round-robined
    across operator families (so every family earns at least one scored
    row per round), then already-proven queries last — their proofs are
    in prior CORRECTNESS_r*.json files. The proven tail is ordered by
    proof AGE (oldest round first, family-round-robined within a
    round), so leftover prefix budget continuously refreshes the
    stalest proofs — a query proven in round 2 whose proof never aged
    out would otherwise sit unverified behind nine rounds of code
    churn.
    """
    status, proof_round = _latest_driver_status()
    failed = [n for n in names if status.get(n, 0) == 1]
    fresh = [n for n in names if status.get(n, 0) == 0]
    proven = [n for n in names if status.get(n, 0) == 2]

    def _round_robin(group: list[str]) -> list[str]:
        # spread never-scored entries across operator families so every
        # family earns at least one scored row per round
        by_family: dict[str, list[str]] = {}
        for n in group:
            by_family.setdefault(_family(n), []).append(n)
        rr: list[str] = []
        buckets = list(by_family.values())
        while buckets:
            buckets = [b for b in buckets if b]
            for b in buckets:
                if b:
                    rr.append(b.pop(0))
        return rr

    # age the proven tail: oldest proof round first, families
    # round-robined within each round so one big old family can't
    # monopolize the refresh budget
    by_round: dict[int, list[str]] = {}
    for n in proven:
        by_round.setdefault(proof_round.get(n, 0), []).append(n)
    aged = [n for rnd in sorted(by_round) for n in _round_robin(by_round[rnd])]
    return failed + _round_robin(fresh) + aged


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: multi-way join revenue rollup (Q-J2 shape) at sf0.001."""
    return all_queries()["j2_multiway_join"].spark(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered so the driver's per-round scoring budget reaches queries
    that still need driver evidence (see :func:`_prioritized`).
    """
    reg = all_queries()
    return {name: reg[name].spark for name in _prioritized(list(reg))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    reg = all_queries()
    return {
        name: reg[name].oracle
        for name in _prioritized(list(reg))
        if reg[name].oracle is not None
    }
