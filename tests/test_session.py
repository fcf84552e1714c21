"""The driver JVM that ``get_spark`` launches runs with the session's
JVM settings: the C2 inlining bound and a default heap that fits the
host (see ``s2_spark/session.py``)."""

from __future__ import annotations

import os
import re

_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _jvm_args(spark) -> list[str]:
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return list(mx.getInputArguments())


def _bytes(size: str) -> int:
    m = re.fullmatch(r"(\d+)([kmgt]?)", size.lower())
    assert m, size
    return int(m.group(1)) * _UNITS.get(m.group(2), 1)


def test_driver_jvm_has_inline_bound(spark):
    args = _jvm_args(spark)
    assert "-XX:FreqInlineSize=100" in args, args


def test_driver_heap_fits_host(spark):
    xmx = [a[len("-Xmx"):] for a in _jvm_args(spark) if a.startswith("-Xmx")]
    assert len(xmx) == 1, xmx
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        assert _bytes(xmx[0]) == _bytes(env)
    else:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        assert _bytes(xmx[0]) <= phys // 2
