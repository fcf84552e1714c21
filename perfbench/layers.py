"""Traced-run instrumentation: wrap the public entry points of each
``s2_spark`` layer in spans, from outside the package.

``install`` replaces class and module attributes with traced wrappers
and returns a function that puts the originals back. Store methods call
the manifest and catalog through those attributes, so calls made
inside the store are traced too.
"""

from __future__ import annotations

import inspect

from perfbench.harness import Tracer

#: StreamStore methods traced as ``store.<name>``
STORE_METHODS = ("append", "read", "compact", "bulk_append")
#: manifest module functions traced as ``manifest.<name>``
MANIFEST_FUNCS = ("publish", "fold")


def install(tracer: Tracer):
    from s2_spark import manifest
    from s2_spark.catalog import Catalog
    from s2_spark.store import StreamStore

    saved: list[tuple[object, str, object]] = []

    def patch(owner, name: str, new) -> None:
        saved.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, new)

    for name, fn in list(vars(Catalog).items()):
        if not name.startswith("_") and inspect.isfunction(fn):
            patch(Catalog, name, tracer.wrap(f"catalog.{name}", fn))
    for name in STORE_METHODS:
        patch(StreamStore, name, tracer.wrap(f"store.{name}", vars(StreamStore)[name]))
    for name in MANIFEST_FUNCS:
        patch(manifest, name, tracer.wrap(f"manifest.{name}", vars(manifest)[name]))

    write_gen = vars(manifest)["write_gen"]

    def traced_write_gen(*a, **kw):
        won = write_gen(*a, **kw)
        tracer.count("manifest.write_gen")
        if not won:
            tracer.count("manifest.cas_lost")
        return won

    patch(manifest, "write_gen", traced_write_gen)

    read_session = vars(StreamStore)["read_session"]

    def traced_read_session(self, *a, **kw):
        """Each ``next()`` on the session is one span, so a batch's
        plan build (a child ``store.read`` span) and its execution (the
        rest of the span after that child) separate."""
        it = iter(read_session(self, *a, **kw))
        while True:
            tok = tracer.begin("store.read_session.next")
            try:
                ev = next(it)
            except StopIteration:
                return
            finally:
                tracer.end(tok)
            if ev.kind == "batch":
                tracer.count("store.read_session.batches")
                tracer.count("store.read_session.records", len(ev.records))
            yield ev

    patch(StreamStore, "read_session", traced_read_session)

    def restore() -> None:
        for owner, name, orig in reversed(saved):
            setattr(owner, name, orig)

    return restore


def span_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-layer metrics folded from the recorded spans and counts."""
    from perfbench.harness import median, self_times

    spans = tracer.spans
    selfs = self_times(spans)
    by_id = {s.sid: s for s in spans}
    named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    ms = lambda xs: median(xs) * 1e3 if xs else 0.0  # noqa: E731
    catalog = [s for s in spans if s.name.startswith("catalog.")]
    appends = named("store.append")
    reads = named("store.read")
    # a session batch executes after its last plan build: the part of
    # the next() span after its last child store.read span
    last_read: dict[int, float] = {}
    for r in reads:
        if r.parent is not None and by_id.get(r.parent) and by_id[r.parent].name == "store.read_session.next":
            last_read[r.parent] = max(last_read.get(r.parent, 0.0), r.end)
    read_exec = [by_id[p].end - t for p, t in last_read.items()]
    batches = tracer.counts.get("store.read_session.batches", 0)
    return {
        "catalog.calls": len(catalog),
        "catalog.self_ms": sum(selfs[s.sid] for s in catalog) * 1e3,
        "store.append.p50_ms": ms([s.end - s.start for s in appends]),
        "store.append.self_ms": sum(selfs[s.sid] for s in appends) * 1e3,
        "store.read.build_ms": ms([s.end - s.start for s in reads]),
        "store.read.exec_ms": ms(read_exec),
        "store.read_session.batches": batches,
        "store.read_session.records_per_batch": (
            tracer.counts.get("store.read_session.records", 0) / batches if batches else 0.0
        ),
        "manifest.publish.calls": len(named("manifest.publish")),
        "manifest.publish.ms": ms([s.end - s.start for s in named("manifest.publish")]),
        "manifest.fold.calls": len(named("manifest.fold")),
        "manifest.cas_lost": tracer.counts.get("manifest.cas_lost", 0),
    }
