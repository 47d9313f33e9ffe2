"""Spans recorded around the program's public entry points.

A ``Tracer`` wraps a fixed set of functions and methods at run time (and
restores them on ``uninstall``), so the program files stay untouched. Each
wrapped call records a span — name, start, end, parent, run id — in memory
and runs under its own Spark job group ``pb<span id>``. The previous group is
restored when the call returns, so groups nest like the spans, and the event
log parser can give every Spark job to its innermost span.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "pb"
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description")

# (module, attribute path, span name). ``scheduler.claim_round`` is not
# here: it returns a lazy frame that ``run_round`` materializes, so its work
# only shows inside the round.
TARGETS = (
    ("crawlee_spark.operators.engine", "CrawlEngine.run_round", "engine.run_round"),
    ("crawlee_spark.operators.engine", "CrawlEngine.add_seeds", "engine.add_seeds"),
    ("crawlee_spark.operators.engine", "CrawlEngine.final_statistics", "stats.final_statistics"),
    ("crawlee_spark.operators.frontier", "FrontierStore.commit_delta", "frontier.commit_delta"),
    ("crawlee_spark.operators.frontier", "FrontierStore.commit", "frontier.commit"),
    ("crawlee_spark.operators.frontier", "FrontierStore.prepare_fresh", "frontier.prepare_fresh"),
    ("crawlee_spark.operators.frontier", "FrontierStore.add_requests", "frontier.add_requests"),
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    run: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder with nested Spark job groups. The benchmark
    drives Spark from one thread, so one stack of open spans suffices."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str, **attrs):
        """A span context while the wrappers are installed; otherwise a
        no-op, so code that opens spans runs untraced outside them."""
        if not self._patched:
            return contextlib.nullcontext()
        return self._span(name, attrs)

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        sp = Span(
            id=len(self.spans), name=name, parent=self._open[-1] if self._open else None,
            start=time.time(), run=self.run_id, attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._open.append(sp.id)
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._open.pop()
            for k, v in zip(_GROUP_KEYS, prev):
                self.sc.setLocalProperty(k, v)

    # -- runtime wrappers -----------------------------------------------------
    def install(self) -> None:
        for mod_name, path, span_name in TARGETS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            original = getattr(owner, attr)
            setattr(owner, attr, self._wrap(original, span_name))
            self._patched.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, dict):
                    sp.attrs["result"] = {
                        k: v for k, v in out.items() if isinstance(v, (int, float, bool))
                    }
                return out

        return wrapper


class NullTracer:
    """Tracing off: ``span`` is a no-op context, nothing is wrapped."""

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass
