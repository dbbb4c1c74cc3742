"""In-memory spans for the traced run, written once at the end.

A span has a name, a start, an end and a parent.  The tracer keeps them
in a list and never touches the disk until :meth:`Tracer.dump`.  Layer
spans come from wrapping a module attribute for the duration of the
traced pass (:meth:`Tracer.wrap`); the wrapped attribute is restored
afterwards, so untraced passes run the program unmodified.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, name, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, before=None, after=None):
        """Replace ``module.attr`` (a module function or a class method)
        by a wrapper that records a span ``name``.  ``before()`` runs
        inside the span, first (e.g. to switch the ledger's job group);
        ``after(*args, **kwargs)`` runs with the call's arguments once
        the span has ended."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name):
                if before is not None:
                    before()
                out = fn(*a, **kw)
            if after is not None:
                after(*a, **kw)
            return out

        self._patches.append((module, attr, fn))
        setattr(module, attr, spanned)

    def unwrap(self) -> None:
        while self._patches:
            module, attr, fn = self._patches.pop()
            setattr(module, attr, fn)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by its
        direct children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                a, b = max(c.start, cur_end), min(c.end, s.end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "self_s": self.self_times(),
                    **extra,
                },
                f,
                indent=1,
                default=str,
            )
