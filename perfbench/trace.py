"""In-memory spans around the calls into each layer of the package.

A span records its name, layer, wall-clock start and end, parent span
and pass id. Spans stay in memory; ``write`` saves them as JSON lines
when the run ends. A disabled tracer records nothing and patches
nothing, so untraced passes run the program as shipped.

``patch`` swaps a module attribute for a wrapper that opens a span
around each call (for calls the program makes internally, e.g. the
sequencer calling ``write_outputs``); ``unpatch`` restores the
originals.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0
    exec: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.pass_id = -1
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, layer, parent, self.pass_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def record(self, name: str, layer: str, start: float, end: float) -> None:
        """A span measured before the tracer existed (process set-up)."""
        self.spans.append(Span(len(self.spans), name, layer, None, -1, start, end))

    def patch(self, module: str, attr: str, layer: str, name_of=None) -> None:
        """``name_of(args, kwargs)`` names each span; default: ``attr``."""
        mod = importlib.import_module(module)
        original = getattr(mod, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            name = name_of(args, kwargs) if name_of else attr
            with self.span(name, layer):
                return original(*args, **kwargs)

        setattr(mod, attr, traced)
        self._patched.append((mod, attr, original))

    def unpatch(self) -> None:
        while self._patched:
            mod, attr, original = self._patched.pop()
            setattr(mod, attr, original)

    def pass_spans(self, pass_id: int) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover (children
    of one span run one after another, so their durations add up)."""
    child = {s.span_id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in child:
            child[s.parent] += s.duration
    return {s.span_id: max(0.0, s.duration - child[s.span_id]) for s in spans}
