"""Spans for the traced run.

Layers nest as workload > phase > call > batch > handler.  The benchmark
records the first three around its own calls into the program; micro-batch
spans come from the progress listener and handler spans from a wrapper
around ``stateful.make_ttl_handler`` that each Spark Python worker appends
to its own file.  Spans carry one trace id per run, stay in memory and are
written out by ``Tracer.dump`` at the end.  Times are wall-clock epoch
nanoseconds so that spans from other processes line up.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
import uuid

LAYERS = ("workload", "phase", "call", "batch", "handler")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # spans that can contain others (every layer but the innermost)
        self._containers: list[dict] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "trace": self.trace_id,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
            "name": name,
            "start": time.time_ns(),
            "end": None,
        }
        self.spans.append(rec)
        self._containers.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time_ns()

    def add(self, layer: str, name: str, start: int, end: int, **attrs) -> None:
        """Record a finished span from elsewhere (a batch, a handler call);
        its parent is the innermost recorded span that contains it."""
        if not self.enabled:
            return
        depth = LAYERS.index(layer)
        parent = None
        for s in self._containers:
            if (
                s["end"] is not None
                and LAYERS.index(s["layer"]) < depth
                and s["start"] <= start
                and end <= s["end"] + 2_000_000  # batch ends are ms-rounded
                and (parent is None or LAYERS.index(s["layer"]) >= LAYERS.index(parent["layer"]))
            ):
                parent = s
        rec = {
            "trace": self.trace_id,
            "id": len(self.spans),
            "parent": None if parent is None else parent["id"],
            "layer": layer,
            "name": name,
            "start": start,
            "end": end,
            **attrs,
        }
        self.spans.append(rec)
        if depth < len(LAYERS) - 1:
            self._containers.append(rec)

    def self_time_ms(self) -> dict[str, float]:
        """Per layer: summed span time not covered by the span's children."""
        children: dict[int, list[tuple[int, int]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            covered, cur_end = 0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["layer"]] += (s["end"] - s["start"] - covered) / 1e6
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": self.spans}, f)


def traced_handler_factory(make_handler, out_dir: str):
    """Wrap a handler factory (``stateful.make_ttl_handler``) so every
    handler call appends ``start end`` to ``handler-<pid>.log`` in
    ``out_dir`` from whichever Spark Python worker runs it."""

    def factory(*args, **kwargs):
        handler = make_handler(*args, **kwargs)

        def traced(key, pdfs, state):
            start = time.time_ns()
            out = list(handler(key, pdfs, state))
            end = time.time_ns()
            with open(os.path.join(out_dir, f"handler-{os.getpid()}.log"), "a") as f:
                f.write(f"{start} {end}\n")
            yield from out

        return traced

    return factory


def read_handler_spans(out_dir: str) -> list[tuple[int, int, int]]:
    """``(pid, start, end)`` of every handler call logged under ``out_dir``."""
    spans = []
    for path in glob.glob(os.path.join(out_dir, "handler-*.log")):
        pid = int(os.path.basename(path)[len("handler-") : -len(".log")])
        with open(path) as f:
            for line in f:
                start, end = line.split()
                spans.append((pid, int(start), int(end)))
    return sorted(spans, key=lambda s: s[1])
