"""Span recorder for the traced run.

Spans are recorded from the benchmark's own files: ``install`` wraps
the engine's public functions in place (class attributes and the
module-level names the callers import), ``uninstall`` puts the
originals back. Nothing inside the package is edited. Spans stay in
memory; the run writes them out at the end.

A span's self time is its duration minus the time its children
cover. Calls are nested on one thread, so children never overlap and
the self times of one step's spans sum to the step's root span.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        except BaseException:
            sp["error"] = True  # e.g. a metadata path declining a query
            raise
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def traced(self, name: str, fn, on_result=None):
        """``fn`` wrapped so each call records a span named ``name``;
        ``on_result(span, result)`` may annotate the span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, result)
                return result

        return wrapper

    def install(self, targets) -> None:
        """``targets``: (owner, attribute, span name, on_result) rows."""
        for owner, attr, name, on_result in targets:
            orig = getattr(owner, attr)
            self._patches.append((owner, attr, orig))
            setattr(owner, attr, self.traced(name, orig, on_result))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: Path) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the summed duration of its children."""
    out = {sp["id"]: sp["end"] - sp["start"] for sp in spans}
    for sp in spans:
        if sp["parent"] is not None and sp["parent"] in out:
            out[sp["parent"]] -= sp["end"] - sp["start"]
    return out


def ancestors(spans_by_id: dict[int, dict], sp: dict) -> list[str]:
    names = []
    while sp["parent"] is not None:
        sp = spans_by_id[sp["parent"]]
        names.append(sp["name"])
    return names
