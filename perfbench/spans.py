"""Spans for the traced run, kept in memory and written out at the end.

A span records name, start, end (epoch seconds, the clock Spark's event log
uses too) and the id of the span open when it began. ``instrument`` wraps
engine functions the suite calls internally (partition listing, resume
planning, marker writes) so their calls become spans as well, and
``writer_call_sites`` labels write jobs with their Python call site; both
patch only this process and only while the traced pass runs.
"""

from __future__ import annotations

import ast
import functools
import json
import sys
import time
from contextlib import contextmanager


class Tracer:
    """Spans of one thread, in start order."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def total_s(self, name: str) -> float:
        """Summed duration of the ``name`` spans not nested in another
        ``name`` span (a recursive call is counted once)."""
        by_id = {s["id"]: s for s in self.spans}

        def nested(s: dict) -> bool:
            p = s["parent"]
            while p is not None:
                if by_id[p]["name"] == name:
                    return True
                p = by_id[p]["parent"]
            return False

        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None and not nested(s)
        )

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextmanager
def instrument(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Replace ``getattr(owner, attr)`` with a span-recording wrapper named
    ``span`` for each ``(owner, attr, span)`` target; restore on exit."""
    saved = []
    for owner, attr, span in targets:
        orig = getattr(owner, attr)

        def wrapper(*a, __orig=orig, __span=span, **kw):
            with tracer.span(__span):
                return __orig(*a, **kw)

        functools.update_wrapper(wrapper, orig)
        saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


@contextmanager
def writer_call_sites(sc):
    """Give ``DataFrameWriter.parquet``/``save`` the Python call site that
    pyspark already attaches to ``collect`` (``"<action> at <file>:<line>"``),
    so the event log can book write jobs to the statement that issued them;
    restore on exit."""
    from pyspark.sql.readwriter import DataFrameWriter

    saved = []
    for attr in ("parquet", "save"):
        orig = getattr(DataFrameWriter, attr)

        def wrapper(self, *a, __orig=orig, __attr=attr, **kw):
            caller = sys._getframe(1)
            sc._jsc.setCallSite(f"{__attr} at {caller.f_code.co_filename}:{caller.f_lineno}")
            try:
                return __orig(self, *a, **kw)
            finally:
                sc._jsc.setCallSite(None)

        functools.update_wrapper(wrapper, orig)
        saved.append((attr, orig))
        setattr(DataFrameWriter, attr, wrapper)
    try:
        yield
    finally:
        for attr, orig in saved:
            setattr(DataFrameWriter, attr, orig)


def phase_lines(source: str, func: str, phases: dict[str, str]) -> dict[int, str]:
    """Map each source line of the statements in ``func`` that assign one of
    ``phases``' variable names (or call a method on it) to that phase; this
    is how a Spark SQL execution's Python call site is booked to a phase."""
    tree = ast.parse(source)
    fn = next(
        n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == func
    )
    out: dict[int, str] = {}
    for node in ast.walk(fn):
        if not isinstance(node, (ast.Assign, ast.Expr)):
            continue
        names = (
            [t.id for t in node.targets if isinstance(t, ast.Name)]
            if isinstance(node, ast.Assign)
            else [_chain_root(node.value)]
        )
        for name in names:
            if name in phases:
                for line in range(node.lineno, node.end_lineno + 1):
                    out[line] = phases[name]
    return out


def _chain_root(node: ast.expr) -> str | None:
    """``sink`` for ``sink.write.mode(...).parquet(path)``."""
    while isinstance(node, (ast.Call, ast.Attribute, ast.Subscript)):
        node = node.func if isinstance(node, ast.Call) else node.value
    return node.id if isinstance(node, ast.Name) else None
