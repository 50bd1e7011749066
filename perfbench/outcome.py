"""What one benchmark run reports: metrics, failures and a readable report."""

from __future__ import annotations

import traceback
from dataclasses import dataclass, field


@dataclass
class Outcome:
    """Collected by a workload, printed by ``run.py``.

    ``e2e`` and ``layers`` hold the metrics named in BENCHMARK.json.
    ``report`` holds every metric the workload measures, by name with its
    unit, for the human-readable part of the output. An operation (a
    cascade leg, a query) counts once in ``attempted``; it counts in
    ``failed`` if it raised or if the correctness gate rejected its output.
    """

    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    # event-log scopes: name -> epoch-second windows their Spark work ran in
    scopes: dict[str, list[tuple[float, float]]] = field(default_factory=dict)
    ops: list[str] = field(default_factory=list)
    failed_ops: dict[str, str] = field(default_factory=dict)

    def attempt(self, op: str) -> None:
        self.ops.append(op)

    def fail(self, op: str, why: str) -> None:
        self.failed_ops.setdefault(op, why)

    def guard(self, op: str, fn, *args, **kwargs):
        """Run ``fn`` as operation ``op``; an exception fails the operation
        (with its traceback kept for the report) and returns None."""
        self.attempt(op)
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — a failed op is a result, not a crash
            self.fail(op, traceback.format_exc(limit=3))
            return None

    def check(self, op: str, ok: bool, what: str) -> None:
        if not ok:
            self.fail(op, f"gate: {what}")

    def put(self, name: str, value: float, unit: str) -> None:
        self.report[name] = (value, unit)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return len(self.failed_ops)
