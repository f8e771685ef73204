"""Output checks: every operation the benchmark runs is counted, and one
that raises or fails its output check is counted as failed."""

from __future__ import annotations

import math
import sys
import traceback

# the tolerance the repository's own rank-identity tests use
REL_TOL = 1e-9
ABS_TOL = 1e-12


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Same doc_ids in the same order, scores equal within tolerance."""
    return len(got) == len(want) and all(
        gd == wd and math.isclose(gs, ws, rel_tol=REL_TOL, abs_tol=ABS_TOL)
        for (gd, gs), (wd, ws) in zip(got, want)
    )


class Tally:
    """Attempted and failed operations of one run, by operation id."""

    def __init__(self) -> None:
        self.attempted: list[str] = []
        self.failed: dict[str, str] = {}

    def run(self, op_id: str, fn, *args, **kwargs):
        """Call ``fn`` as operation ``op_id``; on an exception record the
        failure and return None so the run can go on."""
        self.attempted.append(op_id)
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.fail(op_id, traceback.format_exc(limit=3))
            return None

    def check(self, op_id: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self.fail(op_id, detail or "output check failed")

    def fail(self, op_id: str, reason: str) -> None:
        if op_id not in self.failed:
            self.failed[op_id] = reason
            print(f"FAILED {op_id}: {reason}", file=sys.stderr)

    @property
    def error_rate(self) -> float:
        return len(self.failed) / len(self.attempted) if self.attempted else 0.0
