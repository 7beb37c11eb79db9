"""Correctness checks made outside the timed calls."""

from __future__ import annotations


class Checks:
    """Counts checks made and keeps a message for each that failed."""

    def __init__(self):
        self.attempted = 0
        self.problems: list[str] = []

    def expect(self, ok: bool, message: str) -> None:
        self.attempted += 1
        if not ok:
            self.problems.append(message)
