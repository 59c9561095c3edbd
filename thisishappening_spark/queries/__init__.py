"""Benchmark/correctness query registry — importing this package registers
every query module's entries into ``REGISTRY`` (see registry.py for the
cross-engine determinism rules each entry follows)."""

from __future__ import annotations

from thisishappening_spark.registry import REGISTRY  # noqa: F401

# Import for registration side effects (order = rough SURVEY.md §2 order).
from thisishappening_spark.queries import relational  # noqa: E402,F401
from thisishappening_spark.queries import tweets  # noqa: E402,F401
from thisishappening_spark.queries import llm  # noqa: E402,F401
