"""The benchmark's workloads, by name."""

from backfill import backfill
from harness import LAYER_UNITS, Run  # noqa: F401 — re-exported for run.py and tests
from trickle import trickle

WORKLOADS = {"backfill": backfill, "trickle": trickle}
