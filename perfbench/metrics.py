"""Metric names and units, read from BENCHMARK.json at the checkout root."""

from __future__ import annotations

import json
import os

_SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def _load(section: str) -> dict[str, str]:
    with open(_SPEC) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def end_to_end() -> dict[str, str]:
    return _load("end_to_end")


def per_layer() -> dict[str, str]:
    return _load("per_layer")
