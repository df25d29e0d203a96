"""The benchmark's workloads, by name."""

from __future__ import annotations


def get(name: str):
    """The workload object for ``name`` (imports it on demand, so the
    runner starts no Spark code before the session exists)."""
    if name == "rwe_dashboard":
        from .rwe_dashboard import WORKLOAD
    elif name == "llm_curation":
        from .llm_curation import WORKLOAD
    else:
        raise KeyError(f"unknown workload {name!r}")
    return WORKLOAD


NAMES = ("rwe_dashboard", "llm_curation")
