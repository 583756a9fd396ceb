"""The benchmark's workloads; each module exposes ``run(Run) -> dict``."""
