"""The benchmark's workloads, one module each, each with a ``run(bench)``."""
