"""The repository benchmark: two workloads over the engine's public
surface, run by ``python3 perfbench/run.py``."""
