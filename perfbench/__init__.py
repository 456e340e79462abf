"""The repository benchmark: three closed-loop workloads over the
engine's public entry points. Run `python3 perfbench/run.py --help`."""
