"""End-to-end benchmark of the engine: see run.py and BENCHMARK.json."""
