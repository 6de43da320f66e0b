"""Benchmark of the crawlspark engine and its analysis corpus; run it
with ``python3 perfbench/run.py`` (see run.py and README.md)."""
