"""Benchmark scripts. bench.py at the repo root is the headline
benchmark; this package holds the scale, scaling, recall, latency and
GC scripts. bench/harness.py is their shared machinery (timing,
fresh-JVM N-vs-4N runs, corpus replication) and their one writer of
BENCH.md sections and of BENCH_sections.json."""
